"""Bronze layer (the reference's MongoDB "data lake", K1 — app.py:236-249).

The reference stores ONE nested document per channel in a per-channel
collection. The Spark-native bronze is columnar: one parquet dir per
entity, partitioned by channel_id (comments, which carry no channel_id,
by video_id) — partition pruning replaces `list_collection_names()` (S7,
app.py:409), and `overwrite` of a channel's partition replaces the
reference's idempotency-by-duplicate-key-error (C3, app.py:392-394).
The four entity writes run as four concurrent Spark jobs
(`for_each_entity`).

`nested_document` reproduces the reference's document shape exactly (for
parity checks): {channel_details:[...], playlist_details:[...],
video_details:[...], comment_details:[...]} — built relationally with
collect_list over structs, no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..schemas import BRONZE, ENTITIES


def for_each_entity(spark: SparkSession, fn: Callable[[str], None]) -> None:
    """Run ``fn(name)`` for every entity in ENTITIES on its own thread, so
    the per-entity Spark jobs (small: their cost is per-job latency and
    driver-side commit and listing, not work) overlap. Waits for all of
    them, then re-raises the first failure in ENTITIES order.

    Each target is wrapped here, in the caller's thread, so it inherits
    the caller's job group and other local properties. One wrap per
    entity: a wrap clones the caller's properties once, and threads
    sharing one clone would overwrite each other's SQL execution id."""
    with ThreadPoolExecutor(len(ENTITIES)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), name) for name in ENTITIES]
    for future in futures:
        future.result()


def write_bronze(dfs: dict[str, DataFrame], bronze_dir: str) -> None:
    """K1: write each entity to its bronze dir, partitioned by channel
    (by video for comments); dynamic partition overwrite gives
    per-channel idempotent re-ingest."""

    def write(name: str) -> None:
        df = dfs[name]
        part_col = "channel_id" if "channel_id" in df.columns else "video_id"
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(f"{bronze_dir}/{name}")
        )

    for_each_entity(dfs[ENTITIES[0]].sparkSession, write)


def read_bronze(spark: SparkSession, bronze_dir: str, name: str) -> DataFrame:
    """S6: read one bronze entity (schema-enforced; partition column is
    restored into its declared position/order)."""
    schema = BRONZE[name]
    df = spark.read.schema(schema).parquet(f"{bronze_dir}/{name}")
    return df.select(*[f.name for f in schema.fields])


def nested_document(dfs: dict[str, DataFrame]) -> DataFrame:
    """The reference's per-channel Mongo document (app.py:237-242), built
    relationally: one row per channel with four struct arrays."""

    def agg(df: DataFrame, out: str, join_df: DataFrame | None = None) -> DataFrame:
        if join_df is not None:  # comments attach via video (comment has no channel_id)
            df = df.join(join_df.select("video_id", "channel_id"), "video_id")
        return df.groupBy("channel_id").agg(
            F.collect_list(F.struct(*[c for c in df.columns if c != "channel_id"])).alias(out)
        )

    doc = agg(dfs["channel"], "channel_details")
    doc = doc.join(agg(dfs["playlist"], "playlist_details"), "channel_id", "left")
    doc = doc.join(agg(dfs["video"], "video_details"), "channel_id", "left")
    doc = doc.join(agg(dfs["comment"], "comment_details", dfs["video"]), "channel_id", "left")
    return doc
