"""Silver layer — the reference's MongoDB→MySQL migration (EP2,
app.py:260-399) as four concurrent per-entity Spark jobs instead of a
per-collection Python loop (C2, app.py:404-415).

Warehouse semantics follow the migrate path exactly (SURVEY.md §2.8 note —
the pandas cleaning block app.py:218-233 is dead code; what reaches MySQL
is `.get(k, default)` + strptime):
  channel  — drops channel_age; numeric nulls → 0       (app.py:300-315)
  playlist — pass-through                                (app.py:354-365)
  video    — drops tags; likes/comment_count null → 0    (app.py:322-346)
  comment  — pass-through                                (app.py:372-386)

Scale: each entity is an independent scan→project→write — embarrassingly
parallel, so the four run at once (`bronze.for_each_entity`); silver
writes are not partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SILVER
from ..sources.bronze import for_each_entity, read_bronze


def to_silver(name: str, bronze_df: DataFrame) -> DataFrame:
    """Apply the migrate-path transform for one entity."""
    if name == "channel":
        out = bronze_df.drop("channel_age").withColumns(
            {
                c: F.coalesce(F.col(c), F.lit(0)).cast("long")
                for c in ("channel_views", "subscription", "channel_uploads")
            }
        )
    elif name == "video":
        out = bronze_df.drop("tags").withColumns(
            {
                c: F.coalesce(F.col(c), F.lit(0)).cast("long")
                for c in ("duration", "views", "likes", "favorite", "comment_count")
            }
        )
    else:
        out = bronze_df
    return out.select(*[f.name for f in SILVER[name].fields])


def migrate(spark: SparkSession, bronze_dir: str, silver_dir: str) -> None:
    """EP2 as four concurrent per-entity jobs over all channels,
    idempotent overwrite (fixes C3)."""

    def write(name: str) -> None:
        to_silver(name, read_bronze(spark, bronze_dir, name)).write.mode("overwrite").parquet(
            f"{silver_dir}/{name}"
        )

    for_each_entity(spark, write)


def read_silver(spark: SparkSession, silver_dir: str, name: str) -> DataFrame:
    return spark.read.schema(SILVER[name]).parquet(f"{silver_dir}/{name}")
