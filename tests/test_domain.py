"""End-to-end domain pipeline test: recorded API fixtures → bronze →
silver → the reference's 10 queries, with golden expectations derived from
the reference's semantics (/root/reference/app.py:443-591)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_data_lakehouse_and_analysis_spark.plans import domain
from youtube_data_lakehouse_and_analysis_spark.plans.silver import migrate, read_silver
from youtube_data_lakehouse_and_analysis_spark.schemas import ENTITIES, SILVER
from youtube_data_lakehouse_and_analysis_spark.sources import youtube_api as yt
from youtube_data_lakehouse_and_analysis_spark.sources.bronze import (
    nested_document,
    read_bronze,
    write_bronze,
)

FIX = "/root/repo/tests/fixtures/youtube"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lakehouse")
    bronze_dir, silver_dir = str(root / "bronze"), str(root / "silver")
    dfs = {
        "channel": yt.read_channels(spark, f"{FIX}/channels"),
        "playlist": yt.read_playlists(spark, f"{FIX}/playlists"),
        "video": yt.read_videos(spark, f"{FIX}/videos"),
        "comment": yt.read_comments(spark, f"{FIX}/comments"),
    }
    write_bronze(dfs, bronze_dir)
    migrate(spark, bronze_dir, silver_dir)
    silver = {name: read_silver(spark, silver_dir, name) for name in ENTITIES}
    return {"bronze_dir": bronze_dir, "silver": silver, "raw": dfs}


def test_ingest_flattening(warehouse):
    raw = warehouse["raw"]
    ch = {r["channel_id"]: r for r in raw["channel"].collect()}
    assert ch["UC_A"]["channel_views"] == 37384931
    assert ch["UC_B"]["country"] is None  # .get path, app.py:35
    assert raw["playlist"].count() == 2  # pagination collapsed (2 pages)
    v = {r["video_id"]: r for r in raw["video"].collect()}
    assert v["vid_A1"]["duration"] == 3723  # PT1H2M3S
    assert v["vid_A2"]["duration"] == 45  # PT45S (missing H/M)
    assert v["vid_A3"]["duration"] == 120  # PT2M (missing H/S)
    assert v["vid_B1"]["duration"] == 3603  # PT1H3S (missing M)
    assert v["vid_B1"]["likes"] is None and v["vid_B1"]["tags"] is None
    assert raw["comment"].count() == 3
    assert raw["video"].schema["release_date"].dataType.typeName() == "timestamp"


def test_bronze_roundtrip(spark, warehouse):
    for name in ENTITIES:
        df = read_bronze(spark, warehouse["bronze_dir"], name)
        assert df.count() == warehouse["raw"][name].count()


def test_nested_document_shape(warehouse):
    doc = {r["channel_id"]: r for r in nested_document(warehouse["raw"]).collect()}
    a = doc["UC_A"]
    assert len(a["channel_details"]) == 1
    assert len(a["playlist_details"]) == 2
    assert len(a["video_details"]) == 3
    assert len(a["comment_details"]) == 3
    b = doc["UC_B"]
    assert b["playlist_details"] is None  # zero-playlist channel (app.py:351)
    assert b["comment_details"] is None


def test_silver_migrate_semantics(warehouse):
    s = warehouse["silver"]
    for name in ENTITIES:
        # nullability is advisory in Spark (parquet scans and coalesce
        # rewrite it); enforce names + types
        got = [(f.name, f.dataType) for f in s[name].schema.fields]
        want = [(f.name, f.dataType) for f in SILVER[name].fields]
        assert got == want
    v = {r["video_id"]: r for r in s["video"].collect()}
    assert v["vid_B1"]["likes"] == 0  # null → 0 at load (app.py:339)
    assert v["vid_B1"]["comment_count"] == 0  # app.py:341
    assert "tags" not in s["video"].columns  # dropped (app.py:322-344)
    assert "channel_age" not in s["channel"].columns  # dropped (app.py:300-315)


def test_q1_to_q10(warehouse):
    t = warehouse["silver"]
    assert {r["channel_name"] for r in domain.q1_channel_names(t).collect()} == {
        "Alpha Channel",
        "Beta Channel",
    }
    q2 = domain.q2_channels_most_videos(t).collect()
    assert [r["channel_name"] for r in q2] == ["Alpha Channel", "Beta Channel"]
    q3 = domain.q3_top10_viewed(t).collect()
    assert q3[0]["video_title"] == "Intro to Lakes" and q3[0]["views"] == 500000
    q4 = domain.q4_comments_per_video(t).collect()
    assert q4[0]["video_title"] == "Intro to Lakes" and q4[0]["comment_count"] == 2
    # Q5 tie semantics: vid_A1 and vid_A2 both at likes=100 → BOTH kept
    q5 = domain.q5_most_liked_per_channel(t).collect()
    alpha_rows = [r for r in q5 if r["channel_name"] == "Alpha Channel"]
    assert {r["video_title"] for r in alpha_rows} == {"Intro to Lakes", "Warehouse Deep Dive"}
    beta_rows = [r for r in q5 if r["channel_name"] == "Beta Channel"]
    assert len(beta_rows) == 1 and beta_rows[0]["likes"] == 0  # null→0 at load
    q6 = domain.q6_likes_per_video(t).collect()
    assert q6[0]["likes"] == 100 and len(q6) == 4
    q7 = domain.q7_views_per_channel(t).collect()
    assert [r["channel_views"] for r in q7] == [37384931, 120000]
    q8 = domain.q8_channels_published_2022(t).collect()
    assert [r["channel_name"] for r in q8] == ["Alpha Channel"]
    q9 = {r["channel_name"]: r["avg_time"] for r in domain.q9_avg_duration_per_channel(t).collect()}
    assert q9["Alpha Channel"] == pytest.approx((3723 + 45 + 120) / 3)
    assert q9["Beta Channel"] == pytest.approx(3603.0)
    q10 = domain.q10_top10_commented(t).collect()
    assert q10[0]["comment_count"] == 2


def test_q5_window_and_join_forms_agree(warehouse):
    t = warehouse["silver"]
    a = sorted(map(tuple, domain.q5_most_liked_per_channel(t, use_window=True).collect()))
    b = sorted(map(tuple, domain.q5_most_liked_per_channel(t, use_window=False).collect()))
    assert a == b


def test_reingest_idempotent(spark, warehouse):
    """Re-writing bronze for the same channels must not duplicate rows
    (the reference 'handles' this by swallowing duplicate-key errors,
    app.py:392-394; we overwrite partitions). The four entities are
    overwritten by concurrent jobs, so each is checked."""
    write_bronze(warehouse["raw"], warehouse["bronze_dir"])
    counts = {name: read_bronze(spark, warehouse["bronze_dir"], name).count() for name in ENTITIES}
    assert counts == {"channel": 2, "playlist": 2, "video": 4, "comment": 3}


def test_present_bounded_display_and_render(spark, capsys):
    """K4 presentation adapter: to_display caps driver-side
    materialization (a 100 TB result can never be collected whole), and
    render falls back to console output without streamlit."""
    from youtube_data_lakehouse_and_analysis_spark import present
    from youtube_data_lakehouse_and_analysis_spark.catalog import load
    from .conftest import SF_DIR

    li = load(spark, SF_DIR, "lineitem")
    pdf = present.to_display(li, max_rows=7)
    assert len(pdf) == 7  # the cap, not the table size

    present.render(li.limit(3), title="smoke")
    out = capsys.readouterr().out
    assert "smoke" in out


def test_cached_table_serves_repeat_queries(spark):
    """The dashboard pattern (the reference re-runs its 10 queries on
    every button press, app.py:599-631): caching the hot table must turn
    later scans into InMemoryTableScan with identical results — repeat
    analytics stop paying the storage read."""
    import pyspark.sql.functions as F

    from youtube_data_lakehouse_and_analysis_spark.catalog import load
    from .conftest import SF_DIR

    orders = load(spark, SF_DIR, "orders")
    before = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    orders.cache()
    try:
        orders.count()  # materialize
        df = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, before))
    finally:
        orders.unpersist()
