from __future__ import annotations

import datetime
import os
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from youtube_data_lakehouse_and_analysis_spark.schemas import BRONZE  # noqa: E402
from youtube_data_lakehouse_and_analysis_spark.session import get_spark  # noqa: E402
from youtube_data_lakehouse_and_analysis_spark.sources import youtube_api as yt  # noqa: E402
from youtube_data_lakehouse_and_analysis_spark.sources.bronze import write_bronze  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "youtube")


@pytest.fixture(scope="session")
def api(spark):
    return {
        "channel": yt.read_channels(spark, f"{FIX}/channels"),
        "playlist": yt.read_playlists(spark, f"{FIX}/playlists"),
        "video": yt.read_videos(spark, f"{FIX}/videos"),
        "comment": yt.read_comments(spark, f"{FIX}/comments"),
    }


@pytest.fixture(scope="session")
def many_videos(spark, api, tmp_path_factory):
    """A bronze dir whose comments span 40 ``video_id=`` directories, above
    the 32 at which Spark's default partition discovery launches a listing
    job; returns the dir and the comment rows written."""
    day = datetime.datetime(2024, 1, 1)
    rows = [
        (
            f"vid{v:02d}",
            f"c{v:02d}_{i}",
            f"author{i}",
            f"comment {i} on {v}",
            day + datetime.timedelta(hours=v, minutes=i),
        )
        for v in range(40)
        for i in range(2)
    ]
    bronze_dir = str(tmp_path_factory.mktemp("many_videos") / "bronze")
    write_bronze({**api, "comment": spark.createDataFrame(rows, BRONZE["comment"])}, bronze_dir)
    return bronze_dir, rows
