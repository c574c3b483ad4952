"""The two workloads: what each generates, sets up, checks and runs per pass.

* ``headline`` — the frozen ``bench.HEADLINE`` queries over the warehouse
  tables: the contracted read path (scan, shuffle, aggregate). At
  ``WAREHOUSE_SCALE`` the catalog compacts only lineitem (3 files); the
  other tables are below one compaction chunk and are read raw. Orders
  and events would compact from scale 0.021, which makes a run too long
  for the benchmark's time budget.
* ``lakehouse`` — the reference pipeline: API pages → bronze → silver →
  the ten dashboard questions, the only write path. Without Hadoop's
  native library, the local file system sets each new file's and
  directory's permissions by running ``chmod``: several hundred processes
  a pass.

Every pass runs its operations in a seeded permuted order. Spans and Spark
job groups are set only on traced passes.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

import numpy as np

import bench
import __spark_entry__ as entrymod
import gen
from measure import Tracer, catalyst_phases, dir_bytes_files
from youtube_data_lakehouse_and_analysis_spark import app, catalog, present
from youtube_data_lakehouse_and_analysis_spark.plans import silver
from youtube_data_lakehouse_and_analysis_spark.schemas import ENTITIES
from youtube_data_lakehouse_and_analysis_spark.sources import bronze
from youtube_data_lakehouse_and_analysis_spark.sources import youtube_api as yt

_saved_path = list(sys.path)
from tools.verify_local import rows_multiset  # noqa: E402

sys.path[:] = _saved_path  # the tool pins its own tree onto sys.path

WAREHOUSE_SCALE = 0.01
API_CHANNELS = 16
API_VIDEOS = 100  # comments are bronze-partitioned per video: ~180 bronze files
WARMUP_INDEX = 100_000  # pass indices from here on are untimed warm-up passes
CHECK_PASS = 10**6  # pass index of the untimed correctness pass


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _plain(v):
    return v.item() if isinstance(v, np.generic) else v


def pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = list(pdf.columns)
    return cols, [tuple(_plain(v) for v in row) for row in pdf.itertuples(index=False, name=None)]


def _group(tracer, sc, group: str) -> None:
    """Tag the Spark jobs that follow with a job group (traced passes only)."""
    if tracer.enabled:
        sc.setJobGroup(group, group, False)


class QueryWorkload:
    """A list of catalog queries over seeded warehouse tables."""

    def __init__(self, name: str, ops: list[str], work_dir: str, seed: int, nominal_pass_s: float):
        self.name = name
        self.nominal_pass_s = nominal_pass_s
        self.warmup_passes = 1
        self.ops = list(ops)
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "tables")
        self.fns = {op: entrymod.queries()[op] for op in self.ops}
        self.oracle = entrymod.oracle_sql()
        self.layout_root = os.path.join(catalog._repo_root(), "spark-warehouse", "optimized")
        self._preexisting = self._layouts()

    def generate(self) -> dict:
        rows = gen.write_warehouse(self.data_dir, self.seed, WAREHOUSE_SCALE)
        src_bytes = {
            t: os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet")) for t in catalog.TABLES
        }
        self.rows = rows
        self.src_bytes = src_bytes
        return {"rows": rows, "bytes": sum(src_bytes.values())}

    # -- set-up: table resolution and layout compaction from an empty cache

    def _layouts(self) -> set[str]:
        if not os.path.isdir(self.layout_root):
            return set()
        return {os.path.join(self.layout_root, d) for d in os.listdir(self.layout_root)}

    def _our_layouts(self) -> set[str]:
        return self._layouts() - self._preexisting

    def reset_state(self) -> None:
        """Remove the compacted layouts this run built, so every set-up
        starts from the same (empty) layout cache."""
        for d in self._our_layouts():
            shutil.rmtree(d, ignore_errors=True)

    def setup(self, spark) -> dict:
        for t in catalog.TABLES:
            catalog.load(spark, self.data_dir, t)
        layouts = self._our_layouts()
        comp_bytes = comp_files = comp_src = 0
        for d in layouts:
            b, f = dir_bytes_files(d)
            comp_bytes += b
            comp_files += f
            comp_src += self.src_bytes[os.path.basename(d).rsplit("-", 1)[0]]
        return {
            "layout_bytes": comp_bytes,
            "layout_files": comp_files,
            "compacted_src_bytes": comp_src,
        }

    def storage_and_ingest(self, trials: list[dict], passes: list[dict]) -> tuple[float, float]:
        """Compacted layout bytes per source byte (median set-up trial), and
        warehouse rows per second of timed pass (median pass). The second is
        this workload's reading of ``ingest_records_per_s``: a fixed row
        count over ``pass_wall_s``, so it carries no signal of its own."""
        return (
            statistics.median(t["layout_bytes"] / t["compacted_src_bytes"] for t in trials),
            sum(self.rows.values()) / statistics.median(p["wall_s"] for p in passes),
        )

    @staticmethod
    def layer_counts() -> dict[str, float]:
        """The lakehouse layers do no work here."""
        return {k: 0 for k in ("sources.records", "bronze.bytes", "bronze.files",
                               "silver.bytes", "silver.files")}

    def cleanup(self) -> None:
        self.reset_state()

    # -- correctness: every result against its DuckDB twin

    def compute_oracle(self) -> None:
        """Run every operation's DuckDB twin on this run's tables and keep
        the canonical row multisets for ``check``."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in catalog.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for op in self.ops:
                res = con.execute(self.oracle[op])
                cols = [d[0] for d in res.description]
                self.expected[op] = (sorted(cols), rows_multiset(cols, res.fetchall()))
        finally:
            con.close()

    def _check_one(self, spark, op: str) -> dict:
        rec = {"op": op, "ok": False}
        try:
            sdf = self.fns[op](spark, self.data_dir)
            srows = [tuple(r) for r in sdf.collect()]
            cols, rows = self.expected[op]
            ok = sorted(sdf.columns) == cols and rows_multiset(sdf.columns, srows) == rows
            rec.update(ok=ok, rows=len(srows))
            if not ok:
                rec["error"] = "result differs from the DuckDB oracle"
        except Exception as exc:  # a raising query is a failed op
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        return rec

    def check(self, spark) -> list[dict]:
        """Collect every operation and compare it with its oracle twin."""
        return [self._check_one(spark, op) for op in self.ops]

    # -- one pass

    def run_pass(self, spark, index: int, tracer) -> dict:
        sc = spark.sparkContext
        order = np.random.default_rng([self.seed, 7, index]).permutation(len(self.ops))
        ops, build, failed = {}, {}, []
        for i in order:
            op = self.ops[i]
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op=op):
                    _group(tracer, sc, f"build|{index}|{op}")
                    with tracer.span("plans.build"):
                        df = self.fns[op](spark, self.data_dir)
                    t1 = time.perf_counter()
                    if tracer.enabled:
                        with tracer.span("catalyst"):
                            phases = catalyst_phases(df)
                        for k, v in phases.items():
                            tracer.counters[f"catalyst.{k}_s"] += v
                    _group(tracer, sc, f"exec|{index}|{op}")
                    with tracer.span("exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:
                failed.append(f"{op}: {type(exc).__name__}: {exc}"[:300])
                continue
            finally:
                if tracer.enabled:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            ops[op] = time.perf_counter() - t0
            build[op] = t1 - t0
        return {"ops": ops, "build": build, "failed": failed, "attempted": len(self.ops)}


class LakehouseWorkload:
    """API pages → bronze → silver → the ten questions, each pass."""

    nominal_pass_s = 4.0  # seconds of one timed pass on a 4-core host
    # a pass is short, so the JIT needs two of them after the check pass
    # before its compile time per pass falls to a few percent of pass CPU
    warmup_passes = 2

    def __init__(self, work_dir: str, seed: int):
        self.name = "lakehouse"
        self.seed = seed
        self.pages = os.path.join(work_dir, "api")
        out = os.path.join(work_dir, "out")  # every pass overwrites it
        self.bronze_dir, self.silver_dir = os.path.join(out, "bronze"), os.path.join(out, "silver")
        self.ops = ["sources.read", "bronze.write", "silver.migrate"] + [
            f"q{i + 1}" for i in range(len(app.QUESTIONS))
        ]

    def generate(self) -> dict:
        self.truth = gen.write_api_pages(self.pages, self.seed, API_CHANNELS, API_VIDEOS)
        t = self.truth
        self.silver_rows = len(t["channels"]) + t["playlists"] + len(t["videos"]) + t["comments"]
        return {"records": t["records"], "bytes": t["bytes"], "silver_rows": self.silver_rows}

    def compute_oracle(self) -> None:
        """The lakehouse truth comes from the generator (``expected``)."""

    def reset_state(self) -> None:
        """Nothing persists between set-ups: the lakehouse set-up is the
        session start alone."""

    def setup(self, spark) -> dict:
        return {"resolve_s": 0.0}

    def storage_and_ingest(self, trials: list[dict], passes: list[dict]) -> tuple[float, float]:
        """Bronze plus silver bytes per response-JSON byte, and silver rows
        landed per second of read, bronze and migrate time (median pass)."""
        stored = dir_bytes_files(self.bronze_dir)[0] + dir_bytes_files(self.silver_dir)[0]
        ingest = statistics.median(
            p["ops"]["sources.read"] + p["ops"]["bronze.write"] + p["ops"]["silver.migrate"]
            for p in passes
        )
        return stored / self.truth["bytes"], self.silver_rows / ingest

    def layer_counts(self) -> dict[str, float]:
        bronze_b, bronze_f = dir_bytes_files(self.bronze_dir)
        silver_b, silver_f = dir_bytes_files(self.silver_dir)
        return {
            "sources.records": self.truth["records"],
            "bronze.bytes": bronze_b,
            "bronze.files": bronze_f,
            "silver.bytes": silver_b,
            "silver.files": silver_f,
        }

    def cleanup(self) -> None:
        """Bronze and silver live in the work dir, which the run removes."""

    def _read(self, spark) -> dict:
        p = self.pages
        return {
            "channel": yt.read_channels(spark, f"{p}/channels"),
            "playlist": yt.read_playlists(spark, f"{p}/playlists"),
            "video": yt.read_videos(spark, f"{p}/videos"),
            "comment": yt.read_comments(spark, f"{p}/comments"),
            "uploads": yt.read_upload_video_ids(spark, f"{p}/playlist_items"),
        }

    def run_pass(self, spark, index: int, tracer, keep: dict | None = None) -> dict:
        sc = spark.sparkContext
        ops, failed = {}, []
        clock = time.perf_counter
        bronze_dir, silver_dir = self.bronze_dir, self.silver_dir

        def step(op: str, group: str, fn):
            t0 = clock()
            try:
                with tracer.span(op):
                    _group(tracer, sc, f"{group}|{index}|{op}")
                    result = fn()
            finally:
                if tracer.enabled:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            ops[op] = clock() - t0
            return result

        try:
            dfs = step("sources.read", "sources", lambda: self._read(spark))
            step("bronze.write", "bronze", lambda: bronze.write_bronze(dfs, bronze_dir))
            step(
                "silver.migrate",
                "silver",
                lambda: silver.migrate(spark, bronze_dir, silver_dir),
            )
        except Exception as exc:
            return {"ops": ops, "failed": [f"ingest: {type(exc).__name__}: {exc}"[:300]],
                    "attempted": len(self.ops)}
        tables = {n: silver.read_silver(spark, silver_dir, n) for n in ENTITIES}
        if keep is not None:
            keep["tables"], keep["uploads"] = tables, dfs["uploads"]
        order = np.random.default_rng([self.seed, 7, index]).permutation(len(app.QUESTIONS))
        for i in order:
            label = app.QUESTIONS[i][0]
            op = f"q{i + 1}"
            t0 = clock()
            try:
                with tracer.span("op", op=op):
                    _group(tracer, sc, f"question|{index}|{op}")
                    with tracer.span("app.run_question"):
                        df = app.run_question(label, tables)
                    if tracer.enabled:
                        with tracer.span("catalyst"):
                            phases = catalyst_phases(df)
                        for k, v in phases.items():
                            tracer.counters[f"catalyst.{k}_s"] += v
                    _group(tracer, sc, f"present|{index}|{op}")
                    with tracer.span("present.to_display"):
                        pdf = present.to_display(df)
                    tracer.counters["present.rows"] += len(pdf)
            except Exception as exc:
                failed.append(f"{op}: {type(exc).__name__}: {exc}"[:300])
                continue
            finally:
                if tracer.enabled:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            ops[op] = clock() - t0
            if keep is not None:
                keep[op] = pdf
        return {"ops": ops, "failed": failed, "attempted": len(self.ops)}

    # -- correctness: silver counts and every answer against generator truth

    def expected(self) -> dict[str, tuple[list[str], list[tuple]]]:
        t = self.truth
        ch = t["channels"]
        vids = t["videos"]
        likes = {v["id"]: v["likes"] or 0 for v in vids}
        comments = {v["id"]: v["comment_count"] or 0 for v in vids}

        def top10(key):
            return sorted(vids, key=key, reverse=True)[:10]

        best: dict[str, list] = {}
        for v in vids:
            best.setdefault(v["channel_id"], []).append(v)
        q5 = []
        for vs in best.values():
            m = max(likes[v["id"]] for v in vs)
            q5 += [(v["channel_name"], v["title"], m) for v in vs if likes[v["id"]] == m]
        q9 = []
        for vs in best.values():
            q9.append((vs[0]["channel_name"], sum(v["duration"] for v in vs) / len(vs)))
        return {
            "q1": (["channel_name"], [(c["name"],) for c in ch]),
            "q2": (["channel_name", "channel_uploads"], [(c["name"], c["uploads"]) for c in ch]),
            "q3": (
                ["channel_name", "video_title", "views"],
                [(v["channel_name"], v["title"], v["views"]) for v in top10(lambda v: v["views"])],
            ),
            "q4": (["video_title", "comment_count"], [(v["title"], comments[v["id"]]) for v in vids]),
            "q5": (["channel_name", "video_title", "likes"], q5),
            "q6": (
                ["video_title", "likes"],
                [(v["title"], likes[v["id"]]) for v in top10(lambda v: likes[v["id"]])],
            ),
            "q7": (["channel_name", "channel_views"], [(c["name"], c["views"]) for c in ch]),
            "q8": (
                ["channel_name"],
                sorted({(v["channel_name"],) for v in vids if v["published"].year == 2022}),
            ),
            "q9": (["channel_name", "avg_time"], q9),
            "q10": (
                ["video_title", "comment_count"],
                [(v["title"], comments[v["id"]]) for v in top10(lambda v: comments[v["id"]])],
            ),
        }

    def check(self, spark) -> list[dict]:
        keep: dict = {}
        res = self.run_pass(spark, CHECK_PASS, Tracer(False), keep=keep)
        out = [{"op": f, "ok": False, "error": f} for f in res["failed"]]
        if "tables" not in keep:
            return out
        t = self.truth
        counts = {
            "channel": len(t["channels"]),
            "playlist": t["playlists"],
            "video": len(t["videos"]),
            "comment": t["comments"],
        }
        for name, want in counts.items():
            got = keep["tables"][name].count()
            out.append({"op": f"silver.{name}", "ok": got == want, "rows": got, "want": want})
        got = keep["uploads"].count()
        out.append({"op": "sources.uploads", "ok": got == len(t["videos"]), "rows": got})
        for op, (cols, rows) in self.expected().items():
            if op not in keep:
                continue
            gcols, grows = pandas_rows(keep[op])
            ok = gcols == cols and rows_multiset(gcols, grows) == rows_multiset(cols, rows)
            out.append({"op": op, "ok": ok, "rows": len(grows)})
        return out


def make(name: str, work_dir: str, seed: int):
    if name == "headline":
        return QueryWorkload("headline", bench.HEADLINE, work_dir, seed, nominal_pass_s=6.5)
    if name == "lakehouse":
        return LakehouseWorkload(work_dir, seed)
    raise ValueError(f"unknown workload {name!r}")
