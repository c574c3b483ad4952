"""Partitioning-invariance of the histogram-CDF operator
(operators/cdf.py) and the queries built on it: the cut tables (score/bin
→ bucket), in both directions, must be bit-identical regardless of how the
input is partitioned — the property that makes the histogram form safe to
swap in for the exact NTILE at any cluster size.  Histograms are
combine-friendly counts and the CDF is computed on the collapsed
histogram, so any divergence here means a non-associative step crept in.
"""

from __future__ import annotations

import pytest

from youtube_data_lakehouse_and_analysis_spark.catalog import load
from youtube_data_lakehouse_and_analysis_spark.operators.cdf import cdf_cuts
from youtube_data_lakehouse_and_analysis_spark.plans.corpus4 import _quality_scores
from youtube_data_lakehouse_and_analysis_spark.plans.corpus5 import lm_doc_scores

from .conftest import SF_DIR

# the cut tables of sm07a (ascending quartiles) and ta19a (descending
# terciles): frame builder, bin column, k, bucket column, descending
_CUTS = {
    "sm07a": (
        lambda s: _quality_scores(load(s, SF_DIR, "documents")), "score", 4, "quartile", False
    ),
    "ta19a": (lambda s: lm_doc_scores(s, SF_DIR), "mean_condprob_scaled", 3, "t", True),
}


@pytest.mark.parametrize("form", list(_CUTS))
def test_cdf_cuts_partitioning_invariant(spark, form):
    frame, bin_col, k, out_col, descending = _CUTS[form]
    scores = frame(spark).localCheckpoint(eager=False)

    def cuts(df):
        table = cdf_cuts(df, bin_col, k, out_col, descending)
        return {r[bin_col]: r[out_col] for r in table.collect()}

    base = cuts(scores)
    assert base  # non-empty cut table
    for n in (1, 3, 17):
        alt = cuts(scores.repartition(n))
        assert alt == base, f"cut table diverged at {n} partitions"


def test_sm07a_rollup_partitioning_invariant(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.corpus4 import (
        sm07a_histogram_cdf_sampling,
    )

    rows = lambda df: sorted(  # noqa: E731
        (
            r["quartile"],
            r["n_docs"],
            r["n_kept"],
            r["min_score"],
            r["max_score"],
        )
        for r in df.collect()
    )
    base = rows(sm07a_histogram_cdf_sampling(spark, SF_DIR))
    # vary the AQE initial partition count too (r14 pins it at 256
    # session-wide, and it takes precedence over shuffle.partitions)
    conf = "spark.sql.shuffle.partitions"
    init = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    old, old_init = spark.conf.get(conf), spark.conf.get(init)
    try:
        spark.conf.set(conf, "7")
        spark.conf.set(init, "7")
        alt = rows(sm07a_histogram_cdf_sampling(spark, SF_DIR))
    finally:
        spark.conf.set(conf, old)
        spark.conf.set(init, old_init)
    assert alt == base


def test_ev10a_scored_partitioning_invariant(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.events_analytics import (
        _ev10a_scored,
    )

    rows = lambda df: sorted(  # noqa: E731
        (r["user_id"], r["r_score"], r["f_score"], r["m_score"])
        for r in df.collect()
    )
    base = rows(_ev10a_scored(spark, SF_DIR))
    assert base
    conf = "spark.sql.shuffle.partitions"
    init = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    old, old_init = spark.conf.get(conf), spark.conf.get(init)
    try:
        spark.conf.set(conf, "5")
        spark.conf.set(init, "5")
        alt = rows(_ev10a_scored(spark, SF_DIR))
    finally:
        spark.conf.set(conf, old)
        spark.conf.set(init, old_init)
    assert alt == base
