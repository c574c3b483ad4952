"""Independent-reference audits for the EVAL-METRIC queries (r8 verdict
ask #2, STATS_AUDIT.md extension).

The oracle gate proves the Spark plan and its DuckDB twin agree; the r8
HLL find proved they can agree on a WRONG formula.  The point statistics
(Gini, moments, HLL, BM25, ...) already have independent-reference rows;
this module adds the *evaluation* metrics that the 100 TB design
decisions lean on — banding precision/recall (dd21), ANN recall
(sim09/sim10/sim13), the incremental-index maintenance identity (ia03),
and the exact-vs-approx quantile agreement rates (ev10b/sm07b/w08b) —
each recomputed from scratch in pure Python (hashlib + math + dicts, no
Spark, no DuckDB, no shared helper code) on sf0.001 and compared to the
query output exactly (counts are integers; the rates are single IEEE
divisions of those integers, so they match bit-for-bit).

Every reference below re-derives the full lineage from the raw parquet
bytes: shingles, MinHash coefficients, band keys, hyperplane signs, PQ
codebooks, NTILE bucket arithmetic — an independent implementation of
the documented spec, not a call into the operators under test."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq
import pytest

from .conftest import SF_DIR

MOD = 2**31 - 1  # MinHash modulus (operators/dedup.py MINHASH_MOD)


# ---------------------------------------------------------------------------
# pure-Python building blocks (re-derived from the documented specs)
# ---------------------------------------------------------------------------


def _md5_prefix_int(s: str, hex_chars: int = 8) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hex_chars], 16)


def _tokens(text: str) -> list[str]:
    # normalize: lower, collapse whitespace, trim; tokens drop empties
    return [t for t in text.lower().split() if t]


def _shingles(text: str, k: int = 3) -> set[str]:
    t = _tokens(text)
    if len(t) >= k:
        return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}
    return {" ".join(t)}


def _minhash_coeffs(n: int) -> list[tuple[int, int]]:
    out = []
    for i in range(n):
        a = _md5_prefix_int(f"a|{i}") % (MOD - 1) + 1
        b = _md5_prefix_int(f"b|{i}") % MOD
        out.append((a, b))
    return out


def _signature(sh: set[str], coeffs: list[tuple[int, int]]) -> list[int]:
    hs = [_md5_prefix_int(s, 15) % MOD for s in sh]
    return [min((a * h + b) % MOD for h in hs) for a, b in coeffs]


def _band_buckets(sigs: dict[int, list[int]], rows_per_band: int = 4) -> dict:
    """(band, band_key) -> sorted [doc_id]; key = md5 of the band's
    minhashes joined with ',' in seed order."""
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for doc, sig in sigs.items():
        for band in range(len(sig) // rows_per_band):
            vals = sig[band * rows_per_band : (band + 1) * rows_per_band]
            key = hashlib.md5(",".join(str(v) for v in vals).encode()).hexdigest()
            buckets[(band, key)].append(doc)
    return {k: sorted(v) for k, v in buckets.items()}


def _round_half_away(v: float) -> int:
    """Spark/DuckDB round() on doubles: half away from zero."""
    return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)


def _quantize(vec) -> tuple[int, ...]:
    # saturating quantizer: |x| clamps to 1000 before scaling (the r9
    # overflow-totality contract, operators/similarity.py::quantize)
    return tuple(
        _round_half_away(max(-1000.0, min(1000.0, float(x))) * 1000.0) for x in vec
    )


def _hyperplane_signs(num_planes: int, dims: int) -> list[list[int]]:
    return [
        [
            1 if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for d in range(dims)
        ]
        for p in range(num_planes)
    ]


def _dot(a, b) -> int:
    return sum(x * y for x, y in zip(a, b))


def _cosine(qa, qb, na, nb) -> float:
    return float(_dot(qa, qb)) / (math.sqrt(float(na)) * math.sqrt(float(nb)))


def _ntile(n_buckets: int, ordered_keys: list) -> dict:
    """SQL NTILE: first (n mod b) buckets get ceil(n/b) rows."""
    n = len(ordered_keys)
    base, extra = divmod(n, n_buckets)
    out, i = {}, 0
    for b in range(1, n_buckets + 1):
        size = base + (1 if b <= extra else 0)
        for key in ordered_keys[i : i + size]:
            out[key] = b
        i += size
    return out


def _cdf_cuts(bins: Counter, n_buckets: int, descending: bool = False) -> dict:
    """bin -> ceil(n_buckets * cdf) over the sorted bin domain (the
    histogram-CDF assignment of ev10a/sm07a/w08a, and of ta19a with
    descending=True: bucket 1 holds the highest bins)."""
    total = sum(bins.values())
    cum, out = 0, {}
    for b in sorted(bins, reverse=descending):
        cum += bins[b]
        out[b] = math.ceil(n_buckets * float(cum) / float(total))
    return out


def _read(table: str, *cols):
    t = pq.read_table(f"{SF_DIR}/{table}.parquet", columns=list(cols))
    return [tuple(t.column(c)[i].as_py() for c in cols) for i in range(t.num_rows)]


def _one_row(df) -> dict:
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


# ---------------------------------------------------------------------------
# dd21 — LSH banding precision/recall vs exact Jaccard
# ---------------------------------------------------------------------------


def test_dd21_banding_precision_recall_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.corpus6 import dd21_lsh_band_eval

    docs = _read("documents", "doc_id", "text")
    sh = {d: _shingles(t) for d, t in docs}

    # exact-Jaccard truth at 10*common >= 3*union via an inverted index
    inv: dict[str, list[int]] = defaultdict(list)
    for d, s in sh.items():
        for g in s:
            inv[g].append(d)
    common: Counter = Counter()
    for ds in inv.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                common[(ds[i], ds[j])] += 1
    truth = {
        (a, b)
        for (a, b), c in common.items()
        if 10 * c >= 3 * (len(sh[a]) + len(sh[b]) - c)
    }

    # banding candidates: 16 hashes, 4 rows/band, uncapped pairing
    coeffs = _minhash_coeffs(16)
    sigs = {d: _signature(s, coeffs) for d, s in sh.items()}
    cand = set()
    for members in _band_buckets(sigs).values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))

    n_truth, n_cand = len(truth), len(cand)
    n_hits = len(truth & cand)
    got = _one_row(dd21_lsh_band_eval(spark, SF_DIR))
    assert got["n_truth"] == n_truth
    assert got["n_candidates"] == n_cand
    assert got["n_hits"] == n_hits
    assert got["precision_permille"] == (n_hits * 1000) // n_cand if n_cand else 0
    assert got["recall_permille"] == (n_hits * 1000) // n_truth if n_truth else 0


# ---------------------------------------------------------------------------
# sim09 / sim10 — hyperplane-LSH recall@3 (single- and multi-probe)
# ---------------------------------------------------------------------------


def _emb_quantized():
    rows = _read("embeddings", "vec_id", "embedding")
    return {v: _quantize(e) for v, e in rows}


def _exact_top3_cosine(qv: dict) -> dict:
    nsq = {v: _dot(q, q) for v, q in qv.items()}
    exact = {}
    for q in qv:
        if q % 50 != 0:
            continue
        scored = [
            (-_cosine(qv[q], qv[c], nsq[q], nsq[c]), c) for c in qv if c != q
        ]
        scored.sort()
        exact[q] = {c for _, c in scored[:3]}
    return exact


def _recall_reference(exact: dict, approx: dict) -> dict:
    n_queries = len(exact)
    hits = {q: len(exact[q] & approx.get(q, set())) for q in exact}
    n_hits = sum(hits.values())
    return {
        "n_queries": n_queries,
        "n_hits": n_hits,
        "n_possible": 3 * n_queries,
        "recall_at_3": float(n_hits) / float(3 * n_queries),
        "n_perfect_queries": sum(1 for h in hits.values() if h == 3),
    }


def _lsh_recall_reference(multiprobe: bool) -> dict:
    qv = _emb_quantized()
    nsq = {v: _dot(q, q) for v, q in qv.items()}
    signs = _hyperplane_signs(8, 64)
    bucket = {
        v: sum(1 << p for p, plane in enumerate(signs) if _dot(q, plane) >= 0)
        for v, q in qv.items()
    }
    by_bucket: dict[int, list[int]] = defaultdict(list)
    for v, b in bucket.items():
        by_bucket[b].append(v)
    approx = {}
    for q in qv:
        if q % 50 != 0:
            continue
        probes = {bucket[q]}
        if multiprobe:
            probes |= {bucket[q] ^ (1 << p) for p in range(8)}
        cands = {c for b in probes for c in by_bucket.get(b, []) if c != q}
        scored = sorted((-_cosine(qv[q], qv[c], nsq[q], nsq[c]), c) for c in cands)
        approx[q] = {c for _, c in scored[:3]}
    return _recall_reference(_exact_top3_cosine(qv), approx)


def _assert_recall_row(got: dict, ref: dict):
    for k in ("n_queries", "n_hits", "n_possible", "n_perfect_queries"):
        assert got[k] == ref[k], (k, got, ref)
    assert got["recall_at_3"] == pytest.approx(ref["recall_at_3"], rel=0, abs=0)


def test_sim09_single_probe_recall_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.similarity import sim09_ann_recall

    _assert_recall_row(
        _one_row(sim09_ann_recall(spark, SF_DIR)), _lsh_recall_reference(False)
    )


def test_sim10_multiprobe_recall_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.similarity import (
        sim10_multiprobe_recall,
    )

    _assert_recall_row(
        _one_row(sim10_multiprobe_recall(spark, SF_DIR)), _lsh_recall_reference(True)
    )


# ---------------------------------------------------------------------------
# sim13 — PQ quantization-loss recall@3 (exact integer L2 vs ADC)
# ---------------------------------------------------------------------------


def test_sim13_pq_recall_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.similarity import sim13_pq_recall

    qv = _emb_quantized()
    M, K, SUB = 4, 8, 16

    # codebook: the 8 vectors first by (md5(str(vec_id)), vec_id)
    order = sorted(qv, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v))
    cents = {cid: qv[v] for cid, v in enumerate(order[:K])}

    def sqdist(a, b) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def sub(vec, m):
        return vec[m * SUB : (m + 1) * SUB]

    enc = {
        v: [
            min(range(K), key=lambda cid: (sqdist(sub(q, m), sub(cents[cid], m)), cid))
            for m in range(M)
        ]
        for v, q in qv.items()
    }

    exact, approx = {}, {}
    for q in qv:
        if q % 50 != 0:
            continue
        # exact integer L2 over the same quantized grid
        scored = sorted((sqdist(qv[q], qv[c]), c) for c in qv if c != q)
        exact[q] = {c for _, c in scored[:3]}
        # ADC: query-to-centroid table summed over each candidate's codes
        dt = {
            (m, cid): sqdist(sub(qv[q], m), sub(cents[cid], m))
            for m in range(M)
            for cid in range(K)
        }
        adc = sorted(
            (sum(dt[(m, enc[c][m])] for m in range(M)), c) for c in qv if c != q
        )
        approx[q] = {c for _, c in adc[:3]}

    _assert_recall_row(
        _one_row(sim13_pq_recall(spark, SF_DIR)), _recall_reference(exact, approx)
    )


# ---------------------------------------------------------------------------
# ia03 — incremental LSH index maintenance identity
# ---------------------------------------------------------------------------


def test_ia03_maintenance_identity_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.dedup import (
        ia03_incremental_lsh_index,
    )

    docs = _read("documents", "doc_id", "text")
    coeffs = _minhash_coeffs(16)
    sigs = {d: _signature(_shingles(t), coeffs) for d, t in docs}
    delta = {d for d, _ in docs if _md5_prefix_int(str(d)) % 10 == 0}

    inc, full_r = set(), set()
    for members in _band_buckets(sigs).values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if a in delta or b in delta:
                    full_r.add((a, b))
                    inc.add((a, b))  # probe join finds the same pairs
    ref = {
        "n_delta_docs": len(delta),
        "n_base_docs": len(docs) - len(delta),
        "n_new_pairs": len(inc),
        "n_delta_delta_pairs": sum(1 for a, b in inc if a in delta and b in delta),
        "n_delta_base_pairs": sum(1 for a, b in inc if (a in delta) != (b in delta)),
        "n_missing_vs_full": len(full_r - inc),
        "n_extra_vs_full": len(inc - full_r),
    }
    assert ref["n_missing_vs_full"] == 0 and ref["n_extra_vs_full"] == 0
    got = _one_row(ia03_incremental_lsh_index(spark, SF_DIR))
    assert got == ref


# ---------------------------------------------------------------------------
# ev10b — RFM quintile agreement (exact NTILE vs histogram CDF)
# ---------------------------------------------------------------------------


def _dec2(v: float) -> Decimal:
    return Decimal(v).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def test_ev10b_rfm_agreement_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.events_analytics import (
        ev10b_rfm_agreement,
    )

    ev = _read("events", "user_id", "ts", "event_type", "value")
    prof: dict[int, list] = {}
    for user, ts, typ, value in ev:
        if typ != "purchase":
            continue
        p = prof.setdefault(user, [None, 0, Decimal(0)])
        p[0] = ts if p[0] is None else max(p[0], ts)
        p[1] += 1
        p[2] += _dec2(value)
    users = sorted(prof)
    monetary = {u: float(prof[u][2]) for u in users}

    exact = {}
    for idx, key in (
        (0, lambda u: (prof[u][0], u)),
        (1, lambda u: (prof[u][1], u)),
        (2, lambda u: (monetary[u], u)),
    ):
        exact[idx] = _ntile(5, sorted(users, key=key))

    bins = {
        0: {u: prof[u][0].date() for u in users},
        1: {u: prof[u][1] for u in users},
        2: {u: math.floor(monetary[u]) for u in users},
    }
    approx = {
        idx: {u: _cdf_cuts(Counter(b.values()), 5)[b[u]] for u in users}
        for idx, b in bins.items()
    }

    ok = {
        idx: {u: int(exact[idx][u] == approx[idx][u]) for u in users} for idx in (0, 1, 2)
    }
    n = len(users)
    got = _one_row(ev10b_rfm_agreement(spark, SF_DIR))
    assert got["n_users"] == n
    assert got["r_agree_rate"] == float(sum(ok[0].values())) / float(n)
    assert got["f_agree_rate"] == float(sum(ok[1].values())) / float(n)
    assert got["m_agree_rate"] == float(sum(ok[2].values())) / float(n)
    cell = sum(ok[0][u] * ok[1][u] * ok[2][u] for u in users)
    assert got["cell_agree_rate"] == float(cell) / float(n)


# ---------------------------------------------------------------------------
# sm07b — quality-score quartile agreement (exact NTILE vs histogram CDF)
# ---------------------------------------------------------------------------


def test_sm07b_cdf_ntile_agreement_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.corpus4 import (
        sm07b_cdf_ntile_agreement,
    )

    docs = _read("documents", "doc_id", "text")
    # feature-hashed quality score: split on single spaces (empties kept),
    # bucket = md5-prefix % 64, weight = md5-prefix("w|bucket") % 2001 - 1000
    weight = {b: _md5_prefix_int(f"w|{b}") % 2001 - 1000 for b in range(64)}
    score = {}
    for d, t in docs:
        per_bucket: Counter = Counter()
        for term in t.split(" "):
            per_bucket[_md5_prefix_int(term) % 64] += 1
        score[d] = sum(cnt * weight[b] for b, cnt in per_bucket.items())

    ids = sorted(score)
    exact = _ntile(4, sorted(ids, key=lambda d: (score[d], d)))
    cuts = _cdf_cuts(Counter(score.values()), 4)
    agree = {d: int(exact[d] == cuts[score[d]]) for d in ids}
    n = len(ids)
    got = _one_row(sm07b_cdf_ntile_agreement(spark, SF_DIR))
    assert got["n_docs"] == n
    assert got["n_agree"] == sum(agree.values())
    assert got["agree_rate"] == float(sum(agree.values())) / float(n)
    assert got["max_bucket_gap"] == max(abs(exact[d] - cuts[score[d]]) for d in ids)


# ---------------------------------------------------------------------------
# w08b — global price-quartile agreement (exact cents NTILE vs dollar CDF)
# ---------------------------------------------------------------------------


def test_w08b_quartile_agreement_matches_python(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.olap3 import (
        w08b_global_quartile_agreement,
    )

    orders = _read("orders", "o_orderkey", "o_totalprice")
    cents = {k: int(_dec2(p) * 100) for k, p in orders}
    keys = sorted(cents)
    exact = _ntile(4, sorted(keys, key=lambda k: (cents[k], k)))
    m_bin = {k: math.floor(p) for k, p in orders}
    cuts = _cdf_cuts(Counter(m_bin.values()), 4)
    agree = {k: int(exact[k] == cuts[m_bin[k]]) for k in keys}
    n = len(keys)
    got = _one_row(w08b_global_quartile_agreement(spark, SF_DIR))
    assert got["n_orders"] == n
    assert got["n_agree"] == sum(agree.values())
    assert got["agree_rate"] == float(sum(agree.values())) / float(n)


# ---------------------------------------------------------------------------
# dd18 / dd04 — prefix-filtered exact pair generation (r10 rewrite) vs an
# all-pairs inverted-index reference on the REAL sf0.001 corpus (the
# crafted-corpus threshold sweep lives in test_llm_ops.py; this row pins
# the production tier: pair sets AND both IEEE ratios, bit-for-bit)
# ---------------------------------------------------------------------------


def _all_pair_overlaps():
    docs = _read("documents", "doc_id", "text")
    sh = {d: _shingles(t) for d, t in docs}
    inv: dict[str, list[int]] = defaultdict(list)
    for d, s in sh.items():
        for g in s:
            inv[g].append(d)
    common: Counter = Counter()
    for ds in inv.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                common[(ds[i], ds[j])] += 1
    return sh, common


def test_dd18_containment_matches_python_all_pairs(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.dedup import dd18_containment_pairs

    sh, common = _all_pair_overlaps()
    expected = {}
    for (a, b), c in common.items():
        cont = c / min(len(sh[a]), len(sh[b]))
        if cont >= 0.3:
            expected[(a, b)] = (cont, c / (len(sh[a]) + len(sh[b]) - c))
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in dd18_containment_pairs(spark, SF_DIR).collect()
    }
    assert got == expected  # pair set AND both single-division floats, bit-equal


def test_dd04_jaccard_matches_python_all_pairs(spark):
    from youtube_data_lakehouse_and_analysis_spark.plans.dedup import dd04_jaccard_pairs

    sh, common = _all_pair_overlaps()
    expected = {}
    for (a, b), c in common.items():
        jac = c / (len(sh[a]) + len(sh[b]) - c)
        if jac >= 0.02:
            expected[(a, b)] = jac
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd04_jaccard_pairs(spark, SF_DIR).collect()
    }
    assert got == expected
