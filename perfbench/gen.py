"""Seeded input generators for the benchmark.

Two input families, both written as files the program reads the way a
user's would:

* ``write_warehouse`` — the ten tables the query catalog reads
  (region nation customer supplier part orders lineitem events documents
  embeddings), one single-row-group parquet file each, with the same
  schemas, key ranges and value domains as the shipped testdata tiers.
  ``scale`` is the TPC-H-style scale factor (0.01 gives 60,000 lineitem
  rows).
* ``write_api_pages`` — YouTube Data API v3 response pages (channels,
  playlists, playlistItems, videos, commentThreads) with pagination
  tokens, a skew in videos per channel and hidden like/comment counts.
  It returns the ground truth the lakehouse check compares against.

The same seed gives byte-identical files; the program under test never
sees the seed, only the files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, like the shipped tiers: the catalog's layout
    # compaction is part of what set-up measures.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, base: np.datetime64, span_days: int, n: int) -> np.ndarray:
    return base + rng.integers(0, span_days, n).astype("int64") * np.timedelta64(_DAY_US, "us")


def warehouse_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * scale),
        "supplier": max(10, int(10_000 * scale)),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "users": max(10, int(15_000 * scale)),
        "documents": int(50_000 * scale),
        "embeddings": max(500, int(20_000 * scale)),
    }


def write_warehouse(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n = warehouse_sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype="int64")
    tables["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, _EPOCH_1995, 2400, no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": rng.integers(0, npart, nl).astype("int64"),
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(_DAY_US, "us"), 2500, nl),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype("int64") + 1
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": _EPOCH_2024 + np.cumsum(gaps) * np.timedelta64(1, "us"),
            "user_id": rng.integers(0, n["users"], ne).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 101, nd)
    ]
    for i in range(0, nd, 300):  # a few exact-duplicate families
        if i + 7 < nd:
            texts[i + 7] = texts[i]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.standard_normal((10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.standard_normal((nv, 64)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------- API pages


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _duration(seconds: int) -> str:
    h, rest = divmod(seconds, 3600)
    m, s = divmod(rest, 60)
    out = "PT" + (f"{h}H" if h else "") + (f"{m}M" if m else "") + (f"{s}S" if s else "")
    return out if out != "PT" else "PT0S"


def _pages(items: list, size: int) -> list[dict]:
    """Split items into API pages linked by nextPageToken."""
    chunks = [items[i : i + size] for i in range(0, len(items), size)] or [[]]
    pages = []
    for k, chunk in enumerate(chunks):
        page: dict = {"items": chunk}
        if k + 1 < len(chunks):
            page["nextPageToken"] = f"TOKEN{k + 1}"
        pages.append(page)
    return pages


def _dump(obj: dict, path: str) -> int:
    data = json.dumps(obj, indent=1).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def write_api_pages(out_dir: str, seed: int, n_channels: int, n_videos: int) -> dict:
    """Write recorded API responses under ``out_dir`` and return the truth:
    ``{"channels": [...], "playlists": n, "videos": [...], "comments": n,
    "bytes": total JSON bytes, "records": total items}``.

    Videos per channel follow a Zipf-like skew; one video in six hides its
    like count and one in eight its comment count (the API omits the
    field). Views, likes and comment counts are distinct across visible
    values so every top-k question has a unique answer. The seed permutes
    who gets what, not how much: the channel sizes, playlist and comment
    counts are fixed multisets, so every seed carries the same amount of
    work.
    """
    rng = np.random.default_rng([seed, 2])
    for sub in ("channels", "playlists", "playlist_items", "videos", "comments"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    weights = 1.0 / np.arange(1, n_channels + 1) ** 0.8
    extra = np.floor(weights / weights.sum() * (n_videos - n_channels)).astype(int)
    extra[0] += n_videos - n_channels - extra.sum()
    per_channel = rng.permutation(1 + extra)
    n_comment_list = rng.permutation(np.arange(n_videos) % 30)
    n_playlist_list = rng.permutation(1 + np.arange(n_channels) % 7)
    hidden_likes = set(rng.permutation(n_videos)[: n_videos // 6].tolist())
    hidden_comments = set(rng.permutation(n_videos)[: n_videos // 8].tolist())
    views = rng.permutation(n_videos) * 997 + rng.integers(1, 997, n_videos)
    likes = rng.permutation(n_videos) * 13 + 1
    ccount = rng.permutation(n_videos) + 1
    base = dt.datetime(2019, 1, 1, tzinfo=dt.timezone.utc)
    total_bytes = 0
    records = 0
    channels, videos, n_playlists, n_comments = [], [], 0, 0
    v = 0
    for c in range(n_channels):
        cid, name = f"UC{seed % 1000:03d}{c:04d}", f"Channel {c:03d}"
        ch_videos = []
        for _ in range(per_channel[c]):
            hide_likes = v in hidden_likes
            hide_comments = v in hidden_comments
            n_com = int(n_comment_list[v])
            vid = {
                "id": f"v{c:04d}x{v:05d}",
                "channel_id": cid,
                "channel_name": name,
                "title": f"Video {v:05d} of {name}",
                "published": base + dt.timedelta(seconds=int(rng.integers(0, 5 * 365 * 86400))),
                "duration": int(rng.integers(1, 3 * 3600)),
                "views": int(views[v]),
                "likes": None if hide_likes else int(likes[v]),
                "comment_count": None if hide_comments else int(ccount[v]),
                "n_comments": n_com,
            }
            ch_videos.append(vid)
            v += 1
        n_pl = int(n_playlist_list[c])
        channels.append(
            {
                "id": cid,
                "name": name,
                "views": int(rng.integers(10_000, 10_000_000)),
                "subscribers": int(rng.integers(100, 1_000_000)),
                "uploads": len(ch_videos),
                "videos": ch_videos,
                "n_playlists": n_pl,
            }
        )
        videos.extend(ch_videos)
        n_playlists += n_pl
        total_bytes += _dump(
            {
                "items": [
                    {
                        "id": cid,
                        "snippet": {
                            "title": name,
                            "country": "US" if c % 3 else None,
                            "publishedAt": _iso(base - dt.timedelta(days=30 * (c + 1))),
                        },
                        "contentDetails": {"relatedPlaylists": {"uploads": "UU" + cid[2:]}},
                        "statistics": {
                            "viewCount": str(channels[-1]["views"]),
                            "subscriberCount": str(channels[-1]["subscribers"]),
                            "videoCount": str(len(ch_videos)),
                        },
                        "status": {"privacyStatus": "public"},
                    }
                ]
            },
            os.path.join(out_dir, "channels", f"{cid}.json"),
        )
        records += 1
        playlists = [
            {"id": f"PL{cid}{k:02d}", "snippet": {"title": f"List {k}", "channelId": cid}}
            for k in range(n_pl)
        ]
        for k, page in enumerate(_pages(playlists, 3)):
            total_bytes += _dump(page, os.path.join(out_dir, "playlists", f"{cid}_page{k}.json"))
        records += n_pl
        uploads = [{"contentDetails": {"videoId": x["id"]}} for x in ch_videos]
        for k, page in enumerate(_pages(uploads, 50)):
            total_bytes += _dump(
                page, os.path.join(out_dir, "playlist_items", f"{cid}_page{k}.json")
            )
        records += len(uploads)
    for b in range(0, len(videos), 50):  # videos.list takes at most 50 ids
        items = []
        for x in videos[b : b + 50]:
            stats = {"viewCount": str(x["views"]), "favoriteCount": "0"}
            if x["likes"] is not None:
                stats["likeCount"] = str(x["likes"])
            if x["comment_count"] is not None:
                stats["commentCount"] = str(x["comment_count"])
            items.append(
                {
                    "id": x["id"],
                    "snippet": {
                        "channelTitle": x["channel_name"],
                        "channelId": x["channel_id"],
                        "title": x["title"],
                        "publishedAt": _iso(x["published"]),
                        "thumbnails": {"default": {"url": f"https://i.ytimg.com/vi/{x['id']}/default.jpg"}},
                        "description": f"About {x['title']}",
                        "tags": ["bench", x["channel_id"]],
                    },
                    "contentDetails": {
                        "duration": _duration(x["duration"]),
                        "definition": "hd",
                        "caption": "false",
                    },
                    "statistics": stats,
                }
            )
        total_bytes += _dump({"items": items}, os.path.join(out_dir, "videos", f"batch{b // 50:04d}.json"))
        records += len(items)
    for x in videos:
        threads = [
            {
                "snippet": {
                    "videoId": x["id"],
                    "topLevelComment": {
                        "id": f"{x['id']}c{k:03d}",
                        "snippet": {
                            "authorDisplayName": f"user{int(rng.integers(0, 500))}",
                            "textDisplay": f"comment {k} on {x['title']}",
                            "publishedAt": _iso(x["published"] + dt.timedelta(hours=k + 1)),
                        },
                    },
                }
            }
            for k in range(x["n_comments"])
        ]
        if not threads:
            continue
        for k, page in enumerate(_pages(threads, 20)):
            total_bytes += _dump(page, os.path.join(out_dir, "comments", f"{x['id']}_page{k}.json"))
        n_comments += len(threads)
        records += len(threads)
    return {
        "channels": channels,
        "videos": videos,
        "playlists": n_playlists,
        "comments": n_comments,
        "bytes": total_bytes,
        "records": records,
    }
