"""Seeded input generators for the benchmark.

Two kinds of input, both built with NumPy/pyarrow/json only (never with
``songs_etl_spark``), so the benchmark's expectations are independent of the
code under test:

* ``write_tables`` — the ten query tables the registry reads (TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``), with the
  same column names, types and value domains as the project's test data,
  each written as one single-row-group Parquet file.
* ``write_landing`` — the songs pipeline's landing zone: one JSON-array blob
  of user→playlists documents and one of playlist→tracks documents, derived
  the way the test data maps onto the songs model (orders become playlists,
  line items become track entries, suppliers become artists), plus the
  expected warehouse row counts computed here in plain Python.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "green", "red", "small", "large", "shiny", "rusty", "tiny"]
PART_NOUN = ["anvil", "widget", "gear", "ring", "bolt", "spring", "valve", "lever"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_US = pa.timestamp("us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts: the registry's exact-decimal oracles assume
    measures carry at most four decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(base: datetime.datetime, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), type=_US)


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at a TPC-H-like scale factor (sf0.01 gives 60k
    line items); the text and vector tables keep a floor of 500 rows."""
    return {
        "customer": max(20, int(150_000 * scale)),
        "supplier": max(5, int(10_000 * scale)),
        "part": max(20, int(200_000 * scale)),
        "orders": max(100, int(1_500_000 * scale)),
        "lineitem": max(400, int(6_000_000 * scale)),
        "events": max(200, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    langs = rng.choice(LANGS, n, p=LANG_P)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # Near-duplicate of an earlier document: the dedup queries'
            # positives.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": labels,
        }
    )


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    n = table_sizes(scale)
    r = _rng(seed, 1)
    nation_keys = np.arange(25, dtype=np.int32)
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": nation_keys,
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (nation_keys % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n["customer"], dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": r.integers(0, 25, n["customer"]).astype(np.int32),
                "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": r.choice(SEGMENTS, n["customer"]).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
                "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n["part"], dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in r.integers(0, 8, (n["part"], 2))
                ],
                "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
                "p_type": r.choice(PART_TYPES, n["part"]).tolist(),
                "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
                "p_retailprice": np.round(900 + r.integers(0, 1000, n["part"]) / 10.0, 1),
            }
        ),
    }
    r = _rng(seed, 2)
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], no).astype(np.int64),
            "o_orderstatus": r.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(r, 1000, 500000, no),
            "o_orderdate": _days(datetime.datetime(1995, 1, 1), r.integers(0, 2405, no)),
            "o_orderpriority": r.choice(PRIORITIES, no).tolist(),
        }
    )
    r = _rng(seed, 3)
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, no, nl).astype(np.int64),
            "l_partkey": r.integers(0, n["part"], nl).astype(np.int64),
            "l_suppkey": r.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(r, 900, 2100, nl), 2),
            "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": r.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": r.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(datetime.datetime(1995, 1, 2), r.integers(0, 2499, nl)),
        }
    )
    r = _rng(seed, 4)
    ne = n["events"]
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(r.integers(0, month_us, ne)) + np.datetime64("2024-01-01T00:00:00", "us")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, type=_US),
            "user_id": r.integers(0, max(1, n["customer"] // 10), ne).astype(np.int64),
            "event_type": r.choice(EVENT_TYPES, ne).tolist(),
            "value": np.maximum(np.round(r.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(_rng(seed, 5), n["documents"])
    tables["embeddings"] = _embeddings(_rng(seed, 6), n["embeddings"])
    return tables


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every query table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Landing zone for the songs pipeline
# ---------------------------------------------------------------------------

#: Strings no ISO-8601 parser accepts: the pipeline must land them as NULL.
MALFORMED_ADDED_AT = ["not-a-date", "", "yesterday", "N/A", "2024/13/45 99:99"]


def make_landing(seed: int, n_entries: int) -> tuple[list, list, list, dict]:
    """Landing documents at ``n_entries`` track entries (before artists are
    unnested).

    Returns ``(playlist_docs, track_docs, users, expected)``. The seed varies
    the document order, the share of local tracks (NULL track id) and the
    share of malformed ``added_at`` strings; ``expected`` holds the row counts
    the warehouse must have, computed here without Spark.
    """
    r = _rng(seed, 7)
    n_playlists = max(4, n_entries // 4)
    n_users = max(2, n_playlists // 10)
    n_tracks = max(4, n_entries // 3)
    n_artists = max(2, n_entries // 60)
    local_share = 0.01 + 0.04 * r.random()
    malformed_share = 0.005 + 0.025 * r.random()

    # Orders → playlists: each playlist has one owner; ~2% are also claimed
    # by a second user (the pipeline keeps the smallest spotify id), and ~1%
    # are claimed by nobody (their facts carry a NULL user).
    owner = r.integers(0, n_users, n_playlists)
    second = np.where(r.random(n_playlists) < 0.02, r.integers(0, n_users, n_playlists), -1)
    unowned = r.random(n_playlists) < 0.01
    by_user: dict[int, list[int]] = {}
    claimants: dict[int, list[str]] = {}
    for p in range(n_playlists):
        if unowned[p]:
            continue
        for u in {int(owner[p]), int(second[p])} - {-1}:
            by_user.setdefault(u, []).append(p)
            claimants.setdefault(p, []).append(f"user{u:06d}")
    playlist_docs = [
        {
            "spotify_id": f"user{u:06d}",
            "playlists": [{"id": f"pl{p:07d}", "name": f"Playlist {p}"} for p in ps],
        }
        for u, ps in sorted(by_user.items())
    ]

    # Line items → track entries; suppliers → artists (1-3 per track, some
    # with a NULL id, a few tracks with none at all).
    n_credits = r.choice([0, 1, 1, 1, 2, 3], n_tracks)
    credits = np.where(
        r.random(int(n_credits.sum())) < 0.01, -1, r.integers(0, n_artists, int(n_credits.sum()))
    ).tolist()
    bounds = np.concatenate([[0], np.cumsum(n_credits)]).tolist()
    track_artists = [
        [None if a < 0 else a for a in credits[bounds[t] : bounds[t + 1]]]
        for t in range(n_tracks)
    ]
    entry_playlist = r.integers(0, n_playlists, n_entries).tolist()
    entry_track = r.integers(0, n_tracks, n_entries).tolist()
    entry_local = (r.random(n_entries) < local_share).tolist()
    entry_bad = (r.random(n_entries) < malformed_share).tolist()
    entry_secs = r.integers(0, 365 * 86400, n_entries).tolist()
    entry_dup = (r.random(n_entries) < 0.02).tolist()  # exact repeats for the full-row dedup
    base = datetime.datetime(2023, 1, 1)
    tracks_by_pl: dict[int, list[dict]] = {}
    for t, local, bad, secs, dup, pl in zip(
        entry_track, entry_local, entry_bad, entry_secs, entry_dup, entry_playlist
    ):
        added = (
            MALFORMED_ADDED_AT[secs % len(MALFORMED_ADDED_AT)]
            if bad
            else (base + datetime.timedelta(seconds=secs)).strftime("%Y-%m-%dT%H:%M:%SZ")
        )
        track = {
            "added_at": added,
            "is_local": local,
            "id": None if local else f"tr{t:07d}",
            "name": f"Track {t}",
            "duration_ms": 120_000 + (t * 7919) % 240_000,
            "explicit": t % 7 == 0,
            "album": {
                "id": f"al{t // 10:06d}",
                "name": f"Album {t // 10}",
                "release_date": ["2019", "2019-05", "2019-05-17"][t % 3],
                "total_tracks": 10,
                "images": [{"url": f"https://img/{t // 10}.jpg", "height": 640, "width": 640}],
            },
            "artists": [
                {"id": None if a is None else f"ar{a:05d}", "name": f"Artist {a}"}
                for a in track_artists[t]
            ],
        }
        entries = tracks_by_pl.setdefault(pl, [])
        entries.append(track)
        if dup:
            entries.append(track)
    track_docs = [
        {"playlist_id": f"pl{p:07d}", "tracks": ts} for p, ts in tracks_by_pl.items()
    ]
    r.shuffle(playlist_docs)
    r.shuffle(track_docs)

    # dim_user omits ~3% of users: their facts keep a NULL dim_user_id.
    users = [
        (f"du{u:06d}", f"User {u}", f"user{u:06d}")
        for u in range(n_users)
        if r.random() >= 0.03
    ]
    user_ids = {spotify for _, _, spotify in users}

    facts = set()
    for doc in track_docs:
        pl = doc["playlist_id"]
        names = claimants.get(int(pl[2:]))
        own = min(names) if names else None
        for t in doc["tracks"]:
            for a in t["artists"]:
                facts.add((pl, a["id"], t["id"], own, t["added_at"], t["is_local"]))
    expected = {
        "dim_platform": 1,
        "dim_playlist": len({p["id"] for d in playlist_docs for p in d["playlists"]}),
        "dim_artist": len({a["id"] for d in track_docs for t in d["tracks"] for a in t["artists"]} - {None}),
        "dim_track": len({t["id"] for d in track_docs for t in d["tracks"]} - {None}),
        "fact_songs": len(facts),
        "fact_null_playlist": sum(1 for f in facts if f[3] is None),
        "fact_null_track": sum(1 for f in facts if f[2] is None),
        "fact_null_artist": sum(1 for f in facts if f[1] is None),
        "fact_null_user": sum(1 for f in facts if f[3] not in user_ids),
        "fact_null_added_at": sum(1 for f in facts if f[4] in MALFORMED_ADDED_AT),
    }
    return playlist_docs, track_docs, users, expected


def write_landing(out_dir: str, seed: int, n_entries: int) -> tuple[str, str, list, dict]:
    """Write ``playlists.json`` and ``tracks.json`` (one JSON array each)
    under ``out_dir``; returns their paths, the dim_user rows and the
    expected counts."""
    playlist_docs, track_docs, users, expected = make_landing(seed, n_entries)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, docs in (("playlists", playlist_docs), ("tracks", track_docs)):
        path = os.path.join(out_dir, f"{name}.json")
        with open(path, "w") as fh:
            fh.write(json.dumps(docs, separators=(",", ":")))
        paths.append(path)
    return paths[0], paths[1], users, expected
