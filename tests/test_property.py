"""Property-based invariants (hypothesis) over the pipeline's core algebra
(SURVEY.md §5.4): explode/re-nest round trip, fact cardinality, dim key
uniqueness, and surrogate-key injectivity on distinct inputs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from songs_etl_spark import schemas
from songs_etl_spark.operators import star

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ids = st.text(alphabet="abcdefg", min_size=1, max_size=4)

artist = st.fixed_dictionaries(
    {"id": st.one_of(st.none(), ids), "name": st.just("artist")}
)
track = st.fixed_dictionaries(
    {
        "added_at": st.just("2024-05-01T10:00:00Z"),
        "is_local": st.booleans(),
        "id": st.one_of(st.none(), ids),
        "name": st.just("track"),
        "duration_ms": st.just(1000),
        "explicit": st.just(False),
        "album": st.none(),
        "artists": st.lists(artist, max_size=3),
    }
)
tracks_doc = st.fixed_dictionaries(
    {"playlist_id": ids, "tracks": st.lists(track, max_size=4)}
)


def tracks_df(spark, docs):
    return spark.createDataFrame(docs, schema=schemas.RAW_TRACKS_SCHEMA)


@given(docs=st.lists(tracks_doc, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_dim_keys_unique_and_nonnull(spark, docs):
    for build in (star.build_dim_artist, star.build_dim_track):
        dim = build(tracks_df(spark, docs))
        rows = dim.collect()
        keys = [r[1] for r in rows]
        assert len(keys) == len(set(keys))
        assert all(k is not None for k in keys)
        surrogates = [r[0] for r in rows]
        assert len(set(surrogates)) == len(surrogates)  # sha2 injective here


@given(docs=st.lists(tracks_doc, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_explode_renest_roundtrip(spark, docs):
    """F4∘F2 = id: re-nesting the exploded tracks reproduces per-playlist
    multiset sizes."""
    df = tracks_df(spark, docs)
    flat = df.select("playlist_id", F.explode("tracks").alias("t"))
    renested = flat.groupBy("playlist_id").agg(F.count("*").alias("n"))
    got = {r.playlist_id: r.n for r in renested.collect()}
    expected: dict[str, int] = {}
    for d in docs:
        if d["tracks"]:
            expected[d["playlist_id"]] = expected.get(d["playlist_id"], 0) + len(d["tracks"])
    assert got == expected


@given(docs=st.lists(tracks_doc, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_fact_cardinality_bound(spark, docs):
    """|fact| ≤ Σ|tracks×artists| with equality when rows are already
    distinct; dedup never invents rows."""
    spark_df = tracks_df(spark, docs)
    playlists = spark.createDataFrame(
        [{"spotify_id": "u1", "playlists": [{"id": d["playlist_id"], "name": "p"} for d in docs]}],
        schema=schemas.RAW_PLAYLISTS_SCHEMA,
    )
    dim_user = spark.createDataFrame(
        [("k1", "User", "u1")], schema=schemas.DIM_USER_SCHEMA
    )
    fact = star.build_fact_songs(playlists, spark_df, dim_user)
    raw_pairs = sum(len(t["artists"]) for d in docs for t in d["tracks"])
    assert fact.count() <= raw_pairs


# ---------------------------------------------------------------------------
# Morton (Z-order) key algebra
# ---------------------------------------------------------------------------


def _py_morton(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_zorder_key_matches_reference_interleave(spark, pts):
    from pyspark.sql import functions as F

    from songs_etl_spark.plans.analytics import zorder_key

    df = spark.createDataFrame(pts, "x: long, y: long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_morton(x, y)
