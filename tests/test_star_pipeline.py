"""End-to-end and per-operator tests for the songs star-schema pipeline
(operators/star.py), following SURVEY.md §5: intended join semantics, FK
integrity, idempotent overwrites, and the C1/P5/J1 edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from songs_etl_spark import schemas
from songs_etl_spark.functions.casts import try_iso_timestamp
from songs_etl_spark.functions.keys import surrogate_key
from songs_etl_spark.operators import star
from songs_etl_spark.sources.json_source import read_landing_json


@pytest.fixture(scope="module")
def raw(spark, landing_dir):
    return {
        "playlists": read_landing_json(
            spark, str(landing_dir / "playlists.json"), schemas.RAW_PLAYLISTS_SCHEMA
        ),
        "tracks": read_landing_json(
            spark, str(landing_dir / "tracks.json"), schemas.RAW_TRACKS_SCHEMA
        ),
    }


@pytest.fixture(scope="module")
def warehouse(spark, landing_dir, dim_user, tmp_path_factory):
    out = tmp_path_factory.mktemp("warehouse")
    return star.run_pipeline(
        spark,
        str(landing_dir / "playlists.json"),
        str(landing_dir / "tracks.json"),
        dim_user,
        str(out),
        ingest_date="2024-05-02",
    )


def test_landing_read_shapes(raw):
    assert raw["playlists"].count() == 5
    assert raw["tracks"].count() == 5
    # Nested schema preserved exactly (schema-on-read, no inference).
    assert raw["tracks"].schema == schemas.RAW_TRACKS_SCHEMA


def test_dim_playlist_distinct_natural_keys(raw):
    dim = star.build_dim_playlist(raw["playlists"]).collect()
    by_key = {r.playlist_id: r for r in dim}
    assert set(by_key) == {"pl1", "pl2", "pl3", "pl_shared"}
    # Deterministic name pick (MIN) for the key claimed by two users.
    assert by_key["pl_shared"].name == "Shared A"
    # Surrogate is the sha2 policy, not a random CUID.
    assert by_key["pl1"].dim_playlist_id != "pl1"
    assert len(by_key["pl1"].dim_playlist_id) == 10


def test_dim_artist_null_key_filtered(raw):
    dim = star.build_dim_artist(raw["tracks"]).collect()
    ids = {r.artist_id for r in dim}
    # P5: the NULL-id artist of the local track is dropped.
    assert None not in ids
    assert {"a1", "a2"} <= ids
    # A2: one row per natural key even though a1 appears on 3 tracks.
    assert len(ids) == len(dim)


def test_dim_track_excludes_local(raw):
    dim = star.build_dim_track(raw["tracks"]).collect()
    ids = {r.track_id for r in dim}
    assert None not in ids  # the local track has no natural key
    assert {"t1", "t2", "t3", "t4", "t5"} == ids


def test_playlist_owner_pick_first(raw):
    owners = {r.playlist_id: r.spotify_id for r in star.playlist_owner(raw["playlists"]).collect()}
    assert owners["pl1"] == "user1"
    # J1 tie-break: deterministic MIN over the two claimants.
    assert owners["pl_shared"] == "user3"
    assert "pl_orphan" not in owners


def test_fact_row_count_is_track_artist_pairs(warehouse):
    # |fact| = Σ over (playlist, track) of |artists|, after full-row dedup:
    # pl1: t1×1 + t2×2; pl2: t1×1 + local×1; pl3,pl_shared,pl_orphan: 1 each.
    assert warehouse["fact_songs"].count() == 8


def test_fact_fk_integrity(warehouse, dim_user):
    """Intended semantics (SURVEY.md §2.3): every non-local fact row resolves
    all four FK columns; the reference's observed behavior (all-NULL FKs) is
    the documented bug we do not reproduce."""
    fact = warehouse["fact_songs"]
    resolved = fact.filter(
        F.col("dim_playlist_id").isNotNull()
        & F.col("dim_track_id").isNotNull()
        & F.col("dim_artist_id").isNotNull()
        & F.col("dim_user_id").isNotNull()
    )
    # 5 fully-resolved rows: pl1 t1, pl1 t2×2, pl2 t1, pl3 t3, pl_shared t4
    # minus pl_orphan (no user) and the local track (no track/artist key).
    assert resolved.count() == 6
    # pl_orphan appears only in the tracks blob, never in a user doc: the
    # reference builds dim_playlist from the playlists blob, so the orphan
    # fact row resolves neither playlist nor user — the unmatched→NULL
    # left-join path (J2/J5).
    orphan = fact.join(
        warehouse["dim_track"].filter(F.col("track_id") == "t5"), "dim_track_id"
    ).collect()
    assert len(orphan) == 1
    assert orphan[0].dim_playlist_id is None
    assert orphan[0].dim_user_id is None


def test_fact_equals_old_star_join(raw, warehouse, dim_user):
    """The fact resolves J2-J4 without the dims. The star join it replaces,
    left joins of its natural keys against the written dims, gives the same
    row multiset, including the orphan playlist (no dim_playlist row), the
    NULL-id artist and the local track (NULL track id)."""
    from collections import Counter

    flat = (
        raw["tracks"]
        .select("playlist_id", F.explode("tracks").alias("t"))
        .select(
            "playlist_id",
            F.col("t.id").alias("track_id"),
            F.col("t.added_at").alias("added_at_raw"),
            F.col("t.is_local").alias("is_local"),
            F.explode("t.artists.id").alias("artist_id"),
        )
    )
    old = (
        flat.join(star.playlist_owner(raw["playlists"]), "playlist_id", "left")
        .withColumn("dim_platform_id", F.lit(star.PLATFORM_ID))
        .dropDuplicates()
        .join(warehouse["dim_playlist"].drop("name"), "playlist_id", "left")
        .join(warehouse["dim_artist"].drop("name"), "artist_id", "left")
        .join(warehouse["dim_track"].drop("name"), "track_id", "left")
        .join(dim_user.drop("name"), "spotify_id", "left")
        .withColumn("added_at", try_iso_timestamp("added_at_raw"))
        .select(*schemas.FACT_SONGS_COLUMNS)
        .collect()
    )
    new = warehouse["fact_songs"].select(*schemas.FACT_SONGS_COLUMNS).collect()
    assert Counter(map(tuple, old)) == Counter(map(tuple, new))
    for key in ("dim_playlist_id", "dim_artist_id", "dim_track_id"):
        assert any(r[key] is None for r in old), key


def test_fact_added_at_coerced(warehouse):
    # C1: the malformed added_at coerces to NULL, everything else parses.
    fact = warehouse["fact_songs"]
    assert fact.filter(F.col("added_at").isNull()).count() == 1
    assert fact.filter(F.col("added_at").isNotNull()).count() == 7


def test_fact_platform_literal_and_projection(warehouse):
    fact = warehouse["fact_songs"]
    assert fact.select("dim_platform_id").distinct().collect()[0][0] == "spotify"
    # P4: declared column order (plus the ingest_date partition column).
    assert fact.columns[: len(schemas.FACT_SONGS_COLUMNS)] == schemas.FACT_SONGS_COLUMNS


def test_overwrite_idempotent(spark, landing_dir, dim_user, tmp_path_factory, warehouse):
    """O5: rerunning the whole pipeline into the same warehouse produces a
    byte-identical fact table (deterministic keys + overwrite loads)."""
    out = tmp_path_factory.mktemp("warehouse2")
    first = star.run_pipeline(
        spark,
        str(landing_dir / "playlists.json"),
        str(landing_dir / "tracks.json"),
        dim_user,
        str(out),
        ingest_date="2024-05-02",
    )["fact_songs"].collect()
    second = star.run_pipeline(
        spark,
        str(landing_dir / "playlists.json"),
        str(landing_dir / "tracks.json"),
        dim_user,
        str(out),
        ingest_date="2024-05-02",
    )["fact_songs"].collect()
    def multiset(rows):
        from collections import Counter

        return Counter(map(tuple, rows))

    assert multiset(first) == multiset(second)
    assert multiset(first) == multiset(warehouse["fact_songs"].collect())


def test_surrogate_keys_match_policy(warehouse):
    dim = {r.playlist_id: r.dim_playlist_id for r in warehouse["dim_playlist"].collect()}
    spark_df = warehouse["dim_playlist"].sparkSession.createDataFrame(
        [("pl1",)], "playlist_id string"
    )
    expected = spark_df.select(surrogate_key("playlist_id")).collect()[0][0]
    assert dim["pl1"] == expected


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from songs_etl_spark.sources.writers import compact_parquet

    path = str(tmp_path / "frag")
    # 64 tiny files — the post-streaming/merge fragmentation shape.
    spark.range(10_000).repartition(64).write.parquet(path)
    before_files = len(spark.read.parquet(path).inputFiles())
    before_sum = spark.read.parquet(path).agg(F.sum("id")).first()[0]
    n_after = compact_parquet(spark, path, target_bytes_per_file=64 * 1024 * 1024)
    assert before_files == 64 and n_after < before_files
    after = spark.read.parquet(path)
    assert len(after.inputFiles()) == n_after
    assert after.agg(F.sum("id")).first()[0] == before_sum
    assert after.count() == 10_000
    # The swap cleans up after itself: no __old_/__compact_ siblings remain.
    siblings = [p.name for p in tmp_path.iterdir()]
    assert siblings == ["frag"]


def test_compact_parquet_crash_window_loses_no_data(spark, tmp_path):
    """A crash between 'set old aside' and 'promote new' must leave the full
    table recoverable: old data intact at path__old_<id>, compacted copy at
    the temp sibling. This reconstructs that exact on-disk state and asserts
    the recovery invariant the docstring promises (rename back restores)."""
    path = str(tmp_path / "tbl")
    spark.range(1_000).repartition(8).write.parquet(path)
    # State as of a crash after step 2: compacted tmp written, path moved
    # aside, path itself missing.
    tmp = str(tmp_path / "tbl__compact_deadbeef")
    spark.read.parquet(path).coalesce(1).write.parquet(tmp)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    old = str(tmp_path / "tbl__old_deadbeef")
    assert fs.rename(Path(path), Path(old))
    # No data lost: both the original and the compacted copy fully readable.
    assert spark.read.parquet(old).count() == 1_000
    assert spark.read.parquet(tmp).count() == 1_000
    # Recovery = one rename; table is back bit-for-bit.
    assert fs.rename(Path(old), Path(path))
    assert spark.read.parquet(path).agg(F.sum("id")).first()[0] == 499_500


def test_incremental_fact_load_preserves_prior_days(
    spark, landing_dir, dim_user, tmp_path_factory
):
    """O5 at scale: incremental=True is a dynamic partition overwrite — day-2
    rewrites only its own ingest_date partition, day-1 survives byte-for-byte;
    a same-day rerun stays idempotent; the default full refresh (reference
    WRITE_TRUNCATE parity) still truncates the whole table."""
    import os

    out = tmp_path_factory.mktemp("warehouse_inc")
    args = (
        spark,
        str(landing_dir / "playlists.json"),
        str(landing_dir / "tracks.json"),
        dim_user,
        str(out),
    )
    fact_path = os.path.join(str(out), "fact_songs")

    from collections import Counter

    day1 = star.run_pipeline(*args, ingest_date="2024-05-01", incremental=True)
    day1_rows = Counter(map(tuple, day1["fact_songs"].drop("ingest_date").collect()))

    star.run_pipeline(*args, ingest_date="2024-05-02", incremental=True)
    both = spark.read.parquet(fact_path)
    dates = {str(r[0]) for r in both.select("ingest_date").distinct().collect()}
    assert dates == {"2024-05-01", "2024-05-02"}
    survived = Counter(
        map(
            tuple,
            both.filter(F.col("ingest_date").cast("string") == "2024-05-01").drop("ingest_date").collect(),
        )
    )
    assert survived == day1_rows

    # Same-day rerun: partition-scoped truncate, total row count unchanged.
    n_both = both.count()
    star.run_pipeline(*args, ingest_date="2024-05-02", incremental=True)
    assert spark.read.parquet(fact_path).count() == n_both

    # Default mode keeps reference WRITE_TRUNCATE parity: full truncate.
    star.run_pipeline(*args, ingest_date="2024-05-03")
    only = {str(r[0]) for r in spark.read.parquet(fact_path).select("ingest_date").distinct().collect()}
    assert only == {"2024-05-03"}


@pytest.mark.parametrize(
    "playlists, tracks, counts",
    [
        # An empty landing day: both blobs are empty arrays.
        ([], [], (1, 0, 0, 0, 0)),
        # A day whose only playlist has no tracks gives a 0-row fact.
        (
            [{"spotify_id": "u", "playlists": [{"id": "p", "name": "P"}]}],
            [{"playlist_id": "p", "tracks": []}],
            (1, 1, 0, 0, 0),
        ),
    ],
    ids=["empty_blobs", "no_fact_rows"],
)
def test_empty_day(spark, dim_user, tmp_path, playlists, tracks, counts):
    """A 0-row partitioned write leaves no partition directory; the declared
    re-read schema reads it as empty instead of failing to infer one."""
    import json

    (tmp_path / "playlists.json").write_text(json.dumps(playlists))
    (tmp_path / "tracks.json").write_text(json.dumps(tracks))
    out = star.run_pipeline(
        spark,
        str(tmp_path / "playlists.json"),
        str(tmp_path / "tracks.json"),
        dim_user,
        str(tmp_path / "warehouse"),
        ingest_date="2024-05-02",
    )
    names = ("dim_platform", "dim_playlist", "dim_artist", "dim_track", "fact_songs")
    assert tuple(out[name].count() for name in names) == counts
    assert out["fact_songs"].schema["ingest_date"].dataType == T.DateType()


#: Spark jobs one pipeline run over the fixture takes: 7 writes (2 ingests,
#: 4 dims, the fact), the map stages adaptive execution runs as their own
#: jobs, and the 2 fact broadcasts. Every re-read has a declared schema and
#: runs none.
PIPELINE_JOBS = 14


def test_pipeline_jobs_run_in_callers_group(spark, landing_dir, dim_user, tmp_path):
    """Every job of the pipeline, including those its pool threads submit,
    runs under the caller's job group, and the run takes no schema-inference
    job: at least one job per write, at most ``PIPELINE_JOBS``."""
    sc = spark.sparkContext
    group = "star:pipeline-jobs"
    sc.setJobGroup(group, group)
    try:
        star.run_pipeline(
            spark,
            str(landing_dir / "playlists.json"),
            str(landing_dir / "tracks.json"),
            dim_user,
            str(tmp_path / "warehouse"),
            ingest_date="2024-05-02",
        )
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 7 <= n_jobs <= PIPELINE_JOBS, n_jobs
