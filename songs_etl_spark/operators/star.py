"""The songs star-schema pipeline over nested landing documents — the engine
restatement of the reference's whole dataflow (SURVEY.md §3): landing JSON →
four dimensions → fact_songs, with the *intended* join semantics (dimensions
retain their natural keys; SURVEY.md §2.3 divergence note).

Reference trace per step (file:line in /root/reference/cloud-functions):

- ingest: cf_extract/main.py:228-232,294-298 (JSON blob per entity/date)
- dim_platform: cf_create_plataforms_dimension/main.py:64-79 (constant row)
- dim_playlist: cf_create_playlists_dimension/main.py:67-82 (F1 flatten + A4)
- dim_artist: cf_create_artists_dimension/main.py:63-93 (F2+F3 + P5 + A2 + C2)
- dim_track: cf_create_tracks_dimension/main.py:67-87 (F2 + A3 + C2)
- fact_songs: cf_transform/main.py:98-176 (J1-J5 + A1 + C1 + C4 + P4)

Scale design: every flatten is a generated-column ``explode`` (no
materialized intermediate). The fact resolves its artist and track keys by
recomputing the deterministic surrogate (C2) from the natural key instead of
joining the dims, and its playlist key rides on the owner lookup (J1); the
only joins left are two broadcasts (owners and ``dim_user``), so the fact
needs no dim to be written first. The only repartitioning operation is the
full-row dedup A1 (one shuffle keyed by all fact columns), and the fact is
written partitioned by ``ingest_date`` and sorted on the declared clustering
keys (terraform/bigquery.tf:13) so downstream scans prune. Every table the
pipeline writes is re-read with its declared schema: no footer-inference job.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.util import inheritable_thread_target

from songs_etl_spark import schemas
from songs_etl_spark.functions.casts import try_iso_timestamp
from songs_etl_spark.functions.keys import surrogate_key
from songs_etl_spark.sources.json_source import read_landing_json
from songs_etl_spark.sources.writers import overwrite_partitions, overwrite_table

#: Hardcoded platform key (cf_create_plataforms_dimension/main.py:69,
#: cf_transform/main.py:148).
PLATFORM_ID = "spotify"

#: Default for a missing album.total_tracks (cf_extract/main.py:269).
TOTAL_TRACKS_DEFAULT = 9999


# ---------------------------------------------------------------------------
# Ingest (S6/S7/S9): landing JSON → date-partitioned Parquet
# ---------------------------------------------------------------------------


def ingest_landing_to_parquet(
    spark: SparkSession,
    json_path: str,
    schema: T.StructType,
    out_path: str,
    ingest_date: str,
) -> DataFrame:
    """Read a landing JSON blob (schema-on-read, no inference scan) and land
    it as Parquet under ``ingest_date=`` partitions — the columnar restatement
    of the reference's date-keyed blob path (cf_extract/main.py:231,297).
    Raw JSON is parsed exactly once; all downstream reads are columnar."""
    df = read_landing_json(spark, json_path, schema).withColumn(
        "ingest_date", F.lit(ingest_date)
    )
    df.write.mode("overwrite").partitionBy("ingest_date").parquet(out_path)
    return _read_day(spark, out_path, schema, ingest_date)


def _read_day(
    spark: SparkSession, path: str, schema: T.StructType, ingest_date: str
) -> DataFrame:
    """One ``ingest_date`` partition of a table written partitioned by that
    column, read with its declared schema: no footer-inference job, and a
    day that wrote no rows (hence no partition directory) reads as empty
    instead of failing to infer a schema."""
    dated = T.StructType([*schema.fields, T.StructField("ingest_date", T.DateType())])
    return spark.read.schema(dated).parquet(path).filter(F.col("ingest_date") == ingest_date)


# ---------------------------------------------------------------------------
# Dimension builds (parallel branches O2; each is distinct → surrogate key)
# ---------------------------------------------------------------------------


def build_dim_platform(spark: SparkSession) -> DataFrame:
    """C3 constant relation (cf_create_plataforms_dimension/main.py:67-74)."""
    return spark.createDataFrame(
        [(PLATFORM_ID, "Spotify")], schema=schemas.DIM_PLATFORM_SCHEMA
    )


def _distinct_keyed(flat: DataFrame, natural: str, surrogate: str) -> DataFrame:
    """One dim row per natural key with a deterministic name choice (MIN), a
    deterministic replacement for pandas drop_duplicates' keep-first
    (SURVEY.md §7 hard part 4), then the sha2 surrogate (C2)."""
    return (
        flat.filter(F.col(natural).isNotNull())
        .groupBy(natural)
        .agg(F.min("name").alias("name"))
        .select(surrogate_key(natural).alias(surrogate), natural, "name")
    )


def build_dim_playlist(raw_playlists: DataFrame) -> DataFrame:
    """F1 unnest users→playlists, then the *intended* distinct-on-natural-key
    (the reference's post-CUID drop_duplicates was a no-op — SURVEY.md §2.4
    A4; cf_create_playlists_dimension/main.py:74-82)."""
    flat = raw_playlists.select(F.explode("playlists").alias("p")).select(
        F.col("p.id").alias("playlist_id"), F.col("p.name").alias("name")
    )
    return _distinct_keyed(flat, "playlist_id", "dim_playlist_id")


def build_dim_artist(raw_tracks: DataFrame) -> DataFrame:
    """F2+F3 three-level unnest with the P5 null-natural-key filter
    (cf_create_artists_dimension/main.py:74-86)."""
    flat = (
        raw_tracks.select(F.explode("tracks").alias("t"))
        .select(F.explode("t.artists").alias("a"))
        .select(F.col("a.id").alias("artist_id"), F.col("a.name").alias("name"))
    )
    return _distinct_keyed(flat, "artist_id", "dim_artist_id")


def build_dim_track(raw_tracks: DataFrame) -> DataFrame:
    """F2 unnest playlists→tracks (cf_create_tracks_dimension/main.py:74-87);
    local tracks (NULL id) are excluded from the dim, mirroring P5."""
    flat = raw_tracks.select(F.explode("tracks").alias("t")).select(
        F.col("t.id").alias("track_id"), F.col("t.name").alias("name")
    )
    return _distinct_keyed(flat, "track_id", "dim_track_id")


# ---------------------------------------------------------------------------
# Fact build (cf_transform/main.py:98-176)
# ---------------------------------------------------------------------------


def playlist_owner(raw_playlists: DataFrame) -> DataFrame:
    """J1 pick-first lookup: playlist_id → owning user's spotify_id
    (cf_transform/main.py:127-134). The reference's 'first match' is input
    order (nondeterministic under distribution); restated as MIN(spotify_id)
    per playlist via a row_number window — same left-outer pick-one
    semantics, deterministic everywhere."""
    exploded = raw_playlists.select(
        "spotify_id", F.explode("playlists").alias("p")
    ).select(F.col("p.id").alias("playlist_id"), "spotify_id")
    w = Window.partitionBy("playlist_id").orderBy("spotify_id")
    return (
        exploded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("playlist_id", "spotify_id")
    )


def build_fact_songs(
    raw_playlists: DataFrame, raw_tracks: DataFrame, dim_user: DataFrame
) -> DataFrame:
    """The star-join 'query': flatten to one row per (playlist, track, artist)
    (F2+F3, cf_transform/main.py:136-151), attach the platform literal (C4),
    resolve the owning user and the playlist key (J1), dedup full rows (A1),
    resolve natural→surrogate keys (J2-J5, unmatched→NULL), cast added_at
    with NULL-on-error (C1), and project the declared fact columns in order
    (P4).

    J2-J4 need no dim: ``dim_artist`` and ``dim_track`` are built from the
    same ``raw_tracks`` explode, so every non-NULL artist or track id here is
    in its dim and its surrogate is ``surrogate_key`` of the id. The playlist
    key rides on the owner lookup, whose key set is exactly
    ``dim_playlist``'s (the same explode of ``raw_playlists``), so an orphan
    playlist still gets NULL. Owners and ``dim_user`` are broadcast."""
    flat = (
        raw_tracks.select("playlist_id", F.explode("tracks").alias("t"))
        .select(
            "playlist_id",
            F.col("t.id").alias("track_id"),
            F.col("t.added_at").alias("added_at_raw"),
            F.col("t.is_local").alias("is_local"),
            F.explode("t.artists").alias("a"),
        )
        .select(
            "playlist_id",
            "track_id",
            "added_at_raw",
            "is_local",
            F.col("a.id").alias("artist_id"),
        )
    )
    owners = playlist_owner(raw_playlists).withColumn(
        "dim_playlist_id", surrogate_key("playlist_id")
    )
    fact = (
        flat.join(F.broadcast(owners), "playlist_id", "left")
        .withColumn("dim_platform_id", F.lit(PLATFORM_ID))
        .dropDuplicates(
            [
                "dim_platform_id",
                "playlist_id",
                "artist_id",
                "track_id",
                "spotify_id",
                "added_at_raw",
                "is_local",
            ]
        )
        # J3/J4: the dim's own surrogate; a NULL id is in no dim (P5).
        .withColumns(
            {
                f"dim_{k}_id": F.when(F.col(f"{k}_id").isNotNull(), surrogate_key(f"{k}_id"))
                for k in ("artist", "track")
            }
        )
        .join(F.broadcast(dim_user.select("dim_user_id", "spotify_id")), "spotify_id", "left")
        .withColumn("added_at", try_iso_timestamp("added_at_raw"))
    )
    return fact.select(*schemas.FACT_SONGS_COLUMNS)


# ---------------------------------------------------------------------------
# End-to-end pipeline (the DAG O1/O2, overwrite semantics O5)
# ---------------------------------------------------------------------------


def run_pipeline(
    spark: SparkSession,
    playlists_json: str,
    tracks_json: str,
    dim_user: DataFrame,
    warehouse_dir: str,
    ingest_date: str,
    incremental: bool = False,
) -> dict[str, DataFrame]:
    """The whole daily batch (terraform/workflow.tf:11-70) as one Spark
    program in two phases, with every write an idempotent overwrite (O5).
    Returns the written tables re-read from the warehouse with their
    declared schemas.

    O2 parallelism: the reference workflow runs extract, then four
    concurrent dimension branches, then the transform (workflow.tf:26-59).
    Here the only real data dependency is raw Parquet → everything else, so
    phase 1 runs the two ingests concurrently and phase 2 runs the four dim
    writes and the fact write concurrently: the fact recomputes the dims'
    deterministic surrogate keys instead of joining the written dims (see
    ``build_fact_songs``), so it has nothing to wait for. Each branch is a
    thread of one pool submitting its write job to the shared SparkSession —
    job submission is thread-safe, the jobs run simultaneously and share
    executors, and no branch waits on another branch's future. Threads carry
    no data, only job submission, and inherit the caller's job group and
    other local properties."""
    fact_path = os.path.join(warehouse_dir, "fact_songs")
    with ThreadPoolExecutor(max_workers=5) as pool:  # phase 2: four dims + fact

        def run(fn, *args, **kwargs):
            return pool.submit(inheritable_thread_target(spark)(fn), *args, **kwargs)

        # Phase 1: both landing blobs → raw Parquet.
        ingests = [
            run(
                ingest_landing_to_parquet,
                spark,
                path,
                schema,
                os.path.join(warehouse_dir, "raw", entity),
                ingest_date,
            )
            for entity, path, schema in (
                ("playlists", playlists_json, schemas.RAW_PLAYLISTS_SCHEMA),
                ("tracks", tracks_json, schemas.RAW_TRACKS_SCHEMA),
            )
        ]
        raw_playlists, raw_tracks = (ingest.result() for ingest in ingests)

        # Phase 2: the fact and the four dims, all from raw Parquet. The fact
        # is the longest branch, so it is submitted first.
        fact = build_fact_songs(raw_playlists, raw_tracks, dim_user).withColumn(
            "ingest_date", F.lit(ingest_date)
        )
        # Mirror the BigQuery clustering declaration (terraform/bigquery.tf:13).
        # Default (reference parity, cf_transform/main.py:72-75): WRITE_TRUNCATE
        # full refresh. incremental=True is the multi-day warehouse mode — a
        # dynamic partition overwrite rewrites ONLY this run's ingest_date
        # partition, so day N's load is O(day N) and prior days survive; the
        # O5 semantic that actually holds at 100× data.
        writes = [
            run(
                overwrite_partitions if incremental else overwrite_table,
                fact,
                fact_path,
                partition_by=["ingest_date"],
                sort_within_partitions=["dim_platform_id", "dim_playlist_id", "dim_user_id"],
            )
        ]
        dims = {
            "dim_platform": (build_dim_platform(spark), schemas.DIM_PLATFORM_SCHEMA),
            "dim_playlist": (build_dim_playlist(raw_playlists), schemas.DIM_PLAYLIST_SCHEMA),
            "dim_artist": (build_dim_artist(raw_tracks), schemas.DIM_ARTIST_SCHEMA),
            "dim_track": (build_dim_track(raw_tracks), schemas.DIM_TRACK_SCHEMA),
        }
        writes += [
            run(overwrite_table, df, os.path.join(warehouse_dir, name), schema=schema)
            for name, (df, schema) in dims.items()
        ]
        for write in writes:
            write.result()  # re-raises any branch failure

    out = {
        name: spark.read.schema(schema).parquet(os.path.join(warehouse_dir, name))
        for name, (_, schema) in dims.items()
    }
    out["fact_songs"] = _read_day(spark, fact_path, schemas.FACT_SONGS_SCHEMA, ingest_date)
    return out
