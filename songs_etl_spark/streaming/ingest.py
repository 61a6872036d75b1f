"""Streaming ingest operators: watermarked event-time aggregation, streaming
dedup, and stateful sessionization.

The reference has no streaming — its freshness model is a daily cron full
refresh (terraform/cloud-scheduler.tf:4-5, WRITE_TRUNCATE loads). These
operators are the incremental replacement: a file-source stream drained with
``Trigger.AvailableNow`` gives exactly-once catch-up batches (the cron
shape), and the same plans run continuously against a live source.

Scale notes: state (window aggregates, seen-keys for dedup, open sessions)
lives in the partitioned state store keyed by the group keys, so state size
is bounded by watermark horizon × key cardinality, not stream length;
watermarks both bound state and define late-data semantics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from songs_etl_spark.plans._util import money, release


@contextmanager
def _checkpoints() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Eager local checkpoints scoped to one sink body: ``take(df)``
    materializes ``df`` now (a plan that reads a path the sink later
    overwrites must not re-run after the write), and every checkpoint
    taken is released when the block exits, its writes done."""
    held: list[DataFrame] = []

    def take(df: DataFrame) -> DataFrame:
        held.append(df.localCheckpoint(eager=True))
        return held[-1]

    try:
        yield take
    finally:
        for df in held:
            release(df)


def hourly_events_watermarked(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Event-time tumbling-window aggregate in *append* mode discipline: the
    watermark lets the store drop windows older than the horizon and emit
    them exactly once. (The oracle-checked complete-mode variant for finite
    drains is plans/streaming.py.)"""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def upsert_each_batch(
    agg_stream: DataFrame, target_path: str, keys: list[str]
):
    """``foreachBatch`` sink that MERGEs each micro-batch into a Parquet
    target by key — the streaming→warehouse landing pattern (stream update
    mode + batch merge), replacing the reference's daily WRITE_TRUNCATE with
    continuous incremental upserts.

    Idempotency (exactly-once effect under retries): the merge keys make a
    replayed micro-batch rewrite the same rows with the same values, so a
    restart from the last checkpoint converges to the identical target
    (asserted by the registry query's oracle and tests). The target is
    re-read per batch; ``localCheckpoint`` materializes the merge before the
    overwrite so the read and the write of the same path never overlap.

    At scale the same sink body runs MERGE INTO against a transactional
    table format; the merge plan itself (operators/merge.py) is
    broadcast-capable and keyed — per-batch cost scales with batch size,
    not target size, once the table format provides key-range pruning.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into(batch_df, target_path, keys)

    return (
        agg_stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
    )


def merge_batch_into(batch_df: DataFrame, target_path: str, keys: list[str]) -> None:
    """The ``foreachBatch`` sink body of :func:`upsert_each_batch`, public so
    a replayed micro-batch (Spark re-invokes the sink with the same data
    after a failure) can be exercised directly: re-running a batch MERGEs the
    same keys to the same values — the target is unchanged (asserted by
    tests/test_streaming.py).

    First batch is detected by an explicit filesystem existence check, NOT
    by catching exceptions around the target read: a transient read failure,
    corrupt footer, or batch/target schema mismatch must FAIL the stream
    (the checkpoint replays the batch) rather than silently overwrite the
    target with only the current micro-batch."""
    from songs_etl_spark.operators.merge import merge_upsert

    spark = batch_df.sparkSession
    if _hadoop_path_exists(spark, target_path):
        target = spark.read.parquet(target_path)
        merged = merge_upsert(target, batch_df.select(*target.columns), keys)
    else:
        merged = batch_df
    with _checkpoints() as take:
        take(merged).write.mode("overwrite").parquet(target_path)


def _hadoop_path_exists(spark, path: str) -> bool:
    """Explicit Hadoop-FS existence probe shared by every first-batch check
    (see merge_batch_into's docstring for why existence, not try/except,
    is the contract): one definition so the corpus-read and merge paths
    can't diverge."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(jvm_path)


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on the event key within the watermark horizon
    (``dropDuplicatesWithinWatermark``): the seen-key state is evicted as the
    watermark advances, so memory is bounded — the streaming analog of the
    batch dedup_exact operator."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation with a dynamic gap (F.session_window): the
    streaming restatement of the batch lag/gap sessionization
    (plans/relational.py user_sessionization). Sessions close when no event
    arrives within ``gap``; the watermark finalizes closed sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum(money("value")).cast("double").alias("sum_value"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def admit_against_corpus(
    batch_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Near-dup admission verdicts for one batch of documents against an
    already-admitted corpus: (doc_id, duplicate_of, is_new).

    The batch form of the registered ``dedup_incremental_batch`` probe
    (plans/dedup.py) with explicit frames instead of the testdata's
    id-space split: batch docs probe the union's DF_CAP-capped inverted
    shingle index; corpus–corpus pairs are never generated (asymmetric join
    condition), so per-batch cost is |batch shingles| × bounded posting
    length — independent of corpus size. Within the batch, earlier (smaller
    id) docs are admission targets for later ones, matching the registered
    semantics.

    Replay-deterministic: corpus rows whose doc_id reappears in the batch
    are dropped before indexing (a replayed micro-batch re-presents docs
    the previous attempt already admitted; keeping both copies would
    double-count their shingles toward DF_CAP and could flip candidate
    sets), so a replay sees the identical index and returns identical
    verdicts (asserted in tests/test_streaming_admission.py)."""
    from songs_etl_spark.functions.text import has_min_tokens, tokens, word_shingles
    from songs_etl_spark.plans.dedup import DF_CAP

    cap = DF_CAP if df_cap is None else df_cap
    batch = batch_docs.select("doc_id", "text", F.lit(True).alias("is_batch"))
    corpus = (
        corpus_docs.select("doc_id", "text", F.lit(False).alias("is_batch"))
        .join(batch.select("doc_id"), "doc_id", "left_anti")
    )
    union = corpus.unionByName(batch)
    base = union.filter(has_min_tokens("text", 3)).select(
        "doc_id", "is_batch", tokens("text").alias("tok")
    )
    sh = base.select(
        "doc_id",
        "is_batch",
        F.array_distinct(word_shingles(F.col("tok"), 3)).alias("shingles"),
    )
    ex = sh.select(
        "doc_id",
        "is_batch",
        F.explode(F.transform("shingles", lambda x: F.xxhash64(x))).alias("s"),
    )
    rare = ex.groupBy("s").count().filter(F.col("count") <= cap).select("s")
    exf = ex.join(rare, "s")
    sizes = exf.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = exf.select("s", F.col("doc_id").alias("da"), F.col("is_batch").alias("a_batch"))
    b = exf.filter("is_batch").select(F.col("s").alias("s2"), F.col("doc_id").alias("db"))
    cand = (
        a.join(
            b,
            (a.s == b.s2)
            & (F.col("da") != F.col("db"))
            & (~F.col("a_batch") | (F.col("da") < F.col("db"))),
        )
        .groupBy("da", "db")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    dups = (
        cand.join(sa, "da")
        .join(sb, "db")
        .filter(jac >= threshold)
        .groupBy("db")
        .agg(F.min("da").alias("duplicate_of"))
    )
    return (
        batch.select("doc_id")
        .join(dups.withColumnRenamed("db", "doc_id"), "doc_id", "left")
        .select("doc_id", "duplicate_of", F.col("duplicate_of").isNull().alias("is_new"))
    )


def admit_batch_into(
    batch_df: DataFrame,
    corpus_path: str,
    verdicts_path: str,
    threshold: float = 0.8,
) -> None:
    """The ``foreachBatch`` sink body of :func:`admit_documents_stream`:
    score the micro-batch against the admitted-corpus parquet, MERGE the
    genuinely-new docs into the corpus and the verdicts into the admission
    log — both keyed by doc_id, so a replayed micro-batch rewrites the same
    rows with the same values (exactly-once effect; see
    merge_batch_into)."""
    spark = batch_df.sparkSession
    if _hadoop_path_exists(spark, corpus_path):
        corpus = spark.read.parquet(corpus_path)
    else:
        corpus = spark.createDataFrame([], batch_df.schema)
    # Materialize verdicts BEFORE the corpus merge overwrites the parquet
    # this plan reads — a lazy verdict plan would otherwise re-read the
    # already-updated corpus when the log merge evaluates it.
    with _checkpoints() as take:
        verdicts = take(admit_against_corpus(batch_df, corpus, threshold))
        admitted = batch_df.join(
            verdicts.filter("is_new").select("doc_id"), "doc_id"
        )
        merge_batch_into(admitted, corpus_path, ["doc_id"])
        merge_batch_into(verdicts, verdicts_path, ["doc_id"])


def admit_embedding_batch_into(
    batch_df: DataFrame,
    corpus_path: str,
    index_path: str,
    verdicts_path: str,
    threshold: float = 0.9,
    bits_per_band: int = 4,
    n_bands: int = 4,
    dim: int = 4,
) -> None:
    """The ``foreachBatch`` sink body of :func:`admit_embeddings_stream` —
    the embedding analog of :func:`admit_batch_into`, with one structural
    upgrade: the corpus's sign-LSH band index is PERSISTED at
    ``index_path`` and maintained incrementally (admitted rows' signatures
    appended per drain), so a drain never re-signatures the corpus — batch
    signatures are batch-sized work, the probe is an equi-join against the
    stored index, and corpus×corpus pairs are never generated
    (plans/similarity._admission_verdicts).

    The admitted corpus is duplicate-free BY CONSTRUCTION (only is_new
    vectors enter), so every stored vector is its own representative and
    the stored (rep, band, bval) rows ARE the group-collapsed index.
    Replay-deterministic: corpus/index rows whose vec_id reappears in the
    batch are dropped before probing, and all three writes MERGE by key —
    a replayed micro-batch converges to identical state."""
    from songs_etl_spark.plans.similarity import (
        _admission_verdicts,
        collapse_exact_duplicates,
        embedding_band_index,
    )

    spark = batch_df.sparkSession
    batch_ids = batch_df.select("vec_id")
    if _hadoop_path_exists(spark, corpus_path):
        corpus = spark.read.parquet(corpus_path).join(batch_ids, "vec_id", "left_anti")
    else:
        corpus = spark.createDataFrame([], batch_df.schema)
    index_reps = corpus.select(F.col("vec_id").alias("rep"), "embedding")
    with _checkpoints() as take:
        if _hadoop_path_exists(spark, index_path):
            index_sigs = (
                spark.read.parquet(index_path)
                .join(batch_ids.withColumnRenamed("vec_id", "rep"), "rep", "left_anti")
            )
        else:
            index_sigs = take(embedding_band_index(
                index_reps, bits_per_band=bits_per_band, n_bands=n_bands, dim=dim
            ))
            # Bootstrap with an externally-seeded corpus (corpus_path exists but
            # index_path does not): persist the corpus-derived signatures NOW,
            # not just the admitted batch's, or the next drain reads an index
            # that silently omits the seeded corpus and wrongly admits its
            # near-duplicates. Checkpointed first so the probe below and this
            # write share one materialization of the corpus scan.
            if not corpus.isEmpty():
                merge_batch_into(index_sigs, index_path, ["rep", "band"])
        mb, rb = collapse_exact_duplicates(batch_df)
        batch_sigs = embedding_band_index(
            rb, bits_per_band=bits_per_band, n_bands=n_bands, dim=dim
        )
        # Materialize verdicts BEFORE any merge overwrites the parquet this
        # plan reads (same discipline as admit_batch_into).
        verdicts = take(
            _admission_verdicts(mb, rb, batch_sigs, index_reps, index_sigs, threshold)
        )
        admitted = batch_df.join(verdicts.filter("is_new").select("vec_id"), "vec_id")
        admitted_sigs = take(embedding_band_index(
            admitted.select(F.col("vec_id").alias("rep"), "embedding"),
            bits_per_band=bits_per_band, n_bands=n_bands, dim=dim,
        ))
        merge_batch_into(admitted, corpus_path, ["vec_id"])
        merge_batch_into(admitted_sigs, index_path, ["rep", "band"])
        merge_batch_into(verdicts, verdicts_path, ["vec_id"])


def compact_embedding_admission_state(
    spark,
    corpus_path: str,
    index_path: str,
    threshold: float = 0.9,
    bits_per_band: int = 4,
    n_bands: int = 4,
    dim: int = 4,
    keep_predicate: str | None = None,
) -> None:
    """Index-lifecycle pass for the embedding-admission state (round-6
    verdict task 3): re-collapse near-dup representatives that accumulated
    in the corpus and REBUILD the band index from the survivors, so a
    continuously-ingesting deployment's index tracks the live corpus
    instead of growing append-only.

    Semantics: the whole corpus is re-scored as one batch against an empty
    index (``embedding_admission_verdicts`` — the identical probe geometry
    and min-earlier-id duplicate rule the stream applies); only ``is_new``
    rows survive. This normalizes state to ADMISSION-INVARIANT form:

    - On state built purely by the stream (same threshold/geometry), it is
      provably a NO-OP — an admitted vector has no cos ≥ threshold
      neighbor with a smaller id (its drain checked the index and earlier
      batch ids) and none with a larger id (that vector's own drain would
      have rejected it against this one) — so admissions with and without
      periodic compaction are identical (asserted by the e2e replay test).
    - On EXTERNALLY-SEEDED or threshold-tightened state — the cases where
      near-dups really accumulate, since admission never probes
      corpus-vs-corpus — it removes every rep whose min-earlier near
      neighbor survives, exactly as if the seed had streamed through
      admission. Verdict history is left untouched (it is a log); a later
      replay against the compacted state converges (a removed row's twin
      re-probes against its surviving representative).

    ``keep_predicate`` (optional SQL boolean over the corpus schema) is the
    TTL hook: rows failing it are dropped from corpus AND index before the
    re-collapse — e.g. ``"ingest_day >= '2026-01-01'"`` expires vectors
    past the dedup horizon.

    Scale shape: ONE offline near-dup pass over the corpus (exact-dup
    collapse → band self-join → cosine verify — the rh_neardup_pairs
    discipline, never an uncollapsed all-pairs), run every N drains from
    ``admit_embeddings_stream(compact_every=N)``, while the per-drain probe
    stays batch-bounded."""
    from songs_etl_spark.plans.similarity import (
        embedding_admission_verdicts,
        embedding_band_index,
    )

    if not _hadoop_path_exists(spark, corpus_path):
        return
    corpus = spark.read.parquet(corpus_path)
    if keep_predicate is not None:
        corpus = corpus.filter(keep_predicate)
    empty = spark.createDataFrame([], corpus.select("vec_id", "embedding").schema)
    verdicts = embedding_admission_verdicts(
        corpus,
        empty,
        threshold,
        bits_per_band=bits_per_band,
        n_bands=n_bands,
        dim=dim,
    )
    with _checkpoints() as take:
        survivors = take(corpus.join(verdicts.filter("is_new").select("vec_id"), "vec_id"))
        sigs = take(embedding_band_index(
            survivors.select(F.col("vec_id").alias("rep"), "embedding"),
            bits_per_band=bits_per_band, n_bands=n_bands, dim=dim,
        ))
        survivors.write.mode("overwrite").parquet(corpus_path)
        sigs.write.mode("overwrite").parquet(index_path)


def admit_embeddings_stream(
    emb_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    verdicts_path: str,
    threshold: float = 0.9,
    bits_per_band: int = 4,
    n_bands: int = 4,
    dim: int = 4,
    compact_every: int | None = None,
):
    """Continuous near-dup admission for embedding vectors: newly ingested
    (vec_id, embedding) rows stream through the persisted-band-index probe
    under ``Trigger.AvailableNow`` — the vector-modality counterpart of
    :func:`admit_documents_stream`, completing two-modality continuous
    ingest (text via the inverted shingle index, embeddings via the sign-LSH
    band index). Each drain admits only vectors with no cos ≥ threshold
    neighbor in the corpus-so-far or among earlier vectors of the same
    micro-batch; admitted vectors AND their band signatures merge into the
    persistent state, so the next drain's probe cost stays batch-bounded.

    ``compact_every=N`` runs :func:`compact_embedding_admission_state`
    after every N-th micro-batch — the index-lifecycle pass (re-collapse +
    index rebuild) that keeps a long-running deployment's state bounded by
    the LIVE corpus; admissions are unchanged by it (see its docstring)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        admit_embedding_batch_into(
            batch_df,
            corpus_path,
            index_path,
            verdicts_path,
            threshold,
            bits_per_band=bits_per_band,
            n_bands=n_bands,
            dim=dim,
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_embedding_admission_state(
                batch_df.sparkSession,
                corpus_path,
                index_path,
                threshold,
                bits_per_band=bits_per_band,
                n_bands=n_bands,
                dim=dim,
            )

    return (
        emb_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def _recover_text_compaction(spark, state_dir: str) -> None:
    """Finish (or discard) a compaction interrupted by a crash, so a drain
    never reads half-compacted state. :func:`compact_text_admission_state`
    writes the folded base to ``<relation>.__compact__`` FIRST and only then
    swaps it into place, so at any crash point exactly one of these holds
    per relation and each has a safe resolution:

    - live dir present + temp present → crash before the swap: the old
      segments are complete and the folded temp is read-equivalent to them;
      keep the old state, drop the temp.
    - live dir absent + temp complete (parquet ``_SUCCESS`` marker) → crash
      between the delete and the rename: promote the temp.
    - live dir absent + temp incomplete → cannot happen by construction
      (the old dir is deleted only after the temp write committed); fail
      loudly rather than continue on corrupted state (the merge_batch_into
      discipline)."""
    jvm = spark._jvm.org.apache.hadoop.fs.Path
    for name in ("postings", "counts", "sizes"):
        path = f"{state_dir}/{name}"
        tmp_path = jvm(path + ".__compact__")
        fs = tmp_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(tmp_path):
            continue
        live_path = jvm(path)
        if fs.exists(live_path):
            fs.delete(tmp_path, True)
        elif fs.exists(jvm(path + ".__compact__/seg=0/_SUCCESS")):
            fs.rename(tmp_path, live_path)
        else:
            raise RuntimeError(
                f"admission state corrupted: {path} is missing and its "
                f"compaction temp has no _SUCCESS marker — refusing to "
                f"continue on partial state"
            )


def admit_text_batch_indexed(
    batch_df: DataFrame,
    corpus_path: str,
    state_dir: str,
    verdicts_path: str,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> None:
    """Text admission against a PERSISTED inverted shingle index — the text
    modality's structural upgrade matching the embedding side's persisted
    band index (round 6): :func:`admit_batch_into` re-tokenizes and
    re-shingles the ENTIRE corpus every drain (its join is batch-bounded,
    but the corpus-sized map pass is paid per drain); here the index is
    maintained incrementally under ``state_dir`` and a drain's work is
    batch-sized maps plus keyed lookups into the stored relations.

    Persisted state is LOG-STRUCTURED (the LSM discipline — plain parquet
    cannot do keyed upserts, and rewriting corpus-sized state per drain
    would just trade the rescan probe's corpus-sized tokenize pass for a
    corpus-sized parquet rewrite, as the round-7 seeded measurement
    showed). Each drain APPENDS one batch-sized segment
    (``.../seg=<fingerprint>``) per relation and readers FOLD the segments;
    :func:`compact_text_admission_state` folds segments into one base
    periodically (``admit_documents_stream_indexed(compact_every=N)``):

    - ``postings`` (s, doc_id): inverted-index rows of ADMITTED docs,
      appended only while the shingle is rare at admission time — once
      admitted-df crosses the cap no further rows are appended (df is
      monotone, hotness absorbing), so per-shingle volume is bounded by
      ~cap + one batch forever; hot shingles are excluded at READ by
      joining current df ≤ cap (physical pruning happens at compaction).
    - ``counts`` (s, d): df DELTAS; current df = fold(sum).
    - ``sizes`` (doc_id, d): rare-shingle-count deltas per admitted doc —
      a positive row at admission, a negative row when one of its
      shingles flips hot — fold(sum) is the live Jaccard denominator.

    Verdict semantics are EXACTLY :func:`admit_against_corpus` against the
    admitted-so-far corpus (same DF_CAP stop-shingle rule, rare-filtered
    sizes, min earlier-id duplicate): the rare set under "stored df +
    this batch's df" equals the one-shot union df, and the one
    batch-induced subtlety — shingles flipped hot BY this batch must leave
    the candidate docs' denominators — is restored by the probe-time
    ``corr`` pass over the flipped shingles' postings (batch-keyed work).
    Asserted drain-by-drain against admit_against_corpus in
    tests/test_text_indexed_admission.py, and value-checked end-to-end by
    the registered ``streaming_indexed_admission`` (same unrolled oracle
    as streaming_dedup_admission).

    Replay-deterministic BY CONSTRUCTION: the segment id is a fingerprint
    of the batch's CONTENTS (doc_id and text — ids alone would make a
    re-presented id set with changed text collide with and silently
    overwrite the original admission's segments), the probe reads every
    segment EXCEPT its own, and the drain overwrites exactly its own
    segments — so a replayed micro-batch sees the identical pre-drain
    state, computes identical verdicts, and rewrites identical segment
    contents. Docs re-presented in a DIFFERENT batch (including the same
    id set with changed text, which now fingerprints differently) are
    dropped from the read views by doc_id (cross-batch re-presentation
    hygiene; counts are corrected via their still-rare postings, hot
    shingles being absorbing) and re-probed as new content."""
    from songs_etl_spark.functions.text import has_min_tokens, tokens, word_shingles
    from songs_etl_spark.plans.dedup import DF_CAP

    cap = DF_CAP if df_cap is None else df_cap
    spark = batch_df.sparkSession
    _recover_text_compaction(spark, state_dir)
    postings_path = state_dir + "/postings"
    counts_path = state_dir + "/counts"
    sizes_path = state_dir + "/sizes"
    batch_ids = batch_df.select("doc_id")
    # Segment fingerprint over the batch CONTENTS (doc_id AND text), not the
    # id set alone: a re-presented batch carrying the same ids with changed
    # text must get its OWN segment — fingerprinting ids only made it collide
    # with (and silently overwrite) the original admission's segments as if
    # it were a checkpoint replay. Order-independent (sum of bounded per-row
    # hashes, so no bigint overflow at any batch size) and ≥ 1, never
    # colliding with the compaction base seg=0. True replays (identical
    # contents) still hash to the same id — the replay-exclusion contract.
    seg_id = int(
        batch_df.agg(
            (
                F.pmod(
                    F.sum(F.pmod(F.xxhash64("doc_id", "text"), F.lit(2**32))),
                    F.lit(2**62),
                )
                + 1
            ).alias("g")
        ).first()["g"]
    )

    def _segments(path: str, schema: str) -> DataFrame:
        """Fold-input view of one state relation: every segment except this
        drain's own (replay exclusion), minus rows of batch doc_ids where
        the relation carries one (cross-batch re-presentation)."""
        if not _hadoop_path_exists(spark, path):
            return spark.createDataFrame([], schema)
        df = spark.read.parquet(path).filter(F.col("seg") != seg_id)
        return df.select(*[c for c in df.columns if c != "seg"])

    postings_raw = _segments(postings_path, "s bigint, doc_id bigint")
    counts_raw = _segments(counts_path, "s bigint, d bigint")
    sizes_raw = _segments(sizes_path, "doc_id bigint, d bigint")

    removed = postings_raw.join(batch_ids, "doc_id")
    postings_all = postings_raw.join(batch_ids, "doc_id", "left_anti")
    rem_cnt = removed.groupBy("s").agg(F.count("*").alias("rc"))
    counts = (
        counts_raw.groupBy("s")
        .agg(F.sum("d").alias("df"))
        .join(rem_cnt, "s", "left")
        .select("s", (F.col("df") - F.coalesce("rc", F.lit(0))).alias("df"))
        .filter(F.col("df") > 0)
    )
    sizes = (
        sizes_raw.join(batch_ids, "doc_id", "left_anti")
        .groupBy("doc_id")
        .agg(F.sum("d").alias("n"))
    )
    # live postings: stored rows whose shingle is still rare under stored df
    postings = postings_all.join(
        counts.filter(F.col("df") <= cap).select("s"), "s"
    )

    # Batch shingle rows (distinct shingles per doc, hashed) — the ONLY
    # tokenize/shingle map pass of the drain, and it is batch-sized.
    bsh = (
        batch_df.filter(has_min_tokens("text", 3))
        .select("doc_id", tokens("text").alias("tok"))
        .select(
            "doc_id",
            F.array_distinct(word_shingles(F.col("tok"), 3)).alias("shingles"),
        )
        .select(
            "doc_id",
            F.explode(F.transform("shingles", lambda x: F.xxhash64(x))).alias("s"),
        )
        .persist()
    )
    bcnt = bsh.groupBy("s").agg(F.count("*").alias("bc"))
    dfall = counts.join(bcnt, "s", "full").select(
        "s",
        F.coalesce("df", F.lit(0)).alias("df0"),
        (F.coalesce("df", F.lit(0)) + F.coalesce("bc", F.lit(0))).alias("df_all"),
    )
    rare = dfall.filter(F.col("df_all") <= cap).select("s")
    # shingles flipped hot BY THIS BATCH (stored-rare, probe-hot): their
    # postings still sit in candidate docs' stored sizes — subtract.
    probe_flip = dfall.filter(
        (F.col("df0") <= cap) & (F.col("df_all") > cap)
    ).select("s")
    corr = postings.join(probe_flip, "s").groupBy("doc_id").agg(
        F.count("*").alias("c")
    )
    sizes_probe = (
        sizes.join(corr, "doc_id", "left")
        .select("doc_id", (F.col("n") - F.coalesce("c", F.lit(0))).alias("n"))
    )
    bshr = bsh.join(rare, "s")
    bsizes = bshr.groupBy("doc_id").agg(F.count("*").alias("n"))

    a_side = (
        postings.join(rare, "s")
        .select("s", F.col("doc_id").alias("da"), F.lit(False).alias("a_batch"))
        .unionByName(
            bshr.select("s", F.col("doc_id").alias("da"), F.lit(True).alias("a_batch"))
        )
    )
    b_side = bshr.select(F.col("s").alias("s2"), F.col("doc_id").alias("db"))
    cand = (
        a_side.join(
            b_side,
            (a_side.s == b_side.s2)
            & (F.col("da") != F.col("db"))
            & (~F.col("a_batch") | (F.col("da") < F.col("db"))),
        )
        .groupBy("da", "db")
        .agg(F.count("*").alias("common"))
    )
    sa = (
        sizes_probe.unionByName(bsizes)
        .select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    )
    sb = bsizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    dups = (
        cand.join(sa, "da")
        .join(sb, "db")
        .filter(jac >= threshold)
        .groupBy("db")
        .agg(F.min("da").alias("duplicate_of"))
    )
    with _checkpoints() as take:
        verdicts = take(
            batch_ids.join(dups.withColumnRenamed("db", "doc_id"), "doc_id", "left").select(
                "doc_id", "duplicate_of", F.col("duplicate_of").isNull().alias("is_new")
            )
        )

        # State update — BATCH-SIZED segment appends only (never a corpus-sized
        # rewrite): the admitted docs' postings (while rare), their df deltas,
        # their size rows, and negative size deltas for docs whose shingles
        # this admission flipped hot.
        admitted_ids = verdicts.filter("is_new").select("doc_id")
        admitted_sh = bsh.join(admitted_ids, "doc_id")
        adm_cnt = admitted_sh.groupBy("s").agg(F.count("*").alias("ac"))
        counts_upd = counts.join(adm_cnt, "s", "full").select(
            "s",
            F.coalesce("df", F.lit(0)).alias("df0"),
            (F.coalesce("df", F.lit(0)) + F.coalesce("ac", F.lit(0))).alias("df"),
        )
        flips = counts_upd.filter((F.col("df0") <= cap) & (F.col("df") > cap)).select("s")
        rare_new = counts_upd.filter(F.col("df") <= cap).select("s")
        dec = postings.join(flips, "s").groupBy("doc_id").agg(F.count("*").alias("d"))
        seg_postings = admitted_sh.join(rare_new, "s").select("s", "doc_id")
        seg_counts = adm_cnt.select("s", F.col("ac").alias("d"))
        seg_sizes = (
            admitted_sh.join(rare_new, "s")
            .groupBy("doc_id")
            .agg(F.count("*").alias("d"))
            .unionByName(dec.select("doc_id", (-F.col("d")).alias("d")))
        )
        # Corpus and verdict log are segment-written too (admitted docs and a
        # batch's verdicts are immutable and disjoint across batches; a replay
        # overwrites exactly its own segment) — NO write in this sink scales
        # with the corpus.
        for seg_df, path in (
            (seg_postings, postings_path),
            (seg_counts, counts_path),
            (seg_sizes, sizes_path),
            (batch_df.join(admitted_ids, "doc_id"), corpus_path),
            (verdicts, verdicts_path),
        ):
            seg_df = take(seg_df)
            if not seg_df.isEmpty():
                seg_df.write.mode("overwrite").parquet(f"{path}/seg={seg_id}")
    bsh.unpersist()


def compact_text_admission_state(
    spark, state_dir: str, df_cap: int | None = None
) -> None:
    """Fold the log-structured admission state into one base segment
    (``seg=0``): counts and sizes sum their deltas, postings drop rows whose
    shingle has gone hot (the deferred physical prune) — afterwards a
    drain's read-side fold touches one segment again. Run every N drains
    via ``admit_documents_stream_indexed(compact_every=N)``; the fold is an
    offline state-sized pass, the price of batch-sized per-drain writes
    (the LSM trade).

    Crash-safe: each relation's folded base is written to a
    ``<relation>.__compact__`` temp FIRST and only then swapped into place
    (delete old dir → rename temp), so a crash at any point leaves either
    the old segments or the committed fold fully readable —
    :func:`_recover_text_compaction` (run at the top of every drain and
    compaction) promotes or discards leftover temps. The earlier
    delete-then-write-in-place order had a window where a crash silently
    lost the state and the next drain re-admitted near-duplicates of the
    entire corpus."""
    from songs_etl_spark.plans.dedup import DF_CAP

    cap = DF_CAP if df_cap is None else df_cap
    _recover_text_compaction(spark, state_dir)
    postings_path = state_dir + "/postings"
    if not _hadoop_path_exists(spark, postings_path):
        return
    with _checkpoints() as take:
        counts = take(
            spark.read.parquet(state_dir + "/counts")
            .groupBy("s")
            .agg(F.sum("d").alias("d"))
            .filter(F.col("d") > 0)
        )
        postings = take(
            spark.read.parquet(postings_path)
            .join(counts.filter(F.col("d") <= cap).select("s"), "s")
            .select("s", "doc_id")
        )
        sizes = take(
            spark.read.parquet(state_dir + "/sizes")
            .groupBy("doc_id")
            .agg(F.sum("d").alias("d"))
            .filter(F.col("d") > 0)
        )
        for name, df in (("postings", postings), ("counts", counts), ("sizes", sizes)):
            path = f"{state_dir}/{name}"
            jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
            tmp_path = spark._jvm.org.apache.hadoop.fs.Path(path + ".__compact__")
            fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(tmp_path, True)
            df.write.mode("overwrite").parquet(f"{path}.__compact__/seg=0")
            fs.delete(jvm_path, True)
            fs.rename(tmp_path, jvm_path)


def admit_documents_stream_indexed(
    doc_stream: DataFrame,
    corpus_path: str,
    state_dir: str,
    verdicts_path: str,
    threshold: float = 0.8,
    compact_every: int | None = None,
):
    """:func:`admit_documents_stream` with the persisted-inverted-index
    probe (:func:`admit_text_batch_indexed`) — per-drain cost is
    batch-sized map work and segment appends plus keyed joins into the
    stored index; the corpus text is never re-tokenized after admission.
    ``compact_every=N`` folds the state segments every N drains
    (:func:`compact_text_admission_state`)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        admit_text_batch_indexed(
            batch_df, corpus_path, state_dir, verdicts_path, threshold
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_text_admission_state(batch_df.sparkSession, state_dir)

    return (
        doc_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def admit_documents_stream(
    doc_stream: DataFrame,
    corpus_path: str,
    verdicts_path: str,
    threshold: float = 0.8,
):
    """Continuous near-dup admission: newly ingested documents stream
    through the ``dedup_incremental_batch`` corpus-index probe under
    ``Trigger.AvailableNow`` — the incremental replacement for the
    reference's daily full refresh, composed from the foreachBatch MERGE
    sink and the batch admission operator. Each drain admits only documents
    that are not near-dups (Jaccard ≥ threshold on 3-token shingles) of the
    corpus-so-far or of an earlier doc in the same micro-batch; the
    checkpoint makes re-drains skip processed files, and replayed batches
    merge to identical state."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        admit_batch_into(batch_df, corpus_path, verdicts_path, threshold)

    return (
        doc_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
    )
