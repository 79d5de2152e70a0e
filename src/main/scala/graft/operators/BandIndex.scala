package graft.operators

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{Pin, Tables}

/** Persisted, BUCKETED LSH band index — the structure that makes
  * incremental near-dup detection O(batch) instead of O(corpus).
  *
  * Round 9's q78 had the right probe shape (batch bands equi-joined
  * against a history band index) but recomputed the history side —
  * shingles → minhash signatures → band keys for 90% of the corpus — on
  * EVERY run, so the measured per-batch cost was O(corpus) and its scale
  * curve went superlinear at ×16. This object is the fix: the history
  * index is materialized ONCE as a parquet table bucketed by
  * `(band_idx, band_key)` (the probe join's exact keys), so a batch
  * probe
  *
  *  - shingles/minhashes only the BATCH docs (O(batch) compute), and
  *  - joins them against the index with a shuffle on the BATCH SIDE
  *    ONLY — the bucketed scan already satisfies the join's clustered
  *    distribution, so Spark inserts no exchange above it
  *    ([[BandIndexSpec]] pins that plan: the sort-merge join reaches the
  *    index scan with zero intervening `ShuffleExchange`).
  *
  * After a batch is admitted, [[append]] inserts the batch's bands into
  * the same table (bucket layout preserved by the bucketed-append
  * writer), which is the whole incremental-maintenance loop: ingest →
  * probe → admit → append. [[BandIndexSpec]] proves two chained batches
  * through that loop match a from-scratch recompute exactly.
  *
  * Freshness, restart registration, append, compaction, recovery and
  * the concurrent-builder contract are the one index lifecycle
  * ([[IndexLayout]]); the fingerprint is `documents.parquet`'s file
  * metadata ([[fingerprint]]).
  *
  * Hot-key cap semantics: bands are capped per SIDE ([[Dedup.HotKeyCap]]
  * at index build/append and again on each batch), not on the combined
  * corpus — an incremental index cannot know future batches, so the
  * per-side cap IS the incremental contract. The two formulations only
  * diverge when a band's combined frequency crosses the cap across the
  * split, far above anything the test corpora produce (max observed
  * band frequency at sf0.1 is 25 vs cap 256), so the DuckDB oracle
  * needs no cap arm — same contract as q36.
  */
object BandIndex {

  /** (hist_id, band_idx, band_key), bucketed and sorted on the probe
    * join's exact keys.
    */
  val Layout = IndexLayout("graft_band_index_",
    StructType.fromDDL("hist_id BIGINT, band_idx INT, band_key STRING"),
    Seq("band_idx", "band_key"), Seq("band_idx", "band_key"))

  /** File-metadata fingerprint of `documents.parquet` under `dir` (file
    * or directory of part files): no data scan, invalidates on any
    * rewrite because mtimes move. Also the base other document-sourced
    * indexes tag with their own parameters.
    */
  def fingerprint(dir: String): String =
    IndexCommit.sourceFingerprint(dir, "documents.parquet")

  /** q44/q78's engine-identical deterministic ingest bucketing: first md5
    * byte of `lang:doc_id` as an int in [0, 256). Bucket ≥ 230 is the
    * ~10% slice standing in for an ingest delta; < 230 is history.
    */
  def ingestBucket: Column =
    conv(substring(md5(concat_ws(":",
      coalesce(col("lang"), lit("")), col("doc_id"))), 1, 2), 16, 10)
      .cast("int")

  val BatchThreshold = 230

  private def docsWithBucket(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("bucket", ingestBucket)

  /** Build the bucketed index over `histDocs` (doc_id, text) at `path`,
    * registered as `name`.
    */
  def buildIndex(spark: SparkSession, histDocs: DataFrame, name: String,
      path: Path): Unit =
    Layout.write(spark, histRows(Dedup.bandsOf(histDocs)), name, path)

  private def histRows(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("hist_id"), col("band_idx"), col("band_key"))

  /** Append an admitted batch's bands to the index. */
  def append(spark: SparkSession, name: String, admittedDocs: DataFrame): Unit =
    appendBands(spark, name, Dedup.bandsOf(admittedDocs))

  /** [[append]] over ALREADY-COMPUTED band rows (doc_id, band_idx,
    * band_key) — for callers that just probed the same batch and hold
    * the probe's pinned band frame ([[probeIndex]]): banding the batch
    * is the probe's dominant per-row cost and must not be paid a second
    * time by the append.
    */
  private[graft] def appendBands(spark: SparkSession, name: String,
      bands: DataFrame): Unit =
    Layout.append(name, histRows(bands))

  /** Ensure the history index (bucket < [[BatchThreshold]]) for `dir`
    * through the one lifecycle ([[IndexLayout.ensure]]); returns the
    * table name.
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    Layout.ensure(spark, dir, fingerprint(dir)) { (tn, tp) =>
      buildIndex(spark, docsWithBucket(spark, dir)
        .filter(col("bucket") < BatchThreshold)
        .select("doc_id", "text"), tn, tp)
    }
  }

  /** Probe `batchDocs` (doc_id, text — doc_id covering ALL batch docs,
    * shingle-less empty texts included) against the index: per new doc,
    * distinct near-dup partners in history (`n_hist_dups`) and among
    * EARLIER batch docs (`n_batch_dups`, smaller doc_id = the
    * within-batch keep-first), admitted iff it has neither.
    *
    * `excludeBatchFromHistory` is the streaming REPLAY seam
    * ([[graft.streaming.IngestDedupSink]]): if a prior attempt at this
    * batch appended its bands to the index and crashed before committing
    * the decision log, the replayed probe would find the batch's own
    * docs as "history" partners and reject everything. Excluding the
    * batch's own ids from the hist leg (left_anti on the small batch-id
    * set — a broadcast at any realistic batch size) makes the probe
    * idempotent under replay-after-append; within-batch partners are
    * still counted, by the batchDups leg, exactly once. Duplicate band
    * rows from a double append are harmless by construction — both legs
    * count DISTINCT partner ids.
    *
    * Returns (decisions, batch bands), both pinned. The bands are for
    * the probe→admit→append loops that append the same batch's bands
    * right after ([[appendBands]]). Two structural fixes over the lazy
    * formulation in one: (a) the batch banding subtree
    * ([[Dedup.bandsOf]]) was consumed by BOTH probe legs and both sides
    * of the within-batch self-join, so Catalyst evaluated it ~3x per
    * probe (and a 4th time in the caller's append); the pin bounds it to
    * once. (b) the decision
    * frame is eagerly pinned HERE, before any caller's append can
    * mutate the table it reads (q87's ordering rule, now enforced by
    * construction instead of by every call site).
    */
  def probeIndex(spark: SparkSession, name: String, batchDocs: DataFrame,
      excludeBatchFromHistory: Boolean = false): (DataFrame, DataFrame) = {
    val newb = Pin(Dedup.bandsOf(batchDocs), "BandIndex.batchBands")
    val dec = Pin(probeIndexPlan(spark, name, newb, batchDocs,
      excludeBatchFromHistory), "BandIndex.decisions")
    (dec, newb)
  }

  /** The probe's LAZY plan over an already-computed batch-band frame —
    * split out so [[graft.operators.BandIndexSpec]] can pin the
    * bucketed-scan / exchange shape that [[probeIndex]]'s eager
    * materialization hides (the [[FpIndex.probeSpansPlan]] device).
    */
  private[operators] def probeIndexPlan(spark: SparkSession, name: String,
      newb: DataFrame, batchDocs: DataFrame,
      excludeBatchFromHistory: Boolean): DataFrame = {
    val hist = spark.table(name)
    val histHits = newb.join(hist, Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("hist_id")).distinct()
    val histClean =
      if (excludeBatchFromHistory)
        histHits.join(batchDocs.select(col("doc_id").as("hist_id")),
          Seq("hist_id"), "left_anti")
      else histHits
    val histDups = histClean
      .groupBy("doc_id").agg(count(lit(1)).as("n_hist_dups"))
    // within-batch keep-first: the b-side is a RENAMED projection, not an
    // as("a")/as("b") alias pair — in a plan where the batch frame
    // already appears in several subtrees (bands, exclusion, join-back),
    // Spark's self-join disambiguation mis-bound the aliased condition
    // (observed: the pair landed on the SMALLER id), while renamed
    // top-level attributes cannot mis-resolve
    val bSide = newb.select(col("doc_id").as("other"),
      col("band_idx").as("b_idx"), col("band_key").as("b_key"))
    val batchDups = newb.join(bSide,
        col("band_idx") === col("b_idx") && col("band_key") === col("b_key")
          && col("other") < col("doc_id"))
      .select("doc_id", "other").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_batch_dups"))
    batchDocs.select("doc_id")
      .join(histDups, Seq("doc_id"), "left")
      .join(batchDups, Seq("doc_id"), "left")
      .withColumn("n_hist_dups", coalesce(col("n_hist_dups"), lit(0L)))
      .withColumn("n_batch_dups", coalesce(col("n_batch_dups"), lit(0L)))
      .withColumn("admit",
        col("n_hist_dups") === 0 && col("n_batch_dups") === 0)
      .orderBy("doc_id")
  }

  /** q78's entry: ensure the persisted index for `dir`, then probe the
    * deterministic ~10% ingest slice (bucket ≥ [[BatchThreshold]])
    * against it. Per-run cost once the index exists: O(batch) shingling
    * + one batch-side-only shuffle into the index's buckets.
    */
  def probe(spark: SparkSession, dir: String): DataFrame = {
    val name = ensure(spark, dir)
    val batch = docsWithBucket(spark, dir)
      .filter(col("bucket") >= BatchThreshold)
      .select("doc_id", "text")
    probeIndex(spark, name, batch)._1
  }

}
