package graft.operators

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Pin

/** Persisted, BUCKETED winnow-fingerprint index — the structure that
  * makes char-level exact-substring dedup O(batch) per ingest instead
  * of O(corpus) per run.
  *
  * Round 10's q107/q108 had the right within-run shape (one winnow,
  * localCheckpoint, two consumers) but recomputed the ENTIRE corpus's
  * per-char-position fingerprints on EVERY run and pinned the
  * corpus-wide set (~2% of corpus bytes) into executor block-manager
  * storage — at 100 TB that is a full-corpus scan per dedup pass plus
  * ~2 TB of ephemeral executor state, the same materialize-vs-recompute
  * defect q78 had for token-level dedup before [[BandIndex]]. This
  * object is the fix, [[BandIndex]]'s design applied to the winnow
  * layer: the corpus fingerprint set (doc_id, pos, h) is
  * materialized ONCE as a parquet table bucketed by `h` — the key every
  * downstream consumer joins or groups on — so
  *
  *  - q107's dup-hash aggregate (`GROUP BY h HAVING count(DISTINCT
  *    doc_id) >= 2`) and q108's ownership aggregate (`min(doc_id) per
  *    h`) run directly on the bucketed scan with NO exchange — the
  *    scan's h-clustering already satisfies both the aggregates' and
  *    the hash-join-back's required distribution ([[FpIndexSpec]] pins
  *    that plan), and
  *  - an ingest batch probes for duplicated spans by winnowing only
  *    the BATCH docs (O(batch) compute) and joining them against the
  *    index with a shuffle on the BATCH SIDE ONLY.
  *
  * After a batch is admitted, [[append]] inserts the batch's
  * fingerprints into the same table — ingest → probe → admit → append, the
  * q87/q92 maintenance loop at char granularity (q112 proves two
  * chained batches match a from-scratch recompute under the DuckDB
  * oracle).
  *
  * Freshness, registration, append, compaction and recovery are the one
  * index lifecycle ([[IndexLayout]]). Duplicate rows from a
  * crash-replayed append are harmless to the APPEND-PATH readers:
  * [[probeSpans]] reduces through DISTINCT (doc_id, pos) hits. The
  * corpus queries q107/q108 read only the ensure()-built whole-corpus
  * index, whose rows are unique by construction (built once, never
  * appended — [[appendRows]] guards it) — their aggregates rely on that
  * and skip the distinct.
  */
object FpIndex {

  /** (doc_id, pos, h), bucketed and sorted on the fingerprint hash —
    * the key every downstream consumer joins or groups on.
    */
  val Layout = IndexLayout("graft_fp_index_",
    StructType.fromDDL("doc_id BIGINT, pos BIGINT, h BIGINT"),
    Seq("h"), Seq("h"))

  /** Freshness = source metadata + the winnow parameters baked into
    * every stored hash: an index built under an older hash scheme or
    * key layout reads as STALE, never as valid (the PostingsIndex
    * ":sidecar-v3" discipline — this very round changed the hash from
    * md5 to Karp-Rabin, which without the tag would have served
    * md5-keyed rows as fresh).
    */
  private def fingerprint(dir: String): String =
    IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      s":winnow-k${Winnow.K}-w${Winnow.W}-b${Winnow.B1}-m${Winnow.M1}" +
      s"-b2${Winnow.B2}-m2${Winnow.M2}-p${Winnow.PosMod}" +
      // chunked over-length docs changed which docs contribute rows —
      // an index built under the exclusion rule must read as stale
      s"-ch${Winnow.ChunkOverlap}"

  /** Winnowed fingerprints of a (doc_id, text) frame, CPU-spread by doc
    * so the per-char winnow parallelizes cluster-wide.
    */
  private[graft] def fingerprintRows(docs: DataFrame): DataFrame =
    Winnow.fingerprintsOf(graft.core.CpuSpread.byKey(
      docs.select(col("doc_id"), trim(col("text")).as("tx"))
        .withColumn("n", length(col("tx"))),
      col("doc_id")))

  /** Build the bucketed index over `docs` (doc_id, text) at `path`,
    * registered as `name`.
    */
  def buildIndex(spark: SparkSession, docs: DataFrame, name: String,
      path: Path): Unit =
    Layout.write(spark, fingerprintRows(docs), name, path)

  /** Append an admitted batch's fingerprints to the index. */
  def append(spark: SparkSession, name: String, admittedDocs: DataFrame): Unit =
    appendRows(spark, name, fingerprintRows(admittedDocs))

  /** [[append]] over ALREADY-WINNOWED fingerprint rows (doc_id, pos, h)
    * — the entry for callers that just probed the same batch and hold
    * the probe's pinned fingerprint frame ([[probeSpans]]):
    * re-running the per-char winnow for the append would double the
    * batch's decode cost for no new information.
    */
  private[graft] def appendRows(spark: SparkSession, name: String,
      fpRows: DataFrame): Unit = {
    // q107/q108's aggregates on the ensure()-built corpus index skip
    // DISTINCT ("unique rows by construction" — built once, never
    // appended); an accidental append there would silently inflate
    // q107's n_hits. Guard the invariant instead of trusting callers.
    require(!corpusTables.contains(name),
      s"append() against the ensure()-managed corpus index `$name` — " +
        "maintenance/streaming appends must target their own index " +
        "(Layout.initIndex/buildIndex under a distinct name)")
    Layout.append(name, fpRows)
  }

  /** Table names ensure() manages as build-once corpus indexes —
    * [[append]]'s guard set. JVM-local is enough: the guard protects
    * against in-process caller mistakes; cross-process freshness is
    * already the `_GRAFT_FP` contract (an appended-to corpus index
    * would still carry a valid fingerprint, which is exactly why the
    * mistake needs an in-process guard).
    */
  private val corpusTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Ensure the whole-corpus fingerprint index for `dir` through the
    * one lifecycle ([[IndexLayout.ensure]]); returns the table name.
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    corpusTables.add(Layout.tableNameFor(dir))
    Layout.ensure(spark, dir, fingerprint(dir)) { (tn, tp) =>
      buildIndex(spark,
        graft.core.Tables(spark, dir, "documents").select("doc_id", "text"),
        tn, tp)
    }
  }

  /** Probe `batchDocs` (doc_id, text) against the index: per batch doc,
    * the maximal duplicated-span ranges whose fingerprints already
    * exist in HISTORY (any indexed doc) or in an EARLIER batch doc
    * (smaller doc_id — the within-batch keep-first), as
    * (doc_id, span_start, span_end, n_hits).
    *
    * Scale shape: the batch is winnowed once and eagerly pinned (two
    * consumers + the caller usually appends right after — O(batch)
    * state, the legitimate use of localCheckpoint the corpus-wide form
    * was not); the history leg shuffles ONLY the batch fingerprints
    * into the index's bucket layout; the within-batch leg is the
    * keep-first owner rule ([[Winnow.foreignHits]]: one window min per
    * hash, no pair join); the islands window carries only the sparse
    * foreign hits.
    *
    * `excludeBatchFromHistory` is the streaming REPLAY seam
    * ([[graft.streaming.WinnowIndexSink]]): if a prior attempt appended
    * this batch's fingerprints and crashed before committing the
    * decision log, the replayed probe would find the batch's own docs
    * as "history" and report every span as duplicated. Excluding the
    * batch's own ids from the hist leg (left_anti on the small
    * batch-id set) makes the probe idempotent under replay-after-
    * append; within-batch spans still come from the batchHits leg,
    * exactly once.
    *
    * Returns (spans, batch fingerprints), both pinned. The fingerprint
    * rows are for the probe→admit→append loops that write the very same
    * batch's fingerprints right after the probe ([[appendRows]]) — the
    * winnow is the batch's per-char decode cost and must be paid once,
    * not once per probe plus once per append.
    */
  def probeSpans(spark: SparkSession, name: String, batchDocs: DataFrame,
      excludeBatchFromHistory: Boolean = false): (DataFrame, DataFrame) = {
    val bfp = Pin(fingerprintRows(batchDocs), "FpIndex.batchFingerprints")
    // pin the SMALL spans result (duplicated ranges only): eager
    // evaluation severs the result's dependency on the index table, so
    // the caller's subsequent append cannot perturb it
    val spans = Pin(probeSpansPlan(spark, name, bfp, batchDocs,
      excludeBatchFromHistory), "FpIndex.spans")
    (spans, bfp)
  }

  /** The probe's LAZY plan over an already-pinned batch-fingerprint
    * frame — split out so [[FpIndexSpec]] can pin the bucketed-scan /
    * exchange shape that [[probeSpans]]'s eager materialization hides.
    */
  private[operators] def probeSpansPlan(spark: SparkSession, name: String,
      bfp: DataFrame, batchDocs: DataFrame,
      excludeBatchFromHistory: Boolean): DataFrame = {
    val hist = spark.table(name)
    val histLeg0 = bfp.join(
      hist.select(col("h"), col("doc_id").as("hist_id")), Seq("h"))
    val histLeg =
      if (excludeBatchFromHistory)
        histLeg0.join(batchDocs.select(col("doc_id").as("hist_id")),
          Seq("hist_id"), "left_anti")
      else histLeg0
    val histHits = histLeg.select("doc_id", "pos")
    val batchHits = Winnow.foreignHits(bfp)
    val foreign = histHits.unionByName(batchHits).distinct()
    Winnow.islandSpans(foreign)
  }

}
