package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Freshness: the index directory carries a `_GRAFT_FP` fingerprint of
  * the source `documents.parquet` file metadata (name/length/mtime per
  * file — an O(#files) listing, no data scan); [[ensure]] rebuilds when
  * the fingerprint drifts (the driver regenerates testdata between
  * rounds) and re-registers an existing valid index into the session
  * catalog after a JVM restart (Spark's default in-memory catalog does
  * not persist table metadata). At 100 TB the fingerprint's role is
  * played by a table-format snapshot id; the local-FS listing is the
  * same contract at this harness's scale.
  *
  * Hot-key cap semantics: bands are capped per SIDE ([[Dedup.HotKeyCap]]
  * at index build/append and again on each batch), not on the combined
  * corpus — an incremental index cannot know future batches, so the
  * per-side cap IS the incremental contract. The two formulations only
  * diverge when a band's combined frequency crosses the cap across the
  * split, far above anything the test corpora produce (max observed
  * band frequency at sf0.1 is 25 vs cap 256), so the DuckDB oracle
  * needs no cap arm — same contract as q36.
  *
  * Concurrent builders: [[ensure]] is synchronized within a JVM, and
  * across processes the build lands in a temp sibling published by one
  * atomic rename ([[IndexCommit]]) — a reader observes the old index,
  * no index, or the new index, never a half-built one; a racing
  * builder's loser discards its temp (builds are idempotent).
  */
object BandIndex {

  /** Deployment-tunable ([[IndexCommit.numBuckets]]); default = the
    * engine's shuffle-partition count at bench scale, so the batch side
    * shuffles into exactly the index's layout.
    */
  def NumBuckets: Int = IndexCommit.numBuckets

  def indexRoot: String = IndexCommit.indexRoot

  /** One index (table name + directory) per corpus directory. */
  def tableNameFor(dir: String): String =
    IndexCommit.tableName("graft_band_index_", dir)

  private def indexPath(dir: String): Path =
    Paths.get(indexRoot, tableNameFor(dir))

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

  /** Capped band keys for an arbitrary (doc_id, text) frame. */
  private[operators] def bandsOfDocs(d: DataFrame): DataFrame =
    Dedup.bandsOf(Dedup.shingleIndexOf(d).select("doc_id", "sh"))

  /** Build the bucketed index over `histDocs` (doc_id, text) at `path`,
    * registered as `name`. The pre-write `repartition` on the bucket
    * columns uses the same hash the bucketed writer assigns files by, so
    * each task lands ~one bucket file instead of up to [[NumBuckets]]
    * files per task.
    */
  def buildIndex(spark: SparkSession, histDocs: DataFrame, name: String,
      path: Path): Unit =
    writeIndexRows(spark,
      bandsOfDocs(histDocs)
        .select(col("doc_id").as("hist_id"), col("band_idx"), col("band_key")),
      name, path)

  private def writeIndexRows(spark: SparkSession, rows: DataFrame,
      name: String, path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    IndexCommit.deleteTree(path)
    rows
      .repartition(NumBuckets, col("band_idx"), col("band_key"))
      .write.format("parquet")
      .bucketBy(NumBuckets, "band_idx", "band_key")
      .sortBy("band_idx", "band_key")
      .option("path", path.toString)
      .saveAsTable(name)
  }

  /** Fold away duplicate band rows (legitimately accrued by
    * crash-replayed appends — the index is at-least-once storage with
    * distinct-count read semantics, so duplicates never change answers;
    * they only cost scan bytes). The rewrite goes through
    * [[IndexCommit.commitBuild]]: distinct rows eagerly pinned off the
    * table's files, written into a temp sibling WITH the preserved
    * fingerprint sidecar, published by one rename — a crash
    * mid-compaction leaves the original index intact instead of
    * destroying it (an IngestDedupSink-managed index has no
    * fingerprint-gated rebuild path to recover through). OWNER-ONLY,
    * between batches: an append racing the rewrite would be silently
    * lost — see [[FpIndex.compact]]'s single-writer contract, which
    * this compact shares. Compaction changes the layout, not which
    * corpus the index covers. Returns (rows before, after).
    */
  def compact(spark: SparkSession, name: String, path: Path): (Long, Long) = {
    // sink-managed indexes are marker-less until first compaction —
    // synthesize the sink-history identity (and ADOPT the live tree so
    // the retiree it is about to create self-validates) so the rewrite
    // goes through the marker-bound retire-then-publish tail, never
    // commitBuild's marker-less delete-in-place branch (see
    // [[FpIndex.compact]])
    val fp = IndexCommit.readFp(path).getOrElse {
      val f = IndexCommit.sinkHistoryFp(name)
      IndexCommit.adoptUnmarked(path, f)
      f
    }
    val before = spark.table(name).count()
    Pin.scope {
      val rows = Pin(spark.table(name).distinct(), "BandIndex.compact")
      IndexCommit.commitBuild(spark, name, path, Some(fp)) { (tn, tp) =>
        writeIndexRows(spark, rows, tn, tp)
      }
    }
    register(spark, name, path)
    (before, spark.table(name).count())
  }

  /** Post-crash recovery for a SINK-MANAGED band index
    * ([[graft.streaming.IngestDedupSink]]'s restart path) — restore a
    * crash-stranded retiree over an unbound destination, then
    * re-register; loud error when nothing adoptable survives. The
    * policy body is [[IndexCommit.recoverSink]], SHARED with
    * [[FpIndex.recover]] — see its doc for the adoptability rule.
    */
  def recover(spark: SparkSession, name: String, path: Path): Boolean = {
    val restored = IndexCommit.recoverSink(path)
    register(spark, name, path)
    restored
  }

  /** Register an existing on-disk index (written by [[buildIndex]], so
    * the files carry the bucketed writer's bucket-id naming) into this
    * session's catalog — the post-JVM-restart path.
    */
  private[operators] def register(spark: SparkSession, name: String,
      path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(
      s"""CREATE TABLE `$name` (hist_id BIGINT, band_idx INT, band_key STRING)
         |USING PARQUET
         |CLUSTERED BY (band_idx, band_key) SORTED BY (band_idx, band_key) INTO $NumBuckets BUCKETS
         |LOCATION '${path.toString}'""".stripMargin)
  }

  /** Append an admitted batch's bands to the index. `mode("append")
    * .bucketBy` on the existing table validates the spec matches and
    * writes bucket-id-named files, so subsequent probes still read the
    * table bucketed.
    */
  def append(spark: SparkSession, name: String, admittedDocs: DataFrame): Unit =
    appendBands(spark, name, bandsOfDocs(admittedDocs))

  /** [[append]] over ALREADY-COMPUTED band rows (doc_id, band_idx,
    * band_key) — for callers that just probed the same batch and hold
    * the probe's pinned band frame ([[probeIndex]]): the
    * shingle+minhash of the batch is the probe's dominant per-row cost
    * and must not be paid a second time by the append.
    */
  private[graft] def appendBands(spark: SparkSession, name: String,
      bands: DataFrame): Unit =
    bands
      .select(col("doc_id").as("hist_id"), col("band_idx"), col("band_key"))
      .repartition(NumBuckets, col("band_idx"), col("band_key"))
      .write.format("parquet")
      .bucketBy(NumBuckets, "band_idx", "band_key")
      .sortBy("band_idx", "band_key")
      .mode("append")
      .saveAsTable(name)

  /** Ensure the history index for `dir` exists, is fresh, and is in this
    * session's catalog; returns the table name. Cost: a catalog lookup +
    * an O(#files) fingerprint when warm; one O(history) build when cold
    * or stale — paid once per corpus generation, NOT per batch.
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    val name = tableNameFor(dir)
    val path = indexPath(dir)
    val fp = fingerprint(dir)
    val validOnDisk = IndexCommit.fpValidOrRestored(path, fp)
    if (spark.catalog.tableExists(name) && validOnDisk) name
    else if (validOnDisk) { register(spark, name, path); name }
    else {
      val hist = docsWithBucket(spark, dir)
        .filter(col("bucket") < BatchThreshold)
        .select("doc_id", "text")
      // build into a temp sibling + atomic publish ([[IndexCommit]]) so
      // a concurrent process never observes a half-built index
      IndexCommit.commitBuild(spark, name, path, Some(fp)) { (tn, tp) =>
        buildIndex(spark, hist, tn, tp)
      }
      register(spark, name, path)
      name
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
    * formulation in one: (a) the batch banding subtree — shingle
    * explode + 8-seed minhash aggregate + band keys — was consumed by
    * BOTH probe legs and both sides of the within-batch self-join, so
    * Catalyst evaluated it ~3x per probe (and a 4th time in the
    * caller's append); the pin bounds it to once. (b) the decision
    * frame is eagerly pinned HERE, before any caller's append can
    * mutate the table it reads (q87's ordering rule, now enforced by
    * construction instead of by every call site).
    */
  def probeIndex(spark: SparkSession, name: String, batchDocs: DataFrame,
      excludeBatchFromHistory: Boolean = false): (DataFrame, DataFrame) = {
    val newb = Pin(bandsOfDocs(batchDocs), "BandIndex.batchBands")
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

  /** An empty (doc_id, text) frame — [[initIndex]]'s history when an
    * ingest stream starts from nothing.
    */
  def emptyDocs(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
  }

  /** Create an EMPTY bucketed index (schema + bucket spec, no rows) —
    * the cold-start entry for a continuous ingest stream.
    */
  def initIndex(spark: SparkSession, name: String, path: Path): Unit =
    buildIndex(spark, emptyDocs(spark), name, path)

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
