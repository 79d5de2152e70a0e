package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted bucketed band index behind q78 (round 10's top verdict
  * item): per-batch cost must be O(batch), which requires (a) the
  * history side to be READ, not recomputed, and (b) the probe join to
  * shuffle only the batch side. Proven here against a monolithic
  * recompute (the round-9 formulation), through a chained
  * probe→append→probe maintenance loop, and at the plan level.
  */
class BandIndexSpec extends SparkSpec {

  private val dir = sf0001

  /** Round-9 q78: recompute everything, split by bucket threshold. The
    * shared-recompute twin every incremental result is checked against.
    */
  private def monolithic(s: SparkSession, histPred: Column,
      batchPred: Column): DataFrame = {
    val base = Dedup.docs(s, dir)
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("bucket", BandIndex.ingestBucket)
      .filter(histPred || batchPred)
    val bands = Dedup.bandsOf(base.select("doc_id", "text"))
      .join(base.select("doc_id", "bucket"), "doc_id")
    val hist = bands.filter(histPred)
      .select(col("doc_id").as("hist_id"), col("band_idx"), col("band_key"))
    val newb = bands.filter(batchPred)
      .select(col("doc_id"), col("band_idx"), col("band_key"))
    val histDups = newb.join(hist, Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("hist_id")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_hist_dups"))
    val batchDups = newb.as("a").join(newb.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_key") === col("b.band_key")
          && col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("other"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_batch_dups"))
    base.filter(batchPred).select("doc_id")
      .join(histDups, Seq("doc_id"), "left")
      .join(batchDups, Seq("doc_id"), "left")
      .withColumn("n_hist_dups", coalesce(col("n_hist_dups"), lit(0L)))
      .withColumn("n_batch_dups", coalesce(col("n_batch_dups"), lit(0L)))
      .withColumn("admit",
        col("n_hist_dups") === 0 && col("n_batch_dups") === 0)
      .orderBy("doc_id")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Boolean)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))

  private def docsSlice(lo: Int, hi: Int): DataFrame =
    Dedup.docs(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("bucket", BandIndex.ingestBucket)
      .filter(col("bucket") >= lo && col("bucket") < hi)
      .select("doc_id", "text")

  test("probe against the persisted index matches the monolithic recompute") {
    val got = rows(BandIndex.probe(spark, dir))
    val want = rows(monolithic(spark,
      col("bucket") < BandIndex.BatchThreshold,
      col("bucket") >= BandIndex.BatchThreshold))
    assert(want.nonEmpty && want.exists(!_._4),
      "slice must be non-trivial: some batch doc should be rejected")
    assert(got == want)
  }

  test("probe -> append -> probe (the maintenance loop) matches recompute") {
    val name = "graft_bandidx_chain_test"
    val path = java.nio.file.Files.createTempDirectory("graft-bandidx-chain")
    try {
      // history = bucket<200; ingest batch1 = [200,230); batch2 = [230,256)
      BandIndex.buildIndex(spark, docsSlice(0, 200), name, path.resolve("idx"))
      val p1 = rows(BandIndex.probeIndex(spark, name, docsSlice(200, 230))._1)
      assert(p1 == rows(monolithic(spark,
        col("bucket") < 200,
        col("bucket") >= 200 && col("bucket") < 230)))
      // admit the whole batch into history, then probe the next batch:
      // history is now exactly bucket<230, i.e. q78's own split
      BandIndex.append(spark, name, docsSlice(200, 230))
      val p2 = rows(BandIndex.probeIndex(spark, name, docsSlice(230, 256))._1)
      assert(p2 == rows(monolithic(spark,
        col("bucket") < 230, col("bucket") >= 230)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
    }
  }

  test("probe join reads the index bucketed, with no shuffle on the index side") {
    val name = BandIndex.ensure(spark, dir)
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    // broadcast off: a broadcast join would trivially not shuffle the
    // index side and prove nothing about bucketing; AQE off so the plan
    // tree is plain Exec nodes rather than query stages
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // inspects probeIndexPlan — the exact plan the probe executes;
      // probeIndex itself returns an eagerly-pinned decision frame
      // (round 16), which hides the join shape behind a checkpoint scan
      val batch = docsSlice(BandIndex.BatchThreshold, 256)
      val probe = BandIndex.probeIndexPlan(spark, name,
        Dedup.bandsOf(batch), batch,
        excludeBatchFromHistory = false)
      val plan = probe.queryExecution.executedPlan
      def indexScanNoShuffle(p: SparkPlan): Boolean = p match {
        case _: ShuffleExchangeExec => false
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == name)
        case other => other.children.exists(indexScanNoShuffle)
      }
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.exists(j =>
          indexScanNoShuffle(j.left) || indexScanNoShuffle(j.right)),
        s"no sort-merge join reaches the index scan shuffle-free:\n$plan")
      val scans = plan.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == name) => f
      }
      assert(scans.nonEmpty, "index table scan missing from the plan")
      assert(scans.forall(_.bucketedScan),
        "index scan fell back to a non-bucketed read")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("append still works against a re-registered index (sort-spec parity)") {
    // regression: register() must declare SORTED BY matching the
    // writer's sortBy — without it the post-restart append path threw
    // "Specified bucketing does not match that of the existing table",
    // breaking IngestDedupSink's loop after any JVM restart
    val name = "graft_bandidx_rereg_test"
    val path = java.nio.file.Files.createTempDirectory("graft-bandidx-rereg")
      .resolve("idx")
    try {
      BandIndex.buildIndex(spark, docsSlice(0, 200), name, path)
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      BandIndex.Layout.register(spark, name, path)
      BandIndex.append(spark, name, docsSlice(200, 230)) // must not throw
      val p2 = rows(BandIndex.probeIndex(spark, name, docsSlice(230, 256))._1)
      assert(p2 == rows(monolithic(spark,
        col("bucket") < 230, col("bucket") >= 230)),
        "post-re-register append must behave exactly like a same-session one")
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("compaction folds duplicate appends away without changing any answer") {
    val name = "graft_bandidx_compact_test"
    val path = java.nio.file.Files.createTempDirectory("graft-bandidx-compact")
      .resolve("idx")
    try {
      BandIndex.buildIndex(spark, docsSlice(0, 200), name, path)
      // a crash-replayed append: the same batch lands twice
      BandIndex.append(spark, name, docsSlice(200, 230))
      BandIndex.append(spark, name, docsSlice(200, 230))
      val probe = rows(BandIndex.probeIndex(spark, name, docsSlice(230, 256))._1)
      val (before, after) = BandIndex.Layout.compact(spark, name, path)
      assert(after < before, s"duplicates should fold: $before -> $after")
      assert(after == spark.table(name).distinct().count())
      // identical decisions, and the rewritten table still reads bucketed
      assert(rows(BandIndex.probeIndex(spark, name, docsSlice(230, 256))._1) == probe)
      val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        // the lazy plan layer again: the pinned probe hides the scan
        val batch2 = docsSlice(230, 256)
        val plan = BandIndex.probeIndexPlan(spark, name,
            Dedup.bandsOf(batch2), batch2,
            excludeBatchFromHistory = false)
          .queryExecution.executedPlan
        val scans = plan.collect {
          case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table == name) => f
        }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          "compacted index lost its bucketed layout")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
        spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("a rewritten corpus (fingerprint drift) rebuilds the index") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-bandidx-fp")
    import spark.implicits._
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en") }
        .toDF("doc_id", "text", "lang")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$corpus/documents.parquet")
    // doc_ids whose md5 bucket lands them in history vs batch is
    // data-independent (lang:doc_id hash), so rewriting TEXTS keeps the
    // split but changes every band key
    val base = (0 until 64).map(i => s"alpha beta gamma delta token$i epsilon zeta")
    write(base)
    val name = BandIndex.ensure(spark, corpus.toString)
    val fp1 = BandIndex.fingerprint(corpus.toString)
    val r1 = rows(BandIndex.probe(spark, corpus.toString))
    // warm path: same fingerprint, no rebuild, same answer
    assert(BandIndex.ensure(spark, corpus.toString) == name)
    assert(rows(BandIndex.probe(spark, corpus.toString)) == r1)
    // regenerate the corpus (different texts AND lengths)
    write(base.map(t => t + " regenerated-token-suffix"))
    assert(BandIndex.fingerprint(corpus.toString) != fp1)
    val r2 = rows(BandIndex.probe(spark, corpus.toString))
    // same split (bucket is text-independent), fresh index: row set keyed
    // identically but computed over the new corpus
    assert(r2.map(_._1) == r1.map(_._1))
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("a fresh session re-registers a valid on-disk index without rebuilding") {
    val name = BandIndex.ensure(spark, dir)
    val r1 = rows(BandIndex.probe(spark, dir))
    val idxDir = java.nio.file.Paths.get(IndexCommit.indexRoot, name)
    val mtimeBefore = java.nio.file.Files.getLastModifiedTime(
      idxDir.resolve("_GRAFT_FP"))
    // simulate a JVM restart: Spark's default catalog is in-memory, so a
    // new session starts with no table entry but the files still on disk
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    assert(!spark.catalog.tableExists(name))
    assert(rows(BandIndex.probe(spark, dir)) == r1)
    assert(spark.catalog.tableExists(name))
    assert(java.nio.file.Files.getLastModifiedTime(
        idxDir.resolve("_GRAFT_FP")) == mtimeBefore,
      "re-registration must not rebuild the index files")
  }
}
