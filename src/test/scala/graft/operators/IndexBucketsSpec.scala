package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** The deployment bucket-count knob ([[IndexCommit.numBuckets]],
  * `SPARK_GRAFT_INDEX_BUCKETS`): at 100 TB the index bucket count is
  * the primary fan-in scaling lever, so it must be configurable without
  * editing source — and changing it must STALE existing indexes (one
  * rebuild under the new layout), never produce a bucket-spec mismatch
  * on append or a silently mis-bucketed probe. This suite runs every
  * persisted index family at a NON-default count (8) via the sys-prop
  * test seam and asserts the same pinned plan shapes the per-family
  * specs pin at 32: bucketed scan, no exchange on the index side,
  * append-after-re-register parity.
  */
class IndexBucketsSpec extends SparkSpec with BeforeAndAfterAll {

  private val B = 8

  override def beforeAll(): Unit = {
    super.beforeAll()
    sys.props("graft.index.buckets") = B.toString
  }

  override def afterAll(): Unit = {
    sys.props.remove("graft.index.buckets")
    super.afterAll()
  }

  /** Temp corpus (documents + embeddings) so ensure()-driven families
    * build fresh 8-bucket indexes without touching the shared sf
    * corpora's production indexes.
    */
  private lazy val corpus: String = {
    val c = Files.createTempDirectory("graft-bk8-corpus")
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      Files.copy(Paths.get(s"$sf0001/$f"), c.resolve(f),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
    c.toString
  }

  private def docsSlice(lo: Int, hi: Int): DataFrame =
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("bucket", BandIndex.ingestBucket)
      .filter(col("bucket") >= lo && col("bucket") < hi)
      .select("doc_id", "text")

  private def indexScans(plan: SparkPlan, name: String): Seq[FileSourceScanExec] =
    plan.collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == name) => f
    }

  private def assertBucketed(plan: SparkPlan, name: String): Unit = {
    val scans = indexScans(plan, name)
    assert(scans.nonEmpty, s"index table scan missing from the plan:\n$plan")
    assert(scans.forall(_.bucketedScan),
      s"index scan fell back to a non-bucketed read:\n$plan")
    assert(scans.forall(_.relation.bucketSpec.exists(_.numBuckets == B)),
      s"index not laid out in $B buckets:\n$plan")
  }

  private def noBroadcastNoAqe[A](body: => A): A = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
    }
  }

  private def indexSideNoShuffle(p: SparkPlan, name: String): Boolean =
    p match {
      case _: ShuffleExchangeExec => false
      case f: FileSourceScanExec => f.tableIdentifier.exists(_.table == name)
      case other => other.children.exists(indexSideNoShuffle(_, name))
    }

  /** The restart regression at a non-default count, the sinks' path:
    * recover (re-register) must declare the SAME bucket number + sort
    * spec or the bucketed append rejects.
    */
  private def appendAfterRestart(layout: IndexLayout, name: String,
      path: java.nio.file.Path)(append: => Unit): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    layout.recover(spark, name, path)
    append // must not throw
    assert(spark.table(name).count() > 0)
  }

  test("the bucket count participates in every index fingerprint") {
    val at8 = BandIndex.fingerprint(corpus)
    assert(at8.endsWith(s":bk$B"))
    sys.props.remove("graft.index.buckets")
    try {
      val atDefault = BandIndex.fingerprint(corpus)
      assert(atDefault != at8,
        "a bucket-count change must read existing indexes as stale")
      assert(atDefault.endsWith(":bk32"))
      // the tag rides sourceFingerprint, so all five families inherit
      // it: FpIndex and ClusterIndex append their params to this base
      assert(ClusterIndex.Embedding.fingerprint(corpus).contains(":bk32:"))
    } finally sys.props("graft.index.buckets") = B.toString
  }

  test("BandIndex at 8 buckets: exchange-free probe + post-restart append") {
    val name = "graft_bk8_band"
    val path = Files.createTempDirectory("graft-bk8-band").resolve("idx")
    try {
      BandIndex.buildIndex(spark, docsSlice(0, 200), name, path)
      noBroadcastNoAqe {
        // the lazy plan layer (probeIndex returns an eagerly-pinned
        // decision frame since round 16) — the FpIndex twin below
        val batch = docsSlice(200, 230)
        val plan = BandIndex.probeIndexPlan(spark, name,
            Dedup.bandsOf(batch), batch,
            excludeBatchFromHistory = false)
          .queryExecution.executedPlan
        assertBucketed(plan, name)
        val smjs = plan.collect { case j: SortMergeJoinExec => j }
        assert(smjs.exists(j => indexSideNoShuffle(j.left, name) ||
            indexSideNoShuffle(j.right, name)),
          s"no sort-merge join reaches the 8-bucket index shuffle-free:\n$plan")
      }
      appendAfterRestart(BandIndex.Layout, name, path) {
        BandIndex.append(spark, name, docsSlice(200, 230))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("FpIndex at 8 buckets: bucketed probe plan + post-restart append") {
    val name = "graft_bk8_fp"
    val path = Files.createTempDirectory("graft-bk8-fp").resolve("idx")
    try {
      FpIndex.buildIndex(spark, docsSlice(0, 200), name, path)
      noBroadcastNoAqe {
        val batch = docsSlice(200, 230)
        val plan = FpIndex.probeSpansPlan(spark, name,
            FpIndex.fingerprintRows(batch), batch,
            excludeBatchFromHistory = false)
          .queryExecution.executedPlan
        assertBucketed(plan, name)
        val smjs = plan.collect { case j: SortMergeJoinExec => j }
        assert(smjs.exists(j => indexSideNoShuffle(j.left, name) ||
            indexSideNoShuffle(j.right, name)),
          s"history join must read the 8-bucket index shuffle-free:\n$plan")
      }
      appendAfterRestart(FpIndex.Layout, name, path) {
        FpIndex.append(spark, name, docsSlice(200, 230))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("PostingsIndex at 8 buckets: bucket pruning + post-restart append") {
    import spark.implicits._
    val name = "graft_bk8_postings"
    val path = Files.createTempDirectory("graft-bk8-postings").resolve("idx")
    try {
      PostingsIndex.buildIndexDocs(spark,
        docsSlice(0, 200), name, path)
      // the group-by gives the planner a distribution requirement, so
      // the bucketed read engages (a bare filter scan drops it) and the
      // literal IN prunes buckets
      val plan = spark.table(name)
        .filter(col("term").isin("alpha", "beta"))
        .groupBy("term").agg(sum(col("tf")).as("tf"))
        .queryExecution.executedPlan
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan.toString)
      assert(sel.nonEmpty, s"no bucket pruning in plan:\n$plan")
      assert(sel.get.group(2).toInt == B,
        s"pruning denominator must be the configured count:\n$plan")
      assert(sel.get.group(1).toInt <= 2, "2 literal terms, <= 2 buckets")
      appendAfterRestart(PostingsIndex.Layout, name, path) {
        PostingsIndex.append(spark, name, path,
          Seq((999999L, "alpha beta appended")).toDF("doc_id", "text"))
      }
      assert(spark.table(name)
        .filter(col("doc_id") === 999999L).count() > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("ClusterIndex at 8 buckets: exchange-free cid pair join") {
    val name = ClusterIndex.ensure(spark, corpus)
    try {
      noBroadcastNoAqe {
        val idx = spark.table(name)
        val pairs = idx.select(col("cid"), col("vec_id").as("a_id"))
          .join(idx.select(col("cid"), col("vec_id").as("b_id")), "cid")
          .filter(col("a_id") < col("b_id"))
        val plan = pairs.queryExecution.executedPlan
        assertBucketed(plan, name)
        val smjs = plan.collect { case j: SortMergeJoinExec => j }
        assert(smjs.exists(j => indexSideNoShuffle(j.left, name) &&
            indexSideNoShuffle(j.right, name)),
          s"cid pair join must read both 8-bucket sides shuffle-free:\n$plan")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("ClusterIndex at 8 buckets: post-restart append") {
    val name = "graft_bk8_cluster"
    val path = Files.createTempDirectory("graft-bk8-cluster").resolve("idx")
    val rows = spark.table(ClusterIndex.ensure(spark, corpus))
    try {
      ClusterIndex.Layout.write(spark,
        rows.filter(col("vec_id") % 2 === 0), name, path)
      appendAfterRestart(ClusterIndex.Layout, name, path) {
        ClusterIndex.Layout.append(name, rows.filter(col("vec_id") % 2 === 1))
      }
      assert(spark.table(name).count() == rows.count())
      noBroadcastNoAqe {
        assertBucketed(spark.table(name).groupBy("cid").count()
          .queryExecution.executedPlan, name)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("image ClusterIndex at 8 buckets: exchange-free cid pair join") {
    // the sixth persisted family under a non-default bucket count
    val name = ClusterIndex.ensure(spark, corpus, ClusterIndex.Image)
    try {
      noBroadcastNoAqe {
        val idx = spark.table(name)
        val pairs = idx.select(col("cid"), col("vec_id").as("a_id"))
          .join(idx.select(col("cid"), col("vec_id").as("b_id")), "cid")
          .filter(col("a_id") < col("b_id"))
        val plan = pairs.queryExecution.executedPlan
        assertBucketed(plan, name)
        val smjs = plan.collect { case j: SortMergeJoinExec => j }
        assert(smjs.exists(j => indexSideNoShuffle(j.left, name) &&
            indexSideNoShuffle(j.right, name)),
          s"image cid pair join must read both 8-bucket sides shuffle-free:\n$plan")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("audio ClusterIndex at 8 buckets: exchange-free cid pair join") {
    // the seventh persisted family under a non-default bucket count
    val name = ClusterIndex.ensure(spark, corpus, ClusterIndex.Audio)
    try {
      noBroadcastNoAqe {
        val idx = spark.table(name)
        val pairs = idx.select(col("cid"), col("vec_id").as("a_id"))
          .join(idx.select(col("cid"), col("vec_id").as("b_id")), "cid")
          .filter(col("a_id") < col("b_id"))
        val plan = pairs.queryExecution.executedPlan
        assertBucketed(plan, name)
        val smjs = plan.collect { case j: SortMergeJoinExec => j }
        assert(smjs.exists(j => indexSideNoShuffle(j.left, name) &&
            indexSideNoShuffle(j.right, name)),
          s"audio cid pair join must read both 8-bucket sides shuffle-free:\n$plan")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("video ClusterIndex at 8 buckets: exchange-free cid pair join") {
    // the eighth persisted family under a non-default bucket count
    val name = ClusterIndex.ensure(spark, corpus, ClusterIndex.Video)
    try {
      noBroadcastNoAqe {
        val idx = spark.table(name)
        val pairs = idx.select(col("cid"), col("vec_id").as("a_id"))
          .join(idx.select(col("cid"), col("vec_id").as("b_id")), "cid")
          .filter(col("a_id") < col("b_id"))
        val plan = pairs.queryExecution.executedPlan
        assertBucketed(plan, name)
        val smjs = plan.collect { case j: SortMergeJoinExec => j }
        assert(smjs.exists(j => indexSideNoShuffle(j.left, name) &&
            indexSideNoShuffle(j.right, name)),
          s"video cid pair join must read both 8-bucket sides shuffle-free:\n$plan")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("BloomIndex at 8 buckets: confirm join reads the index shuffle-free") {
    import spark.implicits._
    val name = BloomIndex.ensure(spark, corpus)
    try {
      noBroadcastNoAqe {
        val probe = Seq("alpha beta gamma", "delta epsilon zeta")
          .toDF("sh")
        val confirmed = probe.join(spark.table(name), "sh")
        val plan = confirmed.queryExecution.executedPlan
        assertBucketed(plan, name)
        val smjs = plan.collect { case j: SortMergeJoinExec => j }
        assert(smjs.exists(j => indexSideNoShuffle(j.left, name) ||
            indexSideNoShuffle(j.right, name)),
          s"confirm join must read the 8-bucket index shuffle-free:\n$plan")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("flipping the knob back stales the 8-bucket index and rebuilds") {
    val name = BandIndex.ensure(spark, corpus)
    val idxDir = Paths.get(IndexCommit.indexRoot, name)
    // fingerprint line only — the marker also carries its tree manifest
    val fp8 = Files.readString(idxDir.resolve("_GRAFT_FP"))
      .linesIterator.next()
    assert(fp8.trim.endsWith(s":bk$B"))
    sys.props.remove("graft.index.buckets")
    try {
      BandIndex.ensure(spark, corpus)
      val fp32 = Files.readString(idxDir.resolve("_GRAFT_FP"))
        .linesIterator.next()
      assert(fp32.trim.endsWith(":bk32") && fp32 != fp8,
        "ensure() under the new count must rebuild, not serve the old layout")
      val scan = spark.table(name).queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scan.exists(_.relation.bucketSpec.exists(_.numBuckets == 32)))
    } finally {
      sys.props("graft.index.buckets") = B.toString
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      IndexCommit.deleteTree(idxDir)
    }
  }
}
