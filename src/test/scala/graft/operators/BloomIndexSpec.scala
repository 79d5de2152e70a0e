package graft.operators

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[BloomIndex]] — the persisted benchmark-shingle index behind q99:
  * probe ≡ exact recompute, the confirm join reads the index bucketed
  * and exchange-free, the bloom sidecar survives (de)serialization with
  * no false negatives, and the BandIndex freshness/restart contract
  * holds verbatim.
  */
class BloomIndexSpec extends SparkSpec {

  private val dir = sf0001

  test("q99 persisted-index probe is bit-identical to q53's exact path") {
    val exact = graft.SparkEntry.queries("q53_decontam")(spark, dir).collect()
    val got = graft.SparkEntry.queries("q99_decontam_indexed")(spark, dir).collect()
    assert(exact.length > 0)
    assert(got.toSeq == exact.toSeq)
  }

  test("confirm join reads the index bucketed, no shuffle on the index side") {
    val name = BloomIndex.ensure(spark, dir)
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = BloomIndex.probeHits(spark, dir).queryExecution.executedPlan
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
      assert(scans.nonEmpty && scans.forall(_.bucketedScan),
        "index scan fell back to a non-bucketed read")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("persisted bloom has no false negatives after the sidecar roundtrip") {
    val bf = BloomIndex.bloom(spark, dir)
    val (bench, _) = Dedup.decontamSides(spark, dir)
    val shingles = bench.collect().map(_.getString(0))
    assert(shingles.length > 100)
    shingles.foreach(sh => assert(bf.mightContain(sh), s"lost: $sh"))
  }

  test("a rewritten corpus (fingerprint drift) rebuilds index AND bloom") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-bloomidx-fp")
    import spark.implicits._
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en") }
        .toDF("doc_id", "text", "lang")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$corpus/documents.parquet")
    // enough docs that a few land in the bench bucket (>= 250)
    val base = (0 until 300).map(i =>
      s"alpha$i beta$i gamma$i delta$i epsilon$i")
    write(base)
    val name = BloomIndex.ensure(spark, corpus.toString)
    val n1 = spark.table(name).count()
    assert(n1 > 0, "bench slice must be non-empty for the drift test")
    val bloom1 = BloomIndex.bloom(spark, corpus.toString)
    // warm path: second ensure does not rewrite
    val fpFile = java.nio.file.Paths.get(IndexCommit.indexRoot, name, "_GRAFT_FP")
    val mtime1 = java.nio.file.Files.getLastModifiedTime(fpFile)
    assert(BloomIndex.ensure(spark, corpus.toString) == name)
    assert(java.nio.file.Files.getLastModifiedTime(fpFile) == mtime1)
    // regenerate: different shingles -> different table AND bloom
    write(base.map(t => t.replace("alpha", "omega")))
    BloomIndex.ensure(spark, corpus.toString)
    val bloom2 = BloomIndex.bloom(spark, corpus.toString)
    val oldOnly = spark.table(name).collect().map(_.getString(0))
      .filter(_.startsWith("omega"))
    assert(oldOnly.nonEmpty, "rebuilt table should carry the new shingles")
    oldOnly.foreach(sh => assert(bloom2.mightContain(sh)))
    assert(bloom1 ne bloom2, "bloom cache must invalidate on drift")
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("a fresh session re-registers a valid on-disk index without rebuilding") {
    val name = BloomIndex.ensure(spark, dir)
    val r1 = graft.SparkEntry.queries("q99_decontam_indexed")(spark, dir).collect()
    val fpFile = java.nio.file.Paths.get(IndexCommit.indexRoot, name, "_GRAFT_FP")
    val mtimeBefore = java.nio.file.Files.getLastModifiedTime(fpFile)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    assert(!spark.catalog.tableExists(name))
    val r2 = graft.SparkEntry.queries("q99_decontam_indexed")(spark, dir).collect()
    assert(r2.toSeq == r1.toSeq)
    assert(spark.catalog.tableExists(name))
    assert(java.nio.file.Files.getLastModifiedTime(fpFile) == mtimeBefore,
      "re-registration must not rebuild the index files")
  }
}
