package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.SparkSpec
import graft.functions.MediaCodecs.VideoCodec

/** The video SemDeDup estate behind q129: the GVID walker must be
  * strict, the stride decode must SKIP non-sampled frames without
  * parsing them (the IO claim that makes video ingest affordable),
  * the feature must be the encoder's closed form, and the serving
  * path must read the persisted video index bucketed, exchange-free,
  * never rebuilding it.
  */
class VideoDedupSpec extends SparkSpec {

  private val dir = sf0001

  private def q(name: String) = Clustering.defs.find(_.name == name).get.fn

  /** Byte offsets of each frame's payload inside an encoded clip. */
  private def frameOffsets(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.position(4)
    val count = bb.getInt
    (0 until count).map { _ =>
      val len = bb.getInt
      val off = bb.position()
      bb.position(off + len)
      (off, len)
    }
  }

  test("sampled sums are the closed form over the minted frames") {
    val text = "The quick brown fox jumps over the lazy dog."
    val n = text.length
    val want = Seq(0, 2, 4, 6).flatMap { k =>
      val chunk = text.substring(k * n / 8, (k + 1) * n / 8)
      Seq(chunk.map(_.toInt.toLong).sum,
        chunk.map(c => 255L - c.toInt).sum,
        chunk.map(c => (7L * c.toInt) % 256).sum)
    }
    assert(VideoCodec.decodeSampledSums(VideoCodec.encode(text)).toSeq == want)
    // the empty clip decodes to the zero feature, not a crash
    assert(VideoCodec.decodeSampledSums(VideoCodec.encode("")).toSeq ==
      Seq.fill(12)(0L))
  }

  test("non-sampled frames are SKIPPED by length, never parsed") {
    // corrupt every ODD frame's payload in place (break the P6 magic);
    // the stride-2 decode must not notice — it skips those frames by
    // their declared lengths — while a stride-1 decode fails loudly.
    // This is the IO claim: decode cost tracks SAMPLED frames only.
    val clean = VideoCodec.encode("some corpus text long enough to split")
    val want = VideoCodec.decodeSampledSums(clean).toSeq
    val corrupted = clean.clone()
    frameOffsets(clean).zipWithIndex.foreach { case ((off, len), k) =>
      if (k % 2 == 1 && len > 0) corrupted(off) = 'X'.toByte
    }
    assert(VideoCodec.decodeSampledSums(corrupted).toSeq == want,
      "stride decode must skip (not parse) non-sampled frames")
    assert(intercept[IllegalArgumentException](
      VideoCodec.decodeSampledSums(corrupted, stride = 1))
      .getMessage.contains("PPM"),
      "a full decode must strict-parse every frame and fail")
  }

  test("the walker is strict: magic, overrun, trailing garbage") {
    val ok = VideoCodec.encode("abc def")
    assert(intercept[IllegalArgumentException](
      VideoCodec.decodeSampledSums("XVID".getBytes ++ ok.drop(4)))
      .getMessage.contains("magic"))
    assert(intercept[IllegalArgumentException](
      VideoCodec.decodeSampledSums(ok.dropRight(3)))
      .getMessage.contains("overruns"))
    assert(intercept[IllegalArgumentException](
      VideoCodec.decodeSampledSums(ok :+ 0.toByte))
      .getMessage.contains("trailing"))
  }

  test("q129 prunes at least one within-cell video near-dup") {
    val out = q("q129_video_semdedup")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.exists(!_.getBoolean(3)),
      "corpus must contain at least one video semdedup prune")
  }

  test("q129 plan: the VIDEO pair join reads its index bucketed, exchange-free") {
    ClusterIndex.ensure(spark, dir, ClusterIndex.Video)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = q("q129_video_semdedup")(spark, dir)
        .queryExecution.executedPlan
      val name = ClusterIndex.Video.layout.tableNameFor(dir)
      def sideBucketedNoShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          p.collect {
            case f: FileSourceScanExec
                if f.tableIdentifier.exists(_.table == name) => f
          }.forall(_.bucketedScan)
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.exists(j =>
          sideBucketedNoShuffle(j.left) && sideBucketedNoShuffle(j.right)),
        s"no exchange-free bucketed video pair join found:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
    }
  }

  test("q129's video index is served, never rebuilt in-line") {
    val name = ClusterIndex.ensure(spark, dir, ClusterIndex.Video)
    val fpPath = java.nio.file.Paths.get(
      IndexCommit.indexRoot, name, "_GRAFT_FP")
    val before = java.nio.file.Files.getLastModifiedTime(fpPath)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val out = q("q129_video_semdedup")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(spark.catalog.tableExists(name),
      "the run must re-register the persisted video index")
    assert(java.nio.file.Files.getLastModifiedTime(fpPath) == before,
      "a q129 run must never rebuild the video index in-line")
  }
}
