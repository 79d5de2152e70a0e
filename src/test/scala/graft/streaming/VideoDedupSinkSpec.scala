package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.MediaCodecs.VideoCodec
import graft.operators.{ClusterIndex, Clustering, IndexCommit}

/** [[VideoDedupSink]] — the streamed video-ingest verdicts must equal
  * q130's (the oracle-gated maintenance loop that runs the SAME
  * assignVideoBatch/probeVerdicts functions) and replay must skip.
  * The crash-seam and restart-from-checkpoint legs are the shared
  * [[ModalDedupIngest]] bodies', pinned for the family by
  * ImageDedupSinkSpec/AudioDedupSinkSpec.
  */
class VideoDedupSinkSpec extends SparkSpec {

  import spark.implicits._

  private val dir = sf0001

  /** q130's corpus slices as RAW GVID payload rows — the sink
    * frame-walks the bytes; q130 mints from the text. Same codec ⇒
    * same features.
    */
  private def payloadSlice(lo: Int, hi: Int): DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .filter(col("bucket") >= lo && col("bucket") < hi)
      .select(col("doc_id").as("vec_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, VideoCodec.encode(text)) }
      .toDF("vec_id", "video")

  test("streamed video verdicts equal q130's oracle-gated loop; replay skips") {
    val name = "graft_cluster_vid_idstest_" + ProcessHandle.current().pid()
    val out = java.nio.file.Files.createTempDirectory("graft-viddedup").toString
    // q130's setup verbatim: frozen cells from the history slice's
    // sampled sums, seeded history index
    val feats = Clustering.videoFeaturesOf(spark,
        graft.core.Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text")))
      .withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .localCheckpoint(true)
    val hist = feats.filter(col("bucket") < 200).select("vec_id", "vfeat")
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col("vfeat"), x => x.cast("long")).as("qv")), 8, 2)
      .localCheckpoint(true)
    ClusterIndex.Layout.write(spark,
      ClusterIndex.assignVideoBatch(hist, cents), name,
      Paths.get(IndexCommit.indexRoot, name))
    feats.unpersist()
    try {
      assert(VideoDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      assert(VideoDedupSink.applyBatch(
        payloadSlice(230, 256), 1L, name, cents, out))
      def streamed = VideoDedupSink.verdicts(spark, out)
        .select("batch_id", "vec_id", "dup_of", "kept").collect()
        .map(r => (r.getLong(0).toInt + 1, r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
        .toSeq.sortBy(t => (t._1, t._2))
      val want = graft.SparkEntry
        .queries("q130_video_cluster_maintenance")(spark, dir)
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
        .sortBy(t => (t._1, t._2))
      val got = streamed
      assert(got == want,
        s"streamed verdicts must equal q130 (${got.size} vs ${want.size})")
      assert(got.exists(!_._4), "the corpus must exercise the video prune")
      assert(!VideoDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      assert(streamed == want)
    } finally {
      cents.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$name")
      graft.core.Lake.deleteTree(out)
    }
  }
}
