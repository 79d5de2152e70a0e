package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.MediaCodecs
import graft.operators.{ClusterIndex, Clustering, IndexCommit}

/** The quarantine policy at the STANDALONE modal ingest sinks
  * (surfaces 20/22/23): a malformed payload in the ingest stream is
  * diverted to the quarantine log with the decoder's own reason —
  * never killing the stream — and the healthy arrivals' verdicts are
  * exactly what a clean (corruption-free) run produces. ONE shared
  * `safeFeaturize` body carries the policy for all three modalities.
  */
class ModalQuarantineSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf0001
  private val pid = ProcessHandle.current().pid()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs: DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))

  /** Frozen cells + seeded history index for one modality. */
  private def seed(name: String, featsOf: DataFrame => DataFrame,
      featCol: String,
      assignB: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val hist = featsOf(docs.filter(col("bucket") < 200)
      .select("doc_id", "text")).localCheckpoint(true)
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col(featCol), x => x.cast("long")).as("qv")), 8, 2)
      .localCheckpoint(true)
    ClusterIndex.Layout.write(spark, assignB(hist, cents), name,
      Paths.get(IndexCommit.indexRoot, name))
    hist.unpersist()
    cents
  }

  /** The ingest batch as RAW payloads (bucket in [200, 256)), with the
    * SMALLEST vec_id's payload poisoned when asked.
    */
  private def payloads(enc: String => Array[Byte], colName: String,
      poisonFirst: Boolean): (DataFrame, Long) = {
    val rows = docs.filter(col("bucket") >= 200)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val victim = rows.head._1
    val out = rows.map { case (id, text) =>
      val b = enc(text)
      if (poisonFirst && id == victim) b(0) = 'X'.toByte
      (id, b)
    }
    (out.toDF("vec_id", colName), victim)
  }

  private def cleanup(name: String, cents: DataFrame,
      outs: String*): Unit = {
    cents.unpersist()
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$name")
    outs.foreach(graft.core.Lake.deleteTree)
  }

  test("image sink: a poisoned payload is quarantined; healthy verdicts equal the clean run") {
    val nameA = s"graft_img_quar_a_$pid"
    val nameB = s"graft_img_quar_b_$pid"
    val (outA, outB) = (tmp("graft-imgq-a"), tmp("graft-imgq-b"))
    val centsA = seed(nameA, Clustering.imageFeaturesOf(spark, _), "hist",
      ClusterIndex.assignImageBatch)
    val centsB = seed(nameB, Clustering.imageFeaturesOf(spark, _), "hist",
      ClusterIndex.assignImageBatch)
    try {
      val (dirty, victim) = payloads(MediaCodecs.PpmCodec.encode,
        "image", poisonFirst = true)
      val (clean, _) = payloads(MediaCodecs.PpmCodec.encode,
        "image", poisonFirst = false)
      // the dirty stream SURVIVES (the policy's whole point)
      assert(ImageDedupSink.applyBatch(dirty, 0L, nameA, centsA, outA))
      assert(ImageDedupSink.applyBatch(
        clean.filter(col("vec_id") =!= victim), 0L, nameB, centsB, outB))
      val quar = ImageDedupSink.quarantined(spark, outA).collect()
      assert(quar.map(_.getLong(0)).toSeq == Seq(victim))
      assert(quar.head.getString(1) == "PPM: bad magic (want P6) at byte 0")
      def v(out: String) = ModalDedupIngest.verdicts(spark, out)
        .select("vec_id", "cid", "dup_of", "kept").collect().toSeq
        .map(_.toSeq).sortBy(_.toString)
      // the victim gets NO verdict row; everyone else's verdict is the
      // clean run's (the quarantined arrival is invisible to history)
      assert(v(outA) == v(outB),
        "healthy verdicts must equal the corruption-free run")
      assert(!v(outA).exists(_.head == victim))
    } finally {
      cleanup(nameA, centsA, outA)
      cleanup(nameB, centsB, outB)
    }
  }

  test("a NULL payload diverts like any other bad record (never an NPE)") {
    val name = s"graft_img_quar_null_$pid"
    val out = tmp("graft-imgq-null")
    val cents = seed(name, Clustering.imageFeaturesOf(spark, _), "hist",
      ClusterIndex.assignImageBatch)
    try {
      val (batch, victim) = payloads(MediaCodecs.PpmCodec.encode,
        "image", poisonFirst = false)
      val withNull = batch.collect().toSeq
        .map(r => (r.getLong(0),
          if (r.getLong(0) == victim) null else r.getAs[Array[Byte]](1)))
        .toDF("vec_id", "image")
      assert(ImageDedupSink.applyBatch(withNull, 0L, name, cents, out),
        "a null attachment must never kill the batch")
      val quar = ImageDedupSink.quarantined(spark, out).collect()
      assert(quar.map(_.getLong(0)).toSeq == Seq(victim))
      assert(quar.head.getString(1) == "null payload")
      assert(!ModalDedupIngest.verdicts(spark, out).collect()
        .exists(_.getLong(0) == victim))
    } finally cleanup(name, cents, out)
  }

  test("audio and video sinks divert corrupt arrivals with the decoders' reasons") {
    val nameA = s"graft_aud_quar_$pid"
    val nameV = s"graft_vid_quar_$pid"
    val (outA, outV) = (tmp("graft-audq"), tmp("graft-vidq"))
    val centsA = seed(nameA, Clustering.audioFeaturesOf(spark, _), "env",
      ClusterIndex.assignAudioBatch)
    val centsV = seed(nameV, Clustering.videoFeaturesOf(spark, _), "vfeat",
      ClusterIndex.assignVideoBatch)
    try {
      val (aud, vicA) = payloads(MediaCodecs.WavCodec.encode,
        "audio", poisonFirst = true)
      val (vid, vicV) = payloads(MediaCodecs.VideoCodec.encode,
        "video", poisonFirst = true)
      assert(AudioDedupSink.applyBatch(aud, 0L, nameA, centsA, outA))
      assert(VideoDedupSink.applyBatch(vid, 0L, nameV, centsV, outV))
      val qa = AudioDedupSink.quarantined(spark, outA).collect()
      assert(qa.map(_.getLong(0)).toSeq == Seq(vicA) &&
        qa.head.getString(1) == "WAV: bad magic (want RIFF)")
      val qv = VideoDedupSink.quarantined(spark, outV).collect()
      assert(qv.map(_.getLong(0)).toSeq == Seq(vicV) &&
        qv.head.getString(1) == "GVID: bad magic (want GVID)")
      // healthy arrivals still got verdicts
      assert(ModalDedupIngest.verdicts(spark, outA).count() ==
        aud.count() - 1)
      assert(ModalDedupIngest.verdicts(spark, outV).count() ==
        vid.count() - 1)
    } finally {
      cleanup(nameA, centsA, outA)
      cleanup(nameV, centsV, outV)
    }
  }
}
