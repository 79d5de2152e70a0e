package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.MediaCodecs.WavCodec
import graft.operators.{ClusterIndex, Clustering, IndexCommit}

/** [[AudioDedupSink]] — the streamed audio-ingest verdicts must equal
  * q127's (the oracle-gated maintenance loop that runs the SAME
  * assignAudioBatch/probeVerdicts functions: the q125 ≡ ImageDedupSink
  * discipline at the audio layer) and the replay/crash seams must
  * hold. The restart-from-checkpoint leg is the shared
  * [[ModalDedupIngest]] attach body's, pinned for the family by
  * ImageDedupSinkSpec.
  */
class AudioDedupSinkSpec extends SparkSpec {

  import spark.implicits._

  private val dir = sf0001

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** q127's corpus slices as RAW WAV payload rows — the sink decodes
    * the bytes; q127 mints from the text. Same codec ⇒ same features.
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
      .map { case (id, text) => (id, WavCodec.encode(text)) }
      .toDF("vec_id", "audio")

  /** Frozen cells + seeded history index — q127's setup verbatim
    * (Lloyd over the history slice's integer envelopes, K=8, 2
    * iterations — the engine constants).
    */
  private def seed(name: String): DataFrame = {
    val path = Paths.get(IndexCommit.indexRoot, name)
    val feats = Clustering.audioFeaturesOf(spark,
        graft.core.Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text")))
      .withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .localCheckpoint(true)
    val hist = feats.filter(col("bucket") < 200).select("vec_id", "env")
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col("env"), x => x.cast("long")).as("qv")), 8, 2)
      .localCheckpoint(true)
    ClusterIndex.Layout.write(spark,
      ClusterIndex.assignAudioBatch(hist, cents), name, path)
    feats.unpersist()
    cents
  }

  private def q127(): Seq[(Int, Long, Option[Long], Boolean)] =
    graft.SparkEntry.queries("q127_audio_cluster_maintenance")(spark, dir)
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))

  private def streamed(out: String): Seq[(Int, Long, Option[Long], Boolean)] =
    AudioDedupSink.verdicts(spark, out)
      .select("batch_id", "vec_id", "dup_of", "kept").collect()
      .map(r => (r.getLong(0).toInt + 1, r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  test("streamed audio verdicts equal q127's oracle-gated loop; replay skips") {
    val name = "graft_cluster_aud_idstest_" + ProcessHandle.current().pid()
    val out = tmp("graft-auddedup")
    val cents = seed(name)
    try {
      assert(AudioDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      assert(AudioDedupSink.applyBatch(
        payloadSlice(230, 256), 1L, name, cents, out))
      val got = streamed(out)
      val want = q127().sortBy(t => (t._1, t._2))
      assert(got == want,
        s"streamed verdicts must equal q127 (${got.size} vs ${want.size})")
      assert(got.exists(!_._4), "the corpus must exercise the audio prune")
      // replay of a served batch: skipped, results unchanged
      assert(!AudioDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      assert(streamed(out) == want)
    } finally {
      cents.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$name")
      graft.core.Lake.deleteTree(out)
    }
  }

  test("crash window: replay after a half-committed append is identical") {
    val name = "graft_cluster_aud_idscrash_" + ProcessHandle.current().pid()
    val out = tmp("graft-auddedup-crash")
    val cents = seed(name)
    try {
      assert(AudioDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      val committed = streamed(out)
      // the seam: a crashed batch-1 attempt appended its admitted rows
      // but died before the log commit — simulate by appending batch
      // 2's admitted rows out-of-band, then replaying the batch
      val b2 = ClusterIndex.assignAudioBatch(
        Clustering.audioEnvelopesOf(spark, payloadSlice(230, 256)), cents)
        .localCheckpoint(true)
      val verdicts = ClusterIndex.probeVerdicts(spark, name, b2,
        excludeBatchFromHistory = true).localCheckpoint(true)
      ClusterIndex.Layout.append(name,
        b2.join(verdicts.filter(col("kept")).select("vec_id"), "vec_id"))
      // replay: the batch's own half-committed rows are in the index;
      // the exclusion leg must make the verdicts identical to a clean
      // first run (which q127 defines)
      assert(AudioDedupSink.applyBatch(
        payloadSlice(230, 256), 1L, name, cents, out))
      val got = streamed(out)
      assert(got == q127().sortBy(t => (t._1, t._2)),
        "replay-after-append must emit the clean run's verdicts")
      assert(got.take(committed.size) == committed)
      b2.unpersist(); verdicts.unpersist()
    } finally {
      cents.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$name")
      graft.core.Lake.deleteTree(out)
    }
  }
}
