package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.functions.MediaCodecs.PpmCodec
import graft.operators.{ClusterIndex, Clustering, IndexCommit}

/** [[ImageDedupSink]] — the streamed image-ingest verdicts must equal
  * q125's (the oracle-gated maintenance loop that runs the SAME
  * assignImageBatch/probeVerdicts functions: the q116 ≡
  * ClusterIndexSink oracle-by-proxy discipline at the multimodal
  * layer), the replay guard must skip, and the crash window across the
  * append/commit seam must replay byte-identically (the exclusion
  * leg).
  */
class ImageDedupSinkSpec extends SparkSpec {

  import spark.implicits._

  private val dir = sf0001

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** q125's corpus slices as RAW PPM payload rows — the sink decodes
    * the bytes; q125 mints from the text. Same codec ⇒ same features.
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
      .map { case (id, text) => (id, PpmCodec.encode(text)) }
      .toDF("vec_id", "image")

  /** Frozen cells + seeded history index — q125's setup verbatim
    * (Lloyd over the history slice's integer histograms, K=8, 2
    * iterations — the engine constants).
    */
  private def seed(name: String): DataFrame = {
    val path = Paths.get(IndexCommit.indexRoot, name)
    val feats = Clustering.imageFeaturesOf(spark,
        graft.core.Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text")))
      .withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .localCheckpoint(true)
    val hist = feats.filter(col("bucket") < 200).select("vec_id", "hist")
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col("hist"), x => x.cast("long")).as("qv")), 8, 2)
      .localCheckpoint(true)
    ClusterIndex.Layout.write(spark,
      ClusterIndex.assignImageBatch(hist, cents), name, path)
    feats.unpersist()
    cents
  }

  private def q125(): Seq[(Int, Long, Option[Long], Boolean)] =
    graft.SparkEntry.queries("q125_image_cluster_maintenance")(spark, dir)
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))

  private def streamed(out: String): Seq[(Int, Long, Option[Long], Boolean)] =
    ImageDedupSink.verdicts(spark, out)
      .select("batch_id", "vec_id", "dup_of", "kept").collect()
      .map(r => (r.getLong(0).toInt + 1, r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  test("streamed image verdicts equal q125's oracle-gated loop; replay skips") {
    val name = "graft_cluster_img_idstest_" + ProcessHandle.current().pid()
    val out = tmp("graft-imgdedup")
    val cents = seed(name)
    try {
      assert(ImageDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      assert(ImageDedupSink.applyBatch(
        payloadSlice(230, 256), 1L, name, cents, out))
      val got = streamed(out)
      val want = q125().sortBy(t => (t._1, t._2))
      assert(got == want,
        s"streamed verdicts must equal q125 (${got.size} vs ${want.size})")
      assert(got.exists(!_._4), "the corpus must exercise the image prune")
      // replay of a served batch: skipped, results unchanged
      assert(!ImageDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      assert(streamed(out) == want)
    } finally {
      cents.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$name")
      graft.core.Lake.deleteTree(out)
    }
  }

  test("engine restart from checkpoint continues the version chain") {
    val name = "graft_cluster_img_idsrestart_" + ProcessHandle.current().pid()
    val out = tmp("graft-imgdedup-restart")
    val ckpt = tmp("graft-imgdedup-ckpt")
    val cents = seed(name)
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Byte])]
    def start() = ImageDedupSink.attach(
      stream.toDF().toDF("vec_id", "image"), name, cents, out, ckpt)
    def rows(lo: Int, hi: Int) = payloadSlice(lo, hi).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    try {
      val q1 = start()
      try {
        stream.addData(rows(200, 230): _*)
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        stream.addData(rows(230, 256): _*)
        q2.processAllAvailable()
        assert(VersionedPointer.latest(out).exists(_ >= 1L))
      } finally q2.stop()
      assert(streamed(out) == q125().sortBy(t => (t._1, t._2)),
        "the restarted stream's verdicts must equal q125's loop")
    } finally {
      cents.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$name")
      graft.core.Lake.deleteTree(out)
    }
  }

  test("crash window: replay after a half-committed append is identical") {
    val name = "graft_cluster_img_idscrash_" + ProcessHandle.current().pid()
    val out = tmp("graft-imgdedup-crash")
    val cents = seed(name)
    try {
      assert(ImageDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      val committed = streamed(out)
      // the seam: a crashed batch-1 attempt appended its admitted rows
      // but died before the log commit — simulate by appending batch
      // 2's admitted rows out-of-band, then replaying the batch
      val b2 = ClusterIndex.assignImageBatch(
        Clustering.imageHistogramsOf(spark, payloadSlice(230, 256)), cents)
        .localCheckpoint(true)
      val verdicts = ClusterIndex.probeVerdicts(spark, name, b2,
        excludeBatchFromHistory = true).localCheckpoint(true)
      ClusterIndex.Layout.append(name,
        b2.join(verdicts.filter(col("kept")).select("vec_id"), "vec_id"))
      // replay: the batch's own half-committed rows are in the index;
      // the exclusion leg must make the verdicts identical to a clean
      // first run (which q125 defines)
      assert(ImageDedupSink.applyBatch(
        payloadSlice(230, 256), 1L, name, cents, out))
      val got = streamed(out)
      assert(got == q125().sortBy(t => (t._1, t._2)),
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

  test("restart through a crashed FIRST compaction: adoption makes the retiree restorable, verdicts stay q125's") {
    // the sharpest adoption scenario: the index's very FIRST
    // compaction crashes mid-retire on the hostile store — before
    // adoption existed, the retiree carried no marker and the one
    // copy of the assignment history was stranded unverifiable. Here
    // compact() adopts the marker-less tree in place, the crash
    // strands a SELF-VALIDATING retiree, the owner dies, and the
    // restarted owner recovers — then the resumed stream's verdicts
    // must still equal q125's oracle-gated loop (the restored history
    // is byte-equivalent) and the replay guard must still skip the
    // already-served batch.
    import graft.core.{Lake, TornRenameFileSystem}
    import graft.operators.IndexCommit
    val name = "graft_cluster_img_idsrecov_" + ProcessHandle.current().pid()
    val root = "torn:" + tmp("graft-imgdedup-recov")
    val path = Paths.get(root.stripPrefix("torn:"), "idx")
    val tornPath = Paths.get("torn:" + path.toString)
    val out = tmp("graft-imgdedup-recov-out")
    // seed() at a torn location: q125's frozen cells + seeded history
    val feats = Clustering.imageFeaturesOf(spark,
        graft.core.Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text")))
      .withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .localCheckpoint(true)
    val hist = feats.filter(col("bucket") < 200).select("vec_id", "hist")
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col("hist"), x => x.cast("long")).as("qv")), 8, 2)
      .localCheckpoint(true)
    try {
      ClusterIndex.Layout.write(spark,
        ClusterIndex.assignImageBatch(hist, cents), name, tornPath)
      feats.unpersist()
      assert(ImageDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))

      TornRenameFileSystem.armDelete("imgdedup-recov", afterNFiles = 1)
      intercept[java.io.IOException](
        ClusterIndex.Layout.compact(spark, name, tornPath))
      assert(TornRenameFileSystem.deleteCrashes > 0)
      TornRenameFileSystem.disarm()
      assert(!IndexCommit.treeBound(tornPath),
        "the swept destination must be unbound")

      // the owner dies: catalog gone, retiree orphaned
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val deadPid = Iterator.iterate(3999999999L)(_ - 7)
        .find(p => !ProcessHandle.of(p).isPresent).get
      java.nio.file.Files.move(
        Paths.get(path.toString + ".old-" + ProcessHandle.current().pid()),
        Paths.get(path.toString + ".old-" + deadPid))

      assert(ClusterIndex.Layout.recover(spark, name, tornPath),
        "adoption must have made the first compaction's retiree restorable")

      // the restarted stream: replay guard still skips batch 0...
      assert(!ImageDedupSink.applyBatch(
        payloadSlice(200, 230), 0L, name, cents, out))
      // ...and batch 1 applies against the restored history — the
      // verdicts equal the oracle-gated loop's, proving the restore
      // byte-equivalent
      assert(ImageDedupSink.applyBatch(
        payloadSlice(230, 256), 1L, name, cents, out))
      assert(streamed(out) == q125().sortBy(t => (t._1, t._2)),
        "the recovered stream's verdicts must equal q125's loop")
    } finally {
      TornRenameFileSystem.disarm()
      cents.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(root)
      Lake.deleteTree(out)
    }
  }
}
