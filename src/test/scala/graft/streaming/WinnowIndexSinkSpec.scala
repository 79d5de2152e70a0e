package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{FpIndex, RelationalSplice, Winnow}

/** The continuous char-dedup sink: micro-batch cleaned docs must equal
  * the batch maintenance loop (probe → splice → append per batch,
  * q112's shape), survive engine restart from checkpoint, and — the
  * seam this sink exists to close — replay a batch whose previous
  * attempt appended its fingerprints but crashed before committing the
  * log, emitting byte-identical cleaned docs anyway.
  */
class WinnowIndexSinkSpec extends SparkSpec {

  import spark.implicits._

  // two exact-substring families (39-char shared segments = the w+k-1
  // winnowing guarantee length) + unrelated controls
  private val seg1 = "GRAFT SHARED BOILERPLATE SEGMENT NUMBER"
  private val seg2 = "ANOTHER EXACTLY REPEATED SEGMENT MARKER"
  private val d1 = s"alpha preamble text long enough to winnow $seg1 alpha tail section here"
  private val d2 = s"a completely different document opening $seg1 with its own distinct ending"
  private val e1 = s"first carrier of the second family text $seg2 closing words of the carrier"
  private val e2 = s"second carrier with other surroundings $seg2 and a different tail entirely"
  private val u1 = "this control document shares no thirty-char gram with either of the others"
  private val u2 = "another disjoint document mentioning brokers topics and partition logs"

  assert(seg1.length == Winnow.K + Winnow.W - 1)
  assert(seg2.length == Winnow.K + Winnow.W - 1)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def freshIndex(tag: String): String = {
    val name = s"graft_winnow_idx_$tag"
    FpIndex.Layout.initIndex(spark, name,
      java.nio.file.Paths.get(tmp(s"graft-winnow-$tag"), "idx"))
    name
  }

  private def cleanMap(df: DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap

  /** One step of the batch twin: probe, splice, append — q112's loop. */
  private def twinStep(name: String, rows: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val df = rows.toDF("doc_id", "text")
    val spans = FpIndex.probeSpans(spark, name, df)._1
      .select(col("doc_id"), col("span_start").as("s"), col("span_end").as("e"))
    val alld = df.select(col("doc_id"), trim(col("text")).as("tx"))
      .withColumn("n", length(col("tx")))
    val out = cleanMap(RelationalSplice.spliceClean(alld, spans).localCheckpoint(true))
    FpIndex.append(spark, name, df)
    out
  }

  test("stream cleaned docs equal the batch maintenance loop, across batches") {
    val name = freshIndex("e2e")
    val outDir = tmp("graft-winnow-out")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = WinnowIndexSink.attach(
      stream.toDF().toDF("doc_id", "text"), name, outDir, tmp("graft-winnow-ckpt"))
    try {
      stream.addData((1L, d1), (2L, u1), (3L, d2)) // 3 dups 1 within batch
      q.processAllAvailable()
      stream.addData((4L, e1), (5L, d2 + " again")) // 5 dups history doc 1/3
      q.processAllAvailable()
      stream.addData((6L, e2), (7L, u2)) // 6 dups history doc 4
      q.processAllAvailable()
    } finally q.stop()

    val dec = cleanMap(WinnowIndexSink.cleanedDocs(spark, outDir))
    assert(dec.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // owners and controls keep their text; later family members lose
    // the shared segment
    assert(dec(1L)._1 == 0L && dec(1L)._3.contains(seg1))
    assert(dec(2L)._1 == 0L && dec(2L)._3 == u1)
    assert(dec(3L)._1 >= 1L && !dec(3L)._3.contains(seg1))
    assert(dec(4L)._1 == 0L && dec(4L)._3.contains(seg2))
    assert(dec(5L)._1 >= 1L && !dec(5L)._3.contains(seg1))
    assert(dec(6L)._1 >= 1L && !dec(6L)._3.contains(seg2))
    assert(dec(7L)._1 == 0L && dec(7L)._3 == u2)

    // twin: the batch maintenance loop over the same batches
    val twin = freshIndex("twin")
    val twinDec = Seq(
      Seq((1L, d1), (2L, u1), (3L, d2)),
      Seq((4L, e1), (5L, d2 + " again")),
      Seq((6L, e2), (7L, u2))).map(twinStep(twin, _)).reduce(_ ++ _)
    assert(dec == twinDec)
  }

  test("replay after crash-between-append-and-commit emits identical docs") {
    val name = freshIndex("seam")
    val outDir = tmp("graft-winnow-seam")
    val batch0 = Seq((1L, d1), (2L, u1)).toDF("doc_id", "text")
    assert(WinnowIndexSink.applyBatch(batch0, 0L, name, outDir))

    val batch1 = Seq((3L, d2), (4L, e1), (5L, e2)).toDF("doc_id", "text")
    def spansOf(exclude: Boolean): Set[(Long, Long, Long, Long)] =
      FpIndex.probeSpans(spark, name, batch1, exclude)._1.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    // what a clean application WOULD decide (exclusion is a no-op on a
    // pre-append index, asserted)
    val clean = spansOf(exclude = true)
    assert(clean == spansOf(exclude = false),
      "exclusion must be a no-op before any append of this batch")

    // crash window: fingerprints appended, log NOT committed
    FpIndex.append(spark, name, batch1)
    // without exclusion the replayed probe sees the batch docs' own
    // fingerprints as history — every doc's whole text becomes a span
    assert(spansOf(exclude = false) != clean,
      "seam must be real: naive replay diverges")
    assert(spansOf(exclude = true) == clean,
      "exclusion must make the probe idempotent")

    // the sink's replay: pointer still at 0, so it re-applies — and must
    // reproduce the clean docs despite the half-committed append
    assert(WinnowIndexSink.applyBatch(batch1, 1L, name, outDir))
    val committed = cleanMap(WinnowIndexSink.cleanedDocs(spark, outDir)
      .filter(col("batch_id") === 1L))
    assert(committed(3L)._1 >= 1L && !committed(3L)._3.contains(seg1))
    assert(committed(4L)._1 == 0L && committed(4L)._3.contains(seg2))
    assert(committed(5L)._1 >= 1L && !committed(5L)._3.contains(seg2))

    // and the double append cannot change a LATER batch's spans: doc 6
    // shares seg1 with doc 1 (single append) AND doc 3 (double append);
    // distinct hits mean one clean span either way
    val batch2 = Seq((6L, s"closing batch doc that repeats $seg1 one more time")).toDF("doc_id", "text")
    assert(WinnowIndexSink.applyBatch(batch2, 2L, name, outDir))
    val d6 = cleanMap(WinnowIndexSink.cleanedDocs(spark, outDir)
      .filter(col("batch_id") === 2L))(6L)
    assert(d6._1 == 1L && !d6._3.contains(seg1))

    // fully-committed replay is skipped by the pointer gate
    assert(!WinnowIndexSink.applyBatch(batch1, 1L, name, outDir))
  }

  test("engine restart from checkpoint resumes exactly-once") {
    val name = freshIndex("restart")
    val outDir = tmp("graft-winnow-ro")
    val ckpt = tmp("graft-winnow-rc")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q1 = WinnowIndexSink.attach(
      stream.toDF().toDF("doc_id", "text"), name, outDir, ckpt)
    try {
      stream.addData((1L, d1), (2L, u1))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint; feed a dup of history
    val q2 = WinnowIndexSink.attach(
      stream.toDF().toDF("doc_id", "text"), name, outDir, ckpt)
    try {
      stream.addData((3L, d2), (4L, u2))
      q2.processAllAvailable()
    } finally q2.stop()

    val dec = cleanMap(WinnowIndexSink.cleanedDocs(spark, outDir))
    assert(dec.keySet == Set(1L, 2L, 3L, 4L))
    assert(dec(1L)._1 == 0L && dec(4L)._1 == 0L)
    assert(dec(3L)._1 >= 1L && !dec(3L)._3.contains(seg1),
      "doc 1 survived the restart as history")
  }

  test("restart through a crashed compaction: recover restores the history, the stream resumes") {
    // the sink's index has no rebuild path — its history IS the
    // stream. A maintenance compaction between stream incarnations
    // crashes during the retire's delete sweep on the hostile store:
    // the destination is partially swept (unbound), the complete
    // history sits in the retiree, self-validating because the FIRST
    // compaction ADOPTED the marker-less tree (marker bound in place)
    // before retiring it. The owner process dies; the restarted owner
    // recovers through FpIndex.recover — restore + re-register — and
    // the stream resumes with its history intact.
    import graft.core.{Lake, TornRenameFileSystem}
    import graft.operators.IndexCommit
    val name = "graft_winnow_idx_recov"
    val root = "torn:" + tmp("graft-winnow-recov")
    val path = java.nio.file.Paths.get(root.stripPrefix("torn:"), "idx")
    val tornPath = java.nio.file.Paths.get("torn:" + path.toString)
    FpIndex.Layout.initIndex(spark, name, tornPath)
    val outDir = tmp("graft-winnow-ko")
    val ckpt = tmp("graft-winnow-kc")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    try {
      val q1 = WinnowIndexSink.attach(
        stream.toDF().toDF("doc_id", "text"), name, outDir, ckpt)
      try {
        stream.addData((1L, d1), (2L, u1))
        q1.processAllAvailable()
      } finally q1.stop()

      TornRenameFileSystem.armDelete("winnow-recov", afterNFiles = 1)
      intercept[java.io.IOException](FpIndex.Layout.compact(spark, name, tornPath))
      assert(TornRenameFileSystem.deleteCrashes > 0)
      TornRenameFileSystem.disarm()
      assert(!IndexCommit.treeBound(tornPath),
        "the swept destination must be unbound")

      // the owner "dies": catalog gone, its retiree orphaned
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val retired = java.nio.file.Paths.get(path.toString + ".old-" +
        ProcessHandle.current().pid())
      assert(java.nio.file.Files.exists(retired))
      val deadPid = Iterator.iterate(3999999999L)(_ - 7)
        .find(p => !ProcessHandle.of(p).isPresent).get
      java.nio.file.Files.move(retired,
        java.nio.file.Paths.get(path.toString + ".old-" + deadPid))

      assert(FpIndex.Layout.recover(spark, name, tornPath),
        "the restarted owner must restore the crash-stranded retiree")

      val q2 = WinnowIndexSink.attach(
        stream.toDF().toDF("doc_id", "text"), name, outDir, ckpt)
      try {
        stream.addData((3L, d2), (4L, u2))
        q2.processAllAvailable()
      } finally q2.stop()

      val dec = cleanMap(WinnowIndexSink.cleanedDocs(spark, outDir))
      assert(dec.keySet == Set(1L, 2L, 3L, 4L))
      assert(dec(3L)._1 >= 1L && !dec(3L)._3.contains(seg1),
        "doc 1's history must survive the crashed compaction")
      assert(dec(1L)._1 == 0L && dec(4L)._1 == 0L)
    } finally {
      TornRenameFileSystem.disarm()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(root)
    }
  }
}
