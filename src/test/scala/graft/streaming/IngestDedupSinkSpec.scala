package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.BandIndex

/** The continuous-ingest dedup sink: micro-batch decisions must equal
  * the batch maintenance loop (probe → append per batch, q87's shape),
  * survive engine restart from checkpoint, and — the seam this sink
  * exists to close — replay a batch whose previous attempt appended its
  * bands but crashed before committing the decision log, emitting
  * byte-identical decisions anyway.
  */
class IngestDedupSinkSpec extends SparkSpec {

  import spark.implicits._

  // three near-dup families (docs sharing 3-gram shingles) + unrelated
  private val a1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val a2 = "alpha beta gamma delta epsilon zeta eta theta iota mu"
  private val b1 = "one two three four five six seven eight nine ten"
  private val b2 = "one two three four five six seven eight nine eleven"
  private val u1 = "totally unrelated words about parquet footers and shuffles"
  private val u2 = "another disjoint document mentioning brokers topics and logs"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def freshIndex(tag: String): String = {
    val name = s"graft_ingest_idx_$tag"
    BandIndex.Layout.initIndex(spark, name,
      java.nio.file.Paths.get(tmp(s"graft-ingest-$tag"), "idx"))
    name
  }

  private def decMap(df: DataFrame): Map[Long, (Long, Long, Boolean)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap

  test("stream decisions equal the batch maintenance loop, across batches") {
    val name = freshIndex("e2e")
    val outDir = tmp("graft-ingest-out")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = IngestDedupSink.attach(
      stream.toDF().toDF("doc_id", "text"), name, outDir, tmp("graft-ingest-ckpt"))
    try {
      stream.addData((1L, a1), (2L, u1), (3L, a2)) // 3 near-dups 1 within batch
      q.processAllAvailable()
      stream.addData((4L, b1), (5L, a1)) // 5 near-dups history doc 1 (and 3)
      q.processAllAvailable()
      stream.addData((6L, b2), (7L, u2)) // 6 near-dups history doc 4
      q.processAllAvailable()
    } finally q.stop()

    val dec = decMap(IngestDedupSink.decisions(spark, outDir))
    assert(dec(1L) == (0L, 0L, true))
    assert(dec(2L) == (0L, 0L, true))
    assert(dec(3L) == (0L, 1L, false)) // within-batch partner: doc 1
    assert(dec(4L) == (0L, 0L, true))
    assert(dec(5L) == (2L, 0L, false)) // history partners: docs 1 and 3
    assert(dec(6L) == (1L, 0L, false)) // history partner: doc 4
    assert(dec(7L) == (0L, 0L, true))

    // twin: the batch maintenance loop over the same batches
    val twin = freshIndex("twin")
    val batches = Seq(
      Seq((1L, a1), (2L, u1), (3L, a2)),
      Seq((4L, b1), (5L, a1)),
      Seq((6L, b2), (7L, u2)))
    val twinDec = batches.map { rows =>
      val df = rows.toDF("doc_id", "text")
      val d = decMap(BandIndex.probeIndex(spark, twin, df)._1)
      BandIndex.append(spark, twin, df)
      d
    }.reduce(_ ++ _)
    assert(dec == twinDec)
  }

  test("replay after crash-between-append-and-commit emits identical decisions") {
    val name = freshIndex("seam")
    val outDir = tmp("graft-ingest-seam")
    val batch0 = Seq((1L, a1), (2L, u1)).toDF("doc_id", "text")
    assert(IngestDedupSink.applyBatch(batch0, 0L, name, outDir))

    val batch1 = Seq((3L, a2), (4L, b1), (5L, b2)).toDF("doc_id", "text")
    // what a clean application WOULD decide (computed replay-safe on a
    // pre-append index: exclusion is a no-op there, asserted below)
    val clean = decMap(BandIndex.probeIndex(spark, name, batch1,
      excludeBatchFromHistory = true)._1)
    assert(clean == decMap(BandIndex.probeIndex(spark, name, batch1)._1),
      "exclusion must be a no-op before any append of this batch")

    // crash window: bands appended, decision log NOT committed
    BandIndex.append(spark, name, batch1)
    // without exclusion the replayed probe would now see batch docs as
    // their own history (e.g. doc 4 finds doc 5's bands and vice versa)
    val poisoned = decMap(BandIndex.probeIndex(spark, name, batch1)._1)
    assert(poisoned != clean, "seam must be real: naive replay diverges")

    // the sink's replay: pointer still at 0, so it re-applies — and must
    // reproduce the clean decisions despite the half-committed append
    assert(IngestDedupSink.applyBatch(batch1, 1L, name, outDir))
    val committed = decMap(IngestDedupSink.decisions(spark, outDir)
      .filter(col("batch_id") === 1L))
    assert(committed == clean)
    assert(committed(3L) == (1L, 0L, false)) // history partner: doc 1
    assert(committed(4L) == (0L, 0L, true)) // first of its family: admitted
    assert(committed(5L) == (0L, 1L, false)) // within-batch partner: doc 4 (keep-first)

    // and the double append cannot change a LATER batch's counts:
    // doc 6 near-dups doc 4 exactly once despite doc 4's duplicate bands
    val batch2 = Seq((6L, b1 + " extra")).toDF("doc_id", "text")
    assert(IngestDedupSink.applyBatch(batch2, 2L, name, outDir))
    val d6 = decMap(IngestDedupSink.decisions(spark, outDir)
      .filter(col("batch_id") === 2L))(6L)
    assert(d6._1 >= 1L && d6._3 == false)
    val partners = BandIndex.probeIndex(spark, name,
      Seq((6L, b1 + " extra")).toDF("doc_id", "text"),
      excludeBatchFromHistory = true)._1
      .select("n_hist_dups").head().getLong(0)
    assert(partners == d6._1, "distinct-count probes must dedup double-appended bands")

    // fully-committed replay is skipped by the pointer gate
    assert(!IngestDedupSink.applyBatch(batch1, 1L, name, outDir))
  }

  test("engine restart from checkpoint resumes exactly-once") {
    val name = freshIndex("restart")
    val outDir = tmp("graft-ingest-ro")
    val ckpt = tmp("graft-ingest-rc")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q1 = IngestDedupSink.attach(
      stream.toDF().toDF("doc_id", "text"), name, outDir, ckpt)
    try {
      stream.addData((1L, a1), (2L, u1))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint; feed a near-dup of history
    val q2 = IngestDedupSink.attach(
      stream.toDF().toDF("doc_id", "text"), name, outDir, ckpt)
    try {
      stream.addData((3L, a2), (4L, u2))
      q2.processAllAvailable()
    } finally q2.stop()

    val dec = decMap(IngestDedupSink.decisions(spark, outDir))
    assert(dec.keySet == Set(1L, 2L, 3L, 4L))
    assert(dec(1L)._3 && dec(2L)._3 && dec(4L)._3)
    assert(dec(3L) == (1L, 0L, false)) // doc 1 survived the restart as history
  }
}
