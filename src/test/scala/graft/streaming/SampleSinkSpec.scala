package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Continuously-maintained bottom-k weighted sample: the mergeability
  * claim (stream ≡ q97-style batch recompute over everything ingested,
  * at EQUALITY after every batch), the exactly-once replay guard, the
  * crash-window recompute, and engine-level restart from checkpoint.
  */
class SampleSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Synthetic docs with varying weights (token counts 1..80, capped
    * at 64 by the sink) keyed so batches are disjoint.
    */
  private def docs(ids: Range): Seq[(Long, String)] =
    ids.map(i => (i.toLong, Seq.fill(1 + (i * 7) % 80)("tok").mkString(" ")))

  private def batchDf(ids: Range) = docs(ids).toDF("doc_id", "text")

  private def sampleRows(dir: String): Seq[(Long, Int, Long)] =
    SampleSink.sample(spark, dir).orderBy("priority", "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  /** The batch-recompute twin: q97's bottom-k over ALL rows seen. */
  private def recompute(ids: Range): Seq[(Long, Int, Long)] =
    SampleSink.prioritized(batchDf(ids))
      .orderBy(col("priority"), col("doc_id")).limit(SampleSink.K)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("stream of batches equals the batch recompute after every batch") {
    val dir = tmp("graft-sample")
    assert(SampleSink.applyBatch(batchDf(0 until 100), 0L, dir))
    assert(sampleRows(dir) == recompute(0 until 100))
    assert(SampleSink.applyBatch(batchDf(100 until 400), 1L, dir))
    assert(sampleRows(dir) == recompute(0 until 400))
    assert(SampleSink.applyBatch(batchDf(400 until 450), 2L, dir))
    assert(sampleRows(dir) == recompute(0 until 450))
    // non-vacuous: later batches actually displaced earlier picks
    assert(recompute(0 until 100) != recompute(0 until 450))
    assert(sampleRows(dir).size == SampleSink.K)
  }

  test("a replayed batch is skipped; the sample is unchanged") {
    val dir = tmp("graft-sample-replay")
    assert(SampleSink.applyBatch(batchDf(0 until 200), 0L, dir))
    val before = sampleRows(dir)
    assert(!SampleSink.applyBatch(batchDf(0 until 200), 0L, dir))
    assert(sampleRows(dir) == before)
    assert(VersionedPointer.latest(dir).contains(0L))
  }

  test("crash between version write and pointer move recomputes identically") {
    val dir = tmp("graft-sample-crash")
    assert(SampleSink.applyBatch(batchDf(0 until 100), 0L, dir))
    // simulate the crash window: v=1 fully written, pointer NOT moved —
    // the replayed applyBatch must ignore the orphan slot (it reads the
    // POINTER version) and recompute the same bytes into it
    SampleSink.prioritized(batchDf(100 until 150))
      .orderBy(col("priority"), col("doc_id")).limit(SampleSink.K)
      .write.mode("overwrite").parquet(s"$dir/v=1") // wrong content on purpose
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(SampleSink.applyBatch(batchDf(100 until 150), 1L, dir))
    assert(VersionedPointer.latest(dir).contains(1L))
    assert(sampleRows(dir) == recompute(0 until 150))
  }

  test("engine restart from checkpoint continues the version chain") {
    val dir = tmp("graft-sample-restart")
    val ckpt = tmp("graft-sample-ckpt")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    def start() = SampleSink.attach(
      stream.toDF().toDF("doc_id", "text"), dir, ckpt)
    val q1 = start()
    try {
      stream.addData(docs(0 until 150): _*)
      q1.processAllAvailable()
      assert(sampleRows(dir) == recompute(0 until 150))
    } finally q1.stop()
    val q2 = start()
    try {
      stream.addData(docs(150 until 300): _*)
      q2.processAllAvailable()
      assert(sampleRows(dir) == recompute(0 until 300))
      assert(VersionedPointer.latest(dir).exists(_ >= 1L))
    } finally q2.stop()
    // vacuum keeps the pointer-resolved version readable
    VersionedPointer.vacuum(dir, 1)
    assert(sampleRows(dir) == recompute(0 until 300))
  }
}
