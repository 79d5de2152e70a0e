package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[AnnServeSink]] — the streamed top-k results must equal q117's
  * (the oracle-gated batch probe over the same persisted index: the
  * q116 ≡ ClusterIndexSink oracle-by-proxy discipline), and the
  * pointer-protocol legs must hold (replay skip, crash-window
  * recompute, restart from checkpoint).
  */
class AnnServeSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The q117 query set (vec_id < 8) as RAW (q_id, embedding) rows —
    * the sink re-derives qv/qn/qq from the raw floats, so equality
    * with q117 (which reads them from the index) also pins
    * [[graft.operators.Clustering.annQueriesOf]]'s lift.
    */
  private def queryRows() =
    graft.core.Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding"))

  private def q117(): Seq[(Long, Int, Long, Double)] =
    graft.SparkEntry.queries("q117_ann_indexed")(spark, sf0001)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  private def served(dir: String): Seq[(Long, Int, Long, Double)] =
    AnnServeSink.results(spark, dir)
      .select("q_id", "rank", "n_id", "cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  test("streamed top-k equals q117's oracle-gated probe; replay skips") {
    val dir = tmp("graft-annserve")
    val qs = queryRows()
    // two batches: queries 0-3, then 4-7
    assert(AnnServeSink.applyBatch(qs.filter(col("q_id") < 4), 0L, sf0001, dir))
    assert(AnnServeSink.applyBatch(qs.filter(col("q_id") >= 4), 1L, sf0001, dir))
    val got = served(dir)
    val want = q117()
    assert(got == want,
      s"streamed results must equal q117 exactly (${got.size} vs ${want.size})")
    assert(got.nonEmpty && got.map(_._1).distinct.size == 8)
    // replay of an already-served batch: skipped, results unchanged
    assert(!AnnServeSink.applyBatch(qs.filter(col("q_id") < 4), 0L, sf0001, dir))
    assert(served(dir) == want)
  }

  test("crash window: orphan version dir is invisible, then recomputed") {
    val dir = tmp("graft-annserve-crash")
    val qs = queryRows()
    assert(AnnServeSink.applyBatch(qs.filter(col("q_id") < 4), 0L, sf0001, dir))
    val committed = served(dir)
    // torn write: v=1 exists with junk, pointer never advanced
    Seq((999L, 1, 999L, 0.0, 1L))
      .toDF("q_id", "rank", "n_id", "cos", "batch_id")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(served(dir) == committed, "uncommitted junk must be invisible")
    // the replay overwrites the orphan with the real results
    assert(AnnServeSink.applyBatch(qs.filter(col("q_id") >= 4), 1L, sf0001, dir))
    assert(served(dir) == q117())
  }

  test("engine restart from checkpoint continues the version chain") {
    val dir = tmp("graft-annserve-restart")
    val ckpt = tmp("graft-annserve-ckpt")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    def start() = AnnServeSink.attach(
      stream.toDF().toDF("q_id", "embedding"), sf0001, dir, ckpt)
    val rows = queryRows().collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q1 = start()
    try {
      stream.addData(rows.filter(_._1 < 4): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      stream.addData(rows.filter(_._1 >= 4): _*)
      q2.processAllAvailable()
      assert(VersionedPointer.latest(dir).exists(_ >= 1L))
    } finally q2.stop()
    assert(served(dir) == q117())
  }
}
