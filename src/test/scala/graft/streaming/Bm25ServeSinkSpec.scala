package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Retrieval

/** [[Bm25ServeSink]] — the streamed top-k must equal q91's (the
  * oracle-gated batch probe over the same persisted postings index:
  * the AnnServeSink oracle-by-proxy discipline at the lexical layer),
  * and the pointer-protocol legs must hold (replay skip, crash-window
  * recompute, restart from checkpoint continuing the version chain).
  */
class Bm25ServeSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** q91's query set as (q_id, terms) stream rows. */
  private def queryRows() =
    Retrieval.QueryTerms.groupBy(_._1).toSeq
      .map { case (q, ts) => (q, ts.map(_._2)) }
      .toDF("q_id", "terms")

  private def q91(): Seq[(Long, Int, Long, Long, Long)] =
    graft.SparkEntry.queries("q91_bm25_indexed")(spark, sf0001)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))

  private def served(dir: String): Seq[(Long, Int, Long, Long, Long)] =
    Bm25ServeSink.results(spark, dir)
      .select("q_id", "rank", "doc_id", "n_hit", "bm25_micro").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq.sortBy(t => (t._1, t._2))

  test("streamed top-k equals q91's oracle-gated probe; replay skips") {
    val dir = tmp("graft-bm25serve")
    val qs = queryRows()
    // two batches: query 1, then queries 2-3
    assert(Bm25ServeSink.applyBatch(qs.filter(col("q_id") === 1), 0L, sf0001, dir))
    assert(Bm25ServeSink.applyBatch(qs.filter(col("q_id") > 1), 1L, sf0001, dir))
    val got = served(dir)
    val want = q91()
    assert(got == want,
      s"streamed results must equal q91 exactly (${got.size} vs ${want.size})")
    assert(got.nonEmpty && got.map(_._1).distinct.size == 3)
    // replay of an already-served batch: skipped, results unchanged
    assert(!Bm25ServeSink.applyBatch(qs.filter(col("q_id") === 1), 0L, sf0001, dir))
    assert(served(dir) == want)
  }

  test("crash window: orphan version dir invisible, then recomputed") {
    val dir = tmp("graft-bm25serve-crash")
    val qs = queryRows()
    assert(Bm25ServeSink.applyBatch(qs.filter(col("q_id") === 1), 0L, sf0001, dir))
    val committed = served(dir)
    Seq((999L, 1, 999L, 9L, 9L, 1L))
      .toDF("q_id", "rank", "doc_id", "n_hit", "bm25_micro", "batch_id")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(served(dir) == committed, "uncommitted junk must be invisible")
    assert(Bm25ServeSink.applyBatch(qs.filter(col("q_id") > 1), 1L, sf0001, dir))
    assert(served(dir) == q91())
  }

  test("engine restart from checkpoint continues the version chain") {
    val dir = tmp("graft-bm25serve-restart")
    val ckpt = tmp("graft-bm25serve-ckpt")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String])]
    def start() = Bm25ServeSink.attach(
      stream.toDF().toDF("q_id", "terms"), sf0001, dir, ckpt)
    val rows = Retrieval.QueryTerms.groupBy(_._1).toSeq
      .map { case (q, ts) => (q, ts.map(_._2)) }
    val q1 = start()
    try {
      stream.addData(rows.filter(_._1 == 1L): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      stream.addData(rows.filter(_._1 > 1L): _*)
      q2.processAllAvailable()
      assert(VersionedPointer.latest(dir).exists(_ >= 1L))
    } finally q2.stop()
    assert(served(dir) == q91())
  }
}
