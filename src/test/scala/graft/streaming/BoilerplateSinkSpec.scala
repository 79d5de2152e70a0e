package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[BoilerplateSink]] — the streamed verdicts equal q120's
  * oracle-gated rows for the same markup docs (oracle reach by proxy),
  * and the pointer-protocol legs hold. The sink is stateless, so the
  * equivalence is the whole correctness story.
  */
class BoilerplateSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** q120's fixture corpus as raw (doc_id, markup) rows — the same
    * shared SQL text the query and its oracle evaluate.
    */
  private def markupDocs() =
    graft.core.Tables(spark, sf0001, "documents")
      .select(col("doc_id"),
        expr(graft.operators.TextAnalysis.BoilerplateFixtureSql).as("text"))

  private def q120(): Seq[(Long, String, Int, Int, Int, Int, Int)] =
    graft.SparkEntry.queries("q120_boilerplate_extract")(spark, sf0001)
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))

  private def served(dir: String): Seq[(Long, String, Int, Int, Int, Int, Int)] =
    BoilerplateSink.decisions(spark, dir)
      .select("doc_id", "clean_text", "n_lines", "n_kept", "n_short",
        "n_link", "n_stop")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))
      .toSeq.sortBy(_._1)

  test("streamed verdicts equal q120's oracle-gated rows; replay skips") {
    val dir = tmp("graft-bp-sink")
    val docs = markupDocs()
    assert(BoilerplateSink.applyBatch(
      docs.filter(col("doc_id") % 2 === 0), 0L, dir))
    assert(BoilerplateSink.applyBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, dir))
    val got = served(dir)
    assert(got == q120(), "streamed extraction must equal q120 exactly")
    // the admit flag tracks clean-text survival
    val admits = BoilerplateSink.decisions(spark, dir)
      .select("doc_id", "clean_text", "admit").collect()
    admits.foreach(r =>
      assert(r.getBoolean(2) == r.getString(1).nonEmpty))
    assert(admits.exists(!_.getBoolean(2)) || admits.forall(_.getBoolean(2)))
    // replay of an already-extracted batch: skipped, results unchanged
    assert(!BoilerplateSink.applyBatch(
      docs.filter(col("doc_id") % 2 === 0), 0L, dir))
    assert(served(dir) == q120())
  }

  test("crash window: orphan version is invisible, then recomputed") {
    val dir = tmp("graft-bp-crash")
    val docs = markupDocs()
    assert(BoilerplateSink.applyBatch(
      docs.filter(col("doc_id") % 2 === 0), 0L, dir))
    val committed = served(dir)
    Seq((999L, "junk", 1, 1, 0, 0, 0, true, 1L))
      .toDF("doc_id", "clean_text", "n_lines", "n_kept", "n_short",
        "n_link", "n_stop", "admit", "batch_id")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(served(dir) == committed, "uncommitted junk must be invisible")
    assert(BoilerplateSink.applyBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, dir))
    assert(served(dir) == q120())
  }

  test("engine restart from checkpoint continues the version chain") {
    val dir = tmp("graft-bp-restart")
    val ckpt = tmp("graft-bp-ckpt")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    def start() = BoilerplateSink.attach(
      stream.toDF().toDF("doc_id", "text"), dir, ckpt)
    val rows = markupDocs().collect().map(r => (r.getLong(0), r.getString(1)))
    val q1 = start()
    try {
      stream.addData(rows.filter(_._1 % 2 == 0): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      stream.addData(rows.filter(_._1 % 2 == 1): _*)
      q2.processAllAvailable()
      assert(VersionedPointer.latest(dir).exists(_ >= 1L))
    } finally q2.stop()
    assert(served(dir) == q120())
  }
}
