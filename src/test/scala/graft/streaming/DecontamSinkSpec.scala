package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[DecontamSink]] — the streamed verdicts equal the batch q53 report
  * for the same docs, the admitted set equals q105's applied corpus,
  * and the pointer-protocol legs hold (replay skip, crash-window
  * recompute, restart from checkpoint).
  */
class DecontamSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The q53 corpus side (bucket < 250) as raw (doc_id, text) rows. */
  private def corpusDocs(): DataFrame = {
    val bucket = conv(
      substring(md5(concat_ws(":",
        coalesce(col("lang"), lit("")), col("doc_id"))), 1, 2),
      16, 10).cast("int")
    graft.core.Tables(spark, sf0001, "documents")
      .withColumn("bucket", bucket)
      .filter(col("bucket") < 250)
      .select(col("doc_id"), col("text"))
  }

  private def third(i: Int): DataFrame =
    corpusDocs().filter(pmod(col("doc_id"), lit(3)) === i)

  private def q53(): Map[Long, (Int, Long, Boolean)] =
    graft.SparkEntry.queries("q53_decontam")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_sh"), r.getAs[Long]("n_hit"),
          r.getAs[Boolean]("contaminated")))).toMap

  private def verdictRows(dir: String): Seq[(Long, Int, Long, Boolean)] =
    DecontamSink.decisions(spark, dir)
      .select("doc_id", "n_sh", "n_hit", "admit").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .toSeq.sortBy(_._1)

  test("streamed verdicts equal q53; admitted set equals q105") {
    val dir = tmp("graft-decontam")
    assert(DecontamSink.applyBatch(third(0), 0L, sf0001, dir))
    assert(DecontamSink.applyBatch(third(1), 1L, sf0001, dir))
    assert(DecontamSink.applyBatch(third(2), 2L, sf0001, dir))
    val got = verdictRows(dir)
    val exact = q53()
    assert(got.size == exact.size)
    got.foreach { case (id, nSh, nHit, admit) =>
      val (eSh, eHit, contaminated) = exact(id)
      assert(nSh == eSh && nHit == eHit && admit == !contaminated,
        s"doc $id verdict diverged from q53")
    }
    // the admitted set IS q105's applied corpus
    val q105 = graft.SparkEntry
      .queries("q105_decontam_apply")(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.filter(_._4).map(_._1).toSet == q105)
    // non-vacuous both ways
    assert(got.exists(!_._4) && got.exists(_._4))
  }

  test("replay skip and crash-window recompute") {
    val dir = tmp("graft-decontam-replay")
    assert(DecontamSink.applyBatch(third(0), 0L, sf0001, dir))
    val before = verdictRows(dir)
    assert(!DecontamSink.applyBatch(third(0), 0L, sf0001, dir))
    assert(verdictRows(dir) == before)
    // orphan v=1 with junk, pointer not moved
    Seq((999L, 1, 1L, false, 1L))
      .toDF("doc_id", "n_sh", "n_hit", "admit", "batch_id")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(DecontamSink.applyBatch(third(1), 1L, sf0001, dir))
    val exact = q53()
    verdictRows(dir).foreach { case (id, nSh, nHit, admit) =>
      val (eSh, eHit, contaminated) = exact(id)
      assert(nSh == eSh && nHit == eHit && admit == !contaminated)
    }
  }

  test("engine restart from checkpoint continues the version chain") {
    val dir = tmp("graft-decontam-restart")
    val ckpt = tmp("graft-decontam-ckpt")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    def start() = DecontamSink.attach(
      stream.toDF().toDF("doc_id", "text"), sf0001, dir, ckpt)
    val rows = corpusDocs().collect()
      .map(r => (r.getLong(0), r.getString(1)))
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
    val exact = q53()
    val got = verdictRows(dir)
    assert(got.size == exact.size)
    got.foreach { case (id, nSh, nHit, admit) =>
      val (eSh, eHit, contaminated) = exact(id)
      assert(nSh == eSh && nHit == eHit && admit == !contaminated)
    }
  }
}
