package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SketchExact

/** [[HeavyHittersSink]] — the mergeable-MG contracts: after EVERY
  * batch the per-key bounds hold against exact recounts (stored ≤
  * true ≤ stored + err, absent ⇒ true ≤ err), the gated candidates
  * are a superset of the true heavy set, certify() restores q96-style
  * exactness, and the state machine survives replay, the crash
  * window, and engine restart from checkpoint.
  */
class HeavyHittersSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(): DataFrame =
    graft.core.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))

  /** Thirds of the corpus by doc_id mod 3 — the ingest batches. */
  private def third(i: Int): DataFrame =
    docs().filter(pmod(col("doc_id"), lit(3)) === i)

  private def ingested(upto: Int): DataFrame =
    docs().filter(pmod(col("doc_id"), lit(3)) <= upto)

  /** Exact bigram counts of everything ingested so far. */
  private def exactCounts(upto: Int): Map[String, Long] =
    SketchExact.bigramsOf(ingested(upto))
      .groupBy("bg").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def checkInvariants(dir: String, upto: Int): Unit = {
    val exact = exactCounts(upto)
    val total = exact.values.sum
    val cand = HeavyHittersSink.candidates(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cand.forall(_._4 == total), "state total drifted from exact")
    assert(cand.length <= HeavyHittersSink.K)
    val err = cand.headOption.map(c => c._3 - c._2).getOrElse(0L)
    // per-key bounds against the exact recount
    cand.foreach { case (bg, lo, hi, _) =>
      val t = exact.getOrElse(bg, 0L)
      assert(lo <= t && t <= hi, s"bound violated for '$bg': $lo <= $t <= $hi")
    }
    // absent keys are bounded by err
    val stored = cand.map(_._1).toSet
    exact.foreach { case (bg, t) =>
      if (!stored.contains(bg))
        assert(t <= err, s"absent '$bg' has true count $t > err $err")
    }
    // the gated candidates are a superset of the true heavy set
    val heavy = exact.filter { case (_, c) =>
      c * 10000L >= HeavyHittersSink.Phi10k * total }.keySet
    val gated = cand.filter { case (_, _, hi, tot) =>
      hi * 10000L >= HeavyHittersSink.Phi10k * tot }.map(_._1).toSet
    assert(heavy.subsetOf(gated),
      s"missed heavy keys: ${(heavy -- gated).take(5)}")
    // certify() == the exact heavy set, recounted over candidates only
    val certified = HeavyHittersSink
      .certify(spark, dir, ingested(upto)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(certified.keySet == heavy)
    certified.foreach { case (bg, c) => assert(exact(bg) == c) }
  }

  test("bounds, superset, and certify hold after every batch") {
    val dir = tmp("graft-hh")
    assert(HeavyHittersSink.applyBatch(third(0), 0L, dir))
    checkInvariants(dir, 0)
    assert(HeavyHittersSink.applyBatch(third(1), 1L, dir))
    checkInvariants(dir, 1)
    assert(HeavyHittersSink.applyBatch(third(2), 2L, dir))
    checkInvariants(dir, 2)
    // non-vacuous: the counter budget actually bit (decrements ran),
    // i.e. the summary undercounts — otherwise this spec would pass
    // on a plain additive rollup
    val (summary, total) = HeavyHittersSink.state(spark, dir)
    val summed = summary.agg(sum("cnt")).head().getLong(0)
    assert(summed < total, "MG cut never engaged; widen the corpus")
    assert(summary.count() <= HeavyHittersSink.K)
  }

  test("a replayed batch is skipped; state is unchanged") {
    val dir = tmp("graft-hh-replay")
    assert(HeavyHittersSink.applyBatch(third(0), 0L, dir))
    val before = HeavyHittersSink.candidates(spark, dir).collect().toSeq
    assert(!HeavyHittersSink.applyBatch(third(0), 0L, dir))
    assert(HeavyHittersSink.candidates(spark, dir).collect().toSeq == before)
  }

  test("crash between version write and pointer move recomputes identically") {
    val dir = tmp("graft-hh-crash")
    assert(HeavyHittersSink.applyBatch(third(0), 0L, dir))
    // orphan v=1 slot with WRONG content, pointer not moved
    Seq(("junk junk", 999L)).toDF("bg", "cnt")
      .write.mode("overwrite").parquet(s"$dir/v=1/summary")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/v=1", "_TOTAL"), "999")
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(HeavyHittersSink.applyBatch(third(1), 1L, dir))
    checkInvariants(dir, 1)
  }

  test("engine restart from checkpoint continues the version chain") {
    val dir = tmp("graft-hh-restart")
    val ckpt = tmp("graft-hh-ckpt")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    def start() = HeavyHittersSink.attach(
      stream.toDF().toDF("doc_id", "text"), dir, ckpt)
    val rows = docs().collect().map(r => (r.getLong(0), r.getString(1)))
    val q1 = start()
    try {
      stream.addData(rows.filter(_._1 % 3 == 0): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      stream.addData(rows.filter(_._1 % 3 == 1): _*)
      q2.processAllAvailable()
      checkInvariants(dir, 1)
      assert(VersionedPointer.latest(dir).exists(_ >= 1L))
    } finally q2.stop()
    // vacuum keeps the pointer-resolved version readable
    VersionedPointer.vacuum(dir, 1)
    checkInvariants(dir, 1)
  }
}
