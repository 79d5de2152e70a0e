package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[SketchExact]] — the sketch-prunes/exact-confirms contracts that the
  * oracle hash alone cannot localize:
  *  - the q53/q95 bloom prefilter prunes hard but NEVER drops a true hit;
  *  - q96's Misra-Gries candidates are a superset of the exact heavy set
  *    under adversarial partitionings (including a single hostile
  *    partition engineered to churn the eviction loop), and the final
  *    answer equals the naive full groupBy — partitioning-independent;
  *  - q97's priorities replay exactly driver-side, are monotone in the
  *    weight, and the plan is TakeOrderedAndProject (top-k merge), not a
  *    global sort.
  */
class SketchExactSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf0001)

  test("bloom prefilter prunes the confirm join but keeps every true hit") {
    val (survivors, bench, corpus) = SketchExact.bloomSurvivors(spark, sf0001)
    val corpusSh = corpus.select(col("doc_id"), explode(col("shs")).as("sh"))
    val nAll = corpusSh.count()
    val nSurv = survivors.count()
    val nTrue = corpusSh.join(bench, Seq("sh")).count()
    // no false negatives: every exact-hit row survives the prefilter
    assert(nSurv >= nTrue)
    val dropped = corpusSh.join(bench, Seq("sh"))
      .except(survivors.join(bench, Seq("sh")))
    assert(dropped.count() == 0)
    // and it actually prunes: at 1% FPP the surviving non-hits are a
    // sliver of the corpus side (generous 10% bound against flakiness)
    assert(nSurv - nTrue <= math.max(1L, nAll / 10),
      s"prefilter barely pruned: $nSurv survivors of $nAll (true hits $nTrue)")
  }

  test("q96 equals the naive full groupBy and is partitioning-independent") {
    val bg = SketchExact.bigramRows(spark, sf0001)
    val totalRow = bg.agg(count(lit(1))).head()
    val total = totalRow.getLong(0)
    val naive = bg.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(10000L) >= lit(15L) * lit(total))
      .orderBy(col("cnt").desc, col("bg"))
      .collect()
    assert(naive.length > 0)
    assert(q("q96_heavy_hitters").collect().toSeq == naive.toSeq)
    // superset guarantee under adversarial repartitionings: every true
    // heavy bigram appears in the candidate set no matter how rows land
    val heavy = naive.map(_.getString(0)).toSet
    for (p <- Seq(1, 3, 8)) {
      val cands = SketchExact
        .bigramCandidates(spark, bg.repartition(p))
        .collect().map(_.getString(0)).toSet
      assert(heavy.subsetOf(cands),
        s"p=$p dropped ${(heavy -- cands).take(3)} of ${heavy.size}")
    }
  }

  test("Misra-Gries survives an eviction-churn stream in one partition") {
    import spark.implicits._
    // 1% hot item buried in 19800 singletons, one partition: the summary
    // (667 counters) overflows constantly; the guarantee says the hot
    // item must still be present at the end. Singletons are all DISTINCT
    // so every arrival after fill-up churns the eviction path.
    val rows = (0 until 19800).map(i => s"cold_$i") ++
      (0 until 200).map(_ => "hot hot")
    val ds = rows.toDF("bg").repartition(1)
    val cands = SketchExact.bigramCandidates(spark, ds)
      .collect().map(_.getString(0)).toSet
    assert(cands.contains("hot hot"))
    // and the summary stayed bounded: at most 667 emitted from 1 partition
    assert(cands.size <= 667)
  }

  test("q96 recounts candidates via a broadcast join") {
    val plan = q("q96_heavy_hitters").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q97 priorities replay driver-side and the sample is size-50") {
    val out = q("q97_weighted_sample").collect()
    assert(out.length == 50)
    val md = java.security.MessageDigest.getInstance("MD5")
    def pri(docId: Long, w: Int): Long =
      (1 to w).map { i =>
        val h = md.digest(s"$docId#$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(h.substring(0, 15), 16)
      }.min
    out.foreach { r =>
      assert(r.getLong(2) == pri(r.getLong(0), r.getInt(1)),
        s"doc ${r.getLong(0)} priority mismatch")
    }
    // ascending by priority — the bottom-k contract
    val ps = out.map(_.getLong(2)).toSeq
    assert(ps == ps.sorted)
  }

  test("q97 priority is monotone in the weight (min over superset)") {
    import spark.implicits._
    val d = Seq(1L, 2L, 3L, 42L, 999L).toDF("doc_id")
    val both = d.select(
      SketchExact.priorityCol(col("doc_id"), lit(3)).as("p3"),
      SketchExact.priorityCol(col("doc_id"), lit(7)).as("p7"))
      .collect()
    both.foreach(r => assert(r.getLong(1) <= r.getLong(0)))
  }

  test("q100 salted two-phase per-source top-k equals the naive window") {
    import org.apache.spark.sql.expressions.Window
    val d = graft.core.Tables(spark, sf0001, "documents").select(col("doc_id"),
      col("source"),
      least(greatest(size(split(trim(col("text")), graft.core.Ws.Plus)), lit(1)),
        lit(64)).as("w"))
    val pri = d.select(col("source"), col("doc_id"), col("w"),
      SketchExact.priorityCol(col("doc_id"), col("w")).as("priority"))
    val naive = pri.withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))))
      .filter(col("rank") <= 10)
      .select("source", "rank", "doc_id", "w", "priority")
      .orderBy("source", "rank")
      .collect()
    val got = q("q100_stratified_weighted").collect()
    assert(naive.length > 0)
    assert(got.toSeq == naive.toSeq)
    // exactly k (or the whole stratum) per source, ranks contiguous 1..n
    got.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val ranks = rows.map(_.getInt(1)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"$src ranks not contiguous")
      assert(ranks.size <= 10)
    }
  }

  test("q100 plans one per-source window with a partial WindowGroupLimit") {
    // the map side cuts each source to k rows before the exchange, so a
    // hot source never lands whole in one task
    val df = q("q100_stratified_weighted")
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    val partial = collectWithSubqueries(plan) {
      case l: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if l.mode == org.apache.spark.sql.execution.window.Partial => l
    }
    assert(partial.nonEmpty, plan)
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, plan)
  }

  test("q97 plans as TakeOrderedAndProject, not a global sort") {
    val plan = q("q97_weighted_sample").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }
}
