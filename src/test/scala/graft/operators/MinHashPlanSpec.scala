package graft.operators

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec
import graft.expressions.MinHashBands

/** MinHash banding is one per-document kernel: the executed plan of
  * [[Dedup.bandsOf]] has no aggregate and no shingle explode (the only
  * Generate explodes the kernel's band array), and its only exchanges
  * are the CPU-spread repartition and the hot-key cap window.
  */
class MinHashPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("bandsOf plans no aggregate, no shingle explode and two exchanges") {
    val bands = Dedup.bandsOf(Dedup.docs(spark, sf0001).select("doc_id", "text"))
    assert(bands.count() > 0)
    val plan = bands.queryExecution.executedPlan
    val aggs = collect(plan) {
      case a: HashAggregateExec => a
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
    }
    assert(aggs.isEmpty, s"bandsOf aggregates:\n$plan")
    val gens = collect(plan) { case g: GenerateExec => g }
    assert(gens.size == 1 &&
        gens.head.generator.find(_.isInstanceOf[MinHashBands]).isDefined,
      s"bandsOf explodes something other than the kernel's bands:\n$plan")
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2, s"want the spread + the cap window:\n$plan")
  }
}
