package graft.tools

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: dump `explain("formatted")` for a list of queries to files.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<query>_<suffix>.txt for each query, one shared JVM.
  * A query's eager pins (`localCheckpoint(true)`) and collects run while
  * the query is built, and the final plan shows only their results as
  * `Scan ExistingRDD`; their own executed plans follow it in the file.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val spark = Measure.session()
    val eager = mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        eager.synchronized(eager += s"\n== eager $funcName ==\n" +
          qe.explainString(FormattedMode))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    new File(outDir).mkdirs()
    for (name <- names.split(",")) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      ListenerDrain(spark.sparkContext)
      val pw = new PrintWriter(s"$outDir/${name}_$suffix.txt")
      try pw.write(plan + eager.synchronized { val e = eager.mkString; eager.clear(); e })
      finally pw.close()
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
