package graft.tools

import java.io.{File, PrintWriter}

/** Dev tool: dump `explain("formatted")` for a list of queries to files.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<query>_<suffix>.txt for each query, one shared JVM.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val spark = Measure.session()
    new File(outDir).mkdirs()
    for (name <- names.split(",")) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val pw = new PrintWriter(s"$outDir/${name}_$suffix.txt")
      try pw.write(plan) finally pw.close()
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
