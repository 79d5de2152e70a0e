package graft
import java.nio.file.{Files, Paths}

import graft.tools.Measure
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Measure.session()
    new java.io.File(outDir).mkdirs()
    Measure.selected.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escaped so the driver's json.load accepts every oracle SQL text
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Measure.jsonString(k)}: ${Measure.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
