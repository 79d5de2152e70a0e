package graft
import java.nio.file.{Files, Paths}

import graft.core.{Lake, Pin}
import graft.tools.Measure
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Each query runs in its own [[Pin.scope]]. A query that leaves more
  * persistent RDDs behind than it found is a leak: its output is deleted,
  * so the compare fails it like a wrong result.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Measure.session()
    val sc = spark.sparkContext
    new java.io.File(outDir).mkdirs()
    Measure.selected.foreach { name =>
      val out = s"$outDir/$name"
      val before = sc.getPersistentRDDs.size
      try Pin.scope {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(out)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val leaked = sc.getPersistentRDDs.size - before
      if (leaked > 0) {
        System.err.println(s"[verify] $name failed: left $leaked persistent RDDs")
        Lake.deleteTree(out)
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
