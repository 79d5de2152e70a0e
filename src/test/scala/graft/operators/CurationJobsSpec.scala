package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Pin
import graft.streaming.CurationSink

/** The curation spine's per-document stages are narrow passes: q115's
  * s3 (span splice), s4 (decontamination) and s5 (LM gate) and one
  * [[CurationSink.applyBatch]] each launch a bounded number of Spark
  * jobs. With AQE every query stage is its own job, so a stage that
  * regrows a relational branch (a window, a union, a second join back)
  * shows here as jobs before it shows as time. The relational s3–s5
  * launched 18 + 7 + 15 = 40 jobs per traced `corpus_curation` run.
  */
class CurationJobsSpec extends SparkSpec {

  /** Jobs launched by `body`, keyed by the q115 stage label of the pin
    * they ran under (a job's SQL execution carries the pin's
    * `<query>:<stage> localCheckpoint` description), "" for the rest.
    */
  private def jobsByStage(body: => Unit): Map[String, Int] = {
    val sc = spark.sparkContext
    val stageTag = "^q115:(\\w+) localCheckpoint".r
    val execs = TrieMap.empty[Long, String]
    val labels = TrieMap.empty[Int, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs(s.executionId) = s.description
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val exec = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        // a job of an execution that started before `body` (a
        // broadcast an earlier query left running) is not body's
        if (exec.forall(execs.contains))
          labels(js.jobId) = exec.flatMap(execs.get)
            .flatMap(d => stageTag.findFirstMatchIn(d).map(_.group(1)))
            .getOrElse("")
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try body finally { ListenerDrain(sc); sc.removeSparkListener(listener) }
    labels.values.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  test("q115's s3, s4 and s5 launch at most 20 jobs on the sf0.01 fixture") {
    val dir = new java.io.File(new java.io.File(sf0001).getParent, "sf0.01").getPath
    def run(): Unit = Pin.scope {
      graft.SparkEntry.queries("q115_full_curation")(spark, dir).count()
    }
    run() // indexes built and registered, so only the run's own jobs count
    val jobs = jobsByStage(run())
    val Seq(s3, s4, s5) = Seq("s3", "s4", "s5").map(jobs.getOrElse(_, 0))
    info(s"jobs per stage: ${jobs.toSeq.sorted.mkString(", ")}")
    assert(s3 > 0 && s4 > 0 && s5 > 0, jobs)
    // the relational stages launched 18, 7 and 15 here
    assert(s3 <= 6, s"s3 launched $s3 jobs")
    assert(s4 <= 5, s"s4 launched $s4 jobs")
    assert(s5 <= 9, s"s5 launched $s5 jobs")
    assert(s3 + s4 + s5 <= 20, jobs)
  }

  test("one CurationSink.applyBatch launches a bounded number of jobs") {
    import spark.implicits._
    val dir = sf0001
    val train = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("bucket", BandIndex.ingestBucket)
      .filter(col("bucket") < 200)
      .select("doc_id", "text")
    val batches = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("bucket", BandIndex.ingestBucket)
      .filter(col("bucket") >= 200 && col("bucket") < 250)
      .select("doc_id", "text").orderBy("doc_id").as[(Long, String)]
      .collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-curation-jobs")
    val name = "graft_curation_jobs_fp"
    FpIndex.buildIndex(spark, train, name, root.resolve("fp"))
    val art = CurationSink.artifactsOf(train)
    BloomIndex.ensure(spark, dir)
    val outDir = root.resolve("log").toString
    def apply(id: Long, rows: Seq[(Long, String)]): Unit =
      assert(CurationSink.applyBatch(rows.toDF("doc_id", "text"), id, name,
        dir, art, outDir))
    val (first, second) = batches.splitAt(batches.size / 2)
    apply(0L, first)
    val jobs = jobsByStage(apply(1L, second)).values.sum
    info(s"applyBatch over ${second.size} docs: $jobs jobs")
    // the relational splice and two-pass decontam launched 31 here; this
    // form launches 25, or 26 when AQE's stage scheduling adds one
    assert(jobs <= 26, s"applyBatch launched $jobs jobs")
  }
}
