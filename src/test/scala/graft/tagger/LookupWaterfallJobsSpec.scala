package graft.tagger

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The waterfall is one narrow pass: an `allMatches` call launches the
  * catalog collect and the eager checkpoint, with one job to spare — not
  * a job per AQE stage of a join/anti-join/window plan (the relational
  * legs launched 52 for the reference config on this frame).
  */
class LookupWaterfallJobsSpec extends SparkSpec {

  test("one allMatches call on a 50-probe frame launches at most 3 jobs") {
    import spark.implicits._
    val cat = Seq("cefalexin", "cephalexin", "ceftriaxone", "paracetamol",
      "paracetamol forte", "salbutamol", "amoxicillin", "ibuprofen")
      .map(k => (k, k.toUpperCase)).toDF("key", "generic_name")
    val words = Seq("cefalexim", "paracetamol", "salbutamul", "zzzzz",
      "amoxicilin", "ibuprofen", "paracetamol forte", "ceftriaxon")
    val probes = (0 until 50).map(i => (i.toLong, i % 3, words(i % words.size)))
      .toDF("id", "probe_pos", "probe")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    for (cfg <- Seq(LookupWaterfall.referenceConfig, LookupWaterfall.Config(),
        LookupWaterfall.Config(fuzzyMode = "blocked"))) {
      ListenerDrain(sc)
      sc.addSparkListener(listener)
      jobs.set(0)
      val hits = try LookupWaterfall.allMatches(probes, cat, cfg)
        finally { ListenerDrain(sc); sc.removeSparkListener(listener) }
      info(s"$cfg: ${jobs.get} jobs")
      assert(jobs.get <= 3, s"$cfg launched ${jobs.get} jobs")
      assert(hits.filter($"leg" === 3).count() > 0, cfg)
    }
  }
}
