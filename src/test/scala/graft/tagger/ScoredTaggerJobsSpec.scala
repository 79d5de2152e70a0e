package graft.tagger

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.refbuild.UnifiedReference

/** The scored tagger is one narrow pass over the texts: a `tagTexts`
  * call plus the eager checkpoint a caller pins it with launch the
  * catalog collect, the spread's shuffle and the pass — not a job per
  * AQE stage of a relational selection plan (windows, anti-joins, an
  * aggregate and joins launched 33 on this frame). The first call's
  * catalog collect runs the fixture catalog's own build (5 jobs); later
  * calls reuse its materialized stages.
  */
class ScoredTaggerJobsSpec extends SparkSpec {

  private def readCsv(path: String): DataFrame =
    spark.read.option("header", "true").csv(getClass.getResource(path).toString)

  test("tagTexts + localCheckpoint on 50 rate texts launches at most 8 jobs") {
    val generics = readCsv("/graft/e2e/unified_generics.csv")
    val catalog = UnifiedReference.buildTaggerCatalog(generics,
      readCsv("/graft/e2e/unified_atc.csv"), Some(readCsv("/graft/e2e/unified_mixtures.csv")))
    val brandMap = UnifiedReference.buildBrandMap(
      readCsv("/graft/e2e/unified_brands.csv"), generics)
    val synonymMap = UnifiedReference.buildSynonymMap(
      readCsv("/graft/e2e/unified_synonyms.csv"))
    val texts = readCsv("/graft/rate/rate_texts.csv").limit(50)
      .select(col("id").cast("long").as("id"), coalesce(col("text"), lit("")).as("text"))

    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    for (call <- 1 to 3) {
      ListenerDrain(sc)
      sc.addSparkListener(listener)
      jobs.set(0)
      val tagged = try ScoredTagger.tagTexts(spark, texts, catalog,
          brandMap = brandMap, synonyms = synonymMap).localCheckpoint(true)
        finally { ListenerDrain(sc); sc.removeSparkListener(listener) }
      info(s"call $call: ${jobs.get} jobs")
      assert(jobs.get <= 8, s"call $call launched ${jobs.get} jobs")
      assert(tagged.filter(col("match_reason") === "matched").count() > 0)
    }
  }
}
