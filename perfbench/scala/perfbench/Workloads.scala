package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.bridge.{GenericKeys, Part4Bridge}
import graft.labs.LabsPipeline
import graft.operators.{BloomIndex, FpIndex}
import graft.pipelines.DrugsTaggingPipeline
import graft.refbuild.UnifiedReference
import graft.sources.Sources
import graft.tagger.ScoredTagger

/** One timed run's outcome. `problems` lists output checks the run
  * failed (such a run counts as failed, never as a time). `timedS`
  * overrides the harness's clock when the run times only part of what it
  * does (not the untimed read-back of what it wrote).
  */
final case class RunOut(hash: Long, rows: Long,
    problems: Seq[String] = Nil, timedS: Option[Double] = None,
    ratios: Map[String, Double] = Map.empty)

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: set-up, the run, and the checks of its outputs. */
trait Workload {
  /** Module credited with jobs the harness itself launches. */
  def module: String
  def facts: Map[String, Double] = Map.empty
  def setup(rep: Int): Unit
  def run(run: Int): RunOut
  /** Checks after the timed runs; outputs for the DuckDB oracle go under
    * `oracleDir` as `<query>/` plus `<query>.sql`.
    */
  def check(oracleDir: Path): Seq[Check] = Nil
  /** Reference checks too costly for every invocation: traced ones only. */
  def fullCheck(oracleDir: Path): Seq[Check] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, data: Path, work: Path,
      root: Path, seed: Long): Workload = name match {
    case "esoa_link" => new EsoaLink(spark, data, root, seed)
    case "corpus_curation" => new CorpusCuration(spark, data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Hash of every column of every row, plus extra aggregates, in one
    * pass (bit_xor, not sum: ANSI mode fails on Long overflow).
    */
  def digest(df: DataFrame, extra: Column*): (Long, Long, Seq[Long]) = {
    val r = df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*))),
      (count(lit(1)) +: extra): _*).head()
    val h = if (r.isNullAt(0)) 0L else r.getLong(0)
    (h, r.getLong(1), (2 until r.length).map(i =>
      if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue))
  }

  def copyFile(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def readCsv(spark: SparkSession, p: Path): DataFrame =
    spark.read.option("header", "true").csv(p.toString)

  def share(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
}

/** Parts 3 and 4 plus labs: seeded billing lines read through
  * `Sources.csv`, drug lines tagged and bridged to an Annex F catalog by
  * `DrugsTaggingPipeline`, lab lines matched by `LabsPipeline`.
  */
final class EsoaLink(spark: SparkSession, data: Path, root: Path, seed: Long)
    extends Workload {
  import Workload._

  val module = "pipelines"
  private val sc = spark.sparkContext
  private val fx = root.resolve("src/test/resources/graft")
  private def fixture(rel: String) = readCsv(spark, fx.resolve(rel))

  private val billingSchema = StructType(Seq(
    StructField("id", LongType), StructField("ITEM_NUMBER", StringType),
    StructField("ITEM_REF_CODE", StringType),
    StructField("DESCRIPTION", StringType),
    StructField("SOURCE_FILE", StringType)))

  private var catalog: DataFrame = _
  private var annex: DataFrame = _
  private var master: DataFrame = _
  private var diag: DataFrame = _
  private var brandMap = Map.empty[String, String]
  private var synonymMap = Map.empty[String, String]
  private var catalogKeys = 0L

  override def facts: Map[String, Double] =
    Map("catalog_keys" -> catalogKeys.toDouble)

  /** Bridge keys of tagged Annex F rows. */
  private def annexKeys(tagged: DataFrame, generic: String): DataFrame = {
    val annexKeysUdf = udf((g: String) => GenericKeys.annexIndexKeys(g))
    tagged.withColumn("index_keys", annexKeysUdf(col(generic)))
      .filter(size(col("index_keys")) > 0)
      .withColumn("dose_key", Part4Bridge.doseKeyUdf(
        col("drug_amount_mg"), col("concentration_mg_per_ml"),
        col("iv_diluent_type"), col("total_volume_ml"),
        col("dose"), col("text"), coalesce(col(generic), lit(""))))
      .select(col("index_keys"), col("drug_code_in").as("drug_code"),
        col("dose_key"), col("form"), col("route"),
        col("text").as("description"))
  }

  def setup(rep: Int): Unit = {
    Seq(catalog, annex, master, diag).filter(_ != null).foreach(_.unpersist())
    Trace.withModule(sc, "refbuild") {
      val generics = fixture("e2e/unified_generics.csv")
        .unionByName(readCsv(spark, data.resolve("synthetic_generics.csv")))
      catalog = UnifiedReference.buildTaggerCatalog(generics,
        fixture("e2e/unified_atc.csv"),
        Some(fixture("e2e/unified_mixtures.csv"))).localCheckpoint(true)
      catalogKeys = catalog.count()
      brandMap = UnifiedReference.buildBrandMap(
        fixture("e2e/unified_brands.csv"), generics)
      synonymMap = UnifiedReference.buildSynonymMap(
        fixture("e2e/unified_synonyms.csv"))
      master = readCsv(spark, data.resolve("labs_master.csv")).localCheckpoint(true)
      diag = readCsv(spark, data.resolve("labs_diagnostics.csv")).localCheckpoint(true)
    }
    // Annex F arrives pre-tagged (the fixture's Part-4 input and the
    // generator's synthetic rows carry the tagger columns)
    annex = Trace.withModule(sc, "bridge") {
      val pre = fixture("part4/annex_f_with_atc.csv")
        .unionByName(readCsv(spark, data.resolve("synthetic_annex.csv")),
          allowMissingColumns = true)
      annexKeys(pre.select(col("Drug Code").as("drug_code_in"),
          coalesce(col("Drug Description"), lit("")).as("text"),
          col("matched_generic_name"), col("dose"), col("form"), col("route"),
          col("iv_diluent_type"),
          col("drug_amount_mg").cast("double").as("drug_amount_mg"),
          col("concentration_mg_per_ml").cast("double")
            .as("concentration_mg_per_ml"),
          col("total_volume_ml").cast("double").as("total_volume_ml")),
        "matched_generic_name").localCheckpoint(true)
    }
  }

  /** One pass of the chain. The digest also counts lines generated from a
    * synthetic catalog name plus dose and form (truth.csv, a file only
    * the harness reads) that come out tagged with another name.
    */
  def run(run: Int): RunOut = {
    // drug and lab lines both read the billing file: pinned once
    val lines = Trace.withModule(sc, "sources") {
      Sources.csv(spark, data.resolve("billing.csv").toString, billingSchema)
        .localCheckpoint(true)
    }
    val drugs = lines.filter(col("ITEM_REF_CODE") === "DrugsAndMedicine")
      .select(col("id"), col("DESCRIPTION").as("text"))
    val pipeline = new DrugsTaggingPipeline(
      texts = _ => drugs, catalog = _ => catalog, brandMap = brandMap,
      annex = Some(_ => annex), synonyms = synonymMap)
    val matched = pipeline.matchRecords(spark, pipeline.prepareInputs(spark))
    val labs = LabsPipeline.matchRecords(
      LabsPipeline.prepare(Seq(lines.drop("id"))), master, diag)
    val truth = broadcast(readCsv(spark, data.resolve("truth.csv"))
      .select(col("id").cast("long").as("id"), col("generic_name").as("expected")))
    val (h1, n1, Seq(distinct, hit, perfect, truthRows, mistagged)) =
      Trace.withModule(sc, "pipelines") {
        val checked = matched.join(truth, Seq("id"), "left")
        val (h, n, extra) = digest(checked, count_distinct(col("text")),
          count(when(col("match_reason") === "matched", 1)),
          count(when(col("drug_code_match_reason") === "matched_perfect", 1)),
          count(col("expected")),
          count(when(col("expected").isNotNull &&
            !col("generic_name").eqNullSafe(col("expected")), 1)))
        (h, n, extra)
      }
    val (h2, n2, Seq(labHit)) = Trace.withModule(sc, "labs") {
      digest(labs, count(when(col("match_source") =!= "Unmatched", 1)))
    }
    lines.unpersist()
    val problems =
      (if (truthRows == 0) Seq("no truth lines joined") else Nil) ++
        (if (mistagged > 0) Seq(s"$mistagged of $truthRows truth lines mis-tagged")
         else Nil)
    RunOut(h1 * 31 + h2, n1 + n2, problems, ratios = Map(
      "tagger.distinct_ratio" -> share(distinct, n1),
      "tagger.match_rate" -> share(hit, n1),
      "bridge.perfect_rate" -> share(perfect, n1),
      "labs.match_rate" -> share(labHit, n2)))
  }

  private def fixtureTexts(rel: String) = fixture(rel)
    .select(col("id").cast("long").as("id"),
      coalesce(col("text"), lit("")).as("text"))

  /** A reference golden over the fixture catalog, alternating with the
    * seed: the Part-4 corpus through the whole drug chain, row for row
    * (even seeds), or the tagger-rate corpus against its aggregates (odd
    * seeds). Each costs a full tagger pass: one fits a traced
    * invocation's time limit, two do not on a contended host.
    */
  override def fullCheck(oracleDir: Path): Seq[Check] = {
    val generics = fixture("e2e/unified_generics.csv")
    val cat = UnifiedReference.buildTaggerCatalog(generics,
      fixture("e2e/unified_atc.csv"), Some(fixture("e2e/unified_mixtures.csv")))
    val brands = UnifiedReference.buildBrandMap(
      fixture("e2e/unified_brands.csv"), generics)
    val syn = UnifiedReference.buildSynonymMap(fixture("e2e/unified_synonyms.csv"))
    // the annex tagged the way BridgeRateParitySpec tags it
    val raw = fixture("part4/annex_f_with_atc.csv")
      .select(col("Drug Code").as("drug_code_in"),
        coalesce(col("Drug Description"), lit("")).as("text"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("drug_code_in"))
        .cast("long"))
    val idx = annexKeys(ScoredTagger.tagTexts(spark, raw.select("id", "text"),
        cat, brandMap = brands, synonyms = syn)
      .join(raw.select("id", "drug_code_in"), Seq("id")), "generic_name")
    val esoa = fixtureTexts("part4/bridge_rate_texts.csv")
    val pipeline = new DrugsTaggingPipeline(texts = _ => esoa,
      catalog = _ => cat, brandMap = brands, annex = Some(_ => idx),
      synonyms = syn)
    Seq(if (seed % 2 == 0) bridgeGolden(pipeline.matchRecords(spark, esoa)
        .select("id", "drug_code", "drug_code_match_reason").collect())
      else rateGolden(ScoredTagger.tagTexts(spark,
          fixtureTexts("rate/rate_texts.csv"), cat, brandMap = brands,
          synonyms = syn)
        .select("match_reason", "match_score", "atc_code", "drugbank_id",
          "dose", "form", "route", "generic_name").collect()))
  }

  /** Part-4 codes and reasons, row for row. */
  private def bridgeGolden(rows: Seq[Row]): Check = {
    val Null = "<NULL>"
    val got = rows.map(r => r.getLong(0) -> (Option(r.getString(1)).getOrElse(Null),
      Option(r.getString(2)).getOrElse(Null))).toMap
    val want = fixture("part4/bridge_rate_golden.csv").collect()
      .map(r => r.getString(0).toLong -> (r.getString(1), r.getString(2))).toMap
    val bad = want.keys.toSeq.sorted.filter(k => !got.get(k).contains(want(k)))
    Check("bridge_rate_golden", got.keySet == want.keySet && bad.isEmpty,
      s"${want.size} rows, ${bad.size} differ" +
        bad.take(3).map(k => s"; id=$k want=${want(k)} got=${got.get(k)}").mkString)
  }

  /** Tagger match-rate aggregates (RateParitySpec's counts). */
  private def rateGolden(rows: Seq[Row]): Check = {
    def present(v: Any) =
      v != null && { val s = String.valueOf(v); s.nonEmpty && s != "None" }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    def bump(k: String): Unit = counts(k) = counts.getOrElse(k, 0L) + 1
    rows.foreach { r =>
      bump(s"reason:${r.getString(0)}")
      val sc = r.get(1)
      bump(s"score:${if (present(sc)) String.valueOf(sc).toDouble.toInt else -1}")
      Seq(2 -> "atc_code", 3 -> "drugbank_id", 4 -> "dose", 5 -> "form",
        6 -> "route").foreach { case (i, c) =>
        if (present(r.get(i))) bump(s"${c}_present")
      }
    }
    counts("rows") = rows.length.toLong
    counts("distinct_generics") =
      rows.map(_.get(7)).filter(present).map(String.valueOf).distinct.length.toLong
    val want = fixture("rate/rate_golden.csv").collect()
      .map(r => r.getString(0) -> r.getString(1).toLong).toMap
    val bad = (want.keySet ++ counts.keySet).toSeq.sorted
      .filter(k => want.getOrElse(k, 0L) != counts.getOrElse(k, 0L))
    Check("rate_golden", bad.isEmpty,
      s"${want.size} aggregates, ${bad.size} differ" + bad.take(3).map(k =>
        s"; $k want=${want.getOrElse(k, 0L)} got=${counts.getOrElse(k, 0L)}")
        .mkString)
  }
}

/** q115, the full curation chain, over the seeded corpus. Each set-up
  * repetition gets its own corpus directory, so its persisted indexes are
  * built, never reused; each run writes the curated corpus, and the first
  * timed run's output goes to the DuckDB oracle.
  */
final class CorpusCuration(spark: SparkSession, data: Path, work: Path)
    extends Workload {
  val module = "operators"
  private val sc = spark.sparkContext
  private val query = "q115_full_curation"
  private var dir: Path = _
  private def out(run: Int) = work.resolve(s"out/run$run")

  def setup(rep: Int): Unit = {
    dir = work.resolve(s"corpus/rep$rep")
    Workload.copyFile(data.resolve("documents.parquet"),
      dir.resolve("documents.parquet"))
    Trace.withModule(sc, "operators") {
      FpIndex.ensure(spark, dir.toString)
      BloomIndex.ensure(spark, dir.toString)
    }
  }

  def run(run: Int): RunOut = {
    val t0 = System.nanoTime()
    Trace.withModule(sc, "operators") {
      SparkEntry.queries(query)(spark, dir.toString)
        .write.mode("overwrite").parquet(out(run).toString)
    }
    val timed = (System.nanoTime() - t0) / 1e9
    val (h, n, _) = Workload.digest(spark.read.parquet(out(run).toString))
    RunOut(h, n, timedS = Some(timed))
  }

  override def check(oracleDir: Path): Seq[Check] = {
    Workload.copyTree(out(1), oracleDir.resolve(query))
    Files.writeString(oracleDir.resolve(s"$query.sql"),
      SparkEntry.oracleSql(query))
    Nil
  }
}
