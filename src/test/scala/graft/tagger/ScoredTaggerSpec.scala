package graft.tagger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end tests for the composed C1 flow: candidate gathering +
  * shape classification + rule-based selection.
  */
class ScoredTaggerSpec extends SparkSpec {

  private lazy val catalog: DataFrame = {
    import spark.implicits._
    Seq(
      // key, generic_name, atc, drugbank, form, route, source, ref_text
      ("paracetamol", "PARACETAMOL", "N02BE01", "DB00316", "TABLET", "ORAL",
        "who", "PARACETAMOL 500 MG TABLET"),
      ("paracetamol", "PARACETAMOL", "N02BE51", "DB00316", "TABLET", "ORAL",
        "who", "PARACETAMOL COMBINATIONS"),
      ("ibuprofen", "IBUPROFEN", "M01AE01", "DB01050", "TABLET", "ORAL",
        "who", "IBUPROFEN TABLET"),
      ("ibuprofen + paracetamol", "IBUPROFEN + PARACETAMOL", "M01AE51",
        "DBCOMBO", "TABLET", "ORAL", "who", "IBUPROFEN AND PARACETAMOL"),
      ("nifedipine", "NIFEDIPINE", "C08CA05", "DB01115", "TABLET", "ORAL",
        "who", "NIFEDIPINE TABLET"),
      ("nifedipine", "NIFEDIPINE", "C08CA05X", "DB01115", "TABLET", "ORAL",
        "pnf", "NIFEDIPINE MR TABLET"))
      .toDF("key", "generic_name", "atc_code", "drugbank_id", "form",
        "route", "source", "reference_text")
  }

  private def tag(rows: Seq[(Long, String)]): Map[Long, (String, String)] = {
    import spark.implicits._
    ScoredTagger.tagTexts(spark, rows.toDF("id", "text"), catalog)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("match_reason"), r.getAs[String]("atc_code"))).toMap
  }

  test("single drug prefers the single-agent ATC over the combination ATC") {
    val out = tag(Seq((1L, "PARACETAMOL 500MG TABLET")))
    assert(out(1L) == ("matched", "N02BE01"))
  }

  test("combination input selects the combo candidate") {
    val out = tag(Seq((1L, "IBUPROFEN+PARACETAMOL 200MG/325MG TABLET")))
    assert(out(1L) == ("matched", "M01AE51"))
  }

  test("release detail steers the tie-break (MR -> MR reference)") {
    val out = tag(Seq((1L, "NIFEDIPINE 30 mg MR TABLET")))
    assert(out(1L) == ("matched", "C08CA05X"))
    val plain = tag(Seq((2L, "NIFEDIPINE 10 mg TABLET")))
    assert(plain(2L) == ("matched", "C08CA05"))
  }

  test("no catalog hits attribute no_candidates") {
    val out = tag(Seq((1L, "SURGICAL GLOVES SIZE 7")))
    assert(out(1L)._1 == "no_candidates")
  }

  test("pipe-joined ATC codes explode and prefer the single-agent code") {
    import spark.implicits._
    val cat = Seq(
      ("aspirin", "ACETYLSALICYLIC ACID", "N02BA51|N02BA01", "DB00945",
        "TABLET", "ORAL", "who", "ASPIRIN TABLET"))
      .toDF("key", "generic_name", "atc_code", "drugbank_id", "form",
        "route", "source", "reference_text")
    val out = ScoredTagger.tagTexts(spark,
        Seq((1L, "ASPIRIN 80MG TABLET")).toDF("id", "text"), cat)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("atc_code")).toMap
    assert(out(1L) == "N02BA01") // single-agent code wins over the 51 combo
  }

  test("q26 demo vocabulary is inert under the scoring normalizers") {
    // The q26 oracle replicates Scoring.genericsMatch in SQL assuming
    // applySynonym is identity, no subtype commas, and no generated ATC
    // hits the combination-pattern table over the fixed demo vocabulary.
    import graft.functions.SaltLib
    val vocab = graft.core.Tables(spark, sf0001, "documents")
      .selectExpr("explode(split(text, ' ')) AS w")
      .distinct().collect().map(_.getString(0))
    assert(vocab.nonEmpty)
    vocab.foreach { w =>
      val u = w.toUpperCase
      assert(SaltLib.applySynonym(u) == u, s"synonym not identity for $w")
      assert(!u.contains(","), s"subtype comma in $w")
      assert(!Scoring.isCombinationAtc("X" + u) && !Scoring.isCombinationAtc("Y" + u),
        s"generated ATC for $w collides with a combination pattern")
    }
  }

  test("duplicated texts tag identically to their unique representative") {
    // D1 dedup-before-tag: the per-text result must be a pure function of
    // the text — duplicating rows changes ids only.
    val once = tag(Seq((1L, "PARACETAMOL 500MG TABLET"), (2L, "NIFEDIPINE 30 mg MR TABLET")))
    val duped = tag(Seq((10L, "PARACETAMOL 500MG TABLET"), (11L, "NIFEDIPINE 30 mg MR TABLET"),
      (12L, "PARACETAMOL 500MG TABLET"), (13L, "NIFEDIPINE 30 mg MR TABLET")))
    assert(duped(10L) == once(1L) && duped(12L) == once(1L))
    assert(duped(11L) == once(2L) && duped(13L) == once(2L))
  }

  test("fuzzy-correction feedback: misspelling scores against the corrected name") {
    // tagger.py:880-908 — without the feedback, AMOXICILIN (typo) gets an
    // AMOXICILLIN fuzzy candidate but genericsMatch fails on the raw
    // input (no containment between the spellings) and the row would be
    // no_match; the correction replaces the input with the fuzzy-matched
    // name, so the candidate ranks as exact.
    import spark.implicits._
    val cat = Seq(
      ("amoxicillin", "AMOXICILLIN", "J01CA04", "DB01060", "CAPSULE", "ORAL",
        "who", "AMOXICILLIN CAPSULE"))
      .toDF("key", "generic_name", "atc_code", "drugbank_id", "form",
        "route", "source", "reference_text")
    val out = ScoredTagger.tagTexts(spark,
        Seq((1L, "AMOXICILIN 500MG CAPSULE")).toDF("id", "text"), cat)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("match_reason"), r.getAs[String]("generic_name"))).toMap
    assert(out(1L) == (("matched", "AMOXICILLIN")))
  }

  test("J12: mixture-name fallback fires only when the generics catalog misses") {
    import spark.implicits._
    val mixtures = Seq(("DB-MIX1", "AMOXICILLIN + CLAVULANIC ACID"))
      .toDF("drugbank_id", "mixture_name")
    val nameRows = graft.refbuild.UnifiedReference.mixtureNameRows(mixtures)
    // generics catalog has no co-amoxiclav entry; synonym-applied probe
    // resolves through the mixture NAME key (tagger.py:782-804)
    val cat = catalog.withColumn("fallback_only", lit(false))
      .withColumn("exact_only", lit(false))
      .unionByName(nameRows)
    val out = ScoredTagger.tagTexts(spark,
        Seq((1L, "CO-AMOXICLAV 625MG TABLET"),
          (2L, "PARACETAMOL 500MG TABLET")).toDF("id", "text"), cat)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("match_reason"), r.getAs[String]("drugbank_id"),
          r.getAs[String]("sources"))).toMap
    assert(out(1L) == (("matched", "DB-MIX1", "mixtures")))
    // a text with regular candidates never sees the fallback rows
    assert(out(2L)._3 == "who")
  }

  /** One amoxicillin row with the given source and fallback_only. */
  private def amoxicillin(source: Option[String],
      fallbackOnly: Option[Option[Boolean]]): DataFrame = {
    import spark.implicits._
    val cat = Seq(("amoxicillin", "AMOXICILLIN", "J01CA04", "DB01060", "CAPSULE",
        "ORAL", source, "AMOXICILLIN CAPSULE"))
      .toDF("key", "generic_name", "atc_code", "drugbank_id", "form",
        "route", "source", "reference_text")
    fallbackOnly.fold(cat)(f => cat.withColumn("fallback_only", typedLit(f)))
  }

  private def reasonOf(cat: DataFrame): (String, String) = {
    import spark.implicits._
    val r = ScoredTagger.tagTexts(spark,
      Seq((1L, "AMOXICILLIN 500MG CAPSULE")).toDF("id", "text"), cat).collect().head
    (r.getAs[String]("match_reason"), r.getAs[String]("sources"))
  }

  test("a catalog row with a null source is a regular candidate") {
    assert(reasonOf(amoxicillin(Some("drugbank"), None)) == (("matched", "drugbank")))
    assert(reasonOf(amoxicillin(None, None)) == (("matched", null)))
    assert(reasonOf(amoxicillin(None, Some(Some(false)))) == (("matched", null)))
  }

  test("a null fallback_only is false") {
    assert(reasonOf(amoxicillin(Some("drugbank"), Some(None))) == (("matched", "drugbank")))
  }

  test("a null text is no_candidates") {
    import spark.implicits._
    val out = ScoredTagger.tagTexts(spark,
        Seq((1L, Option.empty[String]), (2L, Some("PARACETAMOL 500MG TABLET")))
          .toDF("id", "text"), catalog)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("match_reason")).toMap
    assert(out == Map(1L -> "no_candidates", 2L -> "matched"))
  }

  test("output carries the reference Part-2/3 schema") {
    import spark.implicits._
    val df = ScoredTagger.tagTexts(spark,
      Seq((1L, "PARACETAMOL 500MG TABLET")).toDF("id", "text"), catalog)
    val expected = Seq("id", "text", "atc_code", "drugbank_id",
      "generic_name", "reference_text", "dose", "form", "route",
      "type_details", "release_details", "form_details", "match_score",
      "match_reason", "sources", "salt_details", "brand_details",
      "indication_details", "alias_details", "diluent_details",
      "iv_diluent_type", "iv_diluent_amount", "dose_values", "dose_units",
      "dose_types", "total_volume_ml", "drug_amount_mg",
      "diluent_amount_mg", "concentration_mg_per_ml")
    assert(df.columns.toSeq == expected)
    val r = df.collect().head
    assert(r.getAs[String]("dose") == "500MG")
    // reference quirk: TABLET is a STOPWORD, so it never reaches
    // categorize_tokens — only non-stopword aliases (TAB) categorize as
    // forms. The canonical-form word yields form = null.
    assert(r.getAs[String]("form") == null)
    assert(r.getAs[Int]("match_score") == 1)
    assert(r.getAs[String]("sources") == "who")
  }

  test("sequential tagTexts calls do not accumulate persistent RDDs") {
    // Each call pins 2 local checkpoints; the probe persist unpersists
    // deterministically and the checkpoints free via the ContextCleaner
    // once unreachable. The property that matters at scale is NO
    // PER-CALL ACCUMULATION: a long-lived service calling tagTexts
    // repeatedly must plateau, not grow by ~2 RDDs per call. Asserting
    // "eventually exactly zero" proved environment-dependent in a shared-session
    // suite (the JVM occasionally pins the most recent call's RDDs well
    // past repeated GCs regardless of cache hygiene), so the test runs
    // SIX calls and asserts the persistent count stays flat between the
    // early and late calls — a leak of 2/call would show a +8 drift.
    spark.catalog.clearCache() // leftover cache entries block the cleaner
    def count(): Int = spark.sparkContext.getPersistentRDDs.size
    def settled(deadlineMs: Long): Int = {
      var best = count()
      val deadline = System.nanoTime() + deadlineMs * 1000000L
      while (best > 0 && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
        val now = count()
        if (now < best) best = now
      }
      best
    }
    val counts = (1 to 6).map { i =>
      tag(Seq((i.toLong, s"PARACETAMOL ${i}00MG TABLET")))
      settled(8000)
    }
    assert(counts.last <= counts(1) + 2,
      s"persistent RDDs grew across calls: $counts")
    assert(counts.last <= 8,
      s"persistent RDD count did not plateau: $counts")
  }

  test("shape classification flags") {
    val s1 = ScoredTagger.classify("PARACETAMOL 500MG TAB")
    assert(s1.isSingle && !s1.isCombination && !s1.isIv)
    // TAB (a non-stopword alias) canonicalizes to TABLET; the canonical
    // word itself is a stopword and never categorizes (reference quirk)
    assert(s1.inputForms.contains("TABLET"))
    assert(ScoredTagger.classify("PARACETAMOL 500MG TABLET").inputForms.isEmpty)
    val s2 = ScoredTagger.classify("IBUPROFEN+PARACETAMOL 200MG")
    assert(s2.isCombination && !s2.isSingle)
    val s3 = ScoredTagger.classify("5% DEXTROSE IN 0.9% SODIUM CHLORIDE 500 ML")
    assert(s3.isIv)
  }
}
