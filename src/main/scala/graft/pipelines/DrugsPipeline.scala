package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bridge.Part4Bridge
import graft.tagger.{FdaFoodFallback, LookupWaterfall, ScoredTagger}

/** The drugs pipeline (C4 registration of the C1 flow, `registry.py:40`,
  * `pipelines/drugs/pipeline.py`): prepare hook supplies the (id, text)
  * frame, match runs the scored tagger against the unified catalog, and —
  * when an Annex catalog is supplied — Part-4 bridging chains on the
  * matched rows inside the same run (`run_drugs_all.py` Parts 2/3 -> 4),
  * via [[graft.bridge.Part4Bridge]].
  */
final class DrugsTaggingPipeline(
    texts: SparkSession => DataFrame,
    catalog: SparkSession => DataFrame,
    // reference-parity lookup semantics by default (lookup.py:288-304) —
    // the registered production pipeline must not silently run the
    // generic-API scan-mode config
    cfg: LookupWaterfall.Config = LookupWaterfall.referenceConfig,
    brandMap: Map[String, String] = Map.empty,
    annex: Option[SparkSession => DataFrame] = None,
    // table-driven synonyms over the static tagger dict (tagger.py:216-229)
    synonyms: Map[String, String] = Map.empty,
    // Part-4 variant-expansion synonyms (the reference's generics_master
    // merge, runners.py:341-360) — a DIFFERENT universe from the tagger
    // dict above
    part4Synonyms: Map[String, String] = Map.empty,
    // FDA food registry (brand_name, product_name, registration_number)
    // rows: when supplied, texts the tagger could not match probe it as a
    // fallback (`runners.py:1428-1495` — the reference defines the lookup
    // + check pair for exactly this residue; the registered pipeline is
    // where a real run would chain it)
    fdaFood: Option[SparkSession => DataFrame] = None)
  extends Pipeline {

  val itemRefCode = "DrugsAndMedicine"

  /** The reference probes the text column by name on whatever frame the
    * caller loaded (`runners.py:176-182`); graft's downstream contract is
    * `(id, text)`, so a frame arriving with any reference-candidate name
    * (`ITEM_DESCRIPTION`, `Drug Description`, …) is normalized to `text`
    * here, and a frame with none — or without `id` — fails loudly before
    * any tagging work (`prepare.py:57-59` semantics).
    */
  def prepareInputs(spark: SparkSession): DataFrame = {
    val raw = texts(spark)
    val df =
      if (raw.columns.contains("text")) raw
      else raw.withColumnRenamed(
        graft.sources.Sources.resolveTextColumn(raw), "text")
    graft.sources.Sources.requireColumns(df, "prepared texts", "id", "text")
  }

  def matchRecords(spark: SparkSession, prepared: DataFrame): DataFrame = {
    val taggedRaw = ScoredTagger.tagTexts(spark, prepared, catalog(spark), cfg,
      brandMap, synonyms = synonyms)
    // The fallback and annex branches each consume the tagger output
    // TWICE in one plan (residue-derive + rejoin; items-derive + rejoin).
    // Without pinning, the tagger's lineage — its spread and its one
    // per-text pass of extraction, index probes and selection — appears
    // 2+ times in the final plan and executes per copy — the
    // double-materialization the registry-level persist can't see
    // because it lives inside matchRecords. An eager local checkpoint
    // runs the pass ONCE and truncates the lineage, so every downstream
    // consumer reads stored blocks; the blocks are reclaimed by the
    // ContextCleaner when the frame is collected.
    val tagged0 =
      if (fdaFood.isDefined || annex.isDefined) taggedRaw.localCheckpoint(true)
      else taggedRaw
    // FDA food fallback over the unmatched residue (no_candidates /
    // no_match rows only — matched rows never probe, mirroring the
    // fallback's stated contract of running on texts that failed drug
    // tagging). The food columns ride every output row (null when the
    // row matched a drug or missed the registry too), so downstream
    // consumers see one stable schema whether or not a registry is wired.
    val tagged = fdaFood match {
      case None => tagged0
      case Some(food) =>
        val residue = tagged0
          .filter(col("match_reason").isin("no_candidates", "no_match"))
          .select("id", "text")
        val foodCols = FdaFoodFallback.check(spark, residue, food(spark))
          .select("id", "food_match_type", "food_registration")
        tagged0.join(foodCols, Seq("id"), "left")
    }
    annex match {
      case None => tagged
      case Some(annexF) =>
        // Part-4 items derive from the tagged output exactly as the
        // reference feeds them (`runners.py:1147-1390`): the matched
        // generic keys the Annex lookup, the structured dose key builds
        // from the tagger's computed columns + dose string + text, and
        // the *_details columns drive the tie-break.
        val synCtx = new graft.bridge.GenericKeys.SynonymContext(part4Synonyms)
        val esoaKeysUdf = udf((g: String, d: String) =>
          graft.bridge.GenericKeys.esoaProbeKeys(g, d, synCtx))
        val annexKeysUdf = udf((g: String) =>
          graft.bridge.GenericKeys.annexIndexKeys(g))
        val items = tagged
          // probe keys expand each component through the synonym map in
          // both directions (`runners.py:1150-1180`); built from the
          // tagged generic regardless of match_reason (no_candidates rows
          // carry the pipe-joined stripped generics and still probe)
          .withColumn("generic_keys",
            esoaKeysUdf(col("generic_name"), col("text")))
          .withColumn("dose_key", Part4Bridge.doseKeyUdf(
            col("drug_amount_mg"), col("concentration_mg_per_ml"),
            col("iv_diluent_type"), col("total_volume_ml"),
            col("dose"), col("text"), coalesce(col("generic_name"), lit(""))))
        // the reference passes the route column AS-IS to route_matches
        // (`runners.py:1171` — even a pipe-joined multi-route string),
        // so no first-element split here
        val annexRaw = annexF(spark)
        val annexIdx =
          if (annexRaw.columns.contains("index_keys")) annexRaw
          else annexRaw.withColumn("index_keys", annexKeysUdf(col("generic_key")))
        val bridged = Part4Bridge.matchDrugCodes(
          items.select((Seq("id", "generic_keys", "dose_key", "form", "route") ++
            Part4Bridge.detailWeights.map(_._1).filter(items.columns.contains))
            .map(col): _*),
          annexIdx)
        tagged.join(
          bridged.select("id", "drug_code", "drug_code_match_reason"),
          Seq("id"), "left")
    }
  }
}
