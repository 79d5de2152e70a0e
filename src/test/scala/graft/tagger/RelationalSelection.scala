package graft.tagger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Constants, SaltLib}

/** Test oracle for [[ScoredTagger.tagCandidates]]: the same selection as
  * a relational plan over [[RelationalWaterfall]]'s hits — row_number
  * windows for the component-mixture first hit and the pick, an
  * anti-join for the J12 fallback gate, an aggregate for the fuzzy
  * names, joins for the shape and the mixture branches, and UDFs for
  * [[ScoredTagger.finalizeShape]], [[Scoring.candidateRank]] and the ATC
  * explode. It states the selection in Spark's own operators and orders,
  * so the per-id selector must agree with it on every input, as a
  * multiset of rows.
  *
  * A null `source` is a regular row and a null `fallback_only` is false.
  * The component-mixture first hit breaks (probe_pos, key, generic_name)
  * ties on drugbank_id and reference_text, so the oracle is
  * deterministic.
  */
object RelationalSelection {

  def tagCandidates(probes: DataFrame, catalog: DataFrame, shapes: DataFrame,
      cfg: LookupWaterfall.Config,
      synonyms: Map[String, String] = Constants.taggerSynonyms): DataFrame = {
    val withMixtures = catalog.columns.contains("fallback_only")
    val cat = catalog.withColumn("fallback_only",
      if (withMixtures) coalesce(col("fallback_only"), lit(false)) else lit(false))
    val probes1 = if (probes.columns.contains("j12_ok")) probes
      else probes.withColumn("j12_ok", lit(true))
    val hitsAll = RelationalWaterfall.allMatches(probes1, cat, cfg)
    // J12: mixture-NAME rows only answer a synonym-of-stripped probe
    val hits0 = hitsAll.filter(coalesce(
      !(col("fallback_only") && col("source") === "mixtures" && !col("j12_ok")),
      lit(true)))

    val componentBest = hitsAll
      .filter(col("source") === "drugbank_mixture")
      .withColumn("rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("probe_pos"), col("key"), col("generic_name"),
          col("drugbank_id"), col("reference_text"))))
      .filter(col("rn") === 1)
      .select(col("id"), col("generic_name").as("mx_generic"),
        col("drugbank_id").as("mx_db"),
        col("reference_text").as("mx_ref"), col("key").as("mx_key"))

    // fallback-only NAME rows count only for ids with no regular candidate
    val regular = hits0.filter(coalesce(col("source") =!= "drugbank_mixture", lit(true)))
    val primaryIds = regular.filter(!col("fallback_only")).select("id").distinct()
    val hits = regular.filter(!col("fallback_only"))
      .unionByName(regular.filter(col("fallback_only"))
        .join(primaryIds, Seq("id"), "left_anti"))

    val fuzzyNames = hits0.filter(col("leg") === 3 && !col("fallback_only"))
      .groupBy("id")
      .agg(array_distinct(transform(
        array_sort(collect_list(struct(col("probe_pos"), col("key"),
          col("generic_name")))),
        s => s.getField("generic_name"))).as("fuzzy_names"))

    val finalizeUdf = udf((stripped: Seq[String], extra: Seq[String],
        hasPlus: Boolean, hasIn: Boolean, names: Seq[String]) =>
      ScoredTagger.finalizeShape(stripped, extra, hasPlus, hasIn, names, synonyms))
    val finShapes = shapes
      .join(fuzzyNames, Seq("id"), "left")
      .withColumn("fin", finalizeUdf(col("stripped"), col("extra_norm"),
        col("has_plus"), col("has_in"),
        coalesce(col("fuzzy_names"), typedLit(Seq.empty[String]))))
      .select(col("id"), col("input_forms"), col("stripped"), col("details"),
        col("fin.generics_norm").as("generics_norm"),
        col("fin.shape_flags").as("shape_flags"))

    val atcUdf = udf((atc: String) =>
      if (atc != null && atc.contains("|")) Scoring.sortAtcCodes(atc.split("\\|").toSeq)
      else Seq(atc))
    val exploded = hits.select(
      col("id"), col("leg"), col("probe_pos"), col("key"),
      col("generic_name"), col("drugbank_id"), col("form"), col("route"),
      col("source"), col("reference_text"),
      posexplode(atcUdf(coalesce(col("atc_code"), lit("None"))))
        .as(Seq("atc_idx", "atc_code")))

    val rankUdf = udf((genericName: String, atcCode: String, form: String,
        refText: String, inputForms: Seq[String], genericsNorm: Seq[String],
        flags: Int, stripped: Seq[String], details: Map[String, String]) =>
      Scoring.candidateRank(
        Scoring.Candidate(genericName, if (atcCode == null) "" else atcCode,
          if (form == null) "" else form, "", "",
          if (refText == null) "" else refText),
        inputForms.toSet, genericsNorm.toSet,
        (flags & 1) != 0, (flags & 2) != 0, (flags & 4) != 0,
        stripped.toList, details,
        applySyn = g => SaltLib.applySynonym(g, synonyms)))
    val ranked = exploded.join(finShapes, Seq("id"))
      .withColumn("rank", rankUdf(
        col("generic_name"), col("atc_code"), col("form"),
        col("reference_text"), col("input_forms"), col("generics_norm"),
        col("shape_flags"), col("stripped"), col("details")))
      .filter(col("rank").isNotNull)

    val w = Window.partitionBy(col("id")).orderBy(
      col("rank.mp"), col("rank.ap"), col("rank.fp"), col("rank.ds"),
      length(col("generic_name")).desc, col("atc_code"),
      col("leg"), col("probe_pos"), col("key"), col("atc_idx"),
      col("generic_name"), col("source"), col("form"), col("route"),
      col("reference_text"), col("drugbank_id"))
    val best = ranked.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("generic_name"), col("atc_code"),
        col("drugbank_id"), col("reference_text"), col("source"), col("key"))

    if (!withMixtures)
      return hits.select("id").distinct()
        .join(best, Seq("id"), "left")
        .withColumn("match_reason",
          when(col("generic_name").isNotNull, lit("matched"))
            .otherwise(lit("no_match")))
        .withColumn("mixture_branch", lit(null: String))

    // mixture branches: A = no candidate at all, B = selection failed on
    // a combination input; B's component also fills the pick's nulls
    val isComb = col("shape_flags").bitwiseAND(lit(2)) =!= 0
    val mxB = col("mx_key").isNotNull && isComb
    val withCandidates = hits.select("id").distinct()
      .join(best, Seq("id"), "left")
      .join(componentBest, Seq("id"), "left")
      .join(finShapes.select(col("id"), col("shape_flags")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("generic_name"), when(mxB, col("mx_generic"))).as("generic_name"),
        col("atc_code"),
        coalesce(col("drugbank_id"), when(mxB, col("mx_db"))).as("drugbank_id"),
        coalesce(col("reference_text"), when(mxB, col("mx_ref"))).as("reference_text"),
        coalesce(col("source"), when(mxB, lit("drugbank_mixture"))).as("source"),
        coalesce(col("key"), when(mxB, col("mx_key"))).as("key"),
        when(col("generic_name").isNotNull, lit("matched"))
          .when(mxB, lit("matched"))
          .otherwise(lit("no_match")).as("match_reason"),
        when(col("generic_name").isNull && mxB, lit("B")).as("mixture_branch"))
    val onlyComponent = componentBest
      .join(hits.select("id").distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("mx_generic").as("generic_name"),
        lit(null: String).as("atc_code"), col("mx_db").as("drugbank_id"),
        col("mx_ref").as("reference_text"),
        lit("drugbank_mixture").as("source"), col("mx_key").as("key"),
        lit("matched").as("match_reason"), lit("A").as("mixture_branch"))
    withCandidates.unionByName(onlyComponent)
  }
}
