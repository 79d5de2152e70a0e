package graft.tagger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Constants, DetailsLib, SaltLib, TextNorm, TokenLib, VaccineLib}

/** The composed C1 tagging flow (`tagger.py:560-1030`, Parts 2/3): probe
  * generation -> waterfall candidate gathering (ALL hits, not top-1) ->
  * per-text input-shape classification -> fuzzy-correction feedback ->
  * rule-based candidate selection -> the reference's full ~25-column
  * result schema with match_reason in {matched, no_candidates, no_match}.
  *
  * Execution shape (100 TB design):
  *   - distinct texts are tagged ONCE and re-joined by text (D1, the
  *     reference's `drop_duplicates` optimization `tagger.py:436-441`,
  *     `runners.py:192-230`) — duplication factor never multiplies the
  *     probe/classify UDF cost;
  *   - the candidate path carries only `id` + catalog payload, never the
  *     raw text: shape classification runs once per unique text into a
  *     compact keyed frame joined back on id (same hash partitioning the
  *     selection window needs, so the join output feeds the window with
  *     no extra exchange);
  *   - selection is rank columns (one struct-valued UDF eval per
  *     candidate row — [[Scoring.candidateRank]]) + a `row_number`
  *     window over a TOTAL order (SURVEY §2.10 D3 preferred form):
  *     whole-stage codegen spans the join/window path instead of the
  *     round-1 `mapGroups` object path, and the selection is
  *     oracle-expressible (q26);
  *   - the fuzzy-correction feedback (`tagger.py:880-908`) is a tiny
  *     per-id aggregate over the leg-3 hits joined back into the shape
  *     finalization — no extra pass over the text.
  */
object ScoredTagger {

  /** Input-shape classification (`tagger.py:915-920`) + scoring inputs —
    * the PRE-fuzzy view kept for spec-level reasoning about one text.
    */
  private[tagger] final case class InputShape(
      inputForms: Set[String], genericsNormalized: Set[String],
      isSingle: Boolean, isCombination: Boolean, isIv: Boolean,
      strippedGenerics: List[String], details: Map[String, String])

  private[tagger] def classify(text: String): InputShape = {
    val s = shapeRowOf(text)
    val f = finalizeShape(s.stripped, s.extra_norm, s.has_plus, s.has_in, Nil)
    InputShape(
      inputForms = s.input_forms.toSet,
      genericsNormalized = f.generics_norm.toSet,
      isSingle = (f.shape_flags & 1) != 0,
      isCombination = (f.shape_flags & 2) != 0,
      isIv = (f.shape_flags & 4) != 0,
      strippedGenerics = s.stripped.toList,
      details = s.details)
  }

  /** Column-shaped per-unique-text analysis: everything the selection and
    * the output schema need, computed in ONE UDF eval per text. The
    * normalized-generic set and the shape flags are NOT here — they
    * depend on the fuzzy-correction feedback and are finalized per id
    * after candidate gathering ([[finalizeShape]]).
    */
  final case class ShapeRow(
      probes: Seq[String],         // the lookup-key universe, priority order
      j12_probes: Seq[String],     // synonym-of-stripped keys (syn != sg) —
                                   // the ONLY probes allowed to hit J12
                                   // mixture-NAME rows (`tagger.py:784-788`)
      mx_probes: Seq[String],      // pipe-joined mixture component keys —
                                   // looked up ONLY by exact equality
                                   // (`tagger.py:327-360` WHERE
                                   // component_key = ?); never prefix/fuzzy
      input_forms: Seq[String],    // categorized forms, first-seen order
      extra_norm: Seq[String],     // combo-key synonyms (syn != key)
      has_plus: Boolean,
      has_in: Boolean,             // " IN " present in the raw upper text
      stripped: Seq[String],       // ordered stripped generics (+ vehicle)
      details: Map[String, String], // rank-scoring details (vaccine-augmented)
      input_doses: Seq[String], input_routes: Seq[String],
      out_type_details: String, out_release_details: String,
      out_form_details: String,
      // the UN-recomputed extract_drug_details values: the component-
      // mixture result path (`tagger.py:806-824`) passes no detail args,
      // so _build_result_dict falls back to these instead of the
      // token-text recomputations above
      raw_release_details: String, raw_form_details: String,
      salt_details: String, brand_details: String,
      indication_details: String, alias_details: String,
      diluent_details: String, iv_diluent_type: String,
      iv_diluent_amount: String,
      dose_values: Seq[Double], dose_units: Seq[String],
      dose_types: Seq[String],
      total_volume_ml: Option[Double], drug_amount_mg: Option[Double],
      diluent_amount_mg: Option[Double],
      concentration_mg_per_ml: Option[Double],
      is_vaccine: Boolean, vaccine_name: String)

  /** `stripped_generics`' defensive junk filter (`tagger.py:719-726`). */
  private val strippedJunk = Set("FC", "EC", "SR", "XR", "ER", "DR",
    "NON-PNF", "NONPNF", "MG", "ML", "TABLET", "CAPSULE", "SOLUTION")

  /** The tagger's multiword-generic dictionary (`tagger.py:272-291`):
    * every CATALOG name containing a space unioned with the
    * MULTIWORD_GENERICS constants, plus the plural-first-word form of
    * every entry. It drives multiword token extraction AND guards
    * salt-stripping — `_strip_salt` (`tagger.py:296-301`) never strips a
    * known multiword generic (ISOSORBIDE DINITRATE keeps its DINITRATE).
    *
    * Backed by [[graft.functions.MwIndex]]: one Aho-Corasick pass per
    * text instead of the reference's full-list contains scan (length
    * ties pinned alphabetically; the reference inherits Python set
    * order).
    */
  private[tagger] final case class MwDict(index: graft.functions.MwIndex) {
    /** `_strip_salt` with the multiword guard. */
    def stripBase(g: String): String = {
      val gU = g.toUpperCase
      if (index.containsPattern(gU)) gU else SaltLib.stripSaltSuffix(g)._1
    }
  }

  private[tagger] object MwDict {
    def of(extra: Set[String]): MwDict = {
      val base = Constants.multiwordGenerics ++
        extra.map(_.toUpperCase).filter(_.contains(" "))
      val plurals = base.flatMap { mw =>
        val ws = mw.split(" ")
        if (ws.nonEmpty && !ws(0).endsWith("S"))
          Some((Array(ws(0) + "S") ++ ws.drop(1)).mkString(" "))
        else None
      }
      MwDict(graft.functions.MwIndex.of(base ++ plurals))
    }
    lazy val default: MwDict = of(Set.empty)
  }

  private[tagger] def shapeRowOf(text: String,
      brandMap: Map[String, String] = Map.empty,
      mw: MwDict = MwDict.default,
      // the tagger's synonym dict (`tagger.py:209-230`): spelling +
      // REGIONAL_TO_US + any table-driven synonyms merged by the caller
      syn: Map[String, String] = Constants.taggerSynonyms): ShapeRow = {
    def applySyn(g: String): String = SaltLib.applySynonym(g, syn)
    val up = text.toUpperCase
    val d = DetailsLib.extractDrugDetails(text)

    // vaccine canonicalization (`tagger.py:578-599`): canonical name +
    // type-detail augmentation feed both scoring and the output override;
    // the bidirectional acronym match also flags vaccines, overriding
    // with the CLEANED name (the reference's drug_details["generic_name"]
    // in that branch)
    val (vaccineName, vaccineDetails) = VaccineLib.normalizeVaccineName(text)
    val (vAcr, vComps) = VaccineLib.matchVaccineText(text)
    val isVaccine = vaccineName.isDefined || vAcr.isDefined || vComps.isDefined

    // F14 front door (`tagger.py:606-625`): extract_generic_tokens on the
    // raw text, vaccine canonical name prepended, then the cleaned-name
    // re-extraction merged in first (dict.fromkeys order)
    val (tokens, genericTokens0) = TokenLib.extractGenericTokens(text, mw.index)
    val withVaccine = vaccineName match {
      case Some(vn) =>
        vn :: genericTokens0.filterNot(_.toUpperCase == vn.toUpperCase)
      case None => genericTokens0
    }
    // the vaccine branch OVERWRITES drug_details["generic_name"] with the
    // canonical vaccine name (`tagger.py:582-583`), so the clean-name
    // re-extraction runs on the canonical (for the generic "VACCINE"
    // fallback that extracts to nothing, keeping the raw token order)
    val cleanName = vaccineName.getOrElse(d.genericName)
    val genericToks =
      if (cleanName != null && cleanName.nonEmpty && cleanName != up) {
        val cleanToks = TokenLib.extractGenericTokens(cleanName, mw.index)._2
        (cleanToks ++ withVaccine).distinct
      } else withVaccine

    val cats = TokenLib.categorizeTokens(tokens)

    // Brand -> generic swap FIRST (`tagger.py:624-633`): the reference
    // REPLACES brand tokens in generic_tokens; stripped_generics, combo
    // keys, the probe universe and the normalized scoring set all derive
    // from the swapped list.
    val withSwaps = genericToks.map(g => brandMap.getOrElse(g.toUpperCase, g))

    // stripped_generics (`tagger.py:714-728`): pure-salt compounds pass
    // whole; everything else salt-strips with the defensive junk filter
    val stripped = withSwaps.flatMap { g =>
      val gU = g.toUpperCase
      if (Constants.pureSaltCompounds.contains(gU)) Some(gU)
      else {
        val base = mw.stripBase(g)
        if (base.nonEmpty && !strippedJunk.contains(base.toUpperCase) &&
          base.trim.length > 1) Some(base)
        else None
      }
    }
    // combo-key synonyms into the normalized scoring set
    // (`tagger.py:909-913`; built per text from THIS text's generic
    // tokens — the reference reads a stale loop variable there, a
    // batch-order artifact not reproduced)
    val comboKeys = TokenLib.buildCombinationKeys(withSwaps)
    val extraNorm = comboKeys.flatMap { ck =>
      val ckSyn = applySyn(ck)
      if (ckSyn != ck && ckSyn != "+" && ckSyn != "MG/5") Some(ckSyn) else None
    }.distinct

    // ---- the probe universe (`tagger.py:637-699`): whole-input keys
    // first (vaccine canonical, acronym bridge, combo keys, mixture
    // component key), then single-generic probes (brand-swapped), their
    // synonym variants, salt-stripped bases AND the synonym-canonical of
    // each stripped base (`tagger.py:643-651` adds both `base` and
    // `canonical = apply_synonyms(base)` to unique_generics). Combo keys
    // build from the swapped generics AND their synonym-normalized
    // components AND the clean tokens (`tagger.py:656-682`); every key
    // variant gets its synonym applied too.
    val normalizedComponents = withSwaps.map(g =>
      if (Constants.pureSaltCompounds.contains(g.toUpperCase)) g.toUpperCase
      else applySyn(mw.stripBase(g)))
    // `_clean_tokens` (`tagger.py:620-622`): the clean-name extraction
    // when it yields anything, else the first two merged generic tokens —
    // an EMPTY clean extraction (e.g. canonical "VACCINE") still falls
    // back
    val cleanToks0 = {
      val ct =
        if (cleanName != null && cleanName.nonEmpty && cleanName != up)
          TokenLib.extractGenericTokens(cleanName, mw.index)._2
        else Nil
      if (ct.nonEmpty) ct else genericToks.take(2)
    }
    val allCombos = (comboKeys ++
      TokenLib.buildCombinationKeys(normalizedComponents) ++
      (if (cleanToks0.length >= 2) TokenLib.buildCombinationKeys(cleanToks0) else Nil))
    val combosWithSyn = allCombos ++ allCombos.map(applySyn)
    // `_lookup_mixture`'s key build (`tagger.py:327-360`): junk filter on
    // the STRIPPED generics, synonym-normalize each (lowercased),
    // longest-first substring dedup, sorted pipe join; needs >= 2
    // surviving components at both stages
    val mixtureKey = {
      val junk = Set("+", "MG", "ML", "MCG", "G", "L", "")
      val gs = stripped.filter(g =>
        !junk.contains(g.toUpperCase) && !g.startsWith("+"))
      if (gs.size < 2) Nil
      else {
        val normalized = gs.map(g => applySyn(g.toUpperCase).toLowerCase)
        val unique = scala.collection.mutable.ListBuffer.empty[String]
        for (n <- normalized.sortBy(-_.length))
          if (!unique.exists(_.contains(n))) unique += n
        if (unique.size < 2) Nil else List(unique.sorted.mkString("|"))
      }
    }
    val vaccineProbes = vaccineName.toList.filter(_ != "VACCINE")
    // The reference's vaccine acronym expansion (`tagger.py:684-699`)
    // only WARMS the batch cache with acronym/component keys — the
    // per-text match loop (`tagger.py:728-771`) never probes them, so an
    // acronym-only text matches only if the catalog carries the acronym
    // key itself (verified by the e2e golden: "DTP VACCINE" over a
    // component-named catalog is no_candidates). vAcr/vComps still set
    // the is_vaccine output flag.
    // J12 name-leg keys (`tagger.py:784-788`): the reference consults the
    // mixture table by name ONLY for apply_synonyms(sg) of each stripped
    // generic, and only when the synonym actually rewrote it
    val j12Probes = stripped.map(_.toUpperCase).flatMap { sg =>
      val synName = applySyn(sg)
      if (synName != sg) Some(synName.toLowerCase) else None
    }.distinct
    val probes = (vaccineProbes ++ combosWithSyn ++
      mixtureKey ++ withSwaps ++ withSwaps.map(applySyn) ++
      withSwaps.map(mw.stripBase) ++
      normalizedComponents ++ j12Probes)
      .filter(p => p != null && p.length > 2 &&
        !DrugTagger.nonProbeTokens.contains(p.toLowerCase))
      .map(_.toLowerCase).distinct
    val typeAug: Option[String] = (d.typeDetails, vaccineDetails) match {
      case (Some(t), Some(v)) => Some(t + "; " + v)
      case (None, v @ Some(_)) => v
      case (t, None) => t
    }
    val details = Seq(
      "type_details" -> typeAug, "release_details" -> d.releaseDetails,
      "form_details" -> d.formDetails, "indication_details" -> d.indicationDetails,
      "salt_details" -> d.saltDetails, "alias_details" -> d.aliasDetails,
      "iv_diluent_type" -> d.ivDiluentType)
      .collect { case (k, Some(v)) => k -> v }.toMap

    // output detail precedence (`_build_result_dict`, `tagger.py:69-118`):
    // per-output extraction first, drug_details field as fallback
    val tokenText = tokens.mkString(" ")
    val outType = DetailsLib.extractTypeDetail(text)._2.orElse(typeAug)
    val rel = DetailsLib.extractReleaseDetail(tokenText)._2
    val formDet = if (rel.isEmpty) DetailsLib.extractFormDetail(tokenText)._2 else None
    ShapeRow(
      probes = probes,
      j12_probes = j12Probes,
      mx_probes = mixtureKey,
      input_forms = cats("form").keys.toSeq,
      extra_norm = extraNorm,
      has_plus = text.contains("+"),
      has_in = up.contains(" IN "),
      stripped = stripped,
      details = details,
      input_doses = cats("dose").keys.toSeq,
      input_routes = cats("route").keys.toSeq,
      out_type_details = outType.orNull,
      out_release_details = rel.orElse(d.releaseDetails).orNull,
      out_form_details = formDet.orElse(d.formDetails).orNull,
      raw_release_details = d.releaseDetails.orNull,
      raw_form_details = d.formDetails.orNull,
      salt_details = d.saltDetails.orNull,
      brand_details = null, // initialized but never filled by the reference
      indication_details = d.indicationDetails.orNull,
      alias_details = d.aliasDetails.orNull,
      diluent_details = d.diluentDetails.orNull,
      iv_diluent_type = d.ivDiluentType.orNull,
      iv_diluent_amount = d.ivDiluentAmount.orNull,
      dose_values = d.doseValues, dose_units = d.doseUnits,
      dose_types = d.doseTypes,
      total_volume_ml = d.totalVolumeMl, drug_amount_mg = d.drugAmountMg,
      diluent_amount_mg = d.diluentAmountMg,
      concentration_mg_per_ml = d.concentrationMgPerMl,
      is_vaccine = isVaccine,
      vaccine_name = vaccineName
        .orElse(if (isVaccine) Option(d.genericName) else None).orNull)
  }

  /** Post-gathering shape finalization with the fuzzy-correction feedback
    * (`tagger.py:880-920`): fuzzy-matched candidate names are assigned
    * positionally to the first not-yet-corrected stripped generic; the
    * normalized set uses the correction instead of the synonym, then the
    * single/combination/IV flags derive from the CORRECTED set size.
    */
  final case class FinalShape(generics_norm: Seq[String], shape_flags: Int)

  private[tagger] def finalizeShape(stripped: Seq[String],
      extraNorm: Seq[String], hasPlus: Boolean, hasIn: Boolean,
      fuzzyNames: Seq[String],
      syn: Map[String, String] = Constants.taggerSynonyms): FinalShape = {
    val corrections = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (name <- fuzzyNames; if name != null) {
      stripped.map(_.toUpperCase)
        .find(sg => !corrections.contains(sg))
        .foreach(sg => corrections(sg) = name.toUpperCase)
    }
    var normalized = Set.empty[String]
    for (sg <- stripped) {
      val sgU = sg.toUpperCase
      val n = corrections.getOrElse(sgU, SaltLib.applySynonym(sgU, syn))
      if (n.nonEmpty && n != "+" && n != "MG/5") normalized += n
    }
    normalized ++= extraNorm
    val num = normalized.size
    val isSingle = num == 1
    val isCombination = num > 1 && hasPlus
    val isIv = hasIn && num > 1 && !hasPlus
    FinalShape(normalized.toSeq.sorted,
      (if (isSingle) 1 else 0) | (if (isCombination) 2 else 0) |
        (if (isIv) 4 else 0))
  }

  // asNondeterministic is an OPTIMIZER BARRIER here, not a semantic
  // marker: extracting N fields from a struct-valued UDF in a collapsed
  // Project re-evaluates the UDF N times (the round-1 lambda-inlining
  // trap, Dedup.scala:27-36). Nondeterministic expressions are never
  // duplicated by CollapseProject, so the struct materializes once and
  // field reads are GetStructField over the attribute.
  private def shapeUdf(brandMap: Map[String, String], mw: MwDict,
      syn: Map[String, String]) =
    udf((text: String) => shapeRowOf(text, brandMap, mw, syn))
      .asNondeterministic()

  private def finalizeUdf(syn: Map[String, String]) =
    udf((stripped: Seq[String], extra: Seq[String],
        hasPlus: Boolean, hasIn: Boolean, fuzzyNames: Seq[String]) =>
      finalizeShape(stripped, extra, hasPlus, hasIn, fuzzyNames, syn))
      .asNondeterministic() // same barrier as shapeUdf

  /** [[Scoring.candidateRank]] as a row-level expression: null when the
    * candidate is filtered (invalid), else a (mp, ap, fp, ds) struct.
    * route/source never enter the rank (`scoring.py:203-387`), so they
    * are not passed.
    */
  private def rankUdf(syn: Map[String, String]) =
    udf((genericName: String, atcCode: String,
      form: String, refText: String, inputForms: Seq[String],
      genericsNorm: Seq[String], flags: Int, stripped: Seq[String],
      details: Map[String, String]) =>
    Scoring.candidateRank(
      Scoring.Candidate(genericName, if (atcCode == null) "" else atcCode,
        if (form == null) "" else form, "", "",
        if (refText == null) "" else refText),
      inputForms.toSet, genericsNorm.toSet,
      (flags & 1) != 0, (flags & 2) != 0, (flags & 4) != 0,
      stripped.toList, details,
      applySyn = g => SaltLib.applySynonym(g, syn)))
      .asNondeterministic() // same barrier

  /** G2 ATC explode (`tagger.py:839-856`): a pipe-joined ATC payload
    * becomes one candidate per code in preference order (singles before
    * combinations, D4 `sort_atc_codes`).
    */
  private val sortedAtcUdf = udf((atc: String) =>
    if (atc != null && atc.contains("|"))
      Scoring.sortAtcCodes(atc.split("\\|").toSeq)
    else Seq(atc))

  /** Candidate gathering + fuzzy feedback + windowed selection over
    * explicit probe and shape frames — the engine core of C1, also driven
    * directly by the q26 oracle demo with SQL-defined probes/shapes.
    *
    * @param probes  (id, probe_pos, probe)
    * @param catalog (key, generic_name, atc_code, drugbank_id, form,
    *                route, source, reference_text) — broadcastable. An
    *                optional boolean `fallback_only` column marks rows
    *                (J12 mixture-name entries) that participate only for
    *                ids with NO regular candidate, the reference's
    *                "unique_matches empty" gate (`tagger.py:782-804`).
    * @param shapes  (id, input_forms, extra_norm, has_plus, has_in,
    *                stripped, details) — one row per id ([[ShapeRow]]
    *                prefix; extra output columns are allowed and ignored)
    * @return one row per id that had ANY candidate: id, generic_name,
    *         atc_code, drugbank_id, reference_text, source, key,
    *         match_reason in {matched, no_match}; ids with zero
    *         candidates are absent (callers left-join and coalesce
    *         no_candidates)
    */
  def tagCandidates(probes: DataFrame, catalog: DataFrame,
      shapes: DataFrame,
      cfg: LookupWaterfall.Config = LookupWaterfall.Config(),
      synonyms: Map[String, String] = Constants.taggerSynonyms): DataFrame = {
    val cat = if (catalog.columns.contains("fallback_only")) catalog
      else catalog.withColumn("fallback_only", lit(false))
    val probes1 = if (probes.columns.contains("j12_ok")) probes
      else probes.withColumn("j12_ok", lit(true))
    val hitsAll = LookupWaterfall.allMatches(probes1, cat, cfg)
    // J12 mixture-NAME rows (source "mixtures" + fallback_only) may only
    // be hit by a synonym-of-stripped probe (`tagger.py:784-788`); combo
    // key variants and raw tokens never consult the mixture-name table
    // coalesce: a NULL source must KEEP the row (three-valued logic would
    // otherwise silently drop fallback hits from caller-supplied catalogs
    // with null sources)
    val hits0 = hitsAll.filter(coalesce(
      !(col("fallback_only") && col("source") === "mixtures" && !col("j12_ok")),
      lit(true)))

    // Component-key mixture rows NEVER enter the scored candidate pool:
    // the reference's `_lookup_mixture` result bypasses selection
    // entirely (`tagger.py:806-824`, `:993-1017`). Keep the per-id first
    // hit aside for the two mixture fallback branches below.
    val componentBest = hitsAll
      .filter(col("source") === "drugbank_mixture")
      .withColumn("rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("probe_pos"), col("key"), col("generic_name"))))
      .filter(col("rn") === 1)
      .select(col("id"), col("generic_name").as("mx_generic"),
        col("drugbank_id").as("mx_db"),
        col("reference_text").as("mx_ref"), col("key").as("mx_key"))

    // J12 gate: fallback-only NAME rows count only for ids with no
    // regular candidate (anti-join on the primary id set — both sides
    // tiny projections of the checkpointed hits)
    val regular = hits0.filter(col("source") =!= "drugbank_mixture")
    val primaryIds = regular.filter(!col("fallback_only")).select("id").distinct()
    val hits = regular.filter(!col("fallback_only"))
      .unionByName(regular.filter(col("fallback_only"))
        .join(primaryIds, Seq("id"), "left_anti"))

    // fuzzy-correction feedback inputs: leg-3 candidate names per id, in
    // deterministic candidate order, first occurrence kept
    val fuzzyNames = hits0.filter(col("leg") === 3 && !col("fallback_only"))
      .groupBy("id")
      .agg(array_distinct(transform(
        array_sort(collect_list(struct(col("probe_pos"), col("key"),
          col("generic_name")))),
        s => s.getField("generic_name"))).as("fuzzy_names"))

    val finShapes = shapes
      .join(fuzzyNames, Seq("id"), "left")
      .withColumn("fin", finalizeUdf(synonyms)(col("stripped"), col("extra_norm"),
        col("has_plus"), col("has_in"),
        coalesce(col("fuzzy_names"), typedLit(Seq.empty[String]))))
      .select(col("id"), col("input_forms"), col("stripped"), col("details"),
        col("fin.generics_norm").as("generics_norm"),
        col("fin.shape_flags").as("shape_flags"))

    // pinned-count spread: the rank-UDF stage below is CPU-bound on a
    // byte-small frame — AQE would coalesce its exchange to ~1 partition
    // (see graft.core.CpuSpread). The pin also fixes the join and window
    // partitioning so neither adds an exchange.
    val exploded = graft.core.CpuSpread.byKey(hits, col("id")).select(
      col("id"), col("leg"), col("probe_pos"), col("key"),
      col("generic_name"), col("drugbank_id"), col("form"), col("route"),
      col("source"), col("reference_text"),
      // the reference's candidate loop stringifies the ATC payload
      // (`tagger.py:840` str(gm.get("atc_code", "")).split("|")), so a
      // NULL atc becomes the literal string "None" on every candidate
      // built from unique_matches; only the component-mixture path (which
      // bypasses the loop) keeps a real null
      posexplode(sortedAtcUdf(
        when(col("source") === "drugbank_mixture", col("atc_code"))
          .otherwise(coalesce(col("atc_code"), lit("None")))))
        .as(Seq("atc_idx", "atc_code")))

    // Join the compact per-id shape (no raw text) onto candidate rows:
    // both sides hash-partition on id, which is exactly the partitioning
    // the selection window needs — one exchange, reused.
    val ranked = exploded.join(finShapes, Seq("id"))
      .withColumn("rank", rankUdf(synonyms)(
        col("generic_name"), col("atc_code"), col("form"),
        col("reference_text"), col("input_forms"), col("generics_norm"),
        col("shape_flags"), col("stripped"), col("details")))
      .filter(col("rank").isNotNull)

    // Reference rank tuple first (match type, ATC preference, form
    // equivalence, details score, -len(generic), atc), then a full-tuple
    // tie-break imposing a TOTAL order — the reference's stable sort keeps
    // shuffle-dependent input order on ties; we pin it so selected
    // drugbank_id/reference_text are bit-for-bit deterministic.
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

    // Catalogs without a fallback_only column cannot carry mixture rows
    // (only buildTaggerCatalog emits them, always with the flag), so the
    // mixture branches below — a window, a flags join and an anti-join
    // union over provably-empty frames — are skipped outright: each
    // empty frame still schedules full shuffle stages (measurable on the
    // q26/q27 bench demos).
    if (!catalog.columns.contains("fallback_only"))
      return hits.select("id").distinct()
        .join(best, Seq("id"), "left")
        .withColumn("match_reason",
          when(col("generic_name").isNotNull, lit("matched"))
            .otherwise(lit("no_match")))
        .withColumn("mixture_branch", lit(null: String))

    // Mixture fallback branches, both bypassing selection with score-100
    // semantics (the caller maps source drugbank_mixture to score 100):
    //  A (`tagger.py:806-824`): no candidate at all -> component row; the
    //    result carries NO dose/form/route and extract-level details.
    //  B (`tagger.py:993-1017`): candidates existed but selection failed
    //    AND the input is a combination -> component row; dose/form/route
    //    and recomputed details are kept like a normal match.
    val isComb = (col("shape_flags").bitwiseAND(lit(2)) =!= 0)
    val flags = finShapes.select(col("id"), col("shape_flags"))
    val withCandidates = hits.select("id").distinct()
      .join(best, Seq("id"), "left")
      .join(componentBest, Seq("id"), "left")
      .join(flags, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("generic_name"),
          when(col("mx_key").isNotNull && isComb, col("mx_generic")))
          .as("generic_name"),
        col("atc_code"),
        coalesce(col("drugbank_id"),
          when(col("mx_key").isNotNull && isComb, col("mx_db")))
          .as("drugbank_id"),
        coalesce(col("reference_text"),
          when(col("mx_key").isNotNull && isComb, col("mx_ref")))
          .as("reference_text"),
        coalesce(col("source"),
          when(col("mx_key").isNotNull && isComb, lit("drugbank_mixture")))
          .as("source"),
        coalesce(col("key"),
          when(col("mx_key").isNotNull && isComb, col("mx_key"))).as("key"),
        when(col("generic_name").isNotNull, lit("matched"))
          .when(col("mx_key").isNotNull && isComb, lit("matched"))
          .otherwise(lit("no_match")).as("match_reason"),
        when(col("generic_name").isNull && col("mx_key").isNotNull && isComb,
          lit("B")).as("mixture_branch"))
    val onlyComponent = componentBest
      .join(hits.select("id").distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("mx_generic").as("generic_name"),
        lit(null: String).as("atc_code"), col("mx_db").as("drugbank_id"),
        col("mx_ref").as("reference_text"),
        lit("drugbank_mixture").as("source"), col("mx_key").as("key"),
        lit("matched").as("match_reason"), lit("A").as("mixture_branch"))
    withCandidates.unionByName(onlyComponent)
  }

  private val regionalUdf = udf((g: String) =>
    if (g == null) null
    else Constants.regionalCanonical.getOrElse(g.toUpperCase, g.toUpperCase))

  private def emptyToNull(c: Column): Column = when(c =!= "", c)

  /** @param texts   (id: Long, text: String)
    * @param catalog (key, generic_name, atc_code, drugbank_id, form,
    *                route, source, reference_text [, fallback_only])
    * @return the reference Part-2/3 output schema (`tagger.py:69-118`,
    *         `:953-1028`): id, text, atc_code, drugbank_id, generic_name,
    *         reference_text, dose, form, route, type/release/form
    *         details, match_score, match_reason, sources, plus the
    *         DRUG_DETAILS columns (salt/brand/indication/alias/diluent
    *         details, IV diluent type/amount, dose value/unit/type
    *         arrays, volumes and computed mg amounts). `row_idx` is
    *         deliberately absent — a positional index has no meaning in a
    *         distributed frame; `id` is the stable key.
    */
  def tagTexts(spark: SparkSession, texts: DataFrame, catalog: DataFrame,
      // the tagger's legs default to the REFERENCE's batch lookup
      // semantics (lookup.py:288-304): rapidfuzz ratio >= 85 / len >= 4 /
      // top-1 fuzzy and the 3 shortest prefix keys per probe
      cfg: LookupWaterfall.Config = LookupWaterfall.referenceConfig,
      brandMap: Map[String, String] = Map.empty,
      // None = derive the multiword dictionary from the catalog like the
      // reference (`tagger.py:272-291` builds it from every loaded
      // generic name with a space); Some(set) pins/overrides it. The
      // derivation is a driver-side collect of a DIMENSION table — the
      // catalog is broadcastable by contract, and the reference holds the
      // same list in tagger memory.
      multiwordExtra: Option[Set[String]] = None,
      // table-driven synonyms merged OVER the static tagger dict
      // (`tagger.py:217-227`, e.g. [[graft.refbuild.UnifiedReference
      // .buildSynonymMap]] of unified_synonyms)
      synonyms: Map[String, String] = Map.empty): DataFrame = {
    val syn = Constants.taggerSynonyms ++ synonyms
    val mw = MwDict.of(multiwordExtra.getOrElse {
      val gen0 =
        if (catalog.columns.contains("source"))
          catalog.filter(col("source") =!= "mixtures")
        else catalog
      val gen =
        if (gen0.columns.contains("fallback_only"))
          gen0.filter(!col("fallback_only"))
        else gen0
      gen.select("generic_name")
        .filter(col("generic_name").contains(" ")).distinct()
        .collect().map(_.getString(0)).toSet
    })
    // D1 dedup-before-tag: the regex-heavy shape/probe UDF and the whole
    // candidate/selection path run once per DISTINCT text; results
    // re-join by text (min(id) keeps the representative deterministic).
    // The pinned-count spread keeps the UDF stage at full parallelism —
    // the groupBy's own exchange is AQE-coalescible down to single
    // partitions on byte-small text frames (core.CpuSpread).
    val uniq = graft.core.CpuSpread.byKey(
      texts.groupBy("text").agg(min(col("id")).as("id")), col("id"))
    // ONE extraction pass per unique text produces both the probe
    // universe and the shape; the local checkpoint pins that single
    // evaluation for its two consumers: the waterfall's one pass over the
    // probes and the shape join below. It frees itself via the
    // ContextCleaner once the returned frame is dropped.
    val shapes = uniq
      .select(col("id"), shapeUdf(brandMap, mw, syn)(col("text")).as("shape"))
      .select(col("id"), col("shape.*"))
      .localCheckpoint(true)
    val probes = shapes
      .select(col("id"), col("j12_probes"), col("mx_probes"),
        posexplode(col("probes")).as(Seq("probe_pos", "probe")))
      .select(col("id"), col("probe_pos"), col("probe"),
        array_contains(col("j12_probes"), col("probe")).as("j12_ok"),
        // component keys are a separate-table equality lookup in the
        // reference (`tagger.py:327-360`) — restrict them to the exact
        // leg so they can never prefix/fuzzy-hit the generics universe
        array_contains(col("mx_probes"), col("probe")).as("exact_probe"))
    val selected = tagCandidates(probes, catalog,
      shapes.drop("probes", "j12_probes", "mx_probes"), cfg, syn)

    val matched = col("match_reason") === "matched"
    // component-key mixture hits take the reference's `_lookup_mixture`
    // result path (`tagger.py:806-824`): score 100, display name and RAW
    // reference_text from the mixture row, NO dose/form/route, details
    // from extract_drug_details only, no regional/vaccine override
    val isComponentMixture =
      coalesce(col("best_source") === "drugbank_mixture", lit(false))
    // branch A (`tagger.py:806-824`, no candidates at all) drops
    // dose/form/route and uses extract-level details; branch B
    // (`tagger.py:993-1017`, selection failed on a combination) keeps
    // them like a normal match
    val isBranchA = coalesce(col("mixture_branch") === "A", lit(false))
    val noCandidates = col("match_reason") === "no_candidates"
    val vaccineOverride = matched && col("is_vaccine") &&
      col("vaccine_name").isNotNull && !isComponentMixture

    val perText = uniq
      .join(shapes, Seq("id"), "left")
      .join(selected.withColumnRenamed("generic_name", "best_generic")
          .withColumnRenamed("source", "best_source"),
        Seq("id"), "left")
      .withColumn("match_reason",
        coalesce(col("match_reason"), lit("no_candidates")))
      .select(
        col("text"),
        col("atc_code"),
        col("drugbank_id"),
        // matched: regional canonical (vaccines override with the
        // canonical vaccine name); no_candidates: pipe-joined stripped
        // generics; no_match: null (`tagger.py:955-1028`)
        when(isComponentMixture, col("best_generic"))
          .when(vaccineOverride, col("vaccine_name"))
          .when(matched, regionalUdf(col("best_generic")))
          .when(col("match_reason") === "no_candidates" && size(col("stripped")) > 0,
            array_join(transform(col("stripped"), s => upper(s)), "|"))
          .as("generic_name"),
        when(isComponentMixture, col("reference_text"))
          .when(vaccineOverride, col("vaccine_name"))
          .when(matched, upper(coalesce(
            emptyToNull(col("reference_text")), col("best_generic"), lit(""))))
          .as("reference_text"),
        // no_candidates results (`tagger.py:873-880`, `:925-935`) and the
        // component-mixture branch pass NO dose/form/route and fall back
        // to the extract-level details; matched and no_match results
        // carry the categorized tokens + token-text recomputations
        when(!isBranchA && !noCandidates,
          emptyToNull(array_join(col("input_doses"), "|"))).as("dose"),
        when(!isBranchA && !noCandidates,
          try_element_at(col("input_forms"), lit(1))).as("form"),
        when(!isBranchA && !noCandidates,
          emptyToNull(array_join(col("input_routes"), "|"))).as("route"),
        when(isBranchA || noCandidates,
          try_element_at(col("details"), lit("type_details")))
          .otherwise(col("out_type_details")).as("type_details"),
        when(isBranchA || noCandidates, col("raw_release_details"))
          .otherwise(col("out_release_details")).as("release_details"),
        when(isBranchA || noCandidates, col("raw_form_details"))
          .otherwise(col("out_form_details")).as("form_details"),
        when(matched && isComponentMixture, 100)
          .when(matched, 1).otherwise(0).as("match_score"),
        col("match_reason"),
        col("best_source").as("sources"),
        col("salt_details"), col("brand_details"),
        col("indication_details"), col("alias_details"),
        col("diluent_details"), col("iv_diluent_type"),
        col("iv_diluent_amount"),
        col("dose_values"), col("dose_units"), col("dose_types"),
        col("total_volume_ml"), col("drug_amount_mg"),
        col("diluent_amount_mg"), col("concentration_mg_per_ml"))

    texts.join(perText, Seq("text"), "left")
      .withColumn("match_reason",
        coalesce(col("match_reason"), lit("no_candidates")))
      .select(Seq(col("id"), col("text")) ++
        perText.columns.filter(_ != "text").map(col): _*)
  }
}
