package graft.tagger

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Constants, DetailsLib, SaltLib, TokenLib, VaccineLib}

/** The composed C1 tagging flow (`tagger.py:560-1030`, Parts 2/3): probe
  * generation -> waterfall candidate gathering (ALL hits, not top-1) ->
  * per-text input-shape classification -> fuzzy-correction feedback ->
  * rule-based candidate selection -> the reference's full ~25-column
  * result schema with match_reason in {matched, no_candidates, no_match}.
  *
  * Execution shape: the reference tags each unique text with one
  * function over an in-memory catalog (extract -> batch lookup ->
  * `select_best_candidate`, `tagger.py:728-1028`); so does graft:
  *   - the catalog is a dimension table: it is collected ONCE per call
  *     into [[LookupWaterfall]]'s probe index (which also yields the
  *     multiword dictionary) and broadcast;
  *   - the texts cross one exchange, a pinned-count spread by text
  *     ([[graft.core.CpuSpread]]), so every copy of a text shares a
  *     partition; sorted there, copies are adjacent and each distinct
  *     text is tagged ONCE (D1, the reference's `drop_duplicates`
  *     optimization `tagger.py:436-441`, `runners.py:192-230`) —
  *     duplication never multiplies the extraction or selection cost;
  *   - ONE narrow pass then does a text's whole flow in plain Scala:
  *     [[shapeRowOf]], each probe looked up in the index (memoized per
  *     partition), [[Selection.select]] (J12 gate, fuzzy-correction
  *     feedback, [[Scoring.candidateRank]] and a total order, mixture
  *     branches) and the output columns; no join, window or pin.
  * [[tagCandidates]] runs the same selection over caller-supplied probe
  * and shape frames (the q26/q27 oracle demos).
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

  /** Per-unique-text analysis: everything the selection and the output
    * schema need, computed in ONE [[shapeRowOf]] call per text. The
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

  /** Candidate gathering + fuzzy feedback + selection over explicit probe
    * and shape frames — the engine core of C1, also driven directly by
    * the q26/q27 oracle demos with SQL-defined probes/shapes.
    *
    * Lifecycle: the catalog is collected once into its broadcast index;
    * the returned frame is lazy. The probes are grouped per id once
    * (`collect_list`) and joined to `shapes` on id; one `mapPartitions`
    * then looks each probe up in the index (memoized per partition) and
    * runs [[Selection.select]] per id, the selection [[tagTexts]] runs.
    *
    * @param probes  (id, probe_pos, probe [, j12_ok] [, exact_probe]);
    *                `j12_ok` false keeps a probe off the J12 mixture-NAME
    *                rows, `exact_probe` as in [[LookupWaterfall.allMatches]]
    * @param catalog (key, generic_name, atc_code, drugbank_id, form,
    *                route, source, reference_text) — broadcastable. An
    *                optional boolean `fallback_only` column marks rows
    *                (J12 mixture-name entries) that participate only for
    *                ids with NO regular candidate, the reference's
    *                "unique_matches empty" gate (`tagger.py:782-804`).
    *                A null `source` is a regular row, a null
    *                `fallback_only` is false.
    * @param shapes  (id, input_forms, extra_norm, has_plus, has_in,
    *                stripped, details) — one row per id ([[ShapeRow]]
    *                prefix; extra output columns are allowed and ignored)
    * @return one row per id that had ANY candidate: id, generic_name,
    *         atc_code, drugbank_id, reference_text, source, key,
    *         match_reason in {matched, no_match}, mixture_branch; ids with
    *         zero candidates are absent (callers left-join and coalesce
    *         no_candidates)
    */
  def tagCandidates(probes: DataFrame, catalog: DataFrame,
      shapes: DataFrame,
      cfg: LookupWaterfall.Config = LookupWaterfall.Config(),
      synonyms: Map[String, String] = Constants.taggerSynonyms): DataFrame = {
    val withMixtures = catalog.columns.contains("fallback_only")
    val idx = LookupWaterfall.index(catalog, cfg)
    val index = probes.sparkSession.sparkContext.broadcast(idx)
    val read = new Selection.Reader(idx.schema)
    def opt(c: String, present: Column, absent: Column) =
      if (probes.columns.contains(c)) present else absent
    val perId = probes.groupBy("id").agg(collect_list(struct(
        col("probe_pos").cast("long"), col("probe"),
        opt("j12_ok", col("j12_ok"), lit(true)),
        // exact_probe true or null: an equality lookup only
        opt("exact_probe", coalesce(!col("exact_probe"), lit(false)), lit(true))))
        .as("probes"))
      .join(shapes.select(col("id"), struct(col("input_forms"),
        col("extra_norm"), col("has_plus"), col("has_in"), col("stripped"),
        col("details")).as("shape")), Seq("id"), "left")
    val schema = StructType(probes.schema("id") +:
      Seq("generic_name", "atc_code", "drugbank_id", "reference_text", "source",
        "key", "match_reason", "mixture_branch").map(StructField(_, StringType)))
    perId.mapPartitions { rows =>
      val lookup = index.value.memoized()
      rows.flatMap { r =>
        val hits = r.getSeq[Row](1).flatMap { p =>
          if (p.isNullAt(1)) Nil
          else lookup(p.getString(1), p.getBoolean(3)).toSeq.map(v => read(
            p.getAs[java.lang.Long](0), p.getAs[java.lang.Boolean](2), v))
        }
        val shape = Option(r.getStruct(2)).map(s => Selection.Shape(
          s.getSeq[String](0), s.getSeq[String](1), s.getBoolean(2),
          s.getBoolean(3), s.getSeq[String](4), s.getMap[String, String](5).toMap))
        Selection.select(hits, shape, withMixtures, synonyms).map(x =>
          Row(r.get(0), x.genericName, x.atcCode, x.drugbankId, x.referenceText,
            x.source, x.key, x.matchReason, x.mixtureBranch))
      }
    }(Encoders.row(schema))
  }

  /** The catalog's multiword generic names (`tagger.py:272-291`): every
    * name with a space, except on J12 mixture-name and fallback-only rows.
    */
  private def multiwordNames(idx: LookupWaterfall.CatalogIndex): Set[String] = {
    val genericAt = idx.schema.fieldIndex("generic_name")
    val sourceAt = Selection.fieldAt(idx.schema, "source")
    val fallbackAt = Selection.fieldAt(idx.schema, "fallback_only")
    idx.values.iterator
      .filter(v => !sourceAt.exists(v(_) == "mixtures") && !fallbackAt.exists(v(_) == true))
      .map(v => v(genericAt).asInstanceOf[String])
      .filter(g => g != null && g.contains(" ")).toSet
  }

  /** The columns [[tagTexts]] adds to (id, text). */
  private val taggedSchema = StructType(
    Seq("atc_code", "drugbank_id", "generic_name", "reference_text",
      "dose", "form", "route", "type_details", "release_details",
      "form_details").map(StructField(_, StringType)) ++
    Seq(StructField("match_score", IntegerType),
      StructField("match_reason", StringType, nullable = false)) ++
    Seq("sources", "salt_details", "brand_details",
      "indication_details", "alias_details", "diluent_details",
      "iv_diluent_type", "iv_diluent_amount").map(StructField(_, StringType)) ++
    Seq(StructField("dose_values", ArrayType(DoubleType, containsNull = false)),
      StructField("dose_units", ArrayType(StringType)),
      StructField("dose_types", ArrayType(StringType))) ++
    Seq("total_volume_ml", "drug_amount_mg", "diluent_amount_mg",
      "concentration_mg_per_ml").map(StructField(_, DoubleType)))

  /** A null text's columns: no_candidates, every other column null. */
  private val untagged: Seq[Any] =
    taggedSchema.fieldNames.toSeq.map(c => if (c == "match_reason") "no_candidates" else null)

  /** One text's [[taggedSchema]] columns (`_build_result_dict`,
    * `tagger.py:69-118`, `:953-1028`); `sel` None is no_candidates.
    */
  private def taggedColumns(s: ShapeRow, sel: Option[Selection.Selected]): Seq[Any] = {
    val reason = sel.fold("no_candidates")(_.matchReason)
    val matched = reason == "matched"
    val best = sel.map(_.genericName).orNull
    val source = sel.map(_.source).orNull
    val ref = sel.map(_.referenceText).orNull
    // component-key mixture hits take the reference's `_lookup_mixture`
    // result path (`tagger.py:806-824`): score 100, display name and RAW
    // reference_text from the mixture row, no regional/vaccine override
    val isComponent = source == "drugbank_mixture"
    // no_candidates results (`tagger.py:873-880`, `:925-935`) and mixture
    // branch A (no candidates at all) pass NO dose/form/route and fall
    // back to the extract-level details; matched and no_match results
    // (branch B included) carry the categorized tokens + token-text
    // recomputations
    val tokens = sel.exists(_.mixtureBranch != "A")
    val vaccineOverride = matched && s.is_vaccine && s.vaccine_name != null && !isComponent
    def emptyToNull(v: String) = if (v == "") null else v
    def upper(v: String) = if (v == null) null else v.toUpperCase
    Seq(sel.map(_.atcCode).orNull,
      sel.map(_.drugbankId).orNull,
      // matched: regional canonical (vaccines override with the canonical
      // vaccine name); no_candidates: pipe-joined stripped generics;
      // no_match: null (`tagger.py:955-1028`)
      if (isComponent) best
      else if (vaccineOverride) s.vaccine_name
      else if (matched) Constants.regionalCanonical.getOrElse(upper(best), upper(best))
      else if (sel.isEmpty && s.stripped.nonEmpty) s.stripped.map(_.toUpperCase).mkString("|")
      else null,
      if (isComponent) ref
      else if (vaccineOverride) s.vaccine_name
      else if (matched) upper(Option(emptyToNull(ref)).orElse(Option(best)).getOrElse(""))
      else null,
      if (tokens) emptyToNull(s.input_doses.mkString("|")) else null,
      if (tokens) s.input_forms.headOption.orNull else null,
      if (tokens) emptyToNull(s.input_routes.mkString("|")) else null,
      if (tokens) s.out_type_details else s.details.get("type_details").orNull,
      if (tokens) s.out_release_details else s.raw_release_details,
      if (tokens) s.out_form_details else s.raw_form_details,
      if (matched && isComponent) 100 else if (matched) 1 else 0,
      reason,
      source,
      s.salt_details, s.brand_details, s.indication_details, s.alias_details,
      s.diluent_details, s.iv_diluent_type, s.iv_diluent_amount,
      s.dose_values, s.dose_units, s.dose_types) ++
      Seq(s.total_volume_ml, s.drug_amount_mg, s.diluent_amount_mg,
        s.concentration_mg_per_ml).map(_.map(Double.box).orNull)
  }

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
    *         distributed frame; `id` is the stable key. A null text is
    *         no_candidates.
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
      // derivation reads the rows the catalog index already collected on
      // the driver — the catalog is broadcastable by contract, and the
      // reference holds the same list in tagger memory.
      multiwordExtra: Option[Set[String]] = None,
      // table-driven synonyms merged OVER the static tagger dict
      // (`tagger.py:217-227`, e.g. [[graft.refbuild.UnifiedReference
      // .buildSynonymMap]] of unified_synonyms)
      synonyms: Map[String, String] = Map.empty): DataFrame = {
    val syn = Constants.taggerSynonyms ++ synonyms
    val withMixtures = catalog.columns.contains("fallback_only")
    // the catalog's one collect: the probe index, and the multiword names
    val idx = LookupWaterfall.index(catalog, cfg)
    val mw = MwDict.of(multiwordExtra.getOrElse(multiwordNames(idx)))
    val index = spark.sparkContext.broadcast(idx)
    val read = new Selection.Reader(idx.schema)
    // Lifecycle: one exchange, one narrow pass. The spread hash-partitions
    // the rows by text with a pinned count, so every copy of a text lands
    // in one partition and the pass keeps full parallelism (AQE would
    // coalesce a byte-small text frame down to single partitions,
    // core.CpuSpread); sorted within the partition, copies are adjacent.
    // The pass tags each distinct text ONCE (D1 dedup-before-tag, the
    // reference's `drop_duplicates`, `tagger.py:436-441`) — the shape and
    // probe universe ([[shapeRowOf]]), each probe looked up in the
    // broadcast index (memoized per partition; component keys are
    // equality lookups only, `tagger.py:327-360`), the selection, the
    // output columns — and emits them for every copy. Nothing is pinned;
    // the broadcast lives until the ContextCleaner collects it.
    val schema = StructType(Seq(texts.schema("id"), texts.schema("text")) ++ taggedSchema)
    graft.core.CpuSpread.byKey(texts.select("id", "text"), col("text"))
      .sortWithinPartitions("text")
      .mapPartitions { rows =>
        val lookup = index.value.memoized()
        var last: String = null
        var tagged = untagged
        rows.map { r =>
          if (r.isNullAt(1)) Row.fromSeq(Seq(r.get(0), null) ++ untagged)
          else {
            val text = r.getString(1)
            if (text != last) {
              val s = shapeRowOf(text, brandMap, mw, syn)
              val hits = s.probes.zipWithIndex.flatMap { case (p, i) =>
                lookup(p, !s.mx_probes.contains(p)).toSeq.map(v =>
                  read(i.toLong, s.j12_probes.contains(p), v))
              }
              last = text
              tagged = taggedColumns(s, Selection.select(hits, Some(Selection.Shape(
                s.input_forms, s.extra_norm, s.has_plus, s.has_in, s.stripped,
                s.details)), withMixtures, syn))
            }
            Row.fromSeq(Seq(r.get(0), text) ++ tagged)
          }
        }
      }(Encoders.row(schema))
  }
}
