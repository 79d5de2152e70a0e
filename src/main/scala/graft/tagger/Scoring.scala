package graft.tagger

import graft.functions.{Constants, SaltLib}

/** Candidate scoring and selection (SURVEY §2.5 D3/D4, §2.8 F22/F23):
  * port of `scoring.py` — combination-ATC detection, ATC preference sort,
  * generic matching with synonym/subtype/combo logic, and the rule-based
  * best-candidate ranking tuple.
  */
object Scoring {

  /** one lookup candidate row (tagger catalog shape, `tagger.py:69-118`). */
  final case class Candidate(
      genericName: String,
      atcCode: String = "",
      form: String = "",
      route: String = "",
      source: String = "",
      referenceText: String = "")

  lazy val atcCombinationPatterns: List[String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/atc_combination_patterns.csv"), "UTF-8")
    try src.getLines().drop(1).toList finally src.close()
  }

  /** `is_combination_atc` (`scoring.py:42-52`): prefix-pattern table. */
  def isCombinationAtc(atc: String): Boolean =
    atc != null && atc.nonEmpty &&
      atcCombinationPatterns.exists(atc.toUpperCase.startsWith)

  /** `sort_atc_codes` (`scoring.py:55-70`): single-agent codes before
    * combinations (D4), then length, then lexical.
    */
  def sortAtcCodes(codes: Seq[String], preferSingle: Boolean = true): List[String] =
    codes.filter(c => c != null && c.nonEmpty).toList.sortBy { a =>
      val isCombo = isCombinationAtc(a)
      (if (preferSingle) isCombo else !isCombo, a.length, a)
    }

  /** `forms_are_equivalent` (`scoring.py:73-86`): missing = flexible. */
  def formsAreEquivalent(form1: String, form2: String): Boolean = {
    if (form1 == null || form1.isEmpty || form2 == null || form2.isEmpty)
      return true
    val (f1, f2) = (form1.toUpperCase, form2.toUpperCase)
    f1 == f2 || Constants.formEquivalents.getOrElse(f1, Set(f1)).contains(f2)
  }

  /** `parse_generic_with_subtype` (`scoring.py:89-105`). */
  def parseGenericWithSubtype(generic: String): (String, Option[String]) = {
    if (generic.contains(",") && !generic.contains(" + ") &&
      !generic.contains(" AND ")) {
      val parts = generic.split(",", 2)
      (parts(0).trim,
        if (parts.length > 1) Some(parts(1).trim).filter(_.nonEmpty) else None)
    } else (generic, None)
  }

  private val ComboSplit = "\\s*\\+\\s*|\\s+AND\\s+".r

  /** `generics_match` (`scoring.py:108-200`): synonym-normalized base /
    * subtype matching with combination overlap and substring fallbacks.
    * Inputs iterate in sorted order (the reference inherits Python set
    * order) — observable only with multiple conflicting inputs.
    */
  def genericsMatch(inputGenerics: Set[String], candidateGeneric: String,
      applySyn: String => String = g => SaltLib.applySynonym(g)): (Boolean, String) = {
    if (inputGenerics.isEmpty || candidateGeneric == null ||
      candidateGeneric.isEmpty) return (false, "missing_generic")

    val candUpper = candidateGeneric.toUpperCase
    val candNormalized = applySyn(candUpper)
    val (candBase, candSubtype) = parseGenericWithSubtype(candUpper)
    val candBaseNormalized = applySyn(candBase)
    val candIsCombo = candUpper.contains(" + ") || candUpper.contains(" AND ")

    if (candIsCombo) {
      val candParts = ComboSplit.split(candUpper).map(_.trim).filter(_.nonEmpty).toSet
      val candPartsNormalized = candParts.map(applySyn)
      val inputNormalized = inputGenerics.map(applySyn)
      if ((inputNormalized & candPartsNormalized).nonEmpty)
        return (true, "combo_match")
      for (inp <- inputNormalized.toList.sorted; cp <- candPartsNormalized.toList.sorted)
        if (cp.contains(inp) || inp.contains(cp)) return (true, "combo_partial")
      (false, "combo_no_match")
    } else {
      for (inp <- inputGenerics.toList.sorted) {
        val inpNormalized = applySyn(inp)
        val (inpBase, inpSubtype) = parseGenericWithSubtype(inp)
        val inpBaseNormalized = applySyn(inpBase)
        val baseMatches =
          inpBaseNormalized == candBaseNormalized ||
            inpBaseNormalized == candBase ||
            candBaseNormalized.contains(inpBaseNormalized) ||
            inpBaseNormalized.contains(candBaseNormalized) ||
            candBase.contains(inpBase) ||
            inpBase.contains(candBase)
        if (baseMatches) {
          inpSubtype match {
            case Some(st) =>
              candSubtype match {
                case Some(cst)
                    if cst.toUpperCase.contains(st.toUpperCase) ||
                      st.toUpperCase.contains(cst.toUpperCase) =>
                  return (true, "exact_with_subtype")
                case _ => // subtype missing or mismatched: try next input
              }
            case None =>
              if (inpNormalized == candNormalized || inpNormalized == candUpper)
                return (true, "exact")
              return (true, "substring")
          }
        }
      }
      (false, "no_match")
    }
  }

  /** Rank tuple of [[candidateRank]]; lower sorts first on every field. */
  final case class Rank(mp: Int, ap: Int, fp: Int, ds: Int)

  /** Validity filter + rank tuple for ONE candidate — the per-candidate
    * body of `select_best_candidate` (`scoring.py:203-387`): None when the
    * candidate is filtered out (no generic match, IV active-over-vehicle
    * skip, or combination-input-requires-combination-candidate); otherwise
    * `Some(Rank(match_priority, atc_priority, form_priority,
    * details_score))`. The reference's final rank terms (-len(generic),
    * atc_code) are left to callers: the list-local [[selectBestCandidate]]
    * and the tagger's per-id [[Selection]], which completes them to a
    * total order.
    */
  def candidateRank(
      cand: Candidate,
      inputForms: Set[String],
      inputGenericsNormalized: Set[String],
      isSingleDrug: Boolean,
      isCombination: Boolean,
      isIvSolution: Boolean,
      strippedGenerics: List[String],
      inputDetails: Map[String, String] = Map.empty,
      applySyn: String => String = g => SaltLib.applySynonym(g)): Option[Rank] = {
    // a catalog row without a generic name matches nothing
    if (cand.genericName == null) return None
    val candGeneric = cand.genericName.toUpperCase
    val (matches, reason) =
      genericsMatch(inputGenericsNormalized, candGeneric, applySyn)
    if (!matches) return None
    val vehicleSkip =
      if (isIvSolution && strippedGenerics.length > 1) {
        val active = applySyn(strippedGenerics.head.toUpperCase)
        val vehicle = applySyn(strippedGenerics(1).toUpperCase)
        val candNorm = applySyn(candGeneric)
        val isVehicle = candGeneric.contains(vehicle) ||
          vehicle.contains(candGeneric) || vehicle == candNorm
        val isActive = candGeneric.contains(active) ||
          active.contains(candGeneric) || active == candNorm
        isVehicle && !isActive
      } else false
    val candIsCombo =
      candGeneric.contains(" + ") || candGeneric.contains(" AND ")
    if (vehicleSkip || (isCombination && !candIsCombo)) return None

    val candRef = cand.referenceText.toUpperCase
    val candForm = cand.form.toUpperCase
    val matchPriority = reason match {
      case "exact" | "exact_with_subtype" => 0
      case "combo_match" => 1
      case "substring" => 2
      case "combo_partial" => 3
      case _ => 4
    }
    val comboAtc = isCombinationAtc(cand.atcCode)
    val atcPriority =
      if (isSingleDrug) { if (comboAtc) 1 else 0 }
      else if (isCombination) { if (comboAtc) 0 else 1 }
      else 0
    val formPriority =
      if (inputForms.isEmpty) 0
      else if (inputForms.contains(candForm)) 0
      else if (inputForms.exists(formsAreEquivalent(candForm, _))) 1
      else 2
    def det(k: String): String = inputDetails.getOrElse(k, "").toUpperCase
    var detailsScore = 0
    def hit(d: String): Boolean =
      d.nonEmpty && (candRef.contains(d) || candGeneric.contains(d))
    if (hit(det("release_details"))) detailsScore -= 10
    if (hit(det("type_details"))) detailsScore -= 5
    if (hit(det("form_details"))) detailsScore -= 5
    if (hit(det("indication_details"))) detailsScore -= 5
    if (hit(det("salt_details"))) detailsScore -= 3
    if (det("brand_details").nonEmpty && candRef.contains(det("brand_details")))
      detailsScore -= 1
    if (hit(det("alias_details"))) detailsScore -= 2
    if (hit(det("iv_diluent_type"))) detailsScore -= 5
    Some(Rank(matchPriority, atcPriority, formPriority, detailsScore))
  }

  /** `select_best_candidate` (`scoring.py:203-387`): generic-match filter
    * (with IV active-over-vehicle and combo-requires-combo rules), then
    * the lexicographic rank tuple (match type, ATC preference, form
    * equivalence, details score, name length, ATC) — D3. Sort is stable,
    * so ties keep candidate input order, as in the reference. Delegates
    * the per-candidate work to [[candidateRank]], the same function the
    * tagger's per-id [[Selection]] evaluates per candidate.
    */
  def selectBestCandidate(
      candidates: List[Candidate],
      inputForms: Set[String],
      inputGenericsNormalized: Set[String],
      isSingleDrug: Boolean,
      isCombination: Boolean,
      isIvSolution: Boolean,
      strippedGenerics: List[String],
      inputDetails: Map[String, String] = Map.empty,
      applySyn: String => String = g => SaltLib.applySynonym(g)): Option[Candidate] = {
    val ranked = candidates.flatMap { cand =>
      candidateRank(cand, inputForms, inputGenericsNormalized, isSingleDrug,
        isCombination, isIvSolution, strippedGenerics, inputDetails, applySyn)
        .map(r => (cand, r))
    }
    if (ranked.isEmpty) None
    else Some(ranked.sortBy { case (cand, r) =>
      (r.mp, r.ap, r.fp, r.ds, -cand.genericName.length, cand.atcCode)
    }.head._1)
  }
}
