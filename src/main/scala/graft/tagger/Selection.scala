package graft.tagger

import org.apache.spark.sql.types.StructType

import graft.functions.SaltLib

/** One id's candidate selection (`select_best_candidate`,
  * `scoring.py:203-387`, with the tagger's J12, fuzzy-feedback and
  * mixture branches, `tagger.py:782-1017`) over that id's catalog hits,
  * in plain Scala. [[ScoredTagger.tagTexts]] runs it inside the pass that
  * probes the catalog, [[ScoredTagger.tagCandidates]] over hits grouped
  * per id; both call [[select]].
  *
  * Orders are Spark's: strings compare as `UTF8String.compareTo` (code
  * points), lengths count code points, and every ascending key puts
  * nulls first.
  */
private[tagger] object Selection {

  /** One catalog hit of one probe of an id. */
  final case class Hit(probePos: java.lang.Long, j12Ok: java.lang.Boolean,
      leg: Int, key: String, genericName: String, atcCode: String,
      drugbankId: String, form: String, route: String, source: String,
      referenceText: String, fallbackOnly: Boolean) {
    def isComponent: Boolean = source == "drugbank_mixture"
  }

  /** The shape inputs of one id ([[ScoredTagger.ShapeRow]]'s prefix). */
  final case class Shape(inputForms: Seq[String], extraNorm: Seq[String],
      hasPlus: Boolean, hasIn: Boolean, stripped: Seq[String],
      details: Map[String, String])

  /** One id's pick; `mixtureBranch` is "A", "B" or null. */
  final case class Selected(genericName: String, atcCode: String,
      drugbankId: String, referenceText: String, source: String, key: String,
      matchReason: String, mixtureBranch: String)

  /** Builds [[Hit]]s from a [[LookupWaterfall.CatalogIndex]]'s values ++
    * (leg, score). A missing or null `fallback_only` is false.
    */
  final class Reader(schema: StructType) extends Serializable {
    private val Seq(keyAt, genericAt, atcAt, dbAt, formAt, routeAt, sourceAt, refAt) =
      Seq("key", "generic_name", "atc_code", "drugbank_id", "form", "route",
        "source", "reference_text").map(schema.fieldIndex)
    private val fallbackAt = fieldAt(schema, "fallback_only")
    private val legAt = schema.length

    def apply(probePos: java.lang.Long, j12Ok: java.lang.Boolean, v: Seq[Any]): Hit = {
      def s(i: Int) = v(i).asInstanceOf[String]
      Hit(probePos, j12Ok, v(legAt).asInstanceOf[Int], s(keyAt), s(genericAt),
        s(atcAt), s(dbAt), s(formAt), s(routeAt), s(sourceAt), s(refAt),
        fallbackAt.exists(i => v(i) == true))
    }
  }

  /** The position of an optional column. */
  def fieldAt(schema: StructType, name: String): Option[Int] =
    Some(schema.fieldNames.indexOf(name)).filter(_ >= 0)

  /** @param withMixtures the catalog has a `fallback_only` column; without
    *                     one it carries no mixture rows, so there are no
    *                     mixture branches and `mixtureBranch` stays null
    * @return None when the id has no candidate (callers report
    *         no_candidates), else the pick with match_reason matched or
    *         no_match
    */
  def select(hits: Seq[Hit], shape: Option[Shape], withMixtures: Boolean,
      syn: Map[String, String]): Option[Selected] = {
    // J12: mixture-NAME rows only answer a synonym-of-stripped probe
    // (`tagger.py:784-788`)
    val gated = hits.filterNot(h => h.fallbackOnly && h.source == "mixtures" &&
      h.j12Ok != null && !h.j12Ok)
    // component-key mixture rows never enter the scored pool
    // (`tagger.py:806-824`); the first one feeds the mixture branches
    val component =
      if (!withMixtures) None
      else hits.filter(_.isComponent).reduceOption((a, b) =>
        if (componentOrder(a, b) <= 0) a else b)
    // fallback-only NAME rows count only for ids with no regular candidate
    val (fallback, primary) = gated.filterNot(_.isComponent).partition(_.fallbackOnly)
    val candidates = if (primary.nonEmpty) primary else fallback
    if (candidates.isEmpty)
      return component.map(c => Selected(c.genericName, null, c.drugbankId,
        c.referenceText, "drugbank_mixture", c.key, "matched", "A"))

    val picked = shape.map { s =>
      // fuzzy-correction feedback (`tagger.py:880-908`): leg-3 names in
      // (probe_pos, key, generic_name) order, first occurrence kept
      val fuzzyNames = gated.filter(h => h.leg == 3 && !h.fallbackOnly)
        .sortWith((a, b) => fuzzyOrder(a, b) < 0).map(_.genericName).distinct
      val fin = ScoredTagger.finalizeShape(s.stripped, s.extraNorm, s.hasPlus,
        s.hasIn, fuzzyNames, syn)
      (fin.shape_flags, pick(candidates, s, fin, syn))
    }
    val best = picked.flatMap(_._2)
    // branch B (`tagger.py:993-1017`): selection failed on a combination
    // input and a component row exists; its values also fill the pick's
    // null columns
    val mx = component.filter(_ => picked.exists(p => (p._1 & 2) != 0))
    def or(v: String, m: Hit => String) = if (v != null) v else mx.map(m).orNull
    Some(best match {
      case Some(b) =>
        Selected(b.hit.genericName, b.atc, or(b.hit.drugbankId, _.drugbankId),
          or(b.hit.referenceText, _.referenceText),
          or(b.hit.source, _ => "drugbank_mixture"), or(b.hit.key, _.key),
          "matched", null)
      case None => mx match {
        case Some(m) => Selected(m.genericName, null, m.drugbankId,
          m.referenceText, "drugbank_mixture", m.key, "matched", "B")
        case None => Selected(null, null, null, null, null, null, "no_match", null)
      }
    })
  }

  private final case class Ranked(hit: Hit, atcIdx: Int, atc: String, rank: Scoring.Rank)

  /** The ranked minimum: [[Scoring.candidateRank]] per (candidate, ATC
    * code), then (-length(generic_name), atc_code) and a tie-break over
    * every output column, a total order.
    */
  private def pick(candidates: Seq[Hit], s: Shape, fin: ScoredTagger.FinalShape,
      syn: Map[String, String]): Option[Ranked] = {
    val forms = s.inputForms.toSet
    val norm = fin.generics_norm.toSet
    val stripped = s.stripped.toList
    val applySyn = (g: String) => SaltLib.applySynonym(g, syn)
    def nz(v: String) = if (v == null) "" else v
    candidates.iterator.flatMap { h =>
      // the reference stringifies the ATC payload (`tagger.py:840`): a
      // null becomes the literal "None"
      atcCodes(if (h.atcCode == null) "None" else h.atcCode).iterator.zipWithIndex
        .flatMap { case (atc, i) =>
          Scoring.candidateRank(
            Scoring.Candidate(h.genericName, nz(atc), nz(h.form), "", "",
              nz(h.referenceText)),
            forms, norm, (fin.shape_flags & 1) != 0, (fin.shape_flags & 2) != 0,
            (fin.shape_flags & 4) != 0, stripped, s.details, applySyn)
            .map(Ranked(h, i, atc, _))
        }
    }.reduceOption((a, b) => if (rankOrder(a, b) <= 0) a else b)
  }

  /** G2 ATC explode (`tagger.py:839-856`): a pipe-joined payload is one
    * candidate per code, singles before combinations (D4).
    */
  private def atcCodes(atc: String): Seq[String] =
    if (atc != null && atc.contains("|")) Scoring.sortAtcCodes(atc.split("\\|").toSeq)
    else Seq(atc)

  private def rankOrder(a: Ranked, b: Ranked): Int = {
    val (x, y) = (a.hit, b.hit)
    var c = Integer.compare(a.rank.mp, b.rank.mp)
    if (c == 0) c = Integer.compare(a.rank.ap, b.rank.ap)
    if (c == 0) c = Integer.compare(a.rank.fp, b.rank.fp)
    if (c == 0) c = Integer.compare(a.rank.ds, b.rank.ds)
    if (c == 0) c = Integer.compare(length(y.genericName), length(x.genericName))
    if (c == 0) c = compare(a.atc, b.atc)
    if (c == 0) c = Integer.compare(x.leg, y.leg)
    if (c == 0) c = compare(x.probePos, y.probePos)
    if (c == 0) c = compare(x.key, y.key)
    if (c == 0) c = Integer.compare(a.atcIdx, b.atcIdx)
    if (c == 0) c = compare(x.genericName, y.genericName)
    if (c == 0) c = compare(x.source, y.source)
    if (c == 0) c = compare(x.form, y.form)
    if (c == 0) c = compare(x.route, y.route)
    if (c == 0) c = compare(x.referenceText, y.referenceText)
    if (c == 0) c = compare(x.drugbankId, y.drugbankId)
    c
  }

  private def fuzzyOrder(a: Hit, b: Hit): Int = {
    var c = compare(a.probePos, b.probePos)
    if (c == 0) c = compare(a.key, b.key)
    if (c == 0) c = compare(a.genericName, b.genericName)
    c
  }

  /** [[fuzzyOrder]], then the component's other output columns. */
  private def componentOrder(a: Hit, b: Hit): Int = {
    var c = fuzzyOrder(a, b)
    if (c == 0) c = compare(a.drugbankId, b.drugbankId)
    if (c == 0) c = compare(a.referenceText, b.referenceText)
    c
  }

  private def length(s: String): Int = s.codePointCount(0, s.length)

  private def compare(a: java.lang.Long, b: java.lang.Long): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else java.lang.Long.compare(a, b)

  /** `UTF8String.compareTo` on Java strings, nulls first: code-point
    * order, in which a surrogate (an astral code point) sorts after every
    * BMP char, also after U+E000..U+FFFF, unlike UTF-16 order.
    */
  private def compare(a: String, b: String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) Integer.compare(a.length, b.length)
      else {
        val (ca, cb) = (a.charAt(i), b.charAt(i))
        if (Character.isSurrogate(ca) == Character.isSurrogate(cb)) Integer.compare(ca, cb)
        else if (Character.isSurrogate(ca)) 1 else -1
      }
    }
}
