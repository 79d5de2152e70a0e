package graft.tagger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.SparkSpec

/** [[ScoredTagger.tagCandidates]] (the per-id selector) equals
  * [[RelationalSelection]] (the same selection as windows, anti-joins, an
  * aggregate and joins) as a multiset of rows, with and without a
  * `fallback_only` catalog column.
  *
  * Every scenario carries duplicate keys with different payloads; null,
  * empty and pipe-joined ATC payloads; `mixtures` and `drugbank_mixture`
  * rows under `j12_ok` true, false and null; null sources and null
  * `fallback_only`; mixed exact, prefix and fuzzy hits per id; ids with
  * hits but no shape row; combination and IV shapes; and `é`, `ß`, `😀`
  * and fullwidth `ａ` in keys and payloads. Three fixed ids tie on every
  * rank key up to one tie-break: ATC `Xａ` vs `X😀` (code-point vs UTF-16
  * order), generic names `AXXX` vs `A😀😀` (4 vs 3 code points, 4 vs 5
  * UTF-16 units) and a null vs a non-null source (nulls first); a fourth
  * hits only component-key mixture rows (branch A).
  */
object ScoredTaggerPropSpec extends Properties("ScoredTagger.tagCandidates") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkSpec.session

  private val letters = Seq("a", "b", "é", "ß", "😀", "ａ")
  private val word: Gen[String] =
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf(letters)).map(_.mkString))
  private val key: Gen[String] =
    Gen.frequency(3 -> word, 1 -> Gen.zip(word, word).map { case (a, b) => s"$a $b" })

  private def opt[T](g: Gen[T], nulls: Int = 1): Gen[Any] =
    Gen.frequency(nulls -> Gen.const(null), 4 -> g)
  private val flag: Gen[Any] = opt(Gen.oneOf(true, false))

  private val generics = Seq("A", "AB", "BÉ", "AẞA", "A😀", "Aａ", "AXXX", "A😀😀",
    "A + B", "AB + BÉ", "B AND A", "AB, SUB", "Z")
  private val atcs = Seq(null, "", "N1", "Xａ", "X😀", "N1|Xａ", "C09DA01|N1", "X😀|",
    "|", "Xａ|X😀|N1")
  private val refs = Seq(null, "", "R", "AB R", "A😀 R", "ER TABLET")
  private val sources = Seq(null, "who", "pnf", "mixtures", "drugbank_mixture")

  /** A catalog row: key, generic_name, atc_code, drugbank_id, form, route,
    * source, reference_text, fallback_only, exact_only.
    */
  private def catRow(keys: Seq[String]): Gen[Seq[Any]] = for {
    k <- Gen.oneOf(keys)
    g <- Gen.oneOf(generics)
    atc <- Gen.oneOf(atcs)
    db <- opt(Gen.oneOf("D1", "Dａ", "D😀"))
    form <- opt(Gen.oneOf("TABLET", "CAPSULE"))
    route <- opt(Gen.const("ORAL"))
    source <- Gen.oneOf(sources)
    ref <- Gen.oneOf(refs)
    fallback <- flag
    exactOnly <- Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(true), 4 -> Gen.const(false))
  } yield Seq(k, g, atc, db, form, route, source, ref, fallback, exactOnly)

  /** One code-point edit: fuzzy-leg material. */
  private def edit(s: String): Gen[String] = {
    val cps = s.codePoints.toArray.map(Character.toString).toSeq
    for {
      i <- Gen.choose(0, cps.length)
      c <- Gen.oneOf(letters)
      op <- Gen.choose(0, 2)
    } yield (op match {
      case 0 => cps.patch(i, Seq(c), 0)
      case 1 => cps.patch(i, Nil, 1)
      case _ => cps.patch(i, Seq(c), 1)
    }).mkString
  }

  private val shape: Gen[Seq[Any]] = for {
    forms <- Gen.someOf("TABLET", "CAPSULE")
    extra <- Gen.frequency(4 -> Gen.const(Nil), 1 -> Gen.someOf(generics).map(_.take(1)))
    hasPlus <- Gen.oneOf(true, false)
    hasIn <- Gen.oneOf(true, false)
    stripped <- Gen.choose(0, 3).flatMap(Gen.listOfN(_,
      Gen.oneOf("A", "ab", "B", "BÉ", "Aẞ", "A😀", "Aａ")))
    details <- Gen.someOf("release_details" -> "ER", "type_details" -> "R",
      "form_details" -> "TABLET", "salt_details" -> "😀")
  } yield Seq(forms.toSeq, extra.toSeq, hasPlus, hasIn, stripped, details.toMap)

  /** The fixed ids' catalog rows: pairs that differ in one tie-break
    * only, and (`mix1`) two component-key rows, branch A's only hits.
    */
  private val tieRows: Seq[Seq[Any]] = {
    def row(k: String, g: String, atc: String, source: String, db: String = "D1") =
      Seq(k, g, atc, db, "TABLET", "ORAL", source, "R", false, false)
    Seq(row("tie1", "AX", "Xａ", "who"), row("tie1", "AX", "X😀", "who"),
      row("tie2", "A😀😀", "N1", "who"), row("tie2", "AXXX", "N1", "who"),
      row("tie3", "AY", "N1", null), row("tie3", "AY", "N1", "who"),
      row("mix1", "A + B", null, "drugbank_mixture", "D2"),
      row("mix1", "A + B", null, "drugbank_mixture", "D1"))
  }
  private val fixedIds = Seq(100L, 101L, 102L, 103L).zip(Seq("tie1", "tie2", "tie3", "mix1"))
  private val tieShape: Seq[Any] =
    Seq(Nil, Nil, false, false, Seq("A"), Map.empty[String, String])

  final case class Scenario(cat: Seq[Seq[Any]], probes: Seq[Seq[Any]],
      exactProbeCol: Boolean, shapes: Seq[(Long, Seq[Any])])

  private val scenario: Gen[Scenario] = for {
    keys <- Gen.listOfN(8, key)
    cat <- Gen.listOfN(28, catRow(keys))
    pool <- Gen.listOfN(12, Gen.frequency(
      5 -> Gen.oneOf(keys), 4 -> Gen.oneOf(keys).flatMap(edit),
      2 -> Gen.oneOf(keys).map(_.takeWhile(_ != ' ')), 1 -> word))
    probes <- Gen.listOfN(40, for {
      id <- Gen.choose(0L, 11L)
      pos <- Gen.choose(0, 3)
      p <- opt(Gen.oneOf(pool), nulls = 1)
      j12 <- flag
      exact <- Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(true), 3 -> Gen.const(false))
    } yield Seq(id, pos, p, j12, exact))
    exactProbeCol <- Gen.oneOf(true, false)
    shaped <- Gen.listOfN(12, Gen.frequency(5 -> shape.map(Option(_)), 1 -> Gen.const(None)))
  } yield Scenario(cat ++ tieRows,
    probes ++ fixedIds.map { case (id, k) => Seq(id, 0, k, true, false) },
    exactProbeCol,
    shaped.zipWithIndex.collect { case (Some(s), i) => i.toLong -> s } ++
      fixedIds.map(_._1 -> tieShape))

  private def frames(s: Scenario, fallbackCol: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val catSchema = StructType(Seq("key", "generic_name", "atc_code", "drugbank_id",
      "form", "route", "source", "reference_text").map(StructField(_, StringType)) ++
      (if (fallbackCol) Seq(StructField("fallback_only", BooleanType)) else Nil) :+
      StructField("exact_only", BooleanType))
    val catRows = s.cat.map(r =>
      Row.fromSeq(r.take(8) ++ (if (fallbackCol) Seq(r(8)) else Nil) :+ r(9)))
    val probeSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("probe_pos", IntegerType, nullable = false),
      StructField("probe", StringType), StructField("j12_ok", BooleanType)) ++
      (if (s.exactProbeCol) Seq(StructField("exact_probe", BooleanType)) else Nil))
    val probeRows = s.probes.map(r =>
      Row.fromSeq(if (s.exactProbeCol) r else r.take(4)))
    val shapeSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("input_forms", ArrayType(StringType)),
      StructField("extra_norm", ArrayType(StringType)),
      StructField("has_plus", BooleanType, nullable = false),
      StructField("has_in", BooleanType, nullable = false),
      StructField("stripped", ArrayType(StringType)),
      StructField("details", MapType(StringType, StringType))))
    val shapeRows = s.shapes.map { case (id, r) => Row.fromSeq(id +: r) }
    def df(rows: Seq[Row], schema: StructType, parts: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
    (df(probeRows, probeSchema, 3), df(catRows, catSchema, 1), df(shapeRows, shapeSchema, 2))
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.select("id", "generic_name", "atc_code", "drugbank_id", "reference_text",
        "source", "key", "match_reason", "mixture_branch")
      .collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private val configs = Seq(LookupWaterfall.referenceConfig, LookupWaterfall.Config(),
    LookupWaterfall.Config(fuzzyMode = "blocked", fuzzyMaxDist = 1),
    LookupWaterfall.Config(prefixMode = "char", prefixLen = 1, prefixLimit = 3,
      fuzzyRatioMin = 60.0, fuzzyMode = "ratio"))

  for (fallbackCol <- Seq(true, false))
    property(s"selector equals the relational oracle, fallback_only column: $fallbackCol") =
      forAllNoShrink(scenario, Gen.oneOf(configs)) { (s, cfg) =>
        val (probes, cat, shapes) = frames(s, fallbackCol)
        val got = multiset(ScoredTagger.tagCandidates(probes, cat, shapes, cfg))
        val want = multiset(RelationalSelection.tagCandidates(probes, cat, shapes, cfg))
        if (got != want) println(s"[ScoredTaggerPropSpec] $cfg differs on $s:\n" +
          s"  only selector: ${got.keySet -- want.keySet}\n" +
          s"  only oracle: ${want.keySet -- got.keySet}")
        got == want
      }
}
