package graft.tagger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.SparkSpec

/** [[LookupWaterfall.allMatches]] (the broadcast catalog index) equals
  * [[RelationalWaterfall]] (the same waterfall as joins, anti-joins and
  * windows) as a multiset of rows, for every prefix mode x fuzzy mode x
  * prefixLimit in {0, 3}.
  *
  * The inputs aim at the places an index can drift from Spark's
  * semantics: duplicate keys with different payloads; null keys and
  * probes; `exact_only` / `exact_probe` null, true or false, with the
  * same probe string under different flags in one partition; the empty
  * probe and probes under 4 code points; ratio ties; and `é`, `ß`
  * (upper-cases to two letters), astral `😀` (one code point, two UTF-16
  * units) and fullwidth `ａ` (U+FF41: after `😀` in UTF-16 order, before
  * it in Spark's code-point order).
  */
object LookupWaterfallPropSpec extends Properties("LookupWaterfall") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkSpec.session

  private val letters = Seq("a", "b", "é", "ß", "😀", "ａ")
  private val word: Gen[String] =
    Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf(letters)).map(_.mkString))
  private val key: Gen[String] =
    Gen.frequency(3 -> word, 2 -> Gen.zip(word, word).map { case (a, b) => s"$a $b" })
  private val flag: Gen[Option[Boolean]] =
    Gen.frequency(1 -> None, 1 -> Some(true), 4 -> Some(false))

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

  // present in every scenario: ratio ties ("abcd" is 88.9 from both
  // "abcde" and "abcdf"), the 4-code-point boundary, ß -> SS, astral keys
  private val edgeKeys = Seq("abcde", "abcdf", "straße", "ßa😀b", "ａb", "😀b",
    "é", "ab cd", "ab😀 c")
  private val edgeProbes = Seq("", "ab", "abc", "abcd", "strasse", "ßa😀", "😀",
    "ａ", "ab😀", "abcdx")

  final case class Scenario(
      cat: Seq[(Option[String], Int, Option[Boolean])], exactOnlyCol: Boolean,
      probes: Seq[(Option[String], Option[Boolean])], exactProbeCol: Boolean)

  private val scenario: Gen[Scenario] = for {
    keys0 <- Gen.listOfN(10, key)
    keys = keys0 ++ edgeKeys
    cat <- Gen.listOfN(22, Gen.zip(
      Gen.frequency(12 -> Gen.oneOf(keys).map(Option(_)), 1 -> Gen.const(None)),
      Gen.choose(0, 3), flag))
    exactOnlyCol <- Gen.frequency(3 -> true, 1 -> false)
    pool <- Gen.listOfN(16, Gen.frequency(
      4 -> Gen.oneOf(keys), 4 -> Gen.oneOf(keys).flatMap(edit),
      2 -> Gen.oneOf(keys).map(_.takeWhile(_ != ' ')), 2 -> word))
    probes <- Gen.listOfN(36, Gen.zip(
      Gen.frequency(12 -> Gen.oneOf(pool ++ edgeProbes).map(Option(_)),
        1 -> Gen.const(None)),
      flag))
    exactProbeCol <- Gen.frequency(3 -> true, 1 -> false)
  } yield Scenario(cat, exactOnlyCol, probes, exactProbeCol)

  private def frames(s: Scenario): (DataFrame, DataFrame) = {
    val catSchema = StructType(Seq(StructField("key", StringType),
      StructField("payload", IntegerType, nullable = false)) ++
      (if (s.exactOnlyCol) Seq(StructField("exact_only", BooleanType)) else Nil))
    val catRows = s.cat.map { case (k, p, o) =>
      Row.fromSeq(Seq(k.orNull, p) ++ (if (s.exactOnlyCol) Seq(o.orNull) else Nil)) }
    val probeSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("probe_pos", IntegerType, nullable = false),
      StructField("probe", StringType)) ++
      (if (s.exactProbeCol) Seq(StructField("exact_probe", BooleanType)) else Nil))
    val probeRows = s.probes.zipWithIndex.map { case ((p, e), i) =>
      Row.fromSeq(Seq(i.toLong / 3, i % 3, p.orNull) ++
        (if (s.exactProbeCol) Seq(e.orNull) else Nil)) }
    (spark.createDataFrame(spark.sparkContext.parallelize(probeRows, 3), probeSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(catRows, 1), catSchema))
  }

  private def multiset(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    df.select(cols.map(df.col): _*).collect().toSeq.map(_.toSeq)
      .groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def agrees(s: Scenario, cfg: LookupWaterfall.Config): Boolean = {
    val (probes, cat) = frames(s)
    val got = LookupWaterfall.allMatches(probes, cat, cfg)
    val cols = got.columns.toSeq
    val want = multiset(RelationalWaterfall.allMatches(probes, cat, cfg), cols)
    val ok = multiset(got, cols) == want
    if (!ok) println(s"[LookupWaterfallPropSpec] $cfg differs on $s")
    // blocked's candidate generator is complete: scan's answer exactly
    ok && (cfg.fuzzyMode != "blocked" || want == multiset(
      RelationalWaterfall.allMatches(probes, cat, cfg.copy(fuzzyMode = "scan")), cols))
  }

  for {
    prefixMode <- Seq("token", "char")
    fuzzyMode <- Seq("scan", "blocked", "ratio")
    prefixLimit <- Seq(0, 3)
  } property(s"index equals the relational oracle: $prefixMode/$fuzzyMode/limit$prefixLimit") =
    forAllNoShrink(scenario, Gen.oneOf(1, 2), Gen.oneOf(1, 2),
        Gen.oneOf(60.0, 85.0), Gen.oneOf(1, 2)) { (s, prefixLen, d, ratioMin, fuzzyLimit) =>
      agrees(s, LookupWaterfall.Config(prefixMode = prefixMode,
        prefixLen = prefixLen, fuzzyMaxDist = d, fuzzyMode = fuzzyMode,
        fuzzyRatioMin = ratioMin, fuzzyLimit = fuzzyLimit,
        prefixLimit = prefixLimit))
    }
}
