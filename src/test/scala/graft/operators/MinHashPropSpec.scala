package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.SparkSpec

/** [[Dedup.bandsOf]] (one [[graft.expressions.MinHashBands]] call per
  * document) equals [[RelationalMinHash]] (shingle explode + 8-column
  * `min(md5)` aggregate) as a multiset of (doc_id, band_idx, band_key)
  * rows.
  *
  * The texts aim at the places a hand-written kernel can drift from
  * Spark's operators: runs of every whitespace class the tokenizer
  * splits on, plus U+000B, which is whitespace to neither engine; leading
  * and trailing tabs (Spark's `trim` strips only U+0020, so a leading tab
  * leaves an empty first token); leading and trailing spaces; `é`, `ß`,
  * astral `😀` and fullwidth `ａ` (multi-byte UTF-8, whose digests reach
  * the unsigned half of the byte range); a tiny alphabet, so trigrams
  * repeat within and across documents; and 0–3-token, empty and null
  * texts. doc_ids are unique, the kernel's precondition.
  */
object MinHashPropSpec extends Properties("MinHash") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session

  private val word: Gen[String] = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("a", "b", "é", "ß", "😀", "ａ")).map(_.mkString))
  private val sep: Gen[String] = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(" ", "\t", "\n", "\f", "\r")).map(_.mkString))
  /** Word characters, U+000B included: it splits on neither engine. */
  private val vtWord: Gen[String] =
    Gen.zip(word, word).map { case (a, b) => a + "\u000b" + b }
  private val edge: Gen[String] = Gen.oneOf("", " ", "\t", "\t ", "  \t", " \f ")

  private def textOf(nTok: Gen[Int]): Gen[String] = for {
    n <- nTok
    toks <- Gen.listOfN(n, Gen.frequency(8 -> word, 1 -> vtWord))
    seps <- Gen.listOfN(math.max(n - 1, 0), sep)
    lead <- edge
    trail <- edge
  } yield lead + toks.zipAll(seps, "", "").map { case (t, s) => t + s }.mkString + trail

  private val text: Gen[Option[String]] = Gen.frequency(
    6 -> textOf(Gen.choose(4, 12)).map(Option(_)),
    3 -> textOf(Gen.choose(0, 3)).map(Option(_)),
    1 -> Gen.const(None))

  private def frame(texts: Seq[Option[String]]): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType)))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong * 7 + 3, t.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.select("doc_id", "band_idx", "band_key").collect().toSeq.map(_.toSeq)
      .groupBy(identity).map { case (r, rs) => r -> rs.size }

  property("bandsOf equals the relational oracle") =
    forAllNoShrink(Gen.listOfN(40, text)) { texts =>
      val d = frame(texts)
      val got = multiset(Dedup.bandsOf(d))
      val want = multiset(RelationalMinHash.bandsOfDocs(d))
      if (got != want) println(s"[MinHashPropSpec] differs on $texts")
      got == want && want.nonEmpty
    }
}
