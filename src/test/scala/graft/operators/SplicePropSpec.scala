package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.SparkSpec

/** [[Winnow.spliceClean]] (one [[graft.expressions.SpanSplice]] call per
  * document over its collected spans) equals [[RelationalSplice]] (lag
  * window, tail aggregate, union, `array_sort(collect_list)`
  * reassembly) row for row: (doc_id, n_spans, n_chars_removed,
  * clean_text).
  *
  * Texts mix ASCII with `é`, `ß`, astral `😀` and fullwidth `ａ`, so
  * code-point positions and UTF-8 byte offsets differ. Spans are
  * disjoint with distinct starts (what the islands pass emits; the
  * relational window's order among equal starts is not defined), and
  * every run also carries fixed docs for each edge: a span at position
  * 1, a span ending at n, adjacent spans (`e + 1 = next s`), a span
  * reaching past n, a span starting past n, every char removed (which
  * must give ""), spanless docs (unchanged), and null text with and
  * without spans.
  */
object SplicePropSpec extends Properties("SpanSplice") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session

  private val char: Gen[String] =
    Gen.frequency(6 -> Gen.alphaLowerChar.map(_.toString),
      2 -> Gen.const(" "), 1 -> Gen.oneOf("é", "ß", "😀", "ａ"))

  private def cps(t: String): Int = t.codePointCount(0, t.length)

  /** Disjoint spans over a text of `n` code points, left to right: a
    * gap of 0 makes the span adjacent to the previous one, and the walk
    * may run past n.
    */
  private def spansOf(n: Int): Gen[List[(Long, Long)]] = {
    def walk(pos: Long, acc: List[(Long, Long)]): Gen[List[(Long, Long)]] =
      if (pos > n + 3) Gen.const(acc.reverse)
      else for {
        gap <- Gen.frequency(2 -> Gen.const(0L), 3 -> Gen.choose(1L, 6L))
        len <- Gen.choose(1L, 5L)
        take <- Gen.frequency(3 -> true, 1 -> false)
        s = pos + gap
        e = s + len - 1
        rest <- walk(e + 1, if (take) (s, e) :: acc else acc)
      } yield rest
    walk(1L, Nil)
  }

  private val doc: Gen[(Option[String], List[(Long, Long)])] = for {
    n <- Gen.choose(0, 24)
    t <- Gen.listOfN(n, char).map(_.mkString)
    text <- Gen.frequency(9 -> Gen.const(Option(t)), 1 -> Gen.const(None))
    spans <- Gen.frequency(3 -> spansOf(cps(t)), 1 -> Gen.const(Nil))
  } yield (text, spans)

  /** One doc per edge the kernel must get right. */
  private val edges: Seq[(Option[String], List[(Long, Long)])] = {
    val t = "aé😀bßｃd ef"
    val n = cps(t).toLong
    Seq(
      Some(t) -> List((1L, 2L)),                    // span at position 1
      Some(t) -> List((4L, n)),                     // span ending at n
      Some(t) -> List((2L, 3L), (4L, 6L)),          // adjacent spans
      Some(t) -> List((3L, n + 5)),                 // reaching past n
      Some(t) -> List((2L, 2L), (n + 2, n + 3)),    // starting past n
      Some(t) -> List((1L, n)),                     // every char removed
      Some(t) -> List((1L, 3L), (4L, n + 1)),       // every char, adjacent
      Some(t) -> Nil,                               // spanless
      Some("") -> Nil,
      None -> Nil,                                  // null text, spanless
      None -> List((1L, 4L)))                       // null text with spans
  }

  private def frames(docs: Seq[(Option[String], List[(Long, Long)])])
      : (DataFrame, DataFrame) = {
    val withIds = docs.zipWithIndex.map { case (d, i) => (i.toLong * 5 + 2, d) }
    val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("tx", StringType)))
    val alld = spark.createDataFrame(spark.sparkContext.parallelize(
        withIds.map { case (id, (t, _)) => Row(id, t.orNull) }, 3), docSchema)
      .withColumn("n", length(col("tx")))
    import spark.implicits._
    val spans = spark.sparkContext.parallelize(withIds.flatMap {
        case (id, (_, sp)) => sp.map { case (s, e) => (id, s, e) }
      }, 2).toDF("doc_id", "s", "e")
    (alld, spans)
  }

  private def rows(df: DataFrame): Map[Long, (Long, Long, String)] =
    df.select("doc_id", "n_spans", "n_chars_removed", "clean_text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

  property("spliceClean equals the relational oracle") =
    forAllNoShrink(Gen.listOfN(30, doc)) { random =>
      val docs = edges ++ random
      val (alld, spans) = frames(docs)
      val got = rows(Winnow.spliceClean(alld.drop("n"), spans))
      val want = rows(RelationalSplice.spliceClean(alld, spans))
      if (got != want) println(s"[SplicePropSpec] differs on $docs:\n" +
        want.keys.toSeq.sorted.filter(k => got.get(k) != want.get(k))
          .map(k => s"  $k: got ${got.get(k)} want ${want(k)}").mkString("\n"))
      // the fixed edges: all removed gives "", spanless and null pass through
      val ids = docs.indices.map(_.toLong * 5 + 2)
      got == want && got.size == docs.size &&
        got(ids(5))._3 == "" && got(ids(6))._3 == "" &&
        got(ids(7))._3 == docs(7)._1.get && got(ids(9))._3 == null &&
        got(ids(10)) == ((1L, 4L, ""))
    }
}
