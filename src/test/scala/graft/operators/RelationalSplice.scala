package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test oracle for [[Winnow.spliceClean]]: the span splice as a
  * relational plan — a `lag` window for the gap pieces, a tail
  * aggregate, their union, `substring` per piece, the
  * `array_sort(collect_list)` reassembly, a stats aggregate and two left
  * joins. It states the semantics in Spark's own operators, so the
  * per-document kernel must agree with it on every doc whose spans have
  * distinct starts (the window's order among equal starts is not
  * defined). `alld` is (doc_id, tx, n) covering every doc; `spans` is
  * (doc_id, s, e). Output: (doc_id, n_spans, n_chars_removed,
  * clean_text).
  */
object RelationalSplice {

  def spliceClean(alld: DataFrame, spans: DataFrame): DataFrame = {
    val wspan = Window.partitionBy("doc_id").orderBy("s")
    val pre = spans
      .withColumn("ks", coalesce(lag(col("e"), 1).over(wspan), lit(0L)) + 1L)
      .withColumn("ke", col("s") - 1L)
      .select("doc_id", "ks", "ke")
    val tailP = spans.groupBy("doc_id")
      .agg((max(col("e")) + 1L).as("ks"))
      .join(alld.select(col("doc_id"), col("n").cast("long").as("ke")),
        "doc_id")
      .select("doc_id", "ks", "ke")
    val cleaned = pre.unionByName(tailP)
      .filter(col("ke") >= col("ks"))
      .join(alld.select("doc_id", "tx"), "doc_id")
      .select(col("doc_id"), col("ks"),
        expr("substring(tx, cast(ks as int), cast(ke - ks + 1 as int))")
          .as("piece"))
      .groupBy("doc_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ks, piece))), x -> x.piece)"),
        "").as("ct"))
    val stats = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1L).as("n_removed"))
    alld
      .join(stats, Seq("doc_id"), "left")
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_chars_removed"),
        coalesce(col("ct"),
          when(col("n_spans").isNull, col("tx")).otherwise(lit("")))
          .as("clean_text"))
  }
}
