package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Ws

/** Test oracle for [[Dedup.bandsOf]]: MinHash LSH banding as a relational
  * plan — split and trigram arrays, one row per distinct shingle, a
  * `groupBy(doc_id)` of 8 `min(md5(seed:shingle))` columns, then the 4
  * band keys. It states the semantics in Spark's own operators, so the
  * per-document kernel must agree with it on every input with unique
  * doc_ids, as a multiset of rows.
  */
object RelationalMinHash {

  /** doc_id + exploded distinct shingles (+ shingle-set size). */
  def shingleIndexOf(d: DataFrame): DataFrame =
    graft.core.CpuSpread.byKey(
      d.select(col("doc_id"), split(trim(col("text")), Ws.Plus).as("t")),
      col("doc_id"))
      .select(col("doc_id"), Dedup.shinglesOf(col("t")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_sh"), explode(col("shs")).as("sh"))

  /** Capped LSH band keys (8 minhashes, 4 bands x 2 rows) for a
    * (doc_id, sh) exploded-shingle frame.
    */
  def bandsOf(sh: DataFrame): DataFrame = {
    val minCols = (0 until 8).map(i =>
      min(md5(concat_ws(":", lit(i), col("sh")))).as(s"mh$i"))
    val sig = sh.groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until 8).map(i => col(s"mh$i")): _*).as("sig"))
    Dedup.capHotKeys(
      sig.select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, 3), b -> md5(concat(sig[b*2], sig[b*2+1])))")))
        .toDF("doc_id", "band_idx", "band_key"),
      Dedup.HotKeyCap, "band_idx", "band_key")
  }

  /** [[bandsOf]] over a (doc_id, text) frame. */
  def bandsOfDocs(d: DataFrame): DataFrame =
    bandsOf(shingleIndexOf(d).select("doc_id", "sh"))
}
