package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.tagger.{DrugTagger, LookupWaterfall}

/** The C1 lookup waterfall over a STREAM of texts with a static broadcast
  * catalog (SURVEY §2.10's streaming demo shape).
  *
  * The waterfall itself is the batch one: [[graft.tagger.LookupWaterfall
  * .hits]] probes the static catalog's broadcast index in one narrow
  * `mapPartitions`, which a streaming frame supports (only the batch
  * path's eager checkpoint does not). The per-id state function keeps
  * the (leg, score, probe_pos, key) top-1.
  */
object TaggerStream {

  final case class StreamHit(id: Long, probe_pos: Int, key: String,
      generic_name: String, atc_code: String, leg: Int, score: Int)
  final case class StreamTag(id: Long, key: String, generic_name: String,
      atc_code: String, match_reason: String)

  /** @param texts   STREAMING (id, text) frame
    * @param catalog static (key, generic_name, atc_code, ...) frame
    * @return streaming (id, key, generic_name, atc_code, match_reason)
    */
  def tagStream(spark: SparkSession, texts: DataFrame, catalog: DataFrame,
      cfg: LookupWaterfall.Config = LookupWaterfall.Config()): DataFrame = {
    import spark.implicits._
    val hits = LookupWaterfall.hits(DrugTagger.probeFrame(texts, cfg),
        catalog.select("key", "generic_name", "atc_code"), cfg)
      .select(col("id"), col("probe_pos"), col("key"), col("generic_name"),
        col("atc_code"), col("leg"), col("score"))
      .as[StreamHit]

    // flatMapGroupsWithState is used ONLY for arbitrary per-id logic in
    // append mode (a windowed aggregation would force a watermark); the
    // state handle is never written, so the state store stays EMPTY —
    // NoTimeout is safe here because there is nothing to evict, unlike
    // DedupStream whose cross-batch state needs the event-time TTL. All
    // of an id's hits arrive in one micro-batch by construction (probes
    // derive from the text row that carries them).
    hits.groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[StreamHit], state: GroupState[Boolean]) =>
          rows.minByOption(h => (h.leg, h.score, h.probe_pos, h.key, h.generic_name))
            .map(h => StreamTag(id, h.key, h.generic_name, h.atc_code, "matched"))
            .iterator
      }
      .toDF()
  }
}
