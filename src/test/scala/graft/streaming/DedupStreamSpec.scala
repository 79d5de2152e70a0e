package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.operators.Dedup

/** Streaming MinHash near-dup: per-row band-key parity with the batch
  * banding, cross-batch first-seen flagging, short-doc null-band
  * hygiene, per-batch hot-key capping, and the sliding event-time
  * horizon (stale representatives re-seed; idle band state is evicted
  * once the watermark passes its deadline). Event timestamps are
  * explicit, so every case is deterministic — no clocks, no sleeps.
  */
class DedupStreamSpec extends SparkSpec {

  import spark.implicits._

  private val original =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val nearCopy =
    "the quick brown fox jumps over the lazy dog near the river bank now"
  private val nearCopy2 =
    "the quick brown fox jumps over the lazy dog near the river bank soon"
  private val unrelated =
    "completely different words about spark shuffles and parquet footers here"

  private def at(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  /** Latest reported state-store row count (sum over state operators). */
  private def stateRows(q: StreamingQuery): Long =
    q.recentProgress.reverseIterator
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(-1L)

  test("per-row signature equals the batch groupBy signature") {
    // the stream bands each ROW; q36's batch path bands a (doc_id, text)
    // frame — one kernel, so the same docs must give the same keys
    val docs = Seq((1L, original, at("10:00")), (2L, unrelated, at("10:00")),
        (3L, nearCopy, at("10:00")), (4L, "two words", at("10:00")))
      .toDF("id", "text", "ts")
    val perRow = DedupStream.bandHits(docs)
      .select("doc_id", "band_key").as[(Long, String)].collect().sorted.toSeq
    val batch = Dedup.bandsOf(docs.select(col("id").as("doc_id"), col("text")))
      .select("doc_id", "band_key").as[(Long, String)].collect().sorted.toSeq
    assert(perRow.size == 12, perRow)
    assert(perRow == batch)
  }

  test("cross-batch collisions flag against the first-seen representative") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = DedupStream.nearDupFlags(
        spark, stream.toDF().toDF("id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      stream.addData((1L, original, at("10:00")), (2L, unrelated, at("10:00")))
      q.processAllAvailable()
      // batch 2: a near-copy of doc 1 (shares bands) + a fresh doc
      stream.addData(
        (3L, nearCopy, at("10:05")),
        (4L, "totally novel content streaming in fresh tokens only", at("10:05")))
      q.processAllAvailable()
    } finally q.stop()
    val flags = spark.table("neardup_stream")
      .select("doc_id", "dup_of").distinct()
      .as[(Long, Long)].collect().toSet
    assert(flags.contains((3L, 1L)), s"near-copy not flagged: $flags")
    assert(!flags.exists(_._1 == 2L), "unrelated doc wrongly flagged")
    assert(!flags.exists(_._1 == 4L), "novel doc wrongly flagged")
  }

  test("short docs (< 3 tokens) produce no band keys, no flags, no state") {
    // < 3 tokens -> no shingles -> an empty band-key array; a null key
    // here would be shared by every short doc and flag all but the
    // first forever
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = DedupStream.nearDupFlags(
        spark, stream.toDF().toDF("id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_short")
      .outputMode("append").start()
    try {
      stream.addData((1L, "hi", at("10:00")), (2L, "ok bye", at("10:00")))
      q.processAllAvailable()
      stream.addData((3L, "yes", at("10:01")), (4L, "", at("10:01")))
      q.processAllAvailable()
      assert(spark.table("neardup_short").isEmpty,
        "short docs must not be flagged as near-dups of each other")
      assert(stateRows(q) == 0L,
        s"short docs must claim no band-key state, got ${stateRows(q)}")
    } finally q.stop()
  }

  test("a band key hotter than the cap is skipped for that batch") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String, Timestamp)]
    // 4 identical docs in one batch: every band key has 4 docs > cap 2
    val q = DedupStream.nearDupFlags(
        spark, stream.toDF().toDF("id", "text", "ts"), hotKeyCap = 2)
      .writeStream.format("memory").queryName("neardup_hot")
      .outputMode("append").start()
    try {
      stream.addData((1L, original, at("10:00")), (2L, original, at("10:00")),
        (3L, original, at("10:00")), (4L, original, at("10:00")))
      q.processAllAvailable()
      assert(spark.table("neardup_hot").isEmpty,
        "boilerplate-hot band must be skipped, not flagged")
      assert(stateRows(q) == 0L,
        "boilerplate-hot band must not claim state")
    } finally q.stop()
    // the same docs under the default cap DO flag (the cap only guards
    // degenerate bands, it must not change normal semantics)
    val stream2 = MemoryStream[(Long, String, Timestamp)]
    val q2 = DedupStream.nearDupFlags(
        spark, stream2.toDF().toDF("id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_hot_default")
      .outputMode("append").start()
    try {
      stream2.addData((1L, original, at("10:00")), (2L, original, at("10:00")),
        (3L, original, at("10:00")), (4L, original, at("10:00")))
      q2.processAllAvailable()
      val flagged = spark.table("neardup_hot_default")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(flagged == Set(2L, 3L, 4L), s"expected 2,3,4 dup of 1: $flagged")
    } finally q2.stop()
  }

  test("crash recovery: state, representatives and TTL deadlines survive a restart") {
    // the production failure mode for any stateful ingest job: the query
    // dies mid-stream and restarts from its checkpoint. Everything the
    // operator knows — band representatives, lastSeen, timeout deadlines,
    // the watermark — must come back from the state store, not from the
    // replayed data (committed batches are NOT re-read).
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-dedup-ckpt").toString
    def bandsOf(text: String): Set[String] =
      Seq(text).toDF("text")
        .select(explode(Dedup.bandKeys(spark, col("text"))).as("b"))
        .as[String].collect().toSet
    val unrelated2 = "parquet row groups carry min max stats for pruning scans"
    val fresh = "entirely new tokens appear here after the restart happened"

    val stream = MemoryStream[(Long, String, Timestamp)]
    // the memory sink refuses checkpoint recovery, so the restartable
    // form uses foreachBatch (the production shape anyway) collecting
    // into a buffer
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val collectBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (df, _) => {
        val rows = df.select("doc_id", "dup_of").as[(Long, Long)].collect()
        got.synchronized { got ++= rows }
      }
    def start() = DedupStream.nearDupFlags(
        spark, stream.toDF().toDF("id", "text", "ts"),
        ttlMs = 3600L * 1000) // 1 h horizon, default 10 min lateness
      .writeStream.foreachBatch(collectBatch)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // ---- run 1: seed two docs' band state, commit, then "crash"
    val q1 = start()
    try {
      stream.addData((1L, original, at("10:00")), (2L, unrelated, at("10:00")))
      q1.processAllAvailable()
      assert(stateRows(q1) == (bandsOf(original) ++ bandsOf(unrelated)).size,
        "seed state must be exactly the two docs' band keys")
      assert(got.isEmpty, s"unrelated seed docs must not flag: $got")
    } finally q1.stop()

    // ---- run 2: restart from the same checkpoint
    val q2 = start()
    try {
      // (a) a colliding doc arriving AFTER the restart must flag against
      // the PRE-restart representative — only possible if its band state
      // was restored from the checkpoint (batch 1 is committed, so the
      // restarted query does not re-process it)
      stream.addData((3L, nearCopy, at("10:05")))
      q2.processAllAvailable()
      val flags = got.synchronized(got.toSet)
      assert(flags == Set((3L, 1L)),
        s"post-restart near-copy must flag against pre-restart rep 1: $flags")

      // (b) deadlines survived with their exact VALUES: an arrival at
      // 10:55 puts the watermark at 10:45 — before every 11:00/11:05
      // deadline — so nothing may evict yet...
      stream.addData((4L, unrelated2, at("10:55")))
      q2.processAllAvailable()
      val all4 = bandsOf(original) ++ bandsOf(unrelated) ++
        bandsOf(nearCopy) ++ bandsOf(unrelated2)
      assert(stateRows(q2) == all4.size,
        s"watermark 10:45 is before every restored deadline; want ${all4.size} rows")

      // ...and an arrival at 12:30 puts it at 12:20 — past them all — so
      // the restored idle keys evict and only the fresh doc's bands remain
      stream.addData((5L, fresh, at("12:30")))
      q2.processAllAvailable()
      assert(stateRows(q2) == bandsOf(fresh).size,
        s"restored deadlines must fire post-restart: want ${bandsOf(fresh).size} " +
          s"(= fresh doc's bands), got ${stateRows(q2)}")
    } finally q2.stop()
  }

  test("event-time TTL: stale representative re-seeds; idle state evicts") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = DedupStream.nearDupFlags(
        spark, stream.toDF().toDF("id", "text", "ts"),
        ttlMs = 3600L * 1000) // 1 h horizon
      .writeStream.format("memory").queryName("neardup_ttl")
      .outputMode("append").start()
    try {
      // batch 1 @10:00: original + unrelated seed 8 band-key entries
      stream.addData((1L, original, at("10:00")), (2L, unrelated, at("10:00")))
      q.processAllAvailable()
      val afterSeed = stateRows(q)
      assert(afterSeed == 8L, s"expected 8 seeded band keys, got $afterSeed")

      // batch 2 @12:00 (2 h later, past the 1 h horizon): nearCopy shares
      // doc 1's bands, but the stored representative is stale -> NOT
      // flagged; the keys it touches re-seed with rep=3, deadline 13:00.
      // The data batch runs with the pre-batch watermark (so the stale
      // state is still VISIBLE for the re-seed decision); committing it
      // advances the watermark to 11:50 (12:00 minus the default
      // 10-minute lateness), which makes the engine run a follow-up
      // timeout batch that EVICTS every idle key whose 11:00 deadline
      // has passed — doc 1/doc 2's 8 seeds are gone, only doc 3's 4
      // re-seeded keys survive
      stream.addData((3L, nearCopy, at("12:00")))
      q.processAllAvailable()
      val flags1 = spark.table("neardup_ttl")
        .select("doc_id").as[Long].collect().toSet
      assert(!flags1.contains(3L),
        s"doc 3 must NOT be a dup of an expired representative: $flags1")
      val afterReseed = stateRows(q)
      assert(afterReseed == 4L,
        s"idle state must be evicted once the watermark passes 11:00: " +
          s"want 4 (= doc 3's re-seeded bands), got $afterReseed")

      // batch 3 @12:10 (inside the horizon of rep 3): another near-copy
      // IS flagged against the re-seeded representative; state is now
      // bands(doc3) ∪ bands(doc5) — 6 keys (the two texts share 2 of
      // their 4 md5 band keys; deterministic, so pinned exactly)
      stream.addData((5L, nearCopy2, at("12:10")))
      q.processAllAvailable()
      val flags2 = spark.table("neardup_ttl")
        .select("doc_id", "dup_of").distinct().as[(Long, Long)].collect().toSet
      assert(flags2.exists(f => f._1 == 5L && f._2 == 3L),
        s"doc 5 must be a dup of the re-seeded rep 3: $flags2")
      val afterEvict = stateRows(q)
      assert(afterEvict == 6L,
        s"state must be exactly bands(doc3) ∪ bands(doc5): want 6, got $afterEvict")
    } finally q.stop()
  }
}
