package graft.operators

import graft.core.Lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** Persisted decontamination benchmark index: the persisted-index
  * "build once, probe forever" pattern ([[IndexLayout]]) applied to the
  * sketch layer.
  *
  * q53/q95 rebuild the benchmark's distinct-shingle set (and its
  * bloom filter) on EVERY run — the q78-shape recompute smell: the
  * benchmark suite is the STATIONARY side of decontamination (it changes
  * when the eval suite changes, not when corpus batches arrive), so at
  * 100 TB its derived structures should be paid for once per benchmark
  * generation, not once per ingest. This object persists both layers:
  *
  *  - the EXACT distinct shingle set as a parquet table bucketed by
  *    `sh` — the confirm join's key — so a probe's confirm join reads
  *    the benchmark side with NO exchange (the survivors side, already
  *    bloom-pruned to a sliver, is the only thing that shuffles);
  *  - the bloom filter bits as a `_BLOOM` sidecar (the map-side
  *    prefilter, ~10 bits/shingle), deserialized once per (session,
  *    generation) and broadcast.
  *
  * Freshness and restart are the one index lifecycle ([[IndexLayout]]),
  * fingerprinted on `documents.parquet`; the `_BLOOM` sidecar lands in
  * the same publish as the table, so it is covered by the same
  * fingerprint.
  */
object BloomIndex {

  /** The exact distinct shingle set, bucketed on the confirm join's
    * key; `_BLOOM` holds the filter bits.
    */
  val Layout = IndexLayout("graft_bench_shingles_",
    StructType.fromDDL("sh STRING"), Seq("sh"), Seq("sh"),
    sidecars = Seq("_BLOOM"))

  /** Per-(path, fingerprint) deserialized bloom cache: the sidecar is
    * read once per corpus generation per JVM, not once per query.
    */
  @volatile private var bloomCache = Map.empty[(String, String), BloomFilter]

  /** Ensure the benchmark index for `dir` exists, is fresh, and is in
    * this session's catalog; returns the table name. Warm cost: a
    * catalog lookup + an O(#files) fingerprint. Cold cost: one
    * O(benchmark) build — paid once per benchmark generation.
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    Layout.ensure(spark, dir, BandIndex.fingerprint(dir)) { (tn, tp) =>
      val (bench, _) = Dedup.decontamSides(spark, dir)
      Layout.write(spark, bench, tn, tp)
      // bloom over the just-written table (one distributed aggregate);
      // sized from the table's row count — a metadata-cheap second job
      val n = spark.table(tn).count()
      val bf = spark.table(tn).stat
        .bloomFilter("sh", math.max(n, 1L), 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      Lake.writeBytes(tp.resolve("_BLOOM").toString, bos.toByteArray)
    }
  }

  /** The persisted bloom for `dir` (ensure()d, cached per generation). */
  def bloom(spark: SparkSession, dir: String): BloomFilter = {
    val name = ensure(spark, dir)
    val fp = BandIndex.fingerprint(dir)
    val key = (name, fp)
    bloomCache.getOrElse(key, synchronized {
      bloomCache.getOrElse(key, {
        val bytes = Lake.readBytes(
          IndexLayout.pathOf(name).resolve("_BLOOM").toString)
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        bloomCache = bloomCache + (key -> bf)
        bf
      })
    })
  }

  /** Per-doc (doc_id, n_sh, n_hit) via the persisted index, from one
    * shingled corpus frame ([[Dedup.decontamCounts]]): map-side bloom
    * prefilter, then the exact confirm join against the bucketed shingle
    * table (index side exchange-free — spec-pinned). Counts are
    * identical to q53's.
    */
  def probeHits(spark: SparkSession, dir: String): DataFrame = {
    val (_, corpus) = Dedup.decontamSides(spark, dir)
    Dedup.decontamCounts(corpus,
      SketchExact.bloomTest(spark, bloom(spark, dir)), spark.table(ensure(spark, dir)))
  }

  /** Per-doc (doc_id, n_sh, n_hit) for EVERY doc of ANY (doc_id, shs)
    * frame — [[Dedup.decontamCounts]] against the persisted index, one
    * pass over the shingle arrays; shared with q115's s4 and the
    * streaming [[graft.streaming.DecontamSink]] /
    * [[graft.streaming.CurationSink]], whose batches are not the full
    * corpus.
    */
  def probeHitsOf(spark: SparkSession, dir: String,
      shingled: DataFrame): DataFrame =
    Dedup.decontamCounts(shingled,
      SketchExact.bloomTest(spark, bloom(spark, dir)),
      spark.table(ensure(spark, dir)))

  /** The full q53-equivalent report from the persisted index. */
  def probe(spark: SparkSession, dir: String): DataFrame =
    Dedup.decontamAssemble(probeHits(spark, dir))
}
