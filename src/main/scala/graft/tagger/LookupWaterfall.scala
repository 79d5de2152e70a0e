package graft.tagger

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Pin
import graft.functions.FuzzyLib

/** The reference's core lookup pattern (SURVEY §2.9 C1): a prioritized
  * first-match-wins waterfall of exact -> prefix -> fuzzy catalog lookups
  * (`lookup.py:223-306`), run the way the reference runs it — every
  * probe string is looked up in an in-memory index of the catalog:
  *
  *   - the catalog is a dimension table (reference catalogs are
  *     10^4–10^5 rows): it is collected once per call, built into a
  *     `CatalogIndex` on the driver and broadcast;
  *   - probe rows stream through ONE narrow `mapPartitions` with no
  *     exchange, join or window: each distinct probe string of a
  *     partition is looked up once — prefix only on an exact miss, fuzzy
  *     only on a prefix miss, like the reference's "fuzzy only on lookup
  *     misses" (`lookup.py:287-304`);
  *   - the top-1 ranking of [[tag]] is a row_number window over (leg,
  *     score, probe position, key) — fully deterministic.
  *
  * Strings compare as Spark compares them: lengths count code points,
  * key order is `UTF8String.compareTo` and edit distance is
  * `UTF8String.levenshteinDistance`.
  */
object LookupWaterfall {

  /** @param prefixMode "char": catalog key starts with the first
    *                   `prefixLen` chars of the probe (q23 demo form);
    *                   "token": catalog key starts with `probe + " "`
    *                   (the reference's LIKE 'TOKEN %' fallback,
    *                   `lookup.py:117-137`). Either is a range scan over
    *                   the index's sorted keys.
    * @param fuzzyMode  "scan": levenshtein <= fuzzyMaxDist against every
    *                   key whose length is within fuzzyMaxDist of the
    *                   probe's (the index's length buckets);
    *                   "blocked": SymSpell-style candidates — the keys
    *                   that share a <=fuzzyMaxDist-deletion variant with
    *                   the probe (the index's variant map, built on
    *                   first use in each executor JVM), each verified
    *                   by exact levenshtein. IDENTICAL results to scan
    *                   (lev(a,b) <= d iff the two deletion neighborhoods
    *                   intersect), with fewer comparisons when the length
    *                   buckets are crowded;
    *                   "ratio": the REFERENCE's fuzzy semantics
    *                   (`lookup.py:164-220`): rapidfuzz fuzz.ratio >=
    *                   fuzzyRatioMin, probes shorter than 4 chars never
    *                   fuzzy-match, top-`fuzzyLimit` catalog keys per
    *                   probe by ratio. [[graft.tagger.ScoredTagger
    *                   .tagTexts]] defaults to this mode.
    */
  final case class Config(
      prefixMode: String = "token",
      prefixLen: Int = 4,
      fuzzyMaxDist: Int = 2,
      fuzzyMode: String = "scan",
      fuzzyRatioMin: Double = 85.0,
      fuzzyLimit: Int = 3,
      // 0 = unlimited; the reference's prefix lookup keeps the N
      // SHORTEST matching keys per probe (`lookup.py:116-137` ORDER BY
      // LENGTH LIMIT ?) — tagger entry points use [[referenceConfig]]
      prefixLimit: Int = 0)

  /** The configuration the reference's tagger actually runs:
    * `batch_lookup_generics` (`lookup.py:288-304`) calls
    * `lookup_generic_prefix(token, con, limit=3)` and
    * `lookup_generic_fuzzy(token, con, threshold=85, limit=1, ...)` —
    * NOT those functions' signature defaults (5/3). All tagger entry
    * points (ScoredTagger/DrugTagger/DrugsTaggingPipeline) default here
    * so reference parity never depends on the caller passing a config.
    */
  val referenceConfig: Config =
    Config(fuzzyMode = "ratio", fuzzyRatioMin = 85.0, fuzzyLimit = 1,
      prefixLimit = 3)

  /** @param probes  (id, probe_pos, probe) — one row per candidate probe
    * @param catalog (key, ...payload) — broadcastable reference table
    * @return best match per id: probes cols + catalog cols + leg (1=exact,
    *         2=prefix, 3=fuzzy) + score; ids with no match are absent
    *         (callers left-join back and coalesce a no_match reason)
    */
  def tag(probes: DataFrame, catalog: DataFrame, cfg: Config = Config()): DataFrame = {
    val all = allMatches(probes, catalog, cfg)
    val w = Window.partitionBy("id")
      .orderBy(col("leg"), col("score"), col("probe_pos"), col("key"))
    all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Every leg hit (no top-1 ranking) — the candidate set the scoring
    * layer consumes (`tagger.py:728-771` collects all candidates before
    * `select_best_candidate`): probe cols, then catalog cols (with
    * `exact_only`), then leg and score.
    *
    * Waterfall granularity is the PROBE STRING, matching the reference:
    * `lookup.py:223-306` short-circuits exact -> prefix -> fuzzy per
    * looked-up string, and `tagger.py:704-707` batch-caches one result
    * set per unique generic string. A probe string that exact-matched
    * never reaches the fuzzy leg, but a *different* probe of the same id
    * still can — mixed exact + fuzzy candidate sets per id are the norm
    * (that is what feeds the fuzzy-correction feedback, tagger.py:884-896).
    *
    * Two optional boolean columns narrow the legs:
    *   - catalog `exact_only`: only rows where it is false (not null)
    *     enter the prefix and fuzzy legs, and only an exact hit on such a
    *     row stops a probe's chain. The reference reaches mixture rows ONLY through
    *     key equality (`WHERE UPPER(mixture_name) = ?` / `WHERE
    *     component_key = ?`, tagger.py:788/341) — a separate table
    *     outside the unified prefix/fuzzy lookup universe.
    *   - probe `exact_probe`: unless false, the probe is an equality
    *     lookup only (pipe-joined mixture component keys,
    *     `tagger.py:327-360`) and never reaches the prefix or fuzzy legs.
    *
    * Lifecycle: one job collects the catalog, one [[graft.core.Pin]]
    * materializes the hits; the probe frame is read once. The broadcast
    * index is destroyed once the pin holds the result, and the pin is
    * released with the caller's scope. (On a multi-executor cluster a
    * lost executor invalidates local checkpoints; there, prefer a
    * reliable checkpoint directory — the candidate frame is small, one
    * row per (id, candidate).)
    */
  def allMatches(probes: DataFrame, catalog: DataFrame,
      cfg: Config = Config()): DataFrame = {
    val (all, index) = indexed(probes, catalog, cfg)
    try Pin(all, "LookupWaterfall.hits") finally index.destroy()
  }

  /** The hits of [[allMatches]] as a lazy frame, without the checkpoint:
    * one narrow `mapPartitions`, so it also runs over a STREAMING probe
    * frame ([[graft.streaming.TaggerStream]]). The broadcast index lives
    * until the ContextCleaner collects it.
    */
  def hits(probes: DataFrame, catalog: DataFrame, cfg: Config = Config()): DataFrame =
    indexed(probes, catalog, cfg)._1

  private def indexed(probes: DataFrame, catalog: DataFrame,
      cfg: Config): (DataFrame, Broadcast[CatalogIndex]) = {
    val idx = this.index(catalog, cfg)
    val index = probes.sparkSession.sparkContext.broadcast(idx)
    val probeAt = probes.schema.fieldIndex("probe")
    val exactProbeAt =
      Some(probes.columns.indexOf("exact_probe")).filter(_ >= 0)
    val schema = StructType(probes.schema.fields ++ idx.schema.fields ++ Seq(
      StructField("leg", IntegerType, nullable = false),
      StructField("score", IntegerType)))
    val all = probes.mapPartitions { rows =>
      val lookup = index.value.memoized()
      rows.flatMap { r =>
        if (r.isNullAt(probeAt)) Iterator.empty
        else {
          val unified = exactProbeAt.forall(i => !r.isNullAt(i) && !r.getBoolean(i))
          val vals = r.toSeq
          lookup(r.getString(probeAt), unified).iterator.map(c => Row.fromSeq(vals ++ c))
        }
      }
    }(Encoders.row(schema))
    (all, index)
  }

  /** The catalog collected once (no job for a local frame) and built
    * into its probe index on the driver; callers broadcast it.
    * A catalog without an `exact_only` column gets one, all false.
    */
  private[tagger] def index(catalog: DataFrame, cfg: Config): CatalogIndex = {
    val cat =
      if (catalog.columns.contains("exact_only")) catalog
      else catalog.withColumn("exact_only", lit(false))
    CatalogIndex(cat.collect(), cat.schema, cfg)
  }

  private[tagger] object CatalogIndex {
    def apply(rows: Array[Row], schema: StructType, cfg: Config): CatalogIndex = {
      val keyAt = schema.fieldIndex("key")
      val onlyAt = schema.fieldIndex("exact_only")
      def rowsByKey(keep: Row => Boolean): Map[String, Array[Int]] =
        rows.indices.filter(i => !rows(i).isNullAt(keyAt) && keep(rows(i)))
          .groupBy(rows(_).getString(keyAt)).map { case (k, is) => k -> is.toArray }
      new CatalogIndex(schema, rows.map(_.toSeq), rowsByKey(_ => true),
        rowsByKey(r => !r.isNullAt(onlyAt) && !r.getBoolean(onlyAt)), cfg)
    }
  }

  /** One probe string's hits, each as catalog values ++ (leg, score):
    * `exact` for equality-only probes, `all` for the full waterfall.
    */
  private final class Hits(val exact: Array[Seq[Any]], later: => Array[Seq[Any]]) {
    lazy val all: Array[Seq[Any]] = exact ++ later
  }

  /** A distinct key of the prefix/fuzzy universe in Spark's terms. */
  private final class Key(val s: String) extends Serializable {
    val u: UTF8String = UTF8String.fromString(s)
    val len: Int = u.numChars
    val upper: String = s.toUpperCase
  }

  /** The catalog as the waterfall probes it, built once on the driver:
    * rows by key (exact leg); the sorted distinct keys of the
    * `exact_only = false` rows (prefix range scans); and those keys
    * bucketed by length (scan and ratio). The deletion variants of those
    * keys (blocked) are built lazily on the executor side.
    * `values` holds each row's catalog values in `schema`'s order,
    * `byKey` and `unified` map a key to its rows in the whole catalog and
    * in that universe. [[memoized]] is the one per-probe lookup every
    * caller runs.
    */
  private[tagger] final class CatalogIndex(val schema: StructType,
      val values: Array[Seq[Any]], byKey: Map[String, Array[Int]],
      unified: Map[String, Array[Int]], cfg: Config) extends Serializable {
    private val sorted =
      unified.keys.map(new Key(_)).toArray.sortWith((a, b) => a.u.compareTo(b.u) < 0)
    private val byLength: Map[Int, Array[Key]] = sorted.groupBy(_.len)
    // O(keys * len^d) strings: built where the first probe reaches the
    // blocked leg (once per executor JVM), never shipped in the broadcast
    @transient private lazy val variants: Map[String, Array[Key]] =
      sorted.flatMap(k => deleteVariants(k.s, cfg.fuzzyMaxDist).map(_ -> k))
        .groupBy(_._1).map { case (v, ks) => v -> ks.map(_._2) }

    private def hits(k: Key, leg: Int, score: Int): Array[Seq[Any]] =
      unified(k.s).map(values(_) ++ Seq(leg, score))

    /** A probe string's hits (catalog values ++ (leg, score)), memoized
      * per distinct string for the caller's lifetime (one partition):
      * `unified = false` is an equality lookup only, `true` runs the
      * whole exact -> prefix -> fuzzy chain.
      */
    def memoized(): (String, Boolean) => Array[Seq[Any]] = {
      val memo = mutable.HashMap.empty[String, Hits]
      (p, unified) => {
        val h = memo.getOrElseUpdate(p, lookup(p))
        if (unified) h.all else h.exact
      }
    }

    private def lookup(p: String): Hits = new Hits(
      byKey.getOrElse(p, Array.empty[Int]).map(values(_) ++ Seq(1, 0)),
      // only an exact hit on the unified universe stops the chain
      if (unified.contains(p)) Array.empty else {
        val pu = UTF8String.fromString(p)
        val pre = prefixKeys(p, pu)
        if (pre.nonEmpty) pre.flatMap(k => hits(k, 2, k.len)) else fuzzy(p, pu)
      })

    /** Keys in the prefix range, the `prefixLimit` shortest by
      * (length, key) when limited.
      */
    private def prefixKeys(p: String, pu: UTF8String): Array[Key] = {
      val start = cfg.prefixMode match {
        case "char" => pu.substringSQL(1, cfg.prefixLen)
        case _ => UTF8String.fromString(p + " ")
      }
      var lo = 0
      var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid).u.compareTo(start) < 0) lo = mid + 1 else hi = mid
      }
      val range = sorted.iterator.drop(lo).takeWhile(_.u.startsWith(start))
        .filter(_.s != p).toArray
      // sortBy is stable: equal lengths keep key order
      if (cfg.prefixLimit <= 0) range
      else range.sortBy(_.len).take(cfg.prefixLimit)
    }

    private def fuzzy(p: String, pu: UTF8String): Array[Seq[Any]] = {
      val lp = pu.numChars
      val d = cfg.fuzzyMaxDist
      def verified(keys: Iterator[Key]): Array[Seq[Any]] =
        keys.filter(_.s != p).flatMap { k =>
          val dist = pu.levenshteinDistance(k.u, d)
          if (dist >= 0) hits(k, 3, dist) else Array.empty[Seq[Any]]
        }.toArray
      cfg.fuzzyMode match {
        case "ratio" =>
          // ratio >= t implies indel <= (1-t/100)(la+lb), hence the band
          val frac = 1.0 - cfg.fuzzyRatioMin / 100.0
          if (lp < 4) Array.empty
          else {
            val up = p.toUpperCase
            byLength.iterator
              .filter { case (lk, _) => math.abs(lp - lk) <= (lp + lk) * frac }
              .flatMap(_._2).filter(_.s != p)
              .map(k => (k, FuzzyLib.ratio(up, k.upper)))
              .filter(_._2 >= cfg.fuzzyRatioMin).toArray
              .sortWith { case ((ka, ra), (kb, rb)) =>
                ra > rb || (ra == rb && ka.u.compareTo(kb.u) < 0) }
              .take(cfg.fuzzyLimit)
              .flatMap { case (k, r) => hits(k, 3, JBigDecimal.valueOf(100.0 - r)
                .setScale(0, RoundingMode.HALF_UP).intValue) }
          }
        case "blocked" =>
          verified(deleteVariants(p, d).iterator
            .flatMap(v => variants.getOrElse(v, Array.empty[Key]).iterator).distinctBy(_.s))
        case _ =>
          verified((lp - d to lp + d).iterator
            .flatMap(l => byLength.getOrElse(l, Array.empty[Key]).iterator))
      }
    }
  }

  /** All strings reachable from `s` by deleting up to `d` code points —
    * the SymSpell neighborhood: lev(a, b) <= d implies the neighborhoods
    * of a and b intersect (delete each side's unmatched alignment
    * positions), so variant equality is a complete candidate generator
    * and exact levenshtein verification makes it sound.
    */
  private[tagger] def deleteVariants(s: String, d: Int): Seq[String] = {
    if (s == null) return Nil
    var cur = Set(s)
    var all = Set(s)
    for (_ <- 1 to d) {
      cur = cur.flatMap { w =>
        val cps = w.codePoints.toArray
        cps.indices.map(i =>
          new String(cps, 0, i) + new String(cps, i + 1, cps.length - i - 1))
      }
      all ++= cur
    }
    all.toSeq
  }

  /** leg number -> human-readable match_reason (null-safe: no leg =>
    * no_match), mirroring `tagger.py` match_reason values.
    */
  def reason(leg: Column): Column =
    when(leg === 1, "exact").when(leg === 2, "prefix")
      .when(leg === 3, "fuzzy").otherwise("no_match")
}
