package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.{Pin, QueryDef, Tables, Ws}

/** BPE tokenizer training (q109) and application (q110) — byte-pair
  * encoding (Sennrich, Haddow & Birch, "Neural Machine Translation of
  * Rare Words with Subword Units", ACL'16; the Gage'94 compression
  * algorithm repurposed), the vocabulary-induction step every LLM data
  * pipeline runs before token counting means anything.
  *
  * Scale design — the corpus is touched ONCE. Training iterates on the
  * word-frequency VOCABULARY (distinct words + counts — corpus-sublinear,
  * the dedup-before-compute discipline), exactly how production BPE
  * trainers work: one corpus-wide word count, then merge learning over
  * the weighted vocab. Each of the [[Merges]] unrolled iterations is one
  * vocab-sized aggregate (adjacent symbol pairs via zip_with — lambdas
  * reference only their own arguments, the Winnow/shinglesOf capture
  * rule) plus a map-side merge application; the learned pair (one row)
  * is read back driver-side per iteration — the CC-loop pattern of
  * inspecting a bounded aggregate between rounds — and the vocab is
  * localCheckpoint'd per iteration so lineage stays flat.
  *
  * Determinism & the cross-engine merge contract. Symbols are joined by
  * TWO spaces with single-space outer padding, which makes plain SQL
  * `replace(' '||w||' ', ' a  b ', ' ab ')` EXACTLY BPE's leftmost
  * non-overlapping merge application on both engines: each match
  * consumes one of the two separator spaces and leaves the other to
  * seed the next match, so 'a a a a' under (a,a) becomes 'aa aa' (the
  * single-space encoding drops the shared boundary space and merges
  * only alternate pairs — wrong). Pair selection is a total order
  * (count DESC, left ASC, right ASC), so the 5-step dependent chain is
  * hash-pinned by the oracle the way q93's greedy picks and q101's
  * Lloyd centroids are: a drifted pair at ANY step changes every later
  * merge and the final rows.
  *
  * q110 applies the learned merges: the 5-row merge table is collected
  * (a bounded dimension, the repo's dimension-collect rule) into a
  * literal replace chain over the DISTINCT words, then joined back to
  * the corpus and aggregated per doc — whitespace vs BPE token counts
  * with fertility in exact integer micro-units. Its oracle re-derives
  * the merges through the SAME CTE text as q109 (the q101/q102
  * shared-constant discipline), so the two queries cannot drift.
  */
object Bpe {

  /** unrolled merge-learning iterations. */
  val Merges = 5

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** (word, cnt) weighted vocabulary — the one corpus-wide pass. */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(trim(col("text")) =!= "")
      .select(explode(split(lower(trim(col("text"))), Ws.Plus)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Run the merge-learning loop; returns (merge table rows, final
    * symbolized vocab with the `word` column retained so q110 can reuse
    * it directly). Each merge row is (step, left, right, merged,
    * pair_count). Stops early when no adjacent pair remains (a fully
    * merged or single-symbol vocab — the oracle's empty t_i CTEs then
    * contribute zero rows to the union, so both engines truncate the
    * merge table identically). `applyLast` skips the final merge
    * application when the caller only needs the table (q109).
    *
    * The symbolization regex is `(?s)(.)`, NOT `(.)`: Java's dot
    * excludes U+0085/U+2028/U+2029 while RE2's (DuckDB) excludes only
    * \n, and those three are legal word chars under Ws — DOTALL makes
    * both engines match every char.
    */
  private def learn(s: SparkSession, dir: String, applyLast: Boolean,
      merges: Int = Merges): (Seq[Row], DataFrame) = {
    val steps = Seq.newBuilder[Row]
    // the scope releases every merge round's vocabulary but the last
    val last = Pin.scope {
      var v = Pin(vocab(s, dir)
        .withColumn("w", rtrim(regexp_replace(col("word"), "(?s)(.)", "$1  ")))
        .select("word", "w", "cnt"), "Bpe.vocab")
      var step = 1
      var exhausted = false
      while (step <= merges && !exhausted) {
        // adjacent symbol pairs, weighted by word count; zip_with pads the
        // shifted side with null — the trailing (last, null) pair is
        // filtered, and lambdas only reference their own arguments
        val tops = v
          .withColumn("s", split(col("w"), "  "))
          .withColumn("pr", expr(
            "zip_with(s, slice(s, 2, greatest(size(s) - 1, 0)), " +
              "(a, b) -> struct(a AS a, b AS b))"))
          .select(col("cnt"), explode(col("pr")).as("p"))
          .filter(col("p.b").isNotNull)
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1)
          .collect()
        if (tops.isEmpty) exhausted = true
        else {
          val top = tops(0)
          val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
          steps += Row(step.toLong, a, b, a + b, n)
          if (step < merges || applyLast) {
            v = Pin(v
              .withColumn("w", trim(replace(
                concat(lit(" "), col("w"), lit(" ")),
                lit(s" $a  $b "), lit(s" ${a + b} ")))), "Bpe.vocab")
          }
          step += 1
        }
      }
      v
    }
    (steps.result(), last)
  }

  /** Merge learning at an arbitrary depth — production vocabularies run
    * thousands of merges, and nothing in the loop depends on [[Merges]]:
    * each iteration is one vocabulary-sized aggregate regardless of
    * depth. The q109 ORACLE stays at the 5-step unrolled CTE chain;
    * depth is oracle-gated by q122 (a 100-step MATERIALIZED chain over
    * the trigram units — materialization keeps the plan linear in
    * depth; inlined, the multi-referenced t/v CTEs explode
    * exponentially) plus BpeSpec's textbook replay to 500.
    */
  private[graft] def learnSteps(s: SparkSession, dir: String,
      merges: Int): Seq[Row] =
    learn(s, dir, applyLast = false, merges)._1

  /** Unsigned UTF-8 byte order — EXACTLY Spark's binary string ordering
    * (UTF8String compares bytes), which the distributed loop's
    * `orderBy(n DESC, a, b)` tie-break uses. Java's `String.compareTo`
    * differs on astral-vs-BMP code units (surrogates sort low in
    * UTF-16), so the in-memory trainer must compare bytes, not chars.
    */
  private[graft] def utf8Lt(x: String, y: String): Boolean = {
    val bx = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val by = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(bx.length, by.length)
    var i = 0
    while (i < n) {
      val c = (bx(i) & 0xff) - (by(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    bx.length < by.length
  }

  /** Production-depth merge learning: the corpus is touched ONCE (the
    * same weighted-vocab aggregate the distributed loop starts from),
    * then the merge loop runs IN MEMORY with incremental pair-count
    * maintenance — per step, only words actually containing the chosen
    * pair are re-scanned, the classic trainer algorithm (Sennrich
    * ACL'16 §3.2's "indexed" variant). This is the scale path for
    * 10^3–10^4-merge vocabularies: the distributed loop is exact but
    * pays one Spark job per merge (driver round-trip ~0.2–0.5 s), so
    * 10^4 merges cost hours of pure scheduling; here the same chain
    * costs one corpus pass plus microseconds per merge, flat in depth.
    *
    * The vocabulary is bounded and corpus-sublinear (distinct words,
    * Zipf-capped), which is what makes driver-side learning legitimate
    * at 100 TB — the identical dimension-collect rule q110 already uses
    * for its merge table. `maxVocab` bounds memory explicitly for
    * open-web corpora (top-N words by (cnt DESC, word ASC), the
    * standard trainer cap — with a cap the chain is exact BPE over the
    * retained mass); uncapped it is bit-identical to [[learnSteps]]
    * at every depth: same pair statistic (all adjacent occurrences,
    * weighted), same leftmost non-overlapping application, same total
    * order with [[utf8Lt]] matching Spark's binary string sort.
    * Equality is spec-pinned at depth 50 against the distributed loop
    * AND the textbook replay (BpeSpec).
    */
  private[graft] def trainDeep(s: SparkSession, dir: String, merges: Int,
      maxVocab: Option[Int] = None): Seq[Row] =
    trainInMemory(collectVocab(s, dir, maxVocab), merges)

  /** The one corpus pass: weighted distinct-word vocab, optionally
    * capped, collected to the driver (bounded — the dimension-collect
    * rule).
    */
  private[graft] def collectVocab(s: SparkSession, dir: String,
      maxVocab: Option[Int] = None): Seq[(String, Long)] =
    capVocab(vocab(s, dir), maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The open-web memory bound: keep the top-`maxVocab` vocab rows by
    * (cnt DESC, word ASC — binary string order, matching DuckDB's
    * default varchar comparison). ONE rule shared by the whitespace
    * path ([[collectVocab]] → q110's serving bound) and the trigram
    * path (q124's oracle-gated cap-then-train), so the cap cannot
    * drift between the surfaces. Spark plans this as
    * TakeOrderedAndProject — per-partition top-N then an N-row merge,
    * never a global sort.
    */
  private[graft] def capVocab(base: DataFrame,
      maxVocab: Option[Int]): DataFrame =
    maxVocab match {
      case Some(n) => base.orderBy(col("cnt").desc, col("word")).limit(n)
      case None => base
    }

  /** The in-memory incremental merge loop over a weighted vocab. */
  private[graft] def trainInMemory(vocab0: Seq[(String, Long)],
      merges: Int): Seq[Row] = {
    import scala.collection.mutable
    // words as code-point symbol buffers (the (?s)(.) symbolization)
    val syms: Array[mutable.ArrayBuffer[String]] = vocab0.map { case (w, _) =>
      mutable.ArrayBuffer.from(w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))))
    }.toArray
    val cnts: Array[Long] = vocab0.map(_._2).toArray
    val pairCnt = mutable.Map.empty[(String, String), Long]
    val pairWords = mutable.Map.empty[(String, String), mutable.Set[Int]]
    def scan(i: Int, sign: Long, touchIndex: Boolean): Unit = {
      val ss = syms(i)
      var j = 0
      while (j < ss.length - 1) {
        val p = (ss(j), ss(j + 1))
        val nv = pairCnt.getOrElse(p, 0L) + sign * cnts(i)
        if (nv == 0L) pairCnt.remove(p) else pairCnt(p) = nv
        if (touchIndex) {
          if (sign > 0)
            pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
          else pairWords.get(p).foreach { ws =>
            ws -= i; if (ws.isEmpty) pairWords.remove(p)
          }
        }
        j += 1
      }
    }
    syms.indices.foreach(scan(_, 1L, touchIndex = true))
    val steps = Seq.newBuilder[Row]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      if (pairCnt.isEmpty) exhausted = true
      else {
        // total order (n DESC, a ASC, b ASC) under binary string order —
        // one linear scan of the live pair set per step
        var best: ((String, String), Long) = null
        pairCnt.foreach { e =>
          if (best == null || e._2 > best._2 ||
              (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
            best = e
        }
        val ((a, b), n) = best
        steps += Row(step.toLong, a, b, a + b, n)
        // touch ONLY words containing the pair: remove their pair
        // contributions, apply the leftmost non-overlapping merge,
        // re-add — the index stays exact because each affected word is
        // fully re-scanned
        val affected = pairWords.getOrElse((a, b), mutable.Set.empty).toArray
        affected.foreach { i =>
          scan(i, -1L, touchIndex = true)
          val ss = syms(i)
          val out = mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < ss.length) {
            if (j < ss.length - 1 && ss(j) == a && ss(j + 1) == b) {
              out += (a + b); j += 2
            } else { out += ss(j); j += 1 }
          }
          syms(i) = out
          scan(i, 1L, touchIndex = true)
        }
        step += 1
      }
    }
    steps.result()
  }

  private val MergeSchema = StructType(Seq(
    StructField("step", LongType), StructField("left_sym", StringType),
    StructField("right_sym", StringType), StructField("merged", StringType),
    StructField("pair_count", LongType)))

  /** Shared oracle prefix: v0 (symbolized weighted vocab) and the
    * unrolled p{i}/t{i}/v{i} chain. ONE constant for q109 and q110.
    *
    * Exhaustion is EXPLICIT, not a NULL-propagation artifact: when a
    * step's t$i is empty (no adjacent pair left), the coalesce('')
    * guards make v$i's replace pattern a four-space string that can
    * never occur in the two-space symbol encoding, so v$i = v$j
    * verbatim and every later t$j stays empty — exactly the engine's
    * early-stop. (q110's wt chain already used this guard; q109's v$i
    * previously leaned on replace(w, NULL, NULL) nulling the column,
    * which happened to reconcile but was load-bearing by accident.)
    */
  private def learnCteOver(wordsCte: String, depth: Int,
      cap: Option[Int] = None): String = {
    val iters = (1 to depth).map { i =>
      val j = i - 1
      s"""e$i AS (SELECT cnt, string_split(w, '  ') AS s,
         |          unnest(generate_series(1, len(string_split(w, '  ')) - 1)) AS x
         |        FROM v$j),
         |p$i AS (SELECT s[x] AS a, s[x+1] AS b, CAST(sum(cnt) AS BIGINT) AS n
         |        FROM e$i GROUP BY 1, 2),
         |t$i AS MATERIALIZED (SELECT a, b, a || b AS m, n FROM p$i
         |        ORDER BY n DESC, a, b LIMIT 1),
         |v$i AS MATERIALIZED (SELECT trim(replace(' ' || w || ' ',
         |          ' ' || coalesce((SELECT a FROM t$i), '') || '  ' || coalesce((SELECT b FROM t$i), '') || ' ',
         |          ' ' || coalesce((SELECT m FROM t$i), '') || ' ')) AS w, cnt FROM v$j)""".stripMargin
    }.mkString(",\n")
    // with a cap, v0 is the top-N vocabulary by (cnt DESC, word) —
    // capVocab's exact rule — symbolized AFTER the cut
    val v0 = cap match {
      case Some(n) =>
        s"""v0 AS (SELECT rtrim(regexp_replace(word, '(?s)(.)', '\\1  ', 'g')) AS w, cnt
           |       FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
           |             FROM words WHERE word <> '' GROUP BY 1
           |             ORDER BY cnt DESC, word LIMIT $n) capped)""".stripMargin
      case None =>
        s"""v0 AS (SELECT rtrim(regexp_replace(word, '(?s)(.)', '\\1  ', 'g')) AS w,
           |         CAST(count(*) AS BIGINT) AS cnt
           |       FROM words WHERE word <> '' GROUP BY 1)""".stripMargin
    }
    s"""WITH $wordsCte,
       |$v0,
       |$iters""".stripMargin
  }

  /** The q109/q110 whitespace-word vocabulary CTE. */
  private val WsWordsCte: String =
    """words AS (SELECT unnest(string_split_regex(lower(trim(text)),
      |                 '[ \t\n\f\r]+')) AS word
      |         FROM documents WHERE trim(text) <> '')""".stripMargin

  /** q122's word-TRIGRAM unit vocabulary CTE — adjacent word triples
    * joined by '_' (thousands of distinct units at realistic symbol
    * lengths, so the merge space sustains real depth; the whitespace
    * vocab exhausts at ~90 merges on this corpus). The Spark twin is
    * [[triVocab]]; docs under three words contribute nothing on both
    * engines.
    */
  private val TriWordsCte: String =
    """words AS (
      |  SELECT ws[i] || '_' || ws[i+1] || '_' || ws[i+2] AS word
      |  FROM (SELECT ws,
      |          unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
      |        FROM (SELECT string_split_regex(lower(trim(text)),
      |                '[ \t\n\f\r]+') AS ws
      |              FROM documents WHERE trim(text) <> '') w0) wi)""".stripMargin

  private val LearnCte: String = learnCteOver(WsWordsCte, Merges)

  /** q122's depth — deep enough that the per-merge-job shape it
    * replaces would cost minutes of scheduling, shallow enough for the
    * unrolled oracle chain to stay tractable in DuckDB.
    */
  private[graft] val DeepMerges = 100

  /** The trigram-unit weighted vocabulary, collected (bounded — the
    * dimension-collect rule; units are corpus-sublinear like words).
    * Used by q122.
    */
  private[graft] def triVocab(s: SparkSession, dir: String): Seq[(String, Long)] =
    triVocabDf(s, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The trigram vocabulary as a frame — q122 collects it whole,
    * q124 caps it first ([[capVocab]]) so the collect is bounded by
    * the CAP, not the corpus vocabulary.
    */
  private def triVocabDf(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(trim(col("text")) =!= "")
      .select(split(lower(trim(col("text"))), Ws.Plus).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 2), " +
          "i -> concat_ws('_', ws[i-1], ws[i], ws[i+1]))")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** q124's cap — far below the trigram vocabulary size at every test
    * scale factor, so cap-then-train diverges visibly from the uncapped
    * q122 chain and the hash genuinely gates the top-N rule.
    */
  private[graft] val CapVocab = 500

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q109_bpe_train",
      (s, dir) => {
        val (steps, _) = learn(s, dir, applyLast = false)
        s.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(steps).asJava), MergeSchema)
          .orderBy("step")
      },
      Some(LearnCte + "\n" +
        (1 to Merges).map(i =>
          s"SELECT $i AS step, a AS left_sym, b AS right_sym, m AS merged, n AS pair_count FROM t$i")
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY step"))),

    /* BPE apply: per-doc whitespace vs BPE token counts + integer
     * fertility. The merge chain is re-learned in-query (the oracle
     * cannot read engine state; the shared CTE keeps both exact), then
     * applied to DISTINCT words map-side and joined back — the q26
     * dedup-before-compute shape: the expensive per-word replace chain
     * runs once per distinct word, never once per occurrence.
     */
    QueryDef(
      "q110_bpe_apply",
      (s, dir) => {
        // learn() keeps the `word` column and applies the final merge,
        // so the returned vocab IS the applied tokenization — no second
        // corpus pass, no re-derivation
        val (_, vFinal) = learn(s, dir, applyLast = true)
        val wordTok = vFinal
          .select(col("word"), size(split(col("w"), "  ")).cast("long").as("n_bpe"))
        val docWords = docs(s, dir)
          .filter(trim(col("text")) =!= "")
          .select(col("doc_id"),
            explode(split(lower(trim(col("text"))), Ws.Plus)).as("word"))
          .filter(col("word") =!= "")
        docWords.join(wordTok, "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_ws_tokens"),
            sum(col("n_bpe")).as("n_bpe_tokens"))
          .withColumn("fertility_micro",
            expr("n_bpe_tokens * 1000000 div n_ws_tokens"))
          .orderBy("doc_id")
      },
      Some(LearnCte +
        s""",
           |wt AS (SELECT word,
           |         CAST(len(string_split(
           |           trim(replace(' ' || replace(' ' || replace(' ' || replace(' ' || replace(' ' ||
           |             rtrim(regexp_replace(word, '(?s)(.)', '\\1  ', 'g'))
           |             || ' ', ' ' || coalesce((SELECT a FROM t1), '') || '  ' || coalesce((SELECT b FROM t1), '') || ' ', ' ' || coalesce((SELECT m FROM t1), '') || ' ')
           |             || ' ', ' ' || coalesce((SELECT a FROM t2), '') || '  ' || coalesce((SELECT b FROM t2), '') || ' ', ' ' || coalesce((SELECT m FROM t2), '') || ' ')
           |             || ' ', ' ' || coalesce((SELECT a FROM t3), '') || '  ' || coalesce((SELECT b FROM t3), '') || ' ', ' ' || coalesce((SELECT m FROM t3), '') || ' ')
           |             || ' ', ' ' || coalesce((SELECT a FROM t4), '') || '  ' || coalesce((SELECT b FROM t4), '') || ' ', ' ' || coalesce((SELECT m FROM t4), '') || ' ')
           |             || ' ', ' ' || coalesce((SELECT a FROM t5), '') || '  ' || coalesce((SELECT b FROM t5), '') || ' ', ' ' || coalesce((SELECT m FROM t5), '') || ' ')),
           |           '  ')) AS BIGINT) AS n_bpe
           |       FROM (SELECT DISTINCT word FROM words)),
           |dw AS (SELECT doc_id, word
           |       FROM (SELECT doc_id,
           |               unnest(string_split_regex(lower(trim(text)),
           |                 '[ \\t\\n\\f\\r]+')) AS word
           |             FROM documents WHERE trim(text) <> '')
           |       WHERE word <> '')
           |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_ws_tokens,
           |  CAST(sum(wt.n_bpe) AS BIGINT) AS n_bpe_tokens,
           |  CAST(sum(wt.n_bpe) AS BIGINT) * 1000000
           |    // CAST(count(*) AS BIGINT) AS fertility_micro
           |FROM dw JOIN wt USING (word)
           |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin)),

    /* BPE at PRODUCTION depth, oracle-gated (the q109 gate stops at 5
     * merges; BpeSpec's textbook replay proved trainDeep to 500 but
     * only as a spec). This row drives [[trainDeep]]'s in-memory
     * incremental trainer through [[DeepMerges]] merges over the
     * word-TRIGRAM unit vocabulary — the merge space that sustains
     * real depth (the whitespace vocab exhausts at ~90) — and checks
     * every one of the 100 (step, pair, count) rows against DuckDB's
     * unrolled 100-step CTE chain built by the SAME generator as
     * q109/q110's 5-step chain ([[learnCteOver]] — one text, three
     * queries, no drift). What the hash gates that the spec replay
     * could not: the full driver-side loop (vocab collect, incremental
     * pair-count maintenance, UTF-8 byte-order ties) against an
     * INDEPENDENT engine at depth, as a per-round driver check.
     */
    QueryDef(
      "q122_bpe_train_deep",
      (s, dir) => {
        val steps = trainInMemory(triVocab(s, dir), DeepMerges)
        s.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(steps).asJava), MergeSchema)
          .orderBy("step")
      },
      Some(learnCteOver(TriWordsCte, DeepMerges) + "\n" +
        (1 to DeepMerges).map(i =>
          s"SELECT $i AS step, a AS left_sym, b AS right_sym, m AS merged, n AS pair_count FROM t$i")
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY step"))),

    /* CAP-then-train at production depth — the open-web memory bound
     * ([[capVocab]]: top-[[CapVocab]] vocab rows by (cnt DESC, word),
     * the bound that keeps [[collectVocab]]'s driver collect finite on
     * an unbounded vocabulary) finally under its own oracle: q122
     * gates the UNCAPPED chain, so the cap rule — the exact top-N
     * boundary, its (cnt, word) tie order, and training over only the
     * survivors — was spec-covered but never hash-checked against an
     * independent engine. The oracle is q122's generator with v0 cut
     * to the same ORDER BY cnt DESC, word LIMIT N before
     * symbolization; the 100-step chain then diverges from q122's
     * within a few merges (the cap removes tail units that carried
     * distinct pairs), so a cap off-by-one or a tie-order drift flips
     * the hash. Scale shape: the cap makes the driver collect
     * O(CapVocab) instead of O(vocabulary) — Spark plans the cut as
     * TakeOrderedAndProject (per-partition top-N + N-row merge).
     */
    QueryDef(
      "q124_bpe_train_capped",
      (s, dir) => {
        val capped = capVocab(triVocabDf(s, dir), Some(CapVocab))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val steps = trainInMemory(capped, DeepMerges)
        s.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(steps).asJava), MergeSchema)
          .orderBy("step")
      },
      Some(learnCteOver(TriWordsCte, DeepMerges, Some(CapVocab)) + "\n" +
        (1 to DeepMerges).map(i =>
          s"SELECT $i AS step, a AS left_sym, b AS right_sym, m AS merged, n AS pair_count FROM t$i")
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY step")))
  )
}
