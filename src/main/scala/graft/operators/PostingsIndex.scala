package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Lake, Pin, Tables}

/** Persisted, BUCKETED inverted index for BM25 — the [[BandIndex]]
  * pattern applied to lexical retrieval.
  *
  * q88 computes correct scores but rebuilds tf/df/corpus-stats from the
  * raw text on EVERY probe — O(corpus) per query set, the same
  * recompute-the-history shape q78 had before round 10 materialized its
  * band index. This object is the serving-path fix: postings
  * `(term, doc_id, tf, dl)` are materialized once per corpus generation
  * as a parquet table bucketed by `term` — a SINGLE bucket column, so
  * Spark's bucket pruning applies to the probe's literal
  * `term IN (...)` predicate and a query touches only the buckets its
  * terms hash into (`SelectedBucketsCount: k out of N` in the scan —
  * [[graft.operators.RetrievalSpec]]-adjacent PostingsIndexSpec pins
  * it). Term statistics (df) and corpus constants (n_docs, sum_dl) are
  * vocabulary-sized / O(1) side tables written beside the postings, so
  * a probe reads NO raw text at all: per-query cost is
  * O(postings-of-query-terms), not O(corpus).
  *
  * Freshness + restart reuse the [[BandIndex]] contract verbatim: a
  * `_GRAFT_FP` file-metadata fingerprint of `documents.parquet` gates
  * rebuilds (written last, so a half-built index is rebuilt, never
  * read), and an on-disk index re-registers into a fresh JVM's
  * in-memory catalog without rebuilding.
  *
  * q91 probes this index with q88's query set and must emit q88's rows
  * bit-for-bit — it shares q88's DuckDB oracle, the materialization-
  * not-semantics gate q78 established.
  */
object PostingsIndex {

  def NumBuckets: Int = IndexCommit.numBuckets

  def indexRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_POSTINGS_DIR", "/tmp/graft-postings-index")

  def tableNameFor(dir: String): String =
    IndexCommit.tableName("graft_postings_", dir)

  private def indexPath(dir: String): Path =
    Paths.get(indexRoot, tableNameFor(dir))

  private val WordRe = "[a-z0-9]+"

  /** (term, doc_id, tf, dl) for a (doc_id, text) frame — one shuffle on
    * (doc_id, term), dl carried in the grouping key (functionally
    * dependent on doc_id, costs nothing).
    */
  private def postingsOfDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$WordRe', 0)").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")

  /** (docs in frame, sum of their dl) — docs whose text has ZERO word
    * tokens never enter the postings frame, but corpus stats must still
    * count them (dl = 0 adds nothing to sum_dl but DOES grow n_docs,
    * and BM25's idf sees N).
    */
  private def statsOfDocs(docs: DataFrame, postings: DataFrame): (Long, Long) = {
    val s = postings.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    (docs.count(), s.getLong(0))
  }

  // ---- versioned sidecars (df table + corpus meta) -------------------
  //
  // Sidecars live at path/_sidecar/v=<n>/{dfreq, META} (underscore-prefixed so the table's file listing ignores it), with an atomic
  // _LATEST pointer. Version n+1 is a DETERMINISTIC function of
  // (version n, the appended batch), which is what makes the streaming
  // sink's replay exactly-once: a crashed append's re-run recomputes
  // byte-identical sidecar files into the SAME version slot and moves
  // the pointer to the same value — every crash window converges.
  // Postings file storage stays at-least-once (a replayed append can
  // leave whole-duplicate rows); [[probeScoresFor]] reads row-DISTINCT,
  // which restores the exact set because replay duplicates are
  // identical full rows. The BandIndex storage contract, but load-
  // bearing here: duplicate postings or a double-applied df delta
  // would change SCORES, not just cost.

  private def sidecarPointer(path: Path): Path =
    path.resolve("_sidecar").resolve("_LATEST")

  /** Committed sidecar version; -1 before any build. */
  def sidecarVersion(path: Path): Long = {
    val p = sidecarPointer(path).toString
    if (Lake.exists(p)) Lake.readString(p).trim.toLong else -1L
  }

  private def sidecarDir(path: Path, v: Long): Path =
    path.resolve("_sidecar").resolve(s"v=$v")

  private def readMeta(path: Path, v: Long): (Long, Long) = {
    val m = Lake.readString(sidecarDir(path, v).resolve("META").toString).trim
      .split(" ").map(_.toLong)
    (m(0), m(1))
  }

  private def writeSidecar(spark: SparkSession, path: Path, v: Long,
      dfreq: DataFrame, n: Long, sumDl: Long): Unit = {
    val dir = sidecarDir(path, v)
    Lake.mkdirs(dir.toString)
    dfreq.write.mode("overwrite").parquet(dir.resolve("dfreq").toString)
    Lake.writeString(dir.resolve("META").toString, s"$n $sumDl")
    // advance the pointer only forward; a replay rewriting an old slot
    // with identical content must not rewind it
    if (v > sidecarVersion(path)) {
      val tmp = path.resolve("_sidecar").resolve(s"_LATEST.tmp.$v")
      Lake.writeString(tmp.toString, v.toString)
      Lake.overwriteRename(tmp.toString, sidecarPointer(path).toString)
    }
  }

  /** Build postings + sidecar v=0 over a (doc_id, text) frame at
    * `path`, registered as `name`.
    */
  def buildIndexDocs(spark: SparkSession, docs: DataFrame, name: String,
      path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    IndexCommit.deleteTree(path)
    Pin.scope {
      val p = Pin(postingsOfDocs(docs), "PostingsIndex.build")
      p.repartition(NumBuckets, col("term"))
        .write.format("parquet")
        .bucketBy(NumBuckets, "term")
        .sortBy("term")
        .option("path", path.toString)
        .saveAsTable(name)
      val (n, sumDl) = statsOfDocs(docs, p)
      writeSidecar(spark, path, 0L,
        p.groupBy("term").agg(count(lit(1)).as("df")), n, sumDl)
    }
  }

  /** Build from the corpus under `dir` (q91's entry). */
  def buildIndex(spark: SparkSession, dir: String, name: String,
      path: Path): Unit =
    buildIndexDocs(spark,
      Tables(spark, dir, "documents").select("doc_id", "text"), name, path)

  private def writePostingsAppend(postings: DataFrame, name: String): Unit =
    postings.repartition(NumBuckets, col("term"))
      .write.format("parquet")
      .bucketBy(NumBuckets, "term")
      .sortBy("term")
      .mode("append")
      .saveAsTable(name)

  /** The postings-file half of [[append]] for a (doc_id, text) batch —
    * exposed so the streaming spec can simulate the crash window
    * between the postings append and the sidecar commit.
    */
  private[graft] def appendPostingsOnly(spark: SparkSession, name: String,
      newDocs: DataFrame): Unit =
    writePostingsAppend(postingsOfDocs(newDocs), name)

  /** Admit a batch into the index: postings appended through the
    * bucketed writer (layout preserved), then sidecar version old+1
    * written — df merged by term, corpus meta advanced by the batch's
    * (count, Σdl): the q86 signed-delta algebra specialized to monotone
    * inserts, vocabulary-sized work, never a corpus rescan.
    *
    * `toVersion` pins the target sidecar slot (streaming: batchId+1, so
    * a replay recomputes the SAME slot from the same base and the
    * result is byte-identical); None chains from the current pointer
    * (the batch maintenance loop, q92).
    */
  def append(spark: SparkSession, name: String, path: Path,
      newDocs: DataFrame, toVersion: Option[Long] = None): Unit = {
    val v = toVersion.getOrElse(sidecarVersion(path) + 1)
    val base = v - 1
    Pin.scope {
      val p = Pin(postingsOfDocs(newDocs), "PostingsIndex.append")
      writePostingsAppend(p, name)
      val merged = Pin(spark.read
        .parquet(sidecarDir(path, base).resolve("dfreq").toString)
        .unionByName(p.groupBy("term").agg(count(lit(1)).as("df")))
        .groupBy("term").agg(sum(col("df")).as("df")), "PostingsIndex.dfreq")
      val (bn, bDl) = statsOfDocs(newDocs, p)
      val (n0, dl0) = readMeta(path, base)
      writeSidecar(spark, path, v, merged, n0 + bn, dl0 + bDl)
    }
  }

  /** Fold away whole-duplicate postings rows (the at-least-once
    * storage contract: a crash between a streaming append's postings
    * write and its sidecar commit leaves the replayed batch's rows
    * twice; reads are row-DISTINCT so scores never move — the bytes
    * remain, and in a long-running serving index grow without bound).
    * [[FpIndex.compact]]'s lifecycle applied to the retrieval estate:
    * first compaction ADOPTS a marker-less sink index
    * ([[IndexCommit.adoptUnmarked]]), the rewrite goes through the
    * marker-bound retire-then-publish tail, and the VERSIONED df/meta
    * sidecar estate (`path/_sidecar`: slots + pointer — history the
    * replay protocol depends on, not derived data) is carried
    * byte-identical into the new tree ([[graft.core.Lake.copyTree]];
    * the mutable `_LATEST` pointer is manifest-exempt by the marker
    * protocol, so later pointer advances never stale the artifact).
    * OWNER-ONLY, between batches — [[FpIndex.compact]]'s single-writer
    * contract, which this compact shares. Returns (rows before, after).
    */
  def compact(spark: SparkSession, name: String, path: Path): (Long, Long) = {
    val fp = IndexCommit.readFp(path).getOrElse {
      val f = IndexCommit.sinkHistoryFp(name)
      IndexCommit.adoptUnmarked(path, f)
      f
    }
    val before = spark.table(name).count()
    Pin.scope {
      val rows = Pin(spark.table(name).distinct(), "PostingsIndex.compact")
      IndexCommit.commitBuild(spark, name, path, Some(fp)) { (tn, tp) =>
        rows
          .repartition(NumBuckets, col("term"))
          .write.format("parquet")
          .bucketBy(NumBuckets, "term")
          .sortBy("term")
          .option("path", tp.toString)
          .saveAsTable(tn)
        Lake.copyTree(path.resolve("_sidecar").toString,
          tp.resolve("_sidecar").toString)
      }
    }
    register(spark, name, path)
    (before, spark.table(name).count())
  }

  /** Post-crash recovery for a SINK-MANAGED postings index (the
    * retrieval/serving sinks' restart path) — restore a crash-stranded
    * retiree, then re-register; loud error when nothing adoptable
    * survives. The policy body is [[IndexCommit.recoverSink]], SHARED
    * with the other three index families.
    */
  def recover(spark: SparkSession, name: String, path: Path): Boolean = {
    val restored = IndexCommit.recoverSink(path)
    register(spark, name, path)
    restored
  }

  private[operators] def register(spark: SparkSession, name: String,
      path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(
      s"""CREATE TABLE `$name` (term STRING, doc_id BIGINT, tf BIGINT, dl INT)
         |USING PARQUET
         |CLUSTERED BY (term) SORTED BY (term) INTO $NumBuckets BUCKETS
         |LOCATION '${path.toString}'""".stripMargin)
  }

  /** Ensure the postings index for `dir` is fresh and in this session's
    * catalog; returns (table name, n_docs, sum_dl). Warm cost: catalog
    * lookup + O(#files) fingerprint; cold: one O(corpus) build, paid per
    * corpus generation, never per probe.
    */
  def ensure(spark: SparkSession, dir: String): (String, Long, Long) =
    synchronized {
      val name = tableNameFor(dir)
      val path = indexPath(dir)
      // the layout tag makes an on-disk index from an older sidecar
      // layout read as stale (rebuild), not as a read error
      val fp = BandIndex.fingerprint(dir) + ":sidecar-v3"
      val validOnDisk = IndexCommit.fpValidOrRestored(path, fp)
      if (!validOnDisk) {
        // build into a temp sibling + atomic publish ([[IndexCommit]]):
        // postings table AND sidecar v=0 land together, the rename is
        // the commit, so a concurrent process never observes a
        // half-built index
        IndexCommit.commitBuild(spark, name, path, Some(fp)) { (tn, tp) =>
          buildIndex(spark, dir, tn, tp)
        }
        register(spark, name, path)
      } else if (!spark.catalog.tableExists(name)) {
        register(spark, name, path)
      }
      val (n, sumDl) = readMeta(path, sidecarVersion(path))
      (name, n, sumDl)
    }

  /** BM25 scores from the PERSISTED index for a literal query-term set:
    * (q_id, doc_id, n_hit, bm25_micro), identical values to
    * [[Retrieval.bm25Scores]]. The literal `isin` predicate on the
    * single bucket column is what turns bucketing into bucket PRUNING —
    * the scan reads only the buckets the query terms hash into. The df
    * side is filtered by the same literal before its (broadcast) join,
    * so no vocabulary-sized work survives either.
    */
  def probeScores(spark: SparkSession, dir: String,
      queryTerms: Seq[(Long, String)]): DataFrame = {
    ensure(spark, dir)
    probeScoresFor(spark, tableNameFor(dir), indexPath(dir), queryTerms)
  }

  /** As [[probeScores]], against an already-built named index — the
    * maintenance-loop entry (q92): corpus stats and df are read from
    * the index's CURRENT sidecars, so the same call scores against
    * whatever corpus the index covers at that moment. Callers that
    * probe between appends must pin the result eagerly (the postings
    * scan is lazy; the meta lits are captured at plan build).
    */
  def probeScoresFor(spark: SparkSession, name: String, path: Path,
      queryTerms: Seq[(Long, String)]): DataFrame = {
    val v = sidecarVersion(path)
    val (nDocs, sumDl) = readMeta(path, v)
    val terms = queryTerms.map(_._2).distinct
    val avgdl = sumDl.toDouble / nDocs.toDouble
    import spark.implicits._
    val qt = queryTerms.toDF("q_id", "term")
    val dfreq = spark.read
      .parquet(sidecarDir(path, v).resolve("dfreq").toString)
      .filter(col("term").isin(terms: _*))
    val idf = log(lit(1.0) +
      ((lit(nDocs) - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfSat = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
        lit(0.75) * col("dl").cast("double") / lit(avgdl)))
    spark.table(name)
      .filter(col("term").isin(terms: _*))
      // postings storage is at-least-once (a crash-replayed streaming
      // append leaves whole-duplicate rows); distinct over the pruned
      // query-term subset restores the exact set — tiny, post-pruning
      .dropDuplicates("term", "doc_id")
      .join(broadcast(qt), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .select(col("q_id"), col("doc_id"),
        round(idf * tfSat * lit(1e6)).cast("long").as("term_micro"))
      .groupBy("q_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(col("term_micro")).as("bm25_micro"))
  }

}
