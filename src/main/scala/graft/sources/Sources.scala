package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink layer (SURVEY §2.1 S1–S10).
  *
  * Schemas are always pinned explicitly (`StructType`) instead of inferred —
  * the reference re-infers per stage (`pd.read_csv`/`read_csv_auto`) which
  * erases types at every boundary (SURVEY §1.3); at 100 TB, inference also
  * costs an extra full scan.
  */
object Sources {

  /** S1: header CSV scan with pinned schema. */
  def csv(spark: SparkSession, path: String, schema: StructType,
      sep: String = ","): DataFrame =
    spark.read.option("header", "true").option("sep", sep)
      .schema(schema).csv(path)

  /** S4: TSV variant. */
  def tsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    csv(spark, path, schema, sep = "\t")

  /** S3: parquet scan. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S6: multi-file concat source — Spark reads a glob natively; dedup is
    * the caller's `dropDuplicates` (`run_drugs_all.py:312-382`).
    */
  def csvGlob(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    csv(spark, glob, schema)

  /** S7: latest-dated-file resolution (`pipeline.py:262-273`): pick the
    * lexicographically-greatest `<prefix>_YYYY-MM-DD.<ext>` in a dir.
    * Driver-side FS utility — ISO dates sort correctly as strings.
    */
  def latestDatedFile(dir: String, prefix: String, ext: String): Option[String] = {
    val rx = (java.util.regex.Pattern.quote(prefix) +
      "_(\\d{4}-\\d{2}-\\d{2})\\." + java.util.regex.Pattern.quote(ext) + "$").r
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
    files.map(_.getName)
      .flatMap(n => rx.findFirstMatchIn(n).map(m => (m.group(1), n)))
      .sortBy(_._1)
      .lastOption
      .map(p => new File(dir, p._2).getPath)
  }

  /** Outcome of [[purgeOldDatedFiles]]: how many files went, and which
    * stale files could NOT be deleted (permissions, locks). Failures are
    * returned rather than swallowed — the reference logs every per-file
    * deletion (`run_drugs_all.py:124-166`), and a purge that silently
    * leaves stale files behind defeats its own purpose.
    */
  final case class PurgeResult(deleted: Int, failed: Seq[String]) {
    def requireClean(): PurgeResult = {
      require(failed.isEmpty,
        s"purgeOldDatedFiles could not delete: ${failed.mkString(", ")}")
      this
    }
  }

  /** S12: old-dated-file purge (`run_drugs_all.py:124-166`): group files
    * matching `name_YYYY-MM-DD[_suffix].ext` by (name, ext), delete all
    * but the latest date per group. Driver-side FS utility; failed
    * deletes are surfaced in the result (call `.requireClean()` to make
    * them fatal).
    */
  def purgeOldDatedFiles(dir: String): PurgeResult =
    purgeOldDatedFiles(dir, _.delete())

  /** Seam for the delete syscall: permission-denied is untestable as root
    * (CAP_DAC_OVERRIDE ignores directory write bits), so the spec injects
    * a failing `rm` to pin the failure-surfacing contract.
    */
  private[graft] def purgeOldDatedFiles(dir: String,
      rm: File => Boolean): PurgeResult = {
    val rx = "^(.+?)_(\\d{4}-\\d{2}-\\d{2})(?:_.*)?(\\.\\w+)$".r
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile)
    val groups = files.flatMap { f =>
      rx.findFirstMatchIn(f.getName).map(m =>
        ((m.group(1), m.group(3)), (m.group(2), f)))
    }.groupBy(_._1).values
    var deleted = 0
    val failed = Seq.newBuilder[String]
    for (g <- groups if g.length > 1) {
      val sorted = g.map(_._2).sortBy(_._1).reverse
      for ((_, f) <- sorted.tail) {
        if (rm(f)) deleted += 1 else failed += f.getPath
      }
    }
    PurgeResult(deleted, failed.result().sorted)
  }

  /** The reference's free-text column candidates, probed in order
    * (`runners.py:176-182`).
    */
  val TextColumnCandidates: Seq[String] = Seq(
    "raw_text", "ITEM_DESCRIPTION", "DESCRIPTION", "Drug Description",
    "description")

  /** Text-column probe (`runners.py:176-182`): the reference tries each
    * candidate name in order against the loaded eSOA frame and raises
    * listing the actual columns when none hits — the first thing a real
    * user's mis-shaped CSV runs into. Same semantics over `df.columns`
    * (metadata only, no scan).
    */
  def resolveTextColumn(df: DataFrame,
      candidates: Seq[String] = TextColumnCandidates): String =
    candidates.find(df.columns.contains).getOrElse(
      throw new IllegalArgumentException(
        s"No text column found. Columns: ${df.columns.mkString("[", ", ", "]")}" +
          s" (tried ${candidates.mkString("[", ", ", "]")})"))

  /** Fail-fast required-column guard (`prepare.py:57-59`): downstream
    * stages' schema assumptions surface here, before any heavy work, with
    * the table name and the full present-column list in the error instead
    * of an unresolved-attribute failure deep in a plan.
    */
  def requireColumns(df: DataFrame, table: String,
      required: String*): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"$table is missing required column(s): ${missing.mkString(", ")} " +
        s"(present: ${df.columns.mkString("[", ", ", "]")})")
    df
  }

  /** P3 `reorder_columns_after` (`io_utils.py:25-40`): move one column to
    * sit right after another; no-op when either is absent or already in
    * place. Pure projection — Catalyst prunes/reorders at zero cost.
    */
  def reorderColumnAfter(df: DataFrame, targetCol: String,
      moveCol: String): DataFrame = {
    val cols = df.columns.toList
    val ti = cols.indexOf(targetCol)
    val mi = cols.indexOf(moveCol)
    if (ti < 0 || mi < 0 || mi == ti + 1) df
    else {
      val without = cols.filterNot(_ == moveCol)
      val insertAt = without.indexOf(targetCol) + 1
      val (pre, post) = without.splitAt(insertAt)
      df.select((pre ++ (moveCol :: post)).map(org.apache.spark.sql.functions.col): _*)
    }
  }

  /** S8: single-file CSV sink with header (`io_utils.py:14-22`). The
    * coalesce(1) mirrors the reference's one-file contract — large outputs
    * should use [[writeCsvPartitioned]] instead.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Partitioned CSV sink — the 100 TB path (no driver-side funnel). */
  def writeCsvPartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S10: append-mode metrics sink (`runners.py:1498-1531`). Parquet, not
    * CSV, so types survive appends.
    */
  def appendMetrics(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Partitioned parquet sink with DYNAMIC partition overwrite — the
    * scale-correct incremental sink (beyond the reference's single-file
    * CSV contract): a re-run that produces partitions {d1, d2} replaces
    * ONLY those directories, leaving every other partition's data
    * untouched, so daily/batch reprocessing never rewrites the whole
    * table and readers prune on the partition column. Static overwrite
    * (Spark's default) would silently DELETE all other partitions — the
    * classic data-loss foot-gun this wrapper exists to pin down.
    */
  def writePartitionedParquet(df: DataFrame, path: String,
      partitionCols: String*): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Range-partitioned, key-sorted parquet layout — the data-skipping
    * write for tables that are predominantly filtered on one key (time,
    * tenant, id range). `repartitionByRange` samples global boundaries
    * and gives every output file a DISJOINT key range (equal keys land
    * in one partition); `sortWithinPartitions` then clusters each file's
    * row groups so their parquet min/max footer statistics are tight and
    * non-overlapping. A pushed-down range predicate therefore prunes to
    * the few files — and, within them, the few row groups — that can
    * contain matches, instead of decoding every page of every file the
    * way an unsorted layout forces. At 100 TB this is the difference
    * between a scan bounded by the SELECTED range and one bounded by the
    * table; the same layout is what makes a sort-merge bucketed read and
    * a min/max-indexed lakehouse table work. The range exchange costs one
    * shuffle at write time — paid once, amortized over every subsequent
    * selective read (RangeSortedWriteSpec measures both sides: disjoint
    * footer stats, and the scan-row-count collapse under an identical
    * filter vs the unsorted twin).
    */
  def writeRangeSorted(df: DataFrame, path: String, numFiles: Int,
      sortCols: String*): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Morton (Z-order) interleave of two non-negative int keys, each up
    * to 31 bits, into one 62-bit long: bit i of `a` lands at position
    * 2i+1, bit i of `b` at 2i. Uses the classic magic-mask bit-spreading
    * sequence (5 shift-or-mask steps per key, fully codegen'd integer
    * ops — no UDF, no loop over 64 bit positions).
    *
    * Sorting by the interleaved value clusters rows so that any
    * contiguous morton run covers a bounded TILE in (a, b) space —
    * which is exactly what makes per-file min/max statistics tight in
    * BOTH dimensions at once (see [[writeZOrdered]]).
    */
  def mortonInterleave(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{lit, shiftleft}
    def spread(x: Column): Column = {
      // 0x0000FFFF0000FFFF, 0x00FF00FF00FF00FF, 0x0F0F0F0F0F0F0F0F,
      // 0x3333333333333333, 0x5555555555555555
      val masks = Seq(
        281470681808895L, 71777214294589695L, 1085102592571150095L,
        3689348814741910323L, 6148914691236517205L)
      val shifts = Seq(16, 8, 4, 2, 1)
      masks.zip(shifts).foldLeft(x.cast("long")) { case (acc, (m, s)) =>
        acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(m))
      }
    }
    shiftleft(spread(a), 1).bitwiseOR(spread(b))
  }

  /** Z-ordered parquet layout — the TWO-key data-skipping write (the
    * lakehouse `ZORDER BY` primitive). [[writeRangeSorted]] gives
    * perfect skipping on its leading key and NONE on any other column;
    * sorting by the Morton interleave instead makes every output file a
    * set of tiles in (k1, k2) space, so each file's parquet min/max
    * footer stats are narrow in BOTH dimensions and a selective
    * predicate on EITHER key (or a box on both) prunes most files.
    * The trade: per-key skipping is coarser than a dedicated single-key
    * sort (√ of the file count per dimension rather than all of it) —
    * Z-order is the right layout when real queries filter on more than
    * one column and rewriting the table per access path is not an
    * option, which at 100 TB it never is.
    *
    * Each key is min/max-normalized to a 16-bit rank BEFORE
    * interleaving: raw interleave lets the wider-domain key's high bits
    * dominate the ordering, which collapses the other key's tiles
    * entirely (measured in ZOrderWriteSpec's first cut: with raw 13-bit
    * orderkeys against 8-bit partkeys, a partkey probe full-scanned).
    * This is the same reason production ZORDER implementations rank
    * each column first. Costs one extra min/max aggregation over the
    * two key columns — one cheap pass, paid once at write time.
    *
    * One range exchange on the morton key at write time; the morton
    * column is dropped before landing. Caller contract: keys are
    * non-negative longs. The rank picks its arithmetic by domain width:
    * narrow domains (< 2^40) multiply first (`(c-lo)*65535/(hi-lo)` —
    * exact, and the scale-UP is what balances a 13-bit key against an
    * 8-bit one), wide domains divide first (`(c-lo)/((hi-lo)/65535)` —
    * a multiply-first formulation would overflow long past ~1.4e14, and
    * a domain that wide needs no scale-up). ZOrderWriteSpec pins the
    * interleave bit-for-bit against a driver replay over the key domain
    * actually written, and both the wide-domain and the empty-input
    * case: empty input writes an empty (schema-only) parquet dir rather
    * than NPE-ing on the null min/max aggregate.
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
      k1: String, k2: String): Unit = {
    import org.apache.spark.sql.functions.{col, greatest, lit, max, min}
    val r = df.agg(min(col(k1)), max(col(k1)), min(col(k2)), max(col(k2)))
      .head()
    if (r.isNullAt(0)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    def rank(c: org.apache.spark.sql.Column, lo: Long, hi: Long) = {
      val span = math.max(hi - lo, 1L)
      val d = c.cast("long") - lit(lo)
      // d ≤ span, so multiply-first stays below 2^40 * 65535 < 2^63;
      // both branches are monotone (Spark `/` on longs is double
      // division, cast-truncated — a rank is only a tile coordinate)
      if (span < (1L << 40)) (d * lit(65535L) / lit(span)).cast("long")
      else (d / lit(math.max(span / 65535L, 1L))).cast("long")
    }
    val z = "__graft_morton"
    df.withColumn(z, mortonInterleave(
        rank(col(k1), r.getLong(0), r.getLong(1)),
        rank(col(k2), r.getLong(2), r.getLong(3))))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z)
      .write.mode("overwrite").parquet(path)
  }

  /** JSONL (one JSON object per line) source — the interchange format
    * LLM training corpora actually ship in. The schema is REQUIRED, per
    * this layer's contract (inference costs an extra full pass at scale
    * and silently widens types between runs), and the reader is FAILFAST:
    * PERMISSIVE (Spark's default) turns a corrupt line into a silent
    * all-null row, which in a 100-TB ingest means quietly training on
    * holes instead of failing the partition loudly.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** JSONL sink — one file per task (no driver funnel); strings are
    * JSON-escaped so embedded newlines keep the line-per-record framing.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Bloom-filtered parquet layout — the THIRD data-skipping surface,
    * completing range-sort ([[writeRangeSorted]]: one leading key) and
    * Z-order ([[writeZOrdered]]: two keys): per-row-group parquet bloom
    * filters on high-cardinality POINT-LOOKUP columns (doc_id,
    * fingerprint, content hash). Min/max footer stats are useless for
    * these — on an unclustered layout every row group's [min, max] spans
    * nearly the whole key domain, so a point probe prunes nothing — but
    * a bloom filter answers "definitely absent" per row group, and the
    * parquet reader consults it for pushed-down equality predicates,
    * skipping the row group entirely. At 100 TB this is the difference
    * between a point lookup touching a handful of row groups and
    * scanning the corpus; it composes with the other layouts (a
    * range-sorted table can still carry blooms on its NON-sort columns,
    * which its sort order cannot skip on).
    *
    * `ndv` sizes the filter (bits scale with expected distinct values;
    * an undersized bloom's false-positive rate climbs and skipping
    * decays — size it to the per-file distinct count, not the table's).
    * BloomFilterWriteSpec proves the chain at the storage level: blooms
    * present in every row group, probe values in the data test positive,
    * absent probes test negative (= the reader skips), on row groups
    * whose min/max ranges all CONTAIN those probes (= stats alone could
    * not have skipped), with the equality predicate shown pushed to the
    * scan.
    */
  def writeBloomFiltered(df: DataFrame, path: String, numFiles: Int,
      ndv: Long, bloomCols: String*): Unit = {
    require(bloomCols.nonEmpty, "writeBloomFiltered needs at least one column")
    val w = df.repartition(numFiles).write.mode("overwrite")
    bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(path)
  }

  /** Outcome of [[compactSmallFiles]]. `filesAfter == filesBefore` with
    * `rewritten == false` means the layout was already at-or-below the
    * target and nothing was touched.
    */
  final case class CompactResult(filesBefore: Int, filesAfter: Int,
    bytes: Long, rewritten: Boolean)

  /** Small-file compaction — the table-maintenance pass every
    * incrementally-written dataset needs. Streaming micro-batches,
    * dynamic partition overwrites, and per-task sinks all accrete files
    * far below the parquet sweet spot; at 100 TB the cost is real: task
    * scheduling overhead per file, footer reads per file, and row groups
    * too small for effective column compression or min/max skipping.
    *
    * Sizing comes from file metadata only (no scan): output file count =
    * ceil(totalBytes / targetBytes). The rewrite is `coalesce`, NOT
    * `repartition` — merging many small files down is a narrow,
    * shuffle-free many-to-one mapping; a shuffle would re-cluster (and
    * destroy any within-file sort order faster than coalesce already
    * does) while paying a full network pass. An already-compact layout
    * (current file count ≤ target count) returns without touching
    * anything, so the pass is idempotent and cheap to schedule blindly.
    *
    * The swap is rename-based (write to a sibling tmp dir, move the old
    * dir aside, move tmp into place, delete the old): atomic per rename
    * on a real filesystem, but a reader racing the swap can see the
    * window between the two renames — the same seam as [[graft.streaming
    * .VersionedPointer]]'s versioned-snapshot pointer, which is the protocol
    * to swap in on object stores or under concurrent readers (compact
    * into a NEW version dir and CAS the pointer; transactional table
    * formats are this exact idea productized).
    */
  def compactSmallFiles(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactResult = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val dir = new File(path)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.length).sum
    val nOut = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (parts.length <= nOut)
      return CompactResult(parts.length, parts.length, totalBytes,
        rewritten = false)
    val tmp = new File(dir.getParentFile, dir.getName + ".compact-tmp")
    val old = new File(dir.getParentFile, dir.getName + ".compact-old")
    spark.read.parquet(path).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.getPath)
    java.nio.file.Files.move(dir.toPath, old.toPath)
    java.nio.file.Files.move(tmp.toPath, dir.toPath)
    def rmTree(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete()
    }
    rmTree(old)
    val after = Option(dir.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    CompactResult(parts.length, after, totalBytes, rewritten = true)
  }
}
