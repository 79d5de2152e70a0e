package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.core.{Lake, Pin}

/** One persisted, BUCKETED index family's layout, declared once — and
  * the one lifecycle body every family ([[BandIndex]], [[BloomIndex]],
  * [[FpIndex]], [[PostingsIndex]], [[ClusterIndex]]) runs through.
  *
  * A layout is the table-name prefix, the row schema, the bucket and
  * sort columns, and the sidecar paths a compaction carries over. The
  * bucketed writer (build and append) and the catalog DDL `register`
  * issues are both derived from these same fields, so a re-registered
  * table always declares the spec its files were written under — a
  * mismatch would make the bucketed-append writer reject every later
  * append. This file is the only place in `src/main` that writes a
  * bucketed table or declares one (MeasureSpec's source scan holds it).
  *
  * The lifecycle, shared by every family:
  *
  *  - '''Freshness''' ([[ensure]]): the index directory carries a
  *    `_GRAFT_FP` marker of the family's source fingerprint (file
  *    metadata of the source table plus the family's parameter tag —
  *    [[IndexCommit.sourceFingerprint]]); a drifted fingerprint
  *    rebuilds, a valid on-disk index re-registers into a fresh JVM's
  *    in-memory catalog without rebuilding. At 100 TB the fingerprint's
  *    role is played by a table-format snapshot id.
  *  - '''Concurrent builders''': the build lands in a temp sibling
  *    published by one rename, marker strictly last
  *    ([[IndexCommit.commitBuild]]) — a reader observes the old index,
  *    no index, or the new index, never a half-built one; a racing
  *    builder's loser discards its temp (builds are idempotent). Within
  *    one JVM each family serializes its own `ensure`.
  *  - '''Append''' ([[append]]): `mode("append").bucketBy` on the
  *    registered table validates the spec and writes bucket-id-named
  *    files, so probes keep reading the table bucketed. Storage is
  *    at-least-once (a crash-replayed append can land a batch twice);
  *    every family's reads tolerate whole-duplicate rows.
  *  - '''Compaction''' ([[compact]]): folds those duplicates through the
  *    marker-bound retire-then-publish tail. OWNER-ONLY, between
  *    batches — an append racing the rewrite would be silently lost.
  *  - '''Recovery''' ([[recover]]): the sink-managed restart path.
  */
final case class IndexLayout(prefix: String, schema: StructType,
    bucketCols: Seq[String], sortCols: Seq[String],
    sidecars: Seq[String] = Nil) {

  /** One index (table name + directory) per corpus directory. */
  def tableNameFor(dir: String): String = IndexCommit.tableName(prefix, dir)

  /** Write `rows` as a fresh bucketed index at `path`, registered as
    * `name`. The pre-write `repartition` on the bucket columns uses the
    * same hash the bucketed writer assigns files by, so each task lands
    * ~one bucket file instead of up to `numBuckets` files per task.
    */
  def write(spark: SparkSession, rows: DataFrame, name: String,
      path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    IndexCommit.deleteTree(path)
    bucketed(rows).option("path", path.toString).saveAsTable(name)
  }

  /** Append `rows` to the registered index `name`. */
  def append(name: String, rows: DataFrame): Unit =
    bucketed(rows).mode("append").saveAsTable(name)

  private def bucketed(rows: DataFrame) = {
    val n = IndexCommit.numBuckets
    rows.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .repartition(n, bucketCols.map(col): _*)
      .write.format("parquet")
      .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
  }

  /** An EMPTY bucketed index (schema + bucket spec, no rows) — the
    * cold-start entry for a continuous ingest stream.
    */
  def initIndex(spark: SparkSession, name: String, path: Path): Unit =
    write(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema), name, path)

  /** Register an existing on-disk index into this session's catalog —
    * the post-JVM-restart path. The DDL is derived from the writer's own
    * fields, so SORTED BY matches the files' sort spec.
    */
  def register(spark: SparkSession, name: String, path: Path): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(
      s"""CREATE TABLE `$name` (${schema.toDDL})
         |USING PARQUET
         |CLUSTERED BY (${bucketCols.mkString(", ")}) SORTED BY (${sortCols.mkString(", ")}) INTO ${IndexCommit.numBuckets} BUCKETS
         |LOCATION '${path.toString}'""".stripMargin)
  }

  /** Ensure the index for `dir` exists, carries `fp`, and is in this
    * session's catalog; returns the table name. `build(tmpName,
    * tmpPath)` writes the table and every data sidecar into the temp
    * sibling [[IndexCommit.commitBuild]] publishes. Warm cost: a catalog
    * lookup + an O(#files) fingerprint; cold cost one build — paid once
    * per corpus generation, never per probe. Callers hold their
    * family's lock.
    */
  def ensure(spark: SparkSession, dir: String, fp: String)(
      build: (String, Path) => Unit): String = {
    val name = tableNameFor(dir)
    val path = IndexLayout.pathOf(name)
    val validOnDisk = IndexCommit.fpValidOrRestored(path, fp)
    if (!validOnDisk) IndexCommit.commitBuild(spark, name, path, Some(fp))(build)
    if (!validOnDisk || !spark.catalog.tableExists(name))
      register(spark, name, path)
    name
  }

  /** Fold away whole-duplicate rows. The rewrite goes through
    * [[IndexCommit.commitBuild]]: distinct rows eagerly pinned off the
    * table's files, written into a temp sibling WITH the preserved
    * fingerprint and the declared sidecars copied byte for byte
    * ([[graft.core.Lake.copyTree]]), published by the retire-then-
    * publish tail — a crash mid-compaction leaves the original index
    * intact, and the retiree stays the restore source until the new
    * tree verifies ([[IndexCommit.publishMarked]]).
    *
    * A sink-managed index starts life MARKER-LESS ([[initIndex]] or a
    * direct [[write]] — there is no source to fingerprint): its first
    * compaction synthesizes the sink-history identity and ADOPTS the
    * live tree ([[IndexCommit.adoptUnmarked]]) so the retiree it is
    * about to create self-validates, instead of falling into
    * commitBuild's marker-less delete-in-place branch. WHEN to compact
    * is [[IndexCommit.appendedShare]]'s job. Compaction changes the
    * layout, not which corpus the index covers. Returns (rows before,
    * after).
    */
  def compact(spark: SparkSession, name: String, path: Path): (Long, Long) = {
    val fp = IndexCommit.readFp(path).getOrElse {
      val f = IndexCommit.sinkHistoryFp(name)
      IndexCommit.adoptUnmarked(path, f)
      f
    }
    val before = spark.table(name).count()
    Pin.scope {
      val rows = Pin(spark.table(name).distinct(), s"IndexLayout.compact:$prefix")
      IndexCommit.commitBuild(spark, name, path, Some(fp)) { (tn, tp) =>
        write(spark, rows, tn, tp)
        sidecars.foreach(s =>
          Lake.copyTree(path.resolve(s).toString, tp.resolve(s).toString))
      }
    }
    register(spark, name, path)
    (before, spark.table(name).count())
  }

  /** Post-crash recovery for a SINK-MANAGED index — restore a
    * crash-stranded retiree over an unbound destination, then
    * re-register; a loud error when nothing adoptable survives
    * ([[IndexCommit.recoverSink]]). Returns true iff a retiree was
    * restored.
    */
  def recover(spark: SparkSession, name: String, path: Path): Boolean = {
    val restored = IndexCommit.recoverSink(path)
    register(spark, name, path)
    restored
  }
}

object IndexLayout {

  /** Every index lives under the shared [[IndexCommit.indexRoot]]. */
  def pathOf(name: String): Path = Paths.get(IndexCommit.indexRoot, name)

  /** A maintenance loop's pid-scoped scratch index and its ingest
    * slicer: `slice(lo, hi)` keeps the rows whose bucket lies in
    * `[lo, hi)`.
    */
  final case class Scratch(name: String, path: Path,
      slice: (Int, Int) => DataFrame)

  /** `<base><suffix>_<pid>` — pid-scoped so two processes sharing the
    * index root never interleave delete/saveAsTable on one scratch
    * path, and a process's re-runs overwrite their own scratch. The
    * suffix must end in `_maint` or `_cmaint`: the janitor
    * ([[IndexCommit.purgeStaleScratch]]) recognizes scratch by name.
    */
  def scratchName(base: String, suffix: String): String =
    s"$base${suffix}_${ProcessHandle.current().pid()}"

  /** The scratch for a maintenance loop over `rows`, after reclaiming
    * dead processes' abandoned scratch trees (without the sweep every
    * maintenance-loop process would leak one tree forever). `bucket`
    * defaults to [[BandIndex.ingestBucket]] and `keep` to the
    * (doc_id, text) batch shape; `pinAs` pins the bucketed frame once
    * for loops whose rows are an expensive decode.
    */
  def scratch(base: String, suffix: String, rows: DataFrame,
      bucket: Column = BandIndex.ingestBucket,
      keep: Seq[String] = Seq("doc_id", "text"),
      pinAs: Option[String] = None): Scratch = {
    IndexCommit.purgeStaleScratch()
    val b0 = rows.withColumn("bucket", bucket)
    val b = pinAs.fold(b0)(Pin(b0, _))
    val name = scratchName(base, suffix)
    Scratch(name, pathOf(name), (lo, hi) =>
      b.filter(col("bucket") >= lo && col("bucket") < hi)
        .select(keep.map(col): _*))
  }
}
