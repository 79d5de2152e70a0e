package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.core.{Lake, Pin}
import graft.operators.IndexCommit

/** One foreachBatch sink's output log, declared once: the schema of the
  * rows a batch commits under `v=N` (under `v=N/<leaf>` when the sink
  * keeps control files beside them), and the schema of the sink's
  * `quarantine/v=N` sub-log if it has one. The writer ([[serve]]), the
  * history and state readers and their empty-frame fallbacks all derive
  * from this one value, so a reader before the first batch answers with
  * the schema a reader after it does. The protocol itself is
  * [[VersionedPointer]]'s.
  */
final case class SinkLog(schema: StructType,
    quarantine: Option[StructType] = None, leaf: Option[String] = None) {

  private def versionDir(dir: String, v: Long): String =
    s"$dir/v=$v" + leaf.fold("")("/" + _)

  /** Serve one batch through [[VersionedPointer.serve]]: `frames` — the
    * `v=N` rows, then the quarantine rows when the log declares them —
    * is evaluated after the replay gate and inside the batch's
    * [[graft.core.Pin.scope]], so a sink's index appends run before
    * its log is written and its pins are released after the commit.
    */
  def serve(outDir: String, batchId: Long, epoch: Option[String])(
      frames: => Seq[DataFrame]): Boolean =
    VersionedPointer.serve(outDir, batchId, epoch) {
      val fs = frames
      require(fs.size == 1 + quarantine.size,
        s"a batch of $outDir writes ${1 + quarantine.size} frames, got ${fs.size}")
      fs.head.write.mode("overwrite").parquet(versionDir(outDir, batchId))
      fs.tail.foreach(_.write.mode("overwrite")
        .parquet(s"$outDir/${SinkLog.Quarantine}/v=$batchId"))
    }

  /** Every committed row, folded history included (empty before the
    * first commit).
    */
  def history(spark: SparkSession, dir: String): DataFrame =
    read(spark, VersionedPointer.committedDirs(dir), schema)

  /** Every committed quarantine row, folded history included. */
  def quarantined(spark: SparkSession, dir: String): DataFrame =
    read(spark, VersionedPointer.committedSubDirs(dir, SinkLog.Quarantine),
      quarantine.get)

  /** The latest committed state, None before the first commit — the
    * snapshot sinks' reader.
    */
  def state(spark: SparkSession, dir: String): Option[DataFrame] =
    VersionedPointer.latest(dir)
      .map(v => spark.read.parquet(versionDir(dir, v)))

  /** The latest committed state, or an empty frame of the schema. */
  def current(spark: SparkSession, dir: String): DataFrame =
    state(spark, dir).getOrElse(empty(spark))

  def empty(spark: SparkSession): DataFrame = emptyOf(spark, schema)

  private def emptyOf(spark: SparkSession, s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

  private def read(spark: SparkSession, dirs: Seq[String],
      s: StructType): DataFrame =
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*) else emptyOf(spark, s)
}

object SinkLog {

  /** The one sub-log name: the modal sinks' bad-record evidence. */
  val Quarantine = "quarantine"
}

/** The versioned-pointer exactly-once protocol every foreachBatch sink
  * in this package speaks, factored to ONE implementation: results for
  * batch N land under `outDir/v=N`, then a `_LATEST` pointer file is
  * atomically swapped to N — a replayed batch (id ≤ pointer) is a
  * no-op, a crash between the write and the swap replays into an
  * identical overwrite, and readers see exactly the committed prefix.
  * I/O goes through [[graft.core.Lake]] (Hadoop `FileSystem`), so the
  * decision logs can live beside the data on HDFS/object stores — see
  * Lake's per-store portability contract.
  *
  * The lifecycle is one body per step, and no sink restates it: [[attach]]
  * starts the stream under the checkpoint-epoch guard, [[serve]] gates,
  * writes and commits one batch (a sink declares its log as a
  * [[SinkLog]], whose readers list [[committedDirs]]), and [[vacuum]]
  * reclaims superseded snapshot versions. This file is the only place
  * in `src/main` that starts a stream, tests the replay gate or moves a
  * pointer (MeasureSpec's source scan holds it).
  *
  * CHECKPOINT-EPOCH GUARD: the replay rule "batchId ≤ pointer ⇒
  * already served" assumes batch ids are monotonic per outDir — true
  * for one checkpoint lineage, FALSE across a checkpoint reset
  * (foreachBatch ids restart at 0), where the naive guard would
  * silently swallow every new batch as already-served. Each attach()
  * therefore derives an epoch token persisted INSIDE its checkpoint
  * directory ([[epochOf]] — wiping the checkpoint wipes the token) and
  * the guard compares it to the epoch recorded in the outDir: a
  * mismatch means "new stream lineage against an outDir owning another
  * lineage's history" and FAILS FAST with instructions, rather than
  * no-opping results into the void. Direct applyBatch calls (tests,
  * backfills) may pass epoch=None to run the plain monotonic rule.
  */
object VersionedPointer {

  private def pointer(dir: String) = s"$dir/_LATEST"
  private def epochFile(dir: String) = s"$dir/_EPOCH"

  /** The committed high-water batch id, if any batch ever committed. */
  def latest(dir: String): Option[Long] =
    if (Lake.exists(pointer(dir))) Some(Lake.readString(pointer(dir)).trim.toLong)
    else None

  /** The stable identity of one checkpoint lineage: a token minted on
    * first use and persisted in the checkpoint directory itself, so it
    * survives restarts WITH the checkpoint and dies WITH the
    * checkpoint.
    */
  def epochOf(checkpointDir: String): String = {
    val f = epochFile(checkpointDir)
    if (Lake.exists(f)) Lake.readString(f).trim
    else {
      Lake.mkdirs(checkpointDir)
      val tok = java.util.UUID.randomUUID().toString
      // first-write-wins under concurrent attach: both writers then
      // re-read, so they agree on whichever token landed
      if (!Lake.exists(f)) Lake.writeString(f, tok)
      Lake.readString(f).trim
    }
  }

  /** True iff `batchId` is already committed in `outDir` (the replay
    * no-op). With an epoch: an outDir bound to a DIFFERENT checkpoint
    * lineage throws instead of guessing — see the class doc.
    */
  def alreadyServed(outDir: String, batchId: Long,
      epoch: Option[String]): Boolean = {
    epoch.foreach { e =>
      val f = epochFile(outDir)
      if (Lake.exists(f)) {
        val owner = Lake.readString(f).trim
        if (owner != e) throw new IllegalStateException(
          s"output dir $outDir holds batches committed by checkpoint " +
            s"lineage $owner, but this stream's checkpoint carries " +
            s"lineage $e — the stream was restarted with a fresh/wiped " +
            "checkpoint, so its batch ids restart at 0 and the replay " +
            "guard cannot distinguish new batches from replays. Point " +
            "the stream at a fresh output dir (or restore the original " +
            "checkpoint) instead of silently dropping results.")
      }
    }
    latest(outDir).exists(_ >= batchId)
  }

  /** Commit `batchId`: bind the epoch on first commit, then swap the
    * pointer (tmp sibling + atomic overwrite-rename). The caller has
    * already written the batch's results under `outDir/v=batchId`.
    */
  def commit(outDir: String, batchId: Long,
      epoch: Option[String] = None): Unit = {
    epoch.foreach { e =>
      val f = epochFile(outDir)
      if (!Lake.exists(f)) Lake.writeString(f, e)
    }
    val tmp = s"$outDir/_LATEST.tmp.$batchId"
    Lake.writeString(tmp, batchId.toString)
    Lake.overwriteRename(tmp, pointer(outDir))
  }

  /** Attach `apply(batch, batchId, epoch)` to `rows` under the
    * checkpoint-epoch guard — the one `writeStream` body. `outputMode`
    * is "update" for the sinks fed by a keyed change stream.
    */
  def attach(rows: DataFrame, checkpointDir: String,
      outputMode: String = "append")(
      apply: (DataFrame, Long, Option[String]) => Unit): StreamingQuery = {
    val epoch = epochOf(checkpointDir)
    rows.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId, Some(epoch))
      }
      .start()
  }

  /** Serve one batch: the replay gate, then — inside one
    * [[graft.core.Pin.scope]] — `write` the batch's results under
    * `outDir` and commit `batchId`. False iff the batch was already
    * served. `write` may run index appends before its log write; a
    * crash anywhere before the commit replays the whole body.
    */
  def serve(outDir: String, batchId: Long, epoch: Option[String])(
      write: => Unit): Boolean =
    if (alreadyServed(outDir, batchId, epoch)) false
    else Pin.scope {
      Lake.mkdirs(outDir)
      write
      commit(outDir, batchId, epoch)
      true
    }

  /** Drop snapshot versions older than the `keep` most recent. The
    * pointer is the source of truth, so removing superseded versions
    * never races a reader that re-resolves the pointer — and the
    * pointer-resolved version itself is NEVER dropped: in the crash
    * window a half-committed orphan slot (v > pointer) exists, and
    * counting it against `keep` would otherwise delete the one version
    * the pointer still resolves to (the next read would then fail
    * instead of replaying).
    */
  def vacuum(dir: String, keep: Int): Seq[Long] = {
    val pointer = latest(dir)
    val drop = liveIds(dir, -1L, Long.MaxValue).dropRight(keep)
      .filterNot(pointer.contains)
    drop.foreach(v => Lake.deleteTree(s"$dir/v=$v"))
    drop
  }

  /** All committed result directories of `dir`, oldest history first:
    * the folded-history segment chain (if [[compactHistory]] ever ran
    * here), then the live `v=N` dirs past it — crash leftovers past
    * the pointer excluded. The union read is identical before and
    * after a fold; only the directory/file count changes.
    */
  def committedDirs(dir: String): Seq[String] =
    latest(dir) match {
      case Some(v) =>
        val segs = historySegments(dir)
        val floor = segs.lastOption.map(_._2).getOrElse(-1L)
        segs.map { case (lo, hi) => segDir(dir, lo, hi) } ++
          liveIds(dir, floor, v).map(i => s"$dir/v=$i")
      case None => Seq.empty
    }

  /** Committed SIBLING logs under `dir/sub` — `dir/sub/v=N` for every
    * committed batch id N that wrote one (the quarantine-log listing,
    * shared by the modal sinks and the multimodal curation sink), plus
    * the sub-log's own folded-segment chain when [[compactHistory]]
    * has folded it. The sub chain is discovered INDEPENDENTLY of the
    * main chain (each root self-describes through its own markers), so
    * a crash between the main fold and the sub fold leaves both views
    * complete — neither keys its cut on the other's state.
    * Composed as paths, never by string-rewriting the verdict paths —
    * an outDir that itself contains "/v=" must not be mangled.
    */
  def committedSubDirs(dir: String, sub: String): Seq[String] =
    latest(dir) match {
      case Some(v) =>
        val root = s"$dir/$sub"
        val segs = historySegments(root)
        val floor = segs.lastOption.map(_._2).getOrElse(-1L)
        segs.map { case (lo, hi) => segDir(root, lo, hi) } ++
          (math.max(0L, floor + 1L) to v)
            .map(i => s"$root/v=$i").filter(Lake.exists)
      case None => Seq.empty
    }

  // ------------------------------------------------------------------
  // Sink-history compaction: leveled folds of committed version dirs
  // ------------------------------------------------------------------
  //
  // A micro-batch sink writes one `v=N` directory per batch, and the
  // union-readers above list and open EVERY one of them — at 100 TB a
  // long-running sink accrues millions of tiny directories and the
  // history read drowns in file-open cost (the classic small-files
  // problem; the data itself is fine). The fold below is the OUTPUT
  // layer's analogue of the index estate's compaction
  // ([[graft.operators.IndexLayout.compact]]): rewrite many small committed
  // dirs into one well-sized parquet artifact, published through the
  // SAME manifest-bound retire-then-publish protocol
  // ([[IndexCommit.publishMarked]]) so a crash anywhere leaves the
  // history complete and readable — never torn, never partially
  // visible.
  //
  // The layout is LEVELED, not single-base: each fold produces a
  // SEGMENT `seg=<lo>-<hi>` claiming "every committed v dir with id in
  // [lo, hi] is folded here", and segments tile contiguously from 0.
  // A MINOR fold (the steady-state maintenance call) folds only the
  // v dirs past the current chain — cost ∝ data since the last fold,
  // NOT ∝ total history — while a MAJOR fold merges the whole chain
  // into one segment (the LSM minor/major discipline; rewriting the
  // full history on every fold would make lifetime maintenance cost
  // quadratic in history size, exactly the shape this estate curves
  // against). Readers need no pointer: the chain is DISCOVERED from
  // the segment markers themselves (fp = [[segFp]], deterministic from
  // the name), greedily longest-hi-first, with [[IndexCommit
  // .restoreRetiree]] attempted on an invalid link and a LOUD refusal
  // — never a silent hole — when a marked segment stays invalid (its
  // sources were deleted only after its marker verified, so an
  // unrestorable marked segment means the history genuinely lost
  // bytes). An UNMARKED segment remnant (a publish that never
  // completed) ends the chain benignly: its sources are still live by
  // the publish ordering, so the reader's view stays complete.
  //
  // SINGLE-WRITER, between batches: like index compaction, the fold
  // snapshots the source listing and then retires it — an append (a
  // new batch commit) racing the fold is safe (new v dirs land past
  // `hi` and are untouched), but two concurrent FOLDS of one outDir
  // are the owner's contract to prevent (the publish protocol makes
  // the race non-destructive — idempotent loser — but the owner runs
  // maintenance between its own micro-batches anyway). READERS share
  // the index estate's contract: the owner (who is also the usual
  // reader) folds between its own batches and never races itself; an
  // EXTERNAL reader whose listing predates a fold can see the source
  // retire sweep mid-read (a missing-file scan error, retryable —
  // never torn rows, since sources are deleted only after the segment
  // they folded into verified). The same compact-vs-probe boundary
  // IndexLayout.compact documents; the table-format upgrade path is the
  // same there too.

  private val SegPrefix = "seg="

  /** The deterministic fingerprint a fold's marker carries — readers
    * reconstruct it from the directory name alone, so validity needs
    * no side channel.
    */
  private[graft] def segFp(lo: Long, hi: Long): String =
    s"sink-history:$lo-$hi"

  private def segDir(root: String, lo: Long, hi: Long): String =
    s"$root/$SegPrefix$lo-$hi"

  /** The live (not-yet-folded) committed ids of `root` in (floor, cap]
    * — ONE listing rule shared by the readers, the trigger, and the
    * fold, so they cannot disagree on what is live.
    */
  private[streaming] def liveIds(root: String, floor: Long,
      cap: Long): Seq[Long] =
    Lake.listNames(root)
      .filter(_.startsWith("v="))
      .flatMap(_.stripPrefix("v=").toLongOption)
      .filter(i => i > floor && i <= cap).sorted

  /** Data bytes of one artifact dir — control files excluded, the
    * [[IndexCommit.appendedShare]] accounting.
    */
  private def dataBytes(p: String): Long =
    Lake.fileEntries(p).filterNot(_._1.startsWith("_")).map(_._2).sum

  /** Exact `seg=<lo>-<hi>` names only — `.tmp-<pid>` write scratch and
    * `.old-<pid>` retirees parse as None and never enter discovery.
    */
  private def parseSeg(name: String): Option[(Long, Long)] =
    if (!name.startsWith(SegPrefix)) None
    else name.stripPrefix(SegPrefix).split("-", 2) match {
      case Array(a, b) =>
        for { lo <- a.toLongOption; hi <- b.toLongOption } yield (lo, hi)
      case _ => None
    }

  /** Verified segments, keyed by directory with the marker content
    * that was verified — the read-path fast lane. A segment is
    * immutable once published (appends land past the chain, never
    * inside it; a same-name republish swaps the NONCE, so its marker
    * content differs and forces re-verification), which makes
    * marker-content equality a sound proxy for the full nonce+manifest
    * walk: without it every committedDirs call pays O(chain files)
    * metadata RPCs re-listing every segment (on an object store that
    * re-creates a fair share of the listing cost folding removes).
    * A cached-valid segment mid-retire on a copy+delete store can
    * briefly read as valid with files already missing — a retryable
    * missing-file scan error, the documented reader-vs-maintenance
    * class, never torn rows. Entries accrue one per segment name ever
    * verified (maintenance-cadence bounded), process-local like every
    * pid-scoped decision here.
    */
  private val verifiedSegs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def segValid(root: String, lo: Long, hi: Long): Boolean = {
    val dirS = segDir(root, lo, hi)
    val markerPath = s"$dirS/${IndexCommit.MarkerFile}"
    def markerContent: Option[String] =
      try {
        if (Lake.exists(markerPath)) Some(Lake.readString(markerPath))
        else None
      } catch { case _: java.io.IOException => None }
    if (markerContent.exists(c => verifiedSegs.get(dirS) == c)) true
    else {
      val p = Paths.get(dirS)
      val fp = segFp(lo, hi)
      val ok = IndexCommit.markedValid(p, IndexCommit.MarkerFile, fp) ||
        (IndexCommit.restoreRetiree(p, Some(fp)) &&
          IndexCommit.markedValid(p, IndexCommit.MarkerFile, fp))
      if (ok) markerContent.foreach(c => verifiedSegs.put(dirS, c))
      ok
    }
  }

  /** The folded-history chain of `root`, ascending and contiguous from
    * id 0 — empty when never folded. Greedy longest-segment-first at
    * each position (a major fold's merged segment wins over the minors
    * it superseded, whose leftovers await the sweep). Restore is
    * attempted on an invalid link; a MARKED segment that stays invalid
    * is a LOUD error (its fold deleted the source dirs only after the
    * marker verified, so serving around it would silently drop
    * history), while an UNMARKED remnant ends the chain benignly (its
    * publish never completed, so its sources are still live and the
    * v-dir listing covers them).
    */
  def historySegments(root: String): Seq[(Long, Long)] = {
    // `.old-<pid>` retiree names count as candidate EVIDENCE: a
    // re-fold that crashed after retiring the live segment but before
    // republishing leaves the destination fully absent — only the
    // retiree name says a segment belongs at (lo, hi), and segValid's
    // restore brings it back (the publish protocol's retire-not-delete
    // rule would otherwise have a restore source nothing consults)
    val names = Lake.listNames(root)
    val all = (names.flatMap(n => parseSeg(n)) ++
      names.flatMap { n =>
        val i = n.lastIndexOf(".old-")
        if (i < 0) None else parseSeg(n.substring(0, i))
      }).distinct
    if (all.isEmpty) return Seq.empty
    val chain = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var expected = 0L
    var open = true
    while (open) {
      val here = all.filter(_._1 == expected).sortBy(-_._2)
      here.find { case (lo, hi) => segValid(root, lo, hi) } match {
        case Some(seg) =>
          chain += seg
          expected = seg._2 + 1
        case None =>
          here.find { case (lo, hi) =>
            Lake.exists(s"${segDir(root, lo, hi)}/${IndexCommit.MarkerFile}")
          }.foreach { case (lo, hi) =>
            throw new IllegalStateException(
              s"folded history segment ${segDir(root, lo, hi)} carries a " +
                "marker but is not bound to its tree and no retiree " +
                "restores it — its source dirs were retired when the " +
                "marker first verified, so the history has lost bytes; " +
                "refusing to serve a silent hole")
          }
          open = false
      }
    }
    // a VALID segment whose coverage reaches past the chain's end is
    // impossible by construction (folds always start at the chain's
    // end) — if one shows up, ids the chain does not cover were folded
    // into it and their source dirs retired, and the gap must be loud.
    // Valid non-chain segments BELOW the end are the opposite case:
    // minors a major fold superseded, awaiting the sweep — ignored.
    val inChain = chain.toSet
    // segValid, not bare markedValid: an unreachable segment surviving
    // ONLY as a dead owner's retiree (destination absent) is the same
    // hole — its sources were retired when it first verified — and the
    // restore attempt both recovers the evidence and makes it loud
    all.filter { case (lo, hi) => !inChain((lo, hi)) && hi >= expected }
      .find { case (lo, hi) => segValid(root, lo, hi) }
      .foreach { case (lo, hi) =>
        throw new IllegalStateException(
          s"folded history segment ${segDir(root, lo, hi)} is valid but " +
            s"unreachable (chain ends at ${expected - 1}) — ids the " +
            "chain does not cover were folded into it; refusing to " +
            "serve a hole")
      }
    chain.toSeq
  }

  /** Share of the live history's bytes NOT yet folded into the chain —
    * the metadata-only WHEN-to-fold trigger, mirroring
    * [[IndexCommit.appendedShare]]: a maintenance owner decides from a
    * listing ("fold when the unfolded share crosses 0.5"), never from
    * a data scan. `None` when the history was never folded (the first
    * fold creates the baseline — an owner seeing None folds once on
    * its own schedule); 0.0 when the chain covers everything live.
    */
  def unfoldedShare(dir: String): Option[Double] =
    latest(dir).flatMap { v =>
      val segs = historySegments(dir)
      if (segs.isEmpty) None
      else {
        val floor = segs.last._2
        val segBytes =
          segs.map { case (lo, hi) => dataBytes(segDir(dir, lo, hi)) }.sum
        val liveBytes =
          liveIds(dir, floor, v).map(i => dataBytes(s"$dir/v=$i")).sum
        val total = segBytes + liveBytes
        Some(if (total <= 0L) 0.0 else liveBytes.toDouble / total)
      }
    }

  /** Fold committed history into the segment chain — the maintenance
    * entry an owner calls between its own micro-batches. Minor
    * (default): fold the v dirs past the chain into one new segment,
    * cost ∝ data since the last fold. Major: merge the whole chain
    * plus the foldable v dirs into one segment, cost ∝ history (the
    * rare defragmentation pass). The newest `keepLast` committed dirs
    * stay live as individual dirs. Sub-logs (`dir/sub/v=N`, the
    * quarantine siblings) fold through the SAME body under the same
    * cut: the `subs` named here, plus every sub that already carries a
    * chain (once folded, always re-folded — a sub can never fall out
    * of the discipline and strand its folded prefix). Publish goes
    * through [[IndexCommit.publishMarked]] (manifest-bound marker,
    * retire-then-publish, hostile-store safe) and sources are deleted
    * strictly after the segment re-verifies; every crash window leaves
    * the readers' union complete. Returns the main chain's new segment
    * bounds, None when there was nothing to fold.
    */
  def compactHistory(spark: SparkSession, outDir: String, keepLast: Int = 1,
      major: Boolean = false, subs: Seq[String] = Seq.empty):
      Option[(Long, Long)] =
    latest(outDir) match {
      case None => None
      case Some(latestId) =>
        val floor = historySegments(outDir).lastOption.map(_._2).getOrElse(-1L)
        val ids = liveIds(outDir, floor, latestId)
        val kept = ids.takeRight(math.max(0, keepLast))
        val hi = kept.headOption.map(_ - 1L).getOrElse(latestId)
        val main = foldRoot(spark, outDir, hi, major)
        if (main.isDefined || major) {
          val wanted = (subs ++ discoveredSubs(outDir)).distinct
          wanted.foreach { s => foldRoot(spark, s"$outDir/$s", hi, major) }
        }
        main
    }

  /** Subs that already carry a folded chain — re-folded on every
    * [[compactHistory]] call whether named or not, so a caller that
    * forgets a sub cannot strand its folded prefix behind a moving
    * main cut.
    */
  private def discoveredSubs(outDir: String): Seq[String] =
    Lake.listNames(outDir)
      .filterNot(n => n.startsWith("v=") || n.startsWith(SegPrefix) ||
        n.startsWith("_"))
      .filter(n => Lake.listNames(s"$outDir/$n").exists(parseSeg(_).isDefined))

  /** One fold of one root (the main outDir or one sub-log root):
    * sweep prior folds' leftovers, then fold ids in (chain end, hi]
    * (minor) or the whole chain plus those ids (major) into one
    * published segment, then retire the sources. No-op (None) when
    * nothing would change.
    */
  private def foldRoot(spark: SparkSession, root: String, hi: Long,
      major: Boolean): Option[(Long, Long)] = {
    val segs = historySegments(root) // restore side effects first
    sweepRoot(root, segs)
    val lastHi = segs.lastOption.map(_._2).getOrElse(-1L)
    val ids = liveIds(root, lastHi, hi)
    val vDirs = ids.map(i => s"$root/v=$i")
    val (lo, sources) =
      if (major)
        (0L, segs.map { case (l, h) => segDir(root, l, h) } ++ vDirs)
      else (lastHi + 1L, vDirs)
    val gains = if (major) segs.size + ids.size >= 2 else ids.nonEmpty
    if (sources.isEmpty || !gains) return None
    val newHi = math.max(hi, lastHi)
    val tmp = s"$root/$SegPrefix$lo-$newHi.tmp-${ProcessHandle.current().pid()}"
    Lake.deleteTree(tmp)
    // the segment's file count follows its DATA, not the session's
    // shuffle width: a minor fold of a few one-file batch dirs must
    // emit one well-sized file, not numShufflePartitions shards — a
    // fold that multiplied the file count would work against the
    // small-files purpose it exists for. Sized from the source listing
    // (metadata-only, already paid by the fold's own planning).
    val target = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val srcBytes = sources.map(dataBytes).sum
    val parts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (srcBytes + target - 1) / target)).toInt
    spark.read.parquet(sources: _*)
      .repartition(parts)
      .write.mode("overwrite").parquet(tmp)
    val dst = segDir(root, lo, newHi)
    IndexCommit.publishMarked(Paths.get(tmp), Paths.get(dst),
      IndexCommit.MarkerFile, segFp(lo, newHi), "sink-history fold")
    // retire the sources only against a re-verified segment — a publish
    // that was disturbed has already thrown above and kept them
    if (!IndexCommit.markedValid(Paths.get(dst), IndexCommit.MarkerFile,
        segFp(lo, newHi)))
      throw new IllegalStateException(
        s"folded segment $dst failed re-verification before source retire")
    sources.foreach(Lake.deleteTree)
    Some((lo, newHi))
  }

  /** Delete prior folds' leftovers under `root`: v dirs the chain
    * already covers (a crash between a fold's publish and its source
    * retire), segments the chain superseded (a major fold's minors),
    * dead write scratch, and retirees whose destination segment is
    * bound again (the janitor rule — a retiree beside an UNBOUND
    * destination is a restore source and survives). Everything deleted
    * here is invisible to readers already.
    */
  private def sweepRoot(root: String, segs: Seq[(Long, Long)]): Unit = {
    val floor = segs.lastOption.map(_._2).getOrElse(-1L)
    val chainNames = segs.map { case (l, h) => s"$SegPrefix$l-$h" }.toSet
    Lake.listNames(root).foreach { n =>
      val covered = n.startsWith("v=") &&
        n.stripPrefix("v=").toLongOption.exists(_ <= floor)
      val superseded = parseSeg(n).exists { case (_, h) =>
        !chainNames.contains(n) && h <= floor }
      val deadTmp = n.startsWith(SegPrefix) && {
        val i = n.lastIndexOf(".tmp-")
        i >= 0 && n.substring(i + 5).toLongOption.exists(IndexCommit.pidDead)
      }
      val deadRetiree = n.startsWith(SegPrefix) && {
        val i = n.lastIndexOf(".old-")
        i >= 0 && n.substring(i + 5).toLongOption.exists(IndexCommit.pidDead) && {
          val base = n.substring(0, i)
          parseSeg(base).exists { case (l, h) =>
            // garbage when the destination is bound again (the janitor
            // rule), OR when the destination is itself a SUPERSEDED
            // segment — the chain covers its ids, and this very sweep
            // deletes the destination, after which the bound test could
            // never hold again (a one-pass sweep must not strand the
            // retiree behind the destination it just reclaimed)
            IndexCommit.markedValid(Paths.get(segDir(root, l, h)),
              IndexCommit.MarkerFile, segFp(l, h)) ||
              (h <= floor && !chainNames.contains(base))
          }
        }
      }
      if (covered || superseded || deadTmp || deadRetiree)
        Lake.deleteTree(s"$root/$n")
    }
  }
}
