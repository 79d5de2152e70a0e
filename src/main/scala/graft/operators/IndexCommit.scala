package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.Lake

/** Cross-process commit protocol + shared filesystem plumbing for the
  * persisted index families ([[BandIndex]] / [[PostingsIndex]] /
  * [[BloomIndex]] / [[FpIndex]] / [[ClusterIndex]]), all under the one
  * [[indexRoot]]; the lifecycle around it is [[IndexLayout]].
  *
  * `ensure()` is synchronized within one JVM, but two PROCESSES sharing
  * SPARK_GRAFT_INDEX_DIR could interleave a delete/saveAsTable/sidecar
  * sequence run directly against the final directory and corrupt each
  * other's in-progress build. This helper removes that window: the
  * build lands in a process-unique TEMP SIBLING (table + every sidecar;
  * the `_GRAFT_FP` freshness marker is written at the DESTINATION,
  * strictly last), and the only mutations of the final path are one
  * retire-rename (the old artifact becomes a `.old-<pid>` sibling — the
  * crash-restore source, [[restoreRetiree]]) and one publish-rename — a
  * reader OPENING the index observes the old complete index, no index,
  * or the new complete index, never a half-built one. (A scan already in flight
  * against the old files can still lose them to the delete — closing
  * that needs snapshot isolation, which at 100 TB a table format's
  * atomic snapshot commit provides; the rename is the same
  * open-time contract at this harness's scale.) If a concurrent
  * builder wins the rename race, the loser just discards its temp:
  * builds are idempotent (same input → same index), so the winner's
  * artifact is the same artifact.
  *
  * All marker and publish I/O goes through [[graft.core.Lake]]
  * (Hadoop `FileSystem`), so the same protocol runs against `file://`,
  * HDFS, and object stores — see Lake's per-store portability
  * contract (on stores without atomic rename, correctness rests on
  * the marker-written-LAST rule, which this protocol already keeps).
  * The scratch JANITOR ([[purgeStaleScratch]]) deliberately stays on
  * `java.io` primitives: scratch trees are host-local by construction
  * (their liveness test is a local `ProcessHandle` check), so a
  * remote-filesystem janitor would be meaningless.
  */
object IndexCommit {

  /** The one index root: every persisted index family and every
    * maintenance scratch tree lives here.
    */
  def indexRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "/tmp/graft-band-index")

  /** Deployment-tunable bucket count shared by every persisted index
    * ([[BandIndex]]/[[PostingsIndex]]/[[BloomIndex]]/[[FpIndex]]/
    * [[ClusterIndex]]). Default 32 = local[32]'s shuffle-partition
    * count, so batch-side shuffles land exactly in the index layout; a
    * 1000-executor deployment sets `SPARK_GRAFT_INDEX_BUCKETS` to its
    * own parallelism — the primary scaling knob for index fan-in. The
    * value participates in every index's `_GRAFT_FP` fingerprint (via
    * [[sourceFingerprint]]), so changing it makes existing indexes read
    * as STALE — one rebuild under the new layout — never as a
    * bucket-spec mismatch on append or a silently mis-bucketed probe.
    * The system property is the in-process test seam; the env var is
    * the deployment surface.
    */
  def numBuckets: Int =
    sys.props.get("graft.index.buckets")
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_BUCKETS"))
      .map(_.trim.toInt).getOrElse(32)

  private[operators] def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** One table name per (index type prefix, corpus directory). */
  private[operators] def tableName(prefix: String, dir: String): String =
    prefix + md5hex(Paths.get(dir).toAbsolutePath.normalize.toString).take(12)

  /** File-metadata fingerprint of `dir/file` (file or directory of part
    * files): name/length/mtime per file — an O(#files) listing, no data
    * scan, invalidates on any rewrite because mtimes move. Callers
    * append a PARAMS TAG (algorithm constants / layout version) so an
    * index built under old parameters reads as stale, never as valid —
    * the PostingsIndex ":sidecar-v3" discipline. The bucket count is
    * tagged HERE, once for every index type: every fingerprint
    * derives from this function, so a [[numBuckets]] change stales
    * every index uniformly.
    */
  private[operators] def sourceFingerprint(dir: String, file: String): String = {
    val entries = Lake.fileEntries(s"$dir/$file")
      .map { case (n, len, mtime) => s"$n:$len:$mtime" }
    md5hex(entries.mkString("\n")) + s":bk$numBuckets"
  }

  /** The index family's freshness-marker file name. */
  private[graft] val MarkerFile = "_GRAFT_FP"

  /** The lake-mode stage snapshots' marker name
    * ([[CurationPipeline]]) — same [[publishMarked]] tail, different
    * file so an index tree and a stage tree can never shadow each
    * other's validity.
    */
  private[graft] val DoneMarker = "_GRAFT_DONE"

  /** The fingerprint a SINK-MANAGED index (streaming history with no
    * source to fingerprint — [[IndexLayout.compact]])
    * publishes its compactions under. Deterministic per table name so
    * two concurrent compactors of the same index read as the same
    * generation (the benign-loser rule); the value never gates
    * freshness — sink indexes have no `ensure()` — it exists so the
    * compaction goes through the marker-bound retire-then-publish tail
    * instead of [[commitBuild]]'s marker-less delete-in-place branch,
    * which is reserved for pid-scoped scratch (where a crash loses
    * only rebuildable scratch, never the one copy of a history).
    */
  private[graft] def sinkHistoryFp(name: String): String =
    s"sink-history:$name"

  /** The build-nonce file a publish plants INSIDE its temp tree before
    * the rename — the tree half of the marker↔tree binding (the marker
    * records the nonce's value; see [[markedValid]]). Without it, a
    * marker landing beside a DIFFERENT build's tree (a cross-generation
    * republish racing the winner's marker write) could read as valid
    * whenever file names and lengths coincide.
    */
  private[graft] val NonceFile = "_GRAFT_NONCE"

  /** A parsed freshness marker. `nonce`/`manifest` are present on
    * markers written by [[publishMarked]] (line 1 the fingerprint,
    * line 2 `nonce=<value>`, then one `<len>\t<relpath>` line per file
    * the published tree contained); both absent on LEGACY single-line
    * markers (pre-manifest publishes, and tests that plant a bare
    * fingerprint), which fall back to the marker-AND-data rule.
    */
  private[graft] final case class Marker(fp: String, nonce: Option[String],
      manifest: Seq[(String, Long)])

  private[graft] def parseMarker(s: String): Marker = {
    val lines = s.split("\n", -1)
    val nonce = lines.lift(1).filter(_.startsWith("nonce="))
      .map(_.stripPrefix("nonce=").trim)
    val manifest = lines.iterator.drop(2).flatMap { l =>
      val i = l.indexOf('\t')
      if (i <= 0) None
      else l.take(i).toLongOption.map(len => (l.substring(i + 1), len))
    }.toSeq
    Marker(lines.head.trim, nonce, manifest)
  }

  private def markerText(fp: String, nonce: String,
      manifest: Seq[(String, Long)]): String =
    (fp.trim +: s"nonce=$nonce" +:
      manifest.map { case (p, l) => s"$l\t$p" }).mkString("\n")

  /** The tree listing a marker records — every regular file EXCEPT:
    * `.crc` shadows (the local store's own bookkeeping — a store is
    * free to drop them), and MUTABLE pointer files (`_LATEST` and its
    * swap temps — [[PostingsIndex]]'s sidecar pointer advances IN
    * PLACE on every append, and a version crossing a digit boundary
    * would change the recorded length and falsely stale the whole
    * artifact; pointer integrity is the pointer-swap protocol's own
    * concern, the manifest's completeness claim covers the build's
    * immutable artifacts).
    */
  private def manifestOf(tree: Path): Seq[(String, Long)] =
    Lake.fileEntriesRel(tree.toString).filterNot { case (p, _) =>
      val base = p.substring(p.lastIndexOf('/') + 1)
      p.endsWith(".crc") || base == "_LATEST" || base.startsWith("_LATEST.tmp")
    }

  private def readMarker(dst: Path, markerName: String): Option[Marker] = {
    val f = s"${dst.toString}/$markerName"
    // a concurrent rebuild's deleteTree can remove the marker between
    // exists() and the read — that is "no marker", not a crash
    try { if (Lake.exists(f)) Some(parseMarker(Lake.readString(f))) else None }
    catch { case _: java.io.IOException => None }
  }

  /** The fingerprint line of the artifact's freshness marker, if the
    * marker exists (marker written LAST — a missing marker means "no
    * artifact", whatever files exist). Fingerprint ONLY: manifest and
    * nonce lines are [[markedValid]]'s concern, so callers that thread
    * a fingerprint into a rebuild ([[IndexLayout.compact]])
    * re-publish under a FRESH manifest, never a stale one.
    */
  private[graft] def readFp(path: Path): Option[String] =
    readMarker(path, MarkerFile).map(_.fp)

  /** True iff the artifact at `path` carries anything beyond its own
    * control files. The LEGACY completeness rule — markers written by
    * [[publishMarked]] carry a manifest and are checked file-by-file
    * instead; this remains the fallback for single-line markers.
    */
  private[graft] def hasData(path: Path): Boolean =
    hasDataBeside(path, MarkerFile)

  private def hasDataBeside(path: Path, markerName: String): Boolean =
    Lake.listNames(path.toString)
      .exists(n => n != markerName && n != NonceFile)

  /** True iff the tree at `dst` IS the tree `m` was written for: the
    * build nonce the marker references is present with the same value,
    * and every manifest file exists with its recorded length. A
    * PARTIALLY-DELETED tree (a builder crashing mid-deleteTree leaves
    * the old marker beside surviving old files — the one state the
    * plain marker-AND-data rule served as valid) fails the manifest;
    * a DIFFERENT build's tree (a cross-generation republish landing
    * between a winner's rename and its marker write) fails the nonce.
    * Files NOT in the manifest are allowed: maintenance/streaming
    * appends grow a published index in place without re-marking it,
    * and the manifest's claim is "this build's files are all here",
    * not "nothing was added since".
    */
  private def manifestHolds(dst: Path, nonce: String,
      manifest: Seq[(String, Long)]): Boolean =
    try {
      val nf = s"${dst.toString}/$NonceFile"
      Lake.exists(nf) && Lake.readString(nf) == nonce && {
        val have = Lake.fileEntriesRel(dst.toString).toMap
        manifest.forall { case (p, len) => have.get(p).contains(len) }
      }
    } catch { case _: java.io.IOException => false }

  /** True iff the artifact at `dst` is complete AND was built from
    * exactly the `fp` generation: the marker's fingerprint matches,
    * and the marker is BOUND to the tree beside it — nonce + manifest
    * for [[publishMarked]] markers ([[manifestHolds]]), marker-AND-data
    * for legacy single-line markers (where a marker-only directory is
    * a torn race remnant, not an artifact).
    */
  private[graft] def markedValid(dst: Path, markerName: String,
      fp: String): Boolean =
    readMarker(dst, markerName).exists { m =>
      m.fp == fp.trim && (m.nonce match {
        case Some(n) => manifestHolds(dst, n, m.manifest)
        case None    => hasDataBeside(dst, markerName)
      })
    }

  /** [[markedValid]] under the index family's `_GRAFT_FP` marker. */
  private[graft] def fpValid(path: Path, fp: String): Boolean =
    markedValid(path, MarkerFile, fp)

  /** [[fpValid]] with one restore attempt: an invalid artifact may be
    * a crashed publish's wreckage with the SAME-generation original
    * sitting in a retiree ([[restoreRetiree]]) — restoring it is one
    * rename where the rebuild the caller is about to start is
    * O(corpus). Every `ensure()` freshness probe goes through here; a
    * valid artifact costs one extra nothing (the restore is attempted
    * only on the invalid branch).
    */
  private[graft] def fpValidOrRestored(path: Path, fp: String): Boolean =
    fpValid(path, fp) ||
      (restoreRetiree(path, Some(fp)) && fpValid(path, fp))

  /** The fingerprint of a marker BOUND to the tree at `dir`, under
    * either estate's marker name ([[MarkerFile]] for indexes,
    * [[DoneMarker]] for stage snapshots) — `None` when no marker
    * describes the tree beside it. Generation-agnostic [[markedValid]]:
    * the binding check (nonce + manifest, or marker-AND-data for
    * legacy markers) without the fp equality — the janitor and the
    * retiree restore cannot know which generation is current, only
    * whether the artifact is COMPLETE and SELF-CONSISTENT.
    */
  private[graft] def boundFp(dir: Path): Option[String] =
    Seq(MarkerFile, DoneMarker).iterator.flatMap { m =>
      readMarker(dir, m).filter { mk =>
        mk.nonce match {
          case Some(n) => manifestHolds(dir, n, mk.manifest)
          case None    => hasDataBeside(dir, m)
        }
      }.map(_.fp)
    }.nextOption()

  /** True iff SOME marker at `dir` is bound to the tree beside it. */
  private[graft] def treeBound(dir: Path): Boolean = boundFp(dir).isDefined

  /** [[boundFp]] restricted to MANIFEST-bearing markers — the restore
    * eligibility test. A LEGACY single-line marker binds under the
    * weaker marker-AND-data rule, which cannot tell a complete tree
    * from a torn one: a retire whose copy-emulated rename crashed
    * mid-copy leaves a PARTIAL legacy-marked retiree that
    * marker-AND-data accepts, and restoring it would serve torn bytes
    * as valid. So legacy retirees never restore — safe by
    * construction: anything carrying a legacy marker predates the
    * manifest protocol and is rebuildable through its `ensure()`, and
    * sink-managed histories are ADOPTED (manifest-marked in place) on
    * their first compaction, before the first retiree they can
    * strand. The janitor's reclaim test deliberately stays on
    * [[treeBound]] (either form): reclamation only needs to know a
    * publish completed at the destination, not that the retiree is
    * restorable.
    */
  private def manifestBoundFp(dir: Path): Option[String] =
    Seq(MarkerFile, DoneMarker).iterator.flatMap { m =>
      readMarker(dir, m).filter(mk =>
        mk.nonce.exists(n => manifestHolds(dir, n, mk.manifest))).map(_.fp)
    }.nextOption()

  /** True iff `pid` is not this process and not alive ON THIS HOST —
    * the janitor's abandonment test, shared by [[restoreRetiree]].
    * Host-local by contract, like every pid-scoped artifact decision
    * here: on a store shared by multiple writer HOSTS, pid liveness is
    * not authoritative and reclamation/restore must move behind an
    * ownership lease; this harness's single-host deployment makes
    * `ProcessHandle` the truth.
    */
  private[graft] def pidDead(pid: Long): Boolean =
    pid != ProcessHandle.current().pid() && {
      val h = ProcessHandle.of(pid)
      !(h.isPresent && h.get().isAlive)
    }

  /** RESTORE a crash-stranded `.old-<pid>` retiree over an unbound
    * destination — the consumer half of [[publishMarked]]'s
    * retire-not-delete rule. A publisher that crashed after retiring
    * the live artifact but before its new marker verified leaves the
    * destination absent, torn, or partially swept (all UNBOUND — no
    * marker describes the tree) while the complete pre-publish
    * artifact sits in the retiree, marker and nonce inside (the retire
    * renames the WHOLE destination, control files included, so the
    * retiree is self-validating). Without this, the restore source
    * exists but nothing restores it: a rebuildable index pays a full
    * O(corpus) rebuild, and a sink-managed history waits for a human.
    *
    * Eligibility mirrors the janitor's reclamation rule inverted: the
    * destination must NOT be bound (a bound destination means a
    * publish completed — the retiree is the janitor's garbage, not a
    * restore source), the retiree's owner pid must be DEAD on this
    * host (a live owner may be mid-publish; its own tail will delete
    * or keep the retiree), the retiree itself must be MANIFEST-bound
    * ([[manifestBoundFp]] — torn retires and legacy-marked trees,
    * which the weaker rule cannot prove complete, don't restore), and
    * when the caller knows the generation
    * it expects (`expectFp`), the retiree's marker must carry it — an
    * old-generation retiree is no better than a rebuild, and on a
    * copy+delete store the restore rename would pay the full copy for
    * nothing.
    *
    * Restore is one rename, so every interleaving is one the publish
    * protocol already adjudicates: racing a publisher inside its
    * published-but-unmarked window can divert that publish (its
    * post-marker re-verify fails the nonce and retracts — the
    * documented redundant-rebuild cost class, never torn bytes);
    * racing another restore, one rename wins and both re-probe the
    * destination's validity afterwards. Returns true iff the
    * destination is bound on exit with a restored tree.
    */
  private[graft] def restoreRetiree(dst: Path,
      expectFp: Option[String]): Boolean = {
    if (treeBound(dst)) return false
    val parent = dst.getParent
    if (parent == null) return false
    val prefix = dst.getFileName.toString + ".old-"
    val candidate = retireeSiblings(dst)
      .flatMap(n => n.stripPrefix(prefix).toLongOption.map(pid => (n, pid)))
      .collectFirst { case (n, pid) if pidDead(pid) &&
          manifestBoundFp(parent.resolve(n))
            .exists(f => expectFp.forall(_ == f)) =>
        parent.resolve(n)
      }
    candidate.exists { r =>
      deleteTree(dst) // the unbound remnant; absent-dst delete is a no-op
      Lake.publishDir(r.toString, dst.toString)
      treeBound(dst)
    }
  }

  /** Names of `.old-<pid>` retiree siblings of `dst`, any owner — the
    * sink-recovery ambiguity probe ([[recoverSink]]): a retiree
    * that SURVIVES a restore attempt beside an unbound destination
    * means the wreckage cannot be safely adopted (the restore source
    * is a live process's in-flight retire, or is itself torn).
    */
  private[graft] def retireeSiblings(dst: Path): Seq[String] = {
    val parent = dst.getParent
    if (parent == null) Seq.empty
    else {
      val prefix = dst.getFileName.toString + ".old-"
      Lake.listNames(parent.toString).filter(_.startsWith(prefix))
    }
  }

  /** The SINK-MANAGED index recovery policy — the body of
    * [[IndexLayout.recover]] (which re-registers the family's table
    * afterwards), so no two families' restart semantics can drift.
    * Attempts [[restoreRetiree]] (`expectFp` None: whatever complete
    * generation survives IS the history), then
    * demands the destination be ADOPTABLE: bound, or marker-less WITH
    * data and NO surviving retiree (a never-compacted index legally
    * has no marker, and no retiree can exist for it). Anything else is
    * a LOUD error — registering blind would put absent or torn history
    * behind the table name and every probe would silently readmit
    * duplicates. Returns true iff a retiree was restored.
    */
  private[operators] def recoverSink(path: Path): Boolean = {
    val restored = restoreRetiree(path, None)
    val adoptable = treeBound(path) ||
      (hasData(path) && retireeSiblings(path).isEmpty)
    if (!adoptable) throw new java.io.IOException(
      s"sink index at $path is not recoverable: no marker is bound to the " +
        "tree and " +
        (if (retireeSiblings(path).nonEmpty)
           "a retiree sibling survives the restore attempt (its owner is " +
             "alive or its tree is itself incomplete)"
         else "no data exists on either side") +
        " — refusing to register a torn history")
    restored
  }

  /** Write a bare single-line freshness marker — the LEGACY form, kept
    * as the test seam for planting remnants; real publishes go through
    * [[publishMarked]], whose marker carries the tree-binding manifest.
    */
  private[graft] def writeFp(path: Path, fp: String): Unit =
    Lake.writeString(s"${path.toString}/$MarkerFile", fp)

  /** Bind a marker to a LIVE marker-less tree IN PLACE — the ADOPTION
    * step a sink-managed index needs before its first compaction. The
    * retire-then-publish tail protects the pre-rewrite artifact by
    * keeping it as a retiree, but a retiree self-validates through the
    * marker INSIDE it, and a never-compacted sink index has none
    * (initIndex/buildIndex write no marker — there is no source to
    * fingerprint): its first compaction's crash would strand a
    * complete but unverifiable retiree that [[restoreRetiree]] rightly
    * refuses. Adoption writes nonce + manifest + marker against the
    * current tree — control files only, no data touched, no rename —
    * so from the first rewrite on, every retiree is restorable.
    * Concurrent appends landing between the manifest listing and the
    * marker write stay valid under the subset rule; a tree that
    * already carries a marker is left alone.
    */
  private[graft] def adoptUnmarked(dst: Path, fp: String): Unit =
    if (readMarker(dst, MarkerFile).isEmpty) {
      val nonce = java.util.UUID.randomUUID().toString + ":" +
        ProcessHandle.current().pid()
      Lake.writeString(s"${dst.toString}/$NonceFile", nonce)
      Lake.writeString(s"${dst.toString}/$MarkerFile",
        markerText(fp, nonce, manifestOf(dst)))
    }

  /** Share of the artifact's bytes APPENDED since its marker's build —
    * the metadata-only compaction trigger. A maintenance owner decides
    * WHEN to compact from this signal ("compact when the appended
    * share crosses 0.5") instead of paying a count + distinct scan to
    * measure duplication directly — at 100 TB that scan IS the
    * compaction's own read cost, absurd to pay per decision. Files
    * beyond the manifest are exactly the post-publish appends (the
    * subset rule's complement); checksum shadows, mutable pointers,
    * and the marker itself are excluded from both sides. 0.0 for a
    * fully-covered artifact; `None` when no manifest-bearing marker
    * exists (a never-compacted sink index — the first compaction is
    * what creates the baseline, so an owner seeing None compacts on
    * its own schedule once). O(#files) listing, no data scan.
    */
  def appendedShare(path: Path): Option[Double] =
    readMarker(path, MarkerFile).flatMap { m =>
      m.nonce.map { _ =>
        val covered = m.manifest.map(_._1).toSet
        val entries = manifestOf(path)
          .filterNot { case (p, _) =>
            p.substring(p.lastIndexOf('/') + 1) == MarkerFile }
        val total = entries.map(_._2).sum
        if (total <= 0L) 0.0
        else entries.collect {
          case (p, len) if !covered.contains(p) => len
        }.sum.toDouble / total
      }
    }

  /** Run `build(tmpName, tmpPath)` — which must write the bucketed
    * table AS `tmpName` at `tmpPath` plus all data sidecars — then
    * publish `tmpPath` as `path` and write the `_GRAFT_FP` marker (for
    * builds that carry one) at the DESTINATION, strictly LAST. The
    * caller re-registers its real table name afterwards.
    *
    * The marker is deliberately NOT part of the renamed tree: on a
    * store whose directory rename is emulated as copy+delete (S3/GCS
    * connectors), the copy may move files in any order — a marker
    * riding inside the tree could land before the data, making a TORN
    * copy read as a valid artifact. Written at the destination after
    * the publish, marker-last holds on EVERY store: a torn or
    * crashed publish leaves no marker and reads as "no artifact",
    * rebuilt, never served ([[graft.core.LakeSpec]] proves it against a
    * hostile non-atomic-rename filesystem). The cost is a short
    * published-but-unmarked window in which a concurrent `ensure`
    * reads "stale" and starts a redundant rebuild of the same
    * generation; [[publishMarked]]'s manifest-bound validity keeps
    * every interleaving of that window safe — see its doc for the
    * race-by-race argument.
    */
  def commitBuild(spark: SparkSession, name: String, path: Path,
      fp: Option[String])(build: (String, Path) => Unit): Unit = {
    val tmpPath = Paths.get(
      path.toString + ".build-" + ProcessHandle.current().pid())
    val tmpName = name + "_building"
    deleteTree(tmpPath)
    spark.sql(s"DROP TABLE IF EXISTS `$tmpName`")
    build(tmpName, tmpPath)
    // the temp table is EXTERNAL (option("path")), so dropping the
    // catalog entry leaves the files for the rename
    spark.sql(s"DROP TABLE IF EXISTS `$tmpName`")
    fp match {
      case Some(f) => publishMarked(tmpPath, path, MarkerFile, f, "index")
      case None =>
        // marker-less publish (pid-scoped scratch rewrites): nothing
        // can adjudicate a lost race, so any failed rename is an error
        deleteTree(path)
        if (!Lake.publishDir(tmpPath.toString, path.toString)) {
          deleteTree(tmpPath)
          throw new java.io.IOException(
            s"publish of $tmpPath as $path failed and a marker-less " +
              "build has no concurrent-twin proof to accept the survivor")
        }
    }
  }

  /** Publish the complete tree at `tmp` as `dst` and bind `markerName`
    * (carrying `fp`) to it — the ONE publish tail shared by
    * [[commitBuild]] and the lake-mode stage snapshots
    * ([[CurationPipeline]]), so the two estates cannot drift. Protocol:
    *
    *  1. the CURRENT artifact (if any) is RETIRED — one rename to a
    *     pid-scoped `.old-` sibling, never a delete-in-place: the
    *     destination is only ever absent, the old artifact, or the
    *     new one, and the old artifact survives the whole publish
    *     tail as the RESTORE SOURCE for artifacts with no rebuild
    *     path ([[IndexLayout.compact]]'s sink-managed indexes). On a copy+delete store a crash mid-retire leaves
    *     the current artifact intact (the copy completes before the
    *     delete begins); a crash during the retire's DELETE phase is
    *     the one way the destination can still be partially swept —
    *     exactly what the manifest check below exists to catch;
    *  2. a unique build NONCE is planted inside `tmp`, and the tree's
    *     manifest (relative path + length of every file) is listed
    *     BEFORE the rename — names and lengths survive even a
    *     copy-emulated rename, so the manifest still describes the
    *     tree at the destination;
    *  3. the tree is published by one rename (atomic on file://
    *     and HDFS; adversarial-order copy+delete on object stores);
    *  4. the marker — fingerprint + nonce + manifest — is written at
    *     the DESTINATION, strictly LAST;
    *  5. only after the marker verifies against the live tree is the
    *     retired sibling deleted (a failed publish KEEPS it — the
    *     scratch janitor reclaims dead-pid retirees only once the
    *     destination carries a marker again).
    *
    * Validity ([[markedValid]]) demands the marker's nonce and
    * manifest hold against the live tree, which closes every known
    * torn state on every store: a torn COPY has no marker (step 3
    * never ran); a builder crashing MID-DELETETREE leaves the old
    * marker beside partial old data, and the missing files fail the
    * manifest (the gap the pre-manifest marker-AND-data rule could
    * not see — [[graft.core.LakeSpec]] crashes a deleteTree mid-sweep
    * to prove it); a CROSS-GENERATION republish landing between our
    * rename and our marker write leaves our marker beside a foreign
    * tree, which fails the NONCE whatever its file names and lengths
    * are — the post-publish re-verify then retracts our marker (only
    * if it is still ours: a newer winner's marker must survive) and
    * fails this build loudly rather than stamp another generation's
    * data. A lost RENAME race is benign only when the survivor proves
    * to be a complete same-`fp` artifact ([[awaitValid]] — bounded
    * wait for the winner's marker, with an early exit once a
    * stably-foreign marker shows the survivor is not this
    * generation). Builds are idempotent, so whoever completes last
    * wins with the same bytes.
    */
  private[graft] def publishMarked(tmp: Path, dst: Path, markerName: String,
      fp: String, what: String): Unit = {
    val retired = Paths.get(
      dst.toString + ".old-" + ProcessHandle.current().pid())
    deleteTree(retired)
    if (Lake.exists(dst.toString)) {
      Lake.publishDir(dst.toString, retired.toString)
      ()
    }
    val nonce = java.util.UUID.randomUUID().toString + ":" +
      ProcessHandle.current().pid()
    Lake.writeString(s"${tmp.toString}/$NonceFile", nonce)
    val manifest = manifestOf(tmp)
    val content = markerText(fp, nonce, manifest)
    val markerPath = s"${dst.toString}/$markerName"
    if (Lake.publishDir(tmp.toString, dst.toString)) {
      Lake.writeString(markerPath, content) // marker LAST, at the destination
      // re-verify marker↔tree: a concurrent rebuild's retire/sweep (or
      // a cross-generation republish) can land between our rename and
      // our marker write — readers already reject the mismatch via
      // markedValid, but our caller is about to serve this artifact
      if (!markedValid(dst, markerName, fp)) {
        val stillMine =
          try Lake.exists(markerPath) && Lake.readString(markerPath) == content
          catch { case _: java.io.IOException => false }
        if (stillMine) Lake.deleteTree(markerPath)
        // the retired sibling is deliberately KEPT: the destination is
        // disturbed, so the pre-publish artifact remains the restore
        // source until a publish completes (janitor rule)
        throw new java.io.IOException(
          s"$what publish of $tmp as $dst was disturbed by a concurrent " +
            "rebuild before the marker bound to its tree; rerun rebuilds")
      }
      deleteTree(retired) // the new artifact is verified — the old one goes
    } else {
      // only a CONCURRENT PUBLISH is benign (the winner's idempotent
      // build is byte-equivalent — discard the temp). A surviving
      // marker alone is NOT proof: benign requires a marker of the
      // SAME fingerprint whose manifest holds — only a concurrent
      // builder of this generation, fully published, reads that way.
      val benign = awaitValid(dst, markerName, fp)
      deleteTree(tmp)
      if (!benign) throw new java.io.IOException(
        s"$what publish of $tmp as $dst failed and the surviving target " +
          "is not a concurrent build of the same generation")
      deleteTree(retired) // the winner's same-generation artifact serves
    }
  }

  /** The LOSER's side of a publish race: bounded wait (~1 s worst
    * case) for the winning publish to become a VALID artifact of this
    * `fp` generation — the winner writes its marker right after its
    * rename, so a loser that just observed the rename failure may be
    * probing a beat early. Early exit: when the surviving marker is
    * STABLY invalid (identical content, with data beside it, failing
    * [[markedValid]] on three consecutive probes ~25 ms apart), the
    * survivor is a dead state waiting cannot cure — a FOREIGN
    * generation, or a partially-swept remnant whose own marker fails
    * its manifest (the crashed-compaction shape: same fp, torn tree).
    * A live winner never presents that way: its marker lands strictly
    * AFTER its data, so marker-present is marker-valid on its side,
    * and a winner that finds its own marker invalid retracts it
    * (marker gone → the probe resets to the full wait). So a
    * legitimate failed-publish detection reports in ~75 ms instead of
    * stalling the full bound, which remains only for the marker-absent
    * window it exists for. The residual over-eagerness — a THIRD
    * builder mid-retire-sweep presents a stable old marker while its
    * own publish is seconds away — costs a spurious build failure in
    * a triple race, the same redundant-rebuild class every marker-
    * window race already costs. `false` means the survivor is not a
    * complete artifact of this generation.
    */
  private def awaitValid(dst: Path, markerName: String, fp: String,
      attempts: Int = 40, sleepMs: Long = 25): Boolean = {
    val markerPath = s"${dst.toString}/$markerName"
    var lastInvalid: Option[String] = None
    var invalidStreak = 0
    var i = 0
    while (i < attempts) {
      if (markedValid(dst, markerName, fp)) return true
      val cur =
        try { if (Lake.exists(markerPath)) Some(Lake.readString(markerPath))
              else None }
        catch { case _: java.io.IOException => None }
      cur.filter(_ => hasDataBeside(dst, markerName)) match {
        case Some(c) =>
          invalidStreak = if (lastInvalid.contains(c)) invalidStreak + 1 else 1
          lastInvalid = Some(c)
          if (invalidStreak >= 3) return false
        case None =>
          invalidStreak = 0; lastInvalid = None
      }
      i += 1
      if (i < attempts) Thread.sleep(sleepMs)
    }
    false
  }

  private[operators] def deleteTree(p: Path): Unit =
    Lake.deleteTree(p.toString)

  /** Reclaim ABANDONED pid-scoped trees under an index root:
    * the `_maint_<pid>`/`_cmaint_<pid>` scratch indexes the maintenance
    * loops build (q112/q116/q118), the `.build-<pid>` temp siblings a
    * crashed [[commitBuild]] can leave behind, and `.old-<pid>`
    * retirees whose destination has a marker again (see the
    * restore-source rule below). Without this, every
    * maintenance-loop PROCESS leaks one scratch tree forever — the S12
    * old-file purge discipline applied to the index estate. A tree is
    * abandoned iff its owner pid is not alive on this host (scratch
    * roots are host-local by construction, so ProcessHandle liveness is
    * authoritative); the current process's trees and any LIVE process's
    * trees are never touched, preserving the pid-scoping concurrency
    * contract. Foreign scratch tables were never in this JVM's catalog,
    * so deleting the files alone is complete. Returns trees removed.
    *
    * `root` defaults to the shared [[indexRoot]], where every index
    * family and every maintenance scratch lives; the lake-mode stage
    * snapshots ([[CurationPipeline]]) sweep their own root.
    */
  def purgeStaleScratch(root: String = indexRoot): Int = {
    val scratchRe = "^.*_c?maint_([0-9]+)$".r
    val buildRe = "^.*\\.build-([0-9]+)$".r
    // `.old-<pid>` RETIREES ([[publishMarked]]'s retire-not-delete):
    // garbage only once their destination holds a marker BOUND to its
    // tree again (a publish completed, or a later rebuild landed) —
    // until then the retiree is the crash-restore source for artifacts
    // with no rebuild path, and reclaiming it would destroy the one
    // complete copy. Bare marker-presence is NOT enough: the crash
    // that makes a retiree load-bearing (mid-sweep during the retire)
    // leaves the destination WITH its stale marker but partially
    // swept — [[markedValid]]'s binding check minus the fp equality
    // (the janitor cannot know which generation is current, only
    // whether the marker describes the tree beside it).
    val retiredRe = "^(.*)\\.old-([0-9]+)$".r
    def dstBound(parent: java.io.File, baseName: String): Boolean =
      treeBound(new java.io.File(parent, baseName).toPath)
    // bare `_maint`/`_cmaint` with no pid: the pre-pid-scoping scratch
    // names. No CURRENT code path creates them, but an old binary still
    // running on this host during a mixed-version rollout uses exactly
    // that name — so reclamation is gated on the tree being cold (mtime
    // older than [[LegacyIdleMs]]): an in-use scratch is rewritten every
    // maintenance cycle, an orphan only ever ages. Coldness is judged
    // on the MAXIMUM mtime across the whole tree, not the root
    // directory's: POSIX only bumps a directory's mtime when direct
    // children are added or removed, so a live writer rewriting files
    // inside nested subdirectories (partitioned parquet output) need
    // never touch the root's timestamp — root-mtime gating could
    // reclaim an in-use scratch mid-write.
    val legacyRe = "^.*_c?maint$".r
    val now = System.currentTimeMillis()
    def abandoned(pid: String): Boolean =
      // an unparseable "pid" (hand-made dir) is left alone, like any
      // other name the patterns don't own
      pid.toLongOption.exists(pidDead)
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .count { f =>
        val stale = f.getName match {
          case scratchRe(pid)        => abandoned(pid)
          case buildRe(pid)          => abandoned(pid)
          case retiredRe(base, pid)  =>
            // a retiree whose DESTINATION is itself a dead pid's
            // scratch is garbage outright: the scratch is (or will
            // be) reclaimed by this very sweep, after which dstBound
            // can never hold again — without this clause a compaction
            // crashing inside a pid-scoped maintenance scratch
            // (q139's shape) would strand its retiree forever
            abandoned(pid) && (dstBound(f.getParentFile, base) ||
              (base match {
                case scratchRe(opid) => abandoned(opid)
                case buildRe(opid)   => abandoned(opid)
                case _               => false
              }))
          case legacyRe()            => now - treeMaxMtime(f) > LegacyIdleMs
          case _                     => false
        }
        if (stale) deleteTree(f.toPath)
        stale
      }
  }

  /** The newest mtime anywhere in the tree rooted at `f` — the signal
    * that a tree is still being written, wherever in it the writer is
    * working. O(#files), same cost class as [[sourceFingerprint]]'s
    * listing; legacy trees are rare (mixed-version rollouts only).
    */
  private[operators] def treeMaxMtime(f: java.io.File): Long = {
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    kids.foldLeft(f.lastModified())((m, k) => math.max(m, treeMaxMtime(k)))
  }

  /** How cold a bare legacy `_maint`/`_cmaint` tree must be before the
    * janitor reclaims it (system property is the test seam). Chosen far
    * above any maintenance cycle's write cadence.
    */
  private[graft] def LegacyIdleMs: Long =
    sys.props.get("graft.index.legacy.idle.ms").map(_.toLong)
      .getOrElse(6L * 3600 * 1000)
}
