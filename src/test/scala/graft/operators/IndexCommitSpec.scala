package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** [[IndexCommit.purgeStaleScratch]]: the maintenance loops
  * (q112/q116/q118) build pid-scoped scratch trees under the shared
  * index root, and crashed [[IndexCommit.commitBuild]]s can leave
  * `.build-<pid>` temp siblings — both leak one tree per dead process
  * without the purge. The contract under test: ABANDONED trees (owner
  * pid not alive on this host) are reclaimed; the current process's
  * trees, live processes' trees, and non-scratch index directories are
  * never touched. Bare legacy `_maint`/`_cmaint` names (pre-pid-scoping)
  * are reclaimed only once COLD — during a mixed-version rollout an
  * old binary still actively rewrites that exact name, so a fresh mtime
  * means in-use, not orphaned. Every family, postings included, keeps
  * its indexes and scratch under the one shared root.
  */
class IndexCommitSpec extends SparkSpec {

  test("purgeStaleScratch reclaims dead pids' trees, spares live + foreign") {
    val root = Paths.get(IndexCommit.indexRoot)
    Files.createDirectories(root)
    val self = ProcessHandle.current().pid()
    // a pid that is certainly not alive: far beyond pid_max defaults,
    // and double-checked against ProcessHandle before the test asserts
    val dead = Iterator.iterate(3999999999L)(_ - 7)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val deadMaint = root.resolve(s"graft_fp_index_ictest_maint_$dead")
    val deadCmaint = root.resolve(s"graft_fp_index_ictest_cmaint_$dead")
    val deadBuild = root.resolve(s"graft_fp_index_ictest.build-$dead")
    val mine = root.resolve(s"graft_fp_index_ictest_maint_$self")
    val plain = root.resolve("graft_fp_index_ictest_plainindex")
    // the pre-pid-scoping scratch name: just created → mtime is FRESH,
    // so the mixed-version-rollout guard must spare it at the default
    // idle threshold
    val legacy = root.resolve("graft_band_index_ictest_maint")
    // an unparseable pid (overflow digits) must be SPARED, not crash
    val weird = root.resolve("graft_fp_index_ictest_maint_99999999999999999999")
    val all = Seq(deadMaint, deadCmaint, deadBuild, mine, plain, legacy, weird)
    all.foreach { p =>
      Files.createDirectories(p)
      Files.writeString(p.resolve("marker"), "x")
    }
    try {
      val removed = IndexCommit.purgeStaleScratch()
      assert(removed >= 3, s"expected >= 3 reclaimed, got $removed")
      assert(!Files.exists(deadMaint), "dead pid's _maint_ must be reclaimed")
      assert(!Files.exists(deadCmaint), "dead pid's _cmaint_ must be reclaimed")
      assert(!Files.exists(deadBuild), "dead pid's .build- sibling must go")
      assert(Files.exists(mine), "the CURRENT process's scratch must survive")
      assert(Files.exists(plain), "a non-scratch index dir must survive")
      assert(Files.exists(legacy),
        "a FRESH bare legacy _maint tree may belong to a live old binary")
      assert(Files.exists(weird), "an unparseable pid suffix must be spared")
      // once the legacy tree goes COLD (test seam shrinks the idle
      // threshold to zero) it is an orphan and gets reclaimed
      System.setProperty("graft.index.legacy.idle.ms", "0")
      try {
        assert(IndexCommit.purgeStaleScratch() >= 1)
        assert(!Files.exists(legacy), "a COLD bare legacy tree is an orphan")
      } finally System.clearProperty("graft.index.legacy.idle.ms")
      // idempotent: a second pass finds nothing of ours to remove
      all.foreach(p => assert(Files.exists(p) ==
        (p == mine || p == plain || p == weird)))
    } finally all.foreach(IndexCommit.deleteTree)
  }

  test("a dead scratch's retiree is reclaimed outright; a real artifact's waits for a bound destination") {
    // a compaction crashing inside a pid-scoped maintenance scratch
    // (q139's shape) leaves `<scratch>.old-<pid>` beside the scratch;
    // the scratch itself is reclaimed as a dead pid's tree, after
    // which the retiree's dstBound gate could never hold again — it
    // must be reclaimed by the scratch-destination rule instead of
    // leaking forever. A retiree of a NON-scratch destination keeps
    // the conservative rule: unbound destination → restore source,
    // spared.
    val root = Paths.get(IndexCommit.indexRoot)
    Files.createDirectories(root)
    val dead = Iterator.iterate(3899999999L)(_ - 7)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val dead2 = Iterator.iterate(3799999999L)(_ - 7)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val scratch = root.resolve(s"graft_fp_index_icr_cpt_maint_$dead")
    val scratchRetiree =
      root.resolve(s"graft_fp_index_icr_cpt_maint_$dead.old-$dead2")
    // a retiree whose destination is a REAL (non-scratch) index dir
    // that is currently unbound — the restore source, must survive
    val realRetiree = root.resolve(s"graft_fp_index_icreal.old-$dead2")
    val realDst = root.resolve("graft_fp_index_icreal")
    val all = Seq(scratch, scratchRetiree, realRetiree, realDst)
    all.foreach { p =>
      Files.createDirectories(p)
      Files.writeString(p.resolve("part-0"), "x")
    }
    try {
      IndexCommit.purgeStaleScratch()
      assert(!Files.exists(scratch), "the dead scratch goes")
      assert(!Files.exists(scratchRetiree),
        "a dead scratch's retiree must be reclaimed with it, never leak")
      assert(Files.exists(realRetiree),
        "a real artifact's retiree beside an unbound destination is " +
          "the restore source and must survive")
    } finally all.foreach(IndexCommit.deleteTree)
  }

  test("legacy coldness is judged on the DEEPEST mtime, not the root's") {
    // POSIX only bumps a directory's mtime when direct children are
    // added/removed — a live old binary rewriting files INSIDE nested
    // subdirectories (partitioned parquet) never refreshes the root.
    // The gate must therefore spare a tree whose root looks cold but
    // whose leaves are fresh, and reclaim it only when the whole tree
    // is cold.
    val root = Paths.get(IndexCommit.indexRoot)
    Files.createDirectories(root)
    val legacy = root.resolve("graft_band_index_icmtime_cmaint")
    val nested = legacy.resolve("part=0").resolve("bucket=3")
    Files.createDirectories(nested)
    val leaf = nested.resolve("data.parquet")
    Files.writeString(leaf, "x")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    // age every path EXCEPT the leaf — the in-use signal
    Seq(legacy, legacy.resolve("part=0"), nested)
      .foreach(p => Files.setLastModifiedTime(p, old))
    try {
      assert(IndexCommit.treeMaxMtime(legacy.toFile) >=
        System.currentTimeMillis() - 60000, "fresh leaf must dominate")
      System.setProperty("graft.index.legacy.idle.ms", "3600000")
      IndexCommit.purgeStaleScratch()
      assert(Files.exists(legacy),
        "a cold-rooted tree with a FRESH nested file is in use — spared")
      Files.setLastModifiedTime(leaf, old)
      IndexCommit.purgeStaleScratch()
      assert(!Files.exists(legacy),
        "once every file in the tree is cold, the orphan is reclaimed")
    } finally {
      System.clearProperty("graft.index.legacy.idle.ms")
      IndexCommit.deleteTree(legacy)
    }
  }

  test("a dead pid's postings scratch under the shared root is reclaimed") {
    val proot = Paths.get(IndexCommit.indexRoot)
    Files.createDirectories(proot)
    val dead = Iterator.iterate(3999999999L)(_ - 7)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val deadMaint = proot.resolve(s"graft_postings_ictest_cpt_maint_$dead")
    val deadBuild = proot.resolve(s"graft_postings_ictest.build-$dead")
    // the live name comes from the helper every maintenance loop uses,
    // so the janitor's name rule and the loops' names cannot drift
    val live = IndexLayout.pathOf(
      IndexLayout.scratchName("graft_postings_ictest", "_cpt_maint"))
    val all = Seq(deadMaint, deadBuild, live)
    all.foreach { p =>
      Files.createDirectories(p)
      Files.writeString(p.resolve("marker"), "x")
    }
    try {
      IndexCommit.purgeStaleScratch()
      assert(!Files.exists(deadMaint),
        "dead pid's postings _maint_ tree must be reclaimed by the sweep")
      assert(!Files.exists(deadBuild),
        "dead pid's postings .build- temp must be reclaimed by the sweep")
      assert(Files.exists(live), "own postings scratch must survive")
    } finally all.foreach(IndexCommit.deleteTree)
  }
}
