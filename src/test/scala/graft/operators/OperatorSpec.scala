package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions

/** Smoke + invariant checks for the query surface at sf0.001 (exact value
  * parity with DuckDB is covered by the driver gate / tools/compare.py —
  * these specs assert structural invariants instead).
  */
class OperatorSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf0001)

  test("entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("every query has columns and runs at sf0.001") {
    graft.SparkEntry.allQueries.foreach { q =>
      val df = q.fn(spark, sf0001)
      assert(df.columns.nonEmpty, q.name)
    }
  }

  test("language-ID gives null hit counts and votes und on a null text") {
    // the oracle's regex count over a null text is null (DuckDB's len and
    // Spark's size alike); a left join's missing counts must not read 0
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-langid-null")
    Seq((1L, Option.empty[String], "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    for (q <- Seq("q31_lang_id", "q49_lang_id_onepass")) {
      val Array(r) = graft.SparkEntry.queries(q)(spark, dir.toString).collect()
      assert(Seq("en_hits", "es_hits", "de_hits", "fr_hits")
        .forall(c => r.isNullAt(r.fieldIndex(c))), s"$q: $r")
      assert(r.getAs[String]("lang_guess") == "und", s"$q: $r")
    }
  }

  test("q53's benchmark shingle set joins via broadcast with no fanout") {
    // the containment join's scale claim: the benchmark side is a
    // DISTINCT shingle set riding a broadcast (at this size), so a corpus
    // shingle matches at most once — n_hit can never exceed n_sh, and the
    // bloom-pruned corpus side never shuffles for the membership probe
    val df = run("q53_decontam")
    val rows = df.collect()
    val bhj = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "benchmark membership join must be a BroadcastHashJoin")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Int]("n_sh").toLong,
        s"fanout at doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("q105 is exactly q53's complement: the not-contaminated corpus") {
    val verdicts = run("q53_decontam").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("contaminated"), r.getAs[Int]("n_sh"),
          r.getAs[Long]("n_hit"))).toMap
    val kept = run("q105_decontam_apply").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_sh"),
        r.getAs[Long]("n_hit")))
    // every kept doc is a non-contaminated q53 doc with identical evidence
    kept.foreach { case (id, nSh, nHit) =>
      val (contaminated, eSh, eHit) = verdicts(id)
      assert(!contaminated && nSh == eSh && nHit == eHit, s"doc $id")
    }
    // and the apply drops EXACTLY the contaminated set (non-vacuously)
    val dropped = verdicts.count(_._2._1)
    assert(kept.size + dropped == verdicts.size)
    assert(dropped > 0, "no contaminated docs at this SF; gate is vacuous")
  }

  test("q54 keeps non-dominant languages whole and is a pure filter") {
    val docs = graft.core.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"))
    val sampled = run("q54_stratified_sample")
    // non-en rows survive verbatim; en rows shrink
    val nonEn = docs.filter(col("lang") =!= "en" || col("lang").isNull)
    assert(sampled.filter(col("lang") =!= "en" || col("lang").isNull).count()
      == nonEn.count())
    val en = docs.filter(col("lang") === "en").count()
    val enKept = sampled.filter(col("lang") === "en").count()
    assert(enKept < en && enKept > 0, s"en: $enKept of $en")
    // determinism: a second run selects the identical row set
    val again = run("q54_stratified_sample")
    assert(sampled.collect().toSeq == again.collect().toSeq)
    // no shuffle before the output sort: the sample itself is map-side
    val plan = sampled.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), "sampling must not aggregate")
  }

  test("q55 chunks reconstruct the document (stride-aligned prefix property)") {
    // concatenating each chunk's first 6 tokens (the stride), plus the
    // final chunk's tail, must reproduce the tokenized document exactly —
    // chunking may lose NO content (the whole point of overlap windows)
    val docs = graft.core.Tables(spark, sf0001, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        split(trim(col("text")), graft.core.Ws.Plus).as("t"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    val chunks = run("q55_chunking").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (id, rows) =>
      val ordered = rows.sortBy(_.getAs[Int]("chunk_idx"))
      val rebuilt = ordered.flatMap { r =>
        val toks = r.getAs[String]("chunk").split(" ").toSeq
        if (r eq ordered.last) toks else toks.take(6)
      }
      assert(rebuilt.toSeq == docs(id).toSeq, s"doc $id lost content through chunking")
    }
  }

  test("q56 keeps exactly the representatives and the unpaired docs") {
    val total = graft.core.Tables(spark, sf0001, "documents").count()
    val clusters = run("q39_dedup_clusters").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val paired = clusters.length.toLong
    val representatives = clusters.count { case (d, c) => d == c }.toLong
    val kept = run("q56_dedup_apply").count()
    assert(kept == total - paired + representatives,
      s"kept=$kept total=$total paired=$paired reps=$representatives")
  }

  test("q58 prefix sum is gapless and its corpus window is partitioned") {
    // semantic check: replay the packing sequentially — the distributed
    // two-phase prefix sum must equal the single-threaded cumsum exactly
    // (first_bin/last_bin/bin_offset all derive from it)
    val df = run("q58_sequence_pack")
    val rows = df.collect().sortBy(_.getAs[Long]("doc_id"))
    var cum = 0L
    rows.foreach { r =>
      val n = r.getAs[Int]("n_tok").toLong
      assert(r.getAs[Long]("first_bin") == cum / 16, s"doc ${r.get(0)}")
      assert(r.getAs[Long]("last_bin") == (cum + n - 1) / 16, s"doc ${r.get(0)}")
      assert(r.getAs[Long]("bin_offset") == cum % 16, s"doc ${r.get(0)}")
      cum += n
    }
    assert(rows.nonEmpty && cum > 0)
    // scale check: the corpus-wide window must be partitioned (by block
    // id) — only the ≤32-row per-block offsets frame may use the
    // single-partition global window, and it must ride a broadcast back
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "corpus cumsum must run in a PARTITIONED window")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "block offsets must join back via broadcast")
  }

  test("q134 multimodal packing replays sequentially and stays partitioned") {
    // q58's semantic + plan pins on the MULTIMODAL cost form: the
    // shared packBins body must produce the exact sequential cumsum of
    // the attachment-aware token costs, and the corpus window must
    // stay partitioned with the broadcast offsets join-back
    val df = run("q134_multimodal_pack")
    val rows = df.collect().sortBy(_.getAs[Long]("doc_id"))
    var cum = 0L
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = r.getAs[Int]("n_tok").toLong
      assert(r.getAs[Long]("first_bin") == cum / 512, s"doc $id")
      assert(r.getAs[Long]("last_bin") == (cum + n - 1) / 512, s"doc $id")
      assert(r.getAs[Long]("bin_offset") == cum % 512, s"doc $id")
      cum += n
    }
    assert(rows.nonEmpty && cum > 0)
    // the modal budgets are genuinely load-bearing: an attachment doc
    // must cost more than its text tokens alone
    assert(rows.exists(r => r.getAs[Long]("doc_id") % 3 == 0 &&
      r.getAs[Int]("n_tok") >= 64))
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "corpus cumsum must run in a PARTITIONED window")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "block offsets must join back via broadcast")
  }

  test("q59 flags exactly the eval docs with a train-side LSH partner") {
    // recompose the query from its two building blocks' own outputs:
    // q44's split + q36's pairs must predict q59 row for row
    val split = run("q44_train_split").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val pairs = run("q36_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")))
    val expected = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (e, t) => split(e) == "eval" && split(t) == "train" }
      .groupBy(_._1).map { case (e, ps) => e -> ps.length.toLong }
    val rows = run("q59_split_leakage").collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet
      == split.collect { case (id, "eval") => id }.toSet)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_train_dups") == expected.getOrElse(id, 0L),
        s"doc $id")
      assert(r.getAs[Boolean]("leaked") == expected.contains(id), s"doc $id")
    }
    assert(expected.nonEmpty,
      "the sf0.001 corpus should leak at least one eval doc")
  }

  test("q57 emits each doc exactly its weight times, epochs 1..w") {
    run("q57_source_mix").collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .foreach { case (id, rows) =>
        val w = rows.head.getAs[Int]("weight")
        assert(rows.length == w, s"doc $id: ${rows.length} rows, weight $w")
        assert(rows.map(_.getAs[Int]("epoch")).sorted.toSeq == (1 to w),
          s"doc $id epochs")
      }
  }

  test("oracleSql keys are a subset of queries") {
    val qs = graft.SparkEntry.queries.keySet
    assert(graft.SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("fingerprints are unique per distinct text") {
    val fp = run("q33_fingerprint")
    assert(fp.count() == fp.select("fp").distinct().count())
  }

  test("jaccard pairs are symmetric-free and bounded") {
    val p = run("q35_ngram_jaccard").collect()
    p.foreach { r =>
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
      val j = r.getAs[Double]("jacc")
      assert(j >= 0.2 && j <= 1.0)
    }
  }

  test("minhash LSH candidates include all high-jaccard pairs (recall)") {
    val jacc = run("q35_ngram_jaccard").filter(col("jacc") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("q36_minhash_lsh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacc.subsetOf(lsh))
  }

  test("cosine topk ranks are 1..5 per query and cos in [-1,1]") {
    val rows = run("q40_cosine_topk").collect()
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
    }
    rows.foreach(r => assert(math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-12))
  }

  test("simhash emits 16-bit signatures") {
    run("q37_simhash").collect().foreach { r =>
      val s = r.getAs[String]("simhash")
      assert(s.length == 16 && s.forall(c => c == '0' || c == '1'))
    }
  }

  test("textlib UDFs register and run over documents") {
    GraftFunctions.register(spark)
    val docs = graft.core.Tables(spark, sf0001, "documents")
    val out = docs.select(GraftFunctions.normalizeBasic(col("text")).as("norm"))
    assert(out.filter(length(col("norm")) > 0).count() == docs.count())
  }

  test("media pipeline extracts deterministic features") {
    val media = Multimodal.MediaPipeline.fakeMedia(spark, sf0001)
    val a = Multimodal.MediaPipeline.extract(spark, media)
      .orderBy("media_id").collect()
    val b = Multimodal.MediaPipeline.extract(spark, media)
      .orderBy("media_id").collect()
    assert(a.sameElements(b))
    assert(a.forall(_.getAs[Int]("n_bytes") > 0))
  }

  test("typed PPM media path: real payloads decode to text-derived stats") {
    val media = Multimodal.MediaPipeline.ppmMedia(spark, sf0001)
    val decoded = Multimodal.MediaPipeline.decodeImages(spark, media)
      .orderBy("media_id").collect()
    val wantWidth = graft.core.Tables(spark, sf0001, "documents")
      .orderBy("doc_id").select("n_chars").collect()
      .map(_.getAs[Long]("n_chars").toInt)
    assert(decoded.length == wantWidth.length)
    decoded.zip(wantWidth).foreach { case (r, w) =>
      assert(r.getAs[Int]("width") == w)
      assert(r.getAs[Int]("height") == 1)
      // channel identity pinned by construction: g = 255*w - r
      assert(r.getAs[Long]("sum_g") == 255L * w - r.getAs[Long]("sum_r"))
    }
  }

  test("frame sampling emits strided fixed-size frames with stable hashes") {
    val media = Multimodal.MediaPipeline.fakeMedia(spark, sf0001)
    val frames = Multimodal.MediaPipeline
      .sampleFrames(spark, media, frameBytes = 64, stride = 2)
    val byId = frames.groupBy("media_id")
      .agg(count(lit(1)).as("n"), max("frame_idx").as("maxf")).collect()
    assert(byId.nonEmpty)
    byId.foreach { r =>
      // strided: only even frame indices sampled
      assert(r.getAs[Int]("maxf") % 2 == 0)
    }
    val f0 = frames.filter(col("frame_idx") === 0).orderBy("media_id")
      .select("frame_hash").collect()
    val f1 = Multimodal.MediaPipeline
      .sampleFrames(spark, media, frameBytes = 64, stride = 2)
      .filter(col("frame_idx") === 0).orderBy("media_id")
      .select("frame_hash").collect()
    assert(f0.sameElements(f1))
  }

  test("resize amortizes codec init once per PARTITION, not per row") {
    val media = Multimodal.MediaPipeline.fakeMedia(spark, sf0001)
      .repartition(4)
    val inits = spark.sparkContext.longAccumulator("codec-inits")
    val out = Multimodal.MediaPipeline.resize(spark, media, factor = 4,
      init = () => inits.add(1))
    val rows = out.collect()
    assert(rows.length > 4)
    assert(inits.value == 4, s"expected 4 partition inits, got ${inits.value}")
    rows.foreach { r =>
      val orig = r.getAs[Int]("orig_bytes")
      val resized = r.getAs[Array[Byte]]("resized").length
      assert(resized == (orig + 3) / 4)
    }
  }

  test("q68 salted top-k is row-identical to q09 and survives a hot group") {
    // q09 and q68 run one body; with ONE group holding every row it must
    // pick the exact top 3, and the map side must cut the group to 3 rows
    // per partition before the exchange (a partial WindowGroupLimit)
    assert(run("q68_topk_salted").collect().toSeq ==
      run("q09_topk_per_group").collect().toSeq)
    import spark.implicits._
    val rows = (1 to 50000).map(i => ("HOT", i.toLong, i % 7, i * 1.0 % 9973))
    val expect = rows.sortBy { case (_, o, l, p) => (-p, o, l) }.take(3)
      .zipWithIndex.map { case ((f, o, _, _), r) => Seq(f, r + 1, o) }
    val got = Relational.topKPerGroup(rows
        .toDF("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .repartition(8))
    assert(got.select("l_returnflag", "rank", "l_orderkey").collect()
      .map(_.toSeq).toSeq == expect)
    val partial = collectWithSubqueries(got.queryExecution.executedPlan) {
      case l: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if l.mode == org.apache.spark.sql.execution.window.Partial => l
    }
    assert(partial.nonEmpty, got.queryExecution.executedPlan)
  }

  test("q69 vocab selection plans as TakeOrderedAndProject + broadcast probe") {
    val df = run("q69_vocab_coverage")
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    // the top-V must be the distributed partial top-k operator, not a
    // global-order window (the q58 anti-pattern) or a full sort
    val topk = collectWithSubqueries(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(topk.nonEmpty, "vocab top-V must plan as TakeOrderedAndProject")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "vocab membership probe must be a BroadcastHashJoin")
    // conservation: token totals match the corpus; OOV bounded by total
    val totalToks = run("q30_token_count")
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalToks)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens")))
    // V=100 most frequent words cover the bulk of this zipf-ish corpus:
    // the query is only interesting if the vocab actually absorbs tokens
    val oov = rows.map(_.getAs[Long]("n_oov")).sum
    assert(oov > 0 && oov < totalToks / 2, s"oov=$oov of $totalToks")
  }
}
