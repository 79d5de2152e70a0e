package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hot-key cap behavior for the inverted-index dedup joins: a stopword
  * shingle shared by the whole corpus must not quadratically blow up pair
  * generation, while rare-key pairs survive untouched.
  */
class DedupCapSpec extends SparkSpec {
  import spark.implicits._

  test("capHotKeys drops keys above the cap and keeps the rest") {
    // 100 docs all share shingle "the quick brown" (hot); docs 1 and 2
    // additionally share a rare shingle.
    val hot = (1L to 100L).map(i => (i, "the quick brown"))
    val rare = Seq((1L, "unique rare shingle"), (2L, "unique rare shingle"))
    val ex = (hot ++ rare).toDF("doc_id", "sh")

    val capped = Dedup.capHotKeys(ex, cap = 10, "sh")
    val keys = capped.select("sh").distinct().as[String].collect().toSet
    assert(keys == Set("unique rare shingle"))

    val pairs = Dedup.pairsWithin(capped, "doc_id", Seq("sh"))
    // without the cap: C(100,2) + 1 = 4951 pairs; with it: just (1,2)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("pairsWithin emits each same-key pair once per shared key, ordered, with both payloads") {
    // docs 1,2 share keys a and b (multiplicity 2); 3 shares a only;
    // 4 and 5 have null keys and must not pair with anything
    val rows = Seq[(Long, String, Int)]((1L, "a", 10), (2L, "a", 20),
      (3L, "a", 30), (1L, "b", 10), (2L, "b", 20),
      (4L, null, 40), (5L, null, 50))
    val ex = rows.toDF("doc_id", "sh", "w")
    val got = Dedup.pairsWithin(ex, "doc_id", Seq("sh"), Seq("w"))
    assert(got.columns.toSeq == Seq("d1", "d2", "w1", "w2"))
    assert(got.as[(Long, Long, Int, Int)].collect().toSeq.sorted ==
      Seq((1L, 2L, 10, 20), (1L, 2L, 10, 20), (1L, 3L, 10, 30), (2L, 3L, 20, 30)))
    // a self-pair never appears, even for a doc listed twice under a key
    val twice = Seq((1L, "a"), (1L, "a"), (2L, "a")).toDF("doc_id", "sh")
    assert(Dedup.pairsWithin(twice, "doc_id", Seq("sh"))
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L), (1L, 2L)))
    // multi-column keys pair only on ALL columns; string ids order by value
    val multi = Seq(("s2", 0, "k"), ("s1", 0, "k"), ("s3", 1, "k"), ("s4", 0, "j"))
      .toDF("source", "c", "chunk")
    assert(Dedup.pairsWithin(multi, "source", Seq("c", "chunk"))
      .as[(String, String)].collect().toSeq == Seq(("s1", "s2")))
  }

  test("connectedComponents labels every vertex with its component minimum") {
    // two components: a 4-chain {1-2-3-4} (diameter 3 — needs multiple
    // propagation rounds) and a triangle {10,11,12}; 7-8 isolated edge
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (8L, 7L)).toDF("d1", "d2")
    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents on an empty edge frame returns no rows") {
    // a clean corpus (zero candidate pairs) must yield an empty cluster
    // frame, not a null-sum crash
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Dedup.connectedComponents(empty).collect().isEmpty)
  }

  test("boilerplate skew: pair generation is cap-bounded, not quadratic") {
    // Every doc = the SAME 40-token boilerplate + a tiny unique tail —
    // the Zipf/boilerplate shape the ScaleBench _skew corpus models. The
    // shared shingles dominate every doc's minhashes, so the boilerplate
    // band keys collect (almost) the whole corpus:
    //  - BELOW the cap (100 docs, freq < 256): the keys survive and the
    //    candidate pairs are genuinely quadratic — C(100,2)-ish. This is
    //    the control proving the blow-up is real, not absent.
    //  - ABOVE the cap (600 docs, freq > 256): capHotKeys drops the hot
    //    keys, bounding any key's contribution to cap² — the pair count
    //    must COLLAPSE instead of growing 36× quadratically.
    val boiler = (1 to 40).map(i => s"bq$i").mkString(" ")
    def corpus(n: Int) =
      (1L to n).map(i => (i, s"$boiler tail$i only")).toDF("doc_id", "text")
    val small = Dedup.minhashPairsOf(corpus(100)).count()
    assert(small >= 1000L,
      s"control: below the cap the boilerplate collisions must be quadratic, got $small")
    val big = Dedup.minhashPairsOf(corpus(600)).count()
    assert(big <= Dedup.HotKeyCap.toLong * Dedup.HotKeyCap,
      s"above the cap, any key's pair contribution must be <= cap², got $big")
    assert(big < small,
      s"the cap must collapse the boilerplate blow-up ($small -> $big expected down)")
  }

  test("cap is inert at test scale: q35/q36 results unchanged without it") {
    // The default HotKeyCap (256) sits an order of magnitude above the max
    // observed key frequency at sf scales (25 at sf0.1), so the capped
    // plans must emit byte-identical results to uncapped reruns.
    val q35 = graft.SparkEntry.queries("q35_ngram_jaccard")(spark, sf0001)
    val maxFreq = q35.agg(max(col("inter"))).head().getLong(0)
    assert(maxFreq <= Dedup.HotKeyCap,
      s"sf0.001 intersection sizes ($maxFreq) must stay below the cap")
    // structural invariant: every emitted pair is ordered and scored
    q35.collect().foreach { r =>
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
    }
  }
}
