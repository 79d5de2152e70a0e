package graft.operators

import graft.SparkSpec
import graft.core.Pin

/** [[Dedup.connectedComponents]] (large-star/small-star): exact labels
  * on small hand-built graphs, a chain far longer than any dedup cluster,
  * and no pin left behind by a scoped call. The random graphs are in
  * [[ConnectedComponentsPropSpec]].
  */
class ConnectedComponentsSpec extends SparkSpec {

  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toDF("d1", "d2")

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  /** Min-label propagation in plain Scala: each vertex adopts the least
    * label in its closed neighborhood until nothing changes.
    */
  private def minLabel(es: Seq[(Long, Long)]): Map[Long, Long] = {
    var label = es.flatMap(e => Seq(e._1, e._2)).map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val next = es.foldLeft(label) { case (l, (a, b)) =>
        val m = math.min(l(a), l(b))
        l.updated(a, m).updated(b, m)
      }
      changed = next != label
      label = next
    }
    label
  }

  test("star variant agrees with min-label propagation on a mixed graph") {
    // three components: a triangle {1,2,3}, a path {10,11,12,13}, a pair
    // {20,21}; edge directions deliberately mixed
    val es = Seq((2L, 1L), (2L, 3L), (1L, 3L),
      (11L, 10L), (11L, 12L), (13L, 12L),
      (21L, 20L))
    val star = labelsOf(Dedup.connectedComponents(edges(es: _*)))
    assert(star == minLabel(es))
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("q39's path labels a 100-vertex chain (diameter 99)") {
    // min-label propagation needs a round per hop; the star rounds grow
    // with log² n, so a chain of any length converges
    val chain = edges((0L until 99L).map(i => (i, i + 1)): _*)
    assert(labelsOf(Dedup.connectedComponents(chain)) ==
      (0L to 99L).map(_ -> 0L).toMap)
  }

  test("star variant handles the empty graph and isolated pairs") {
    assert(Dedup.connectedComponents(edges()).isEmpty)
    // empty only once it runs, as a pipeline stage's pair graph can be
    val none = Dedup.minhashPairsOf(Seq((1L, "a b c d"), (2L, "e f g h"))
      .toDF("doc_id", "text"))
    assert(Dedup.connectedComponents(none).isEmpty)
    val pairs = edges((5L, 4L), (7L, 6L))
    assert(labelsOf(Dedup.connectedComponents(pairs)) ==
      Map(4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 6L))
  }

  test("a self-loop's vertex labels itself, or its component's minimum") {
    val e = edges((9L, 9L), (3L, 3L), (3L, 4L), (4L, 5L), (5L, 5L))
    assert(labelsOf(Dedup.connectedComponents(e)) ==
      Map(9L -> 9L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("a vertex with two smaller neighbors ends no round as a star leaf") {
    // no vertex has both smaller and larger neighbors here, yet these are
    // not star forests: 9 (then 11 after one round) has two smaller ones
    val hub = Seq((1L, 9L), (4L, 9L), (6L, 9L))
    assert(labelsOf(Dedup.connectedComponents(edges(hub: _*))) ==
      Map(1L -> 1L, 4L -> 1L, 6L -> 1L, 9L -> 1L))
    val later = Seq((4L, 11L), (4L, 17L), (7L, 19L), (8L, 11L), (8L, 19L),
      (11L, 17L))
    assert(labelsOf(Dedup.connectedComponents(edges(later: _*))) ==
      Seq(4L, 7L, 8L, 11L, 17L, 19L).map(_ -> 4L).toMap)
  }

  test("a scoped call leaves no persistent RDD behind") {
    val sc = spark.sparkContext
    val e = edges((0L until 40L).map(i => (i, (i * 7 + 3) % 41)): _*)
    val before = sc.getPersistentRDDs.keySet.toSet
    assert(Pin.scope(Dedup.connectedComponents(e).count()) == 41L)
    assert(sc.getPersistentRDDs.keySet.toSet -- before == Set.empty)
  }
}
