package graft.operators

import scala.util.Random

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.SparkSpec

/** [[Dedup.connectedComponents]] equals a plain-Scala union-find on
  * random forests of cliques, stars and chains (up to 200 vertices),
  * whose ids are shuffled, ascending, descending, or in V order along a
  * chain (0, 2, 4 … 5, 3, 1: the minimum sits at one end and the ids
  * interleave). Duplicate and reversed edges and self-loops ride along,
  * and some graphs are empty.
  */
object ConnectedComponentsPropSpec extends Properties("ConnectedComponents") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkSpec.session

  /** Component minimum per vertex, by union-find over the edge list. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(edges.toDF("d1", "d2"))
      .as[(Long, Long)].collect().toMap
  }

  /** 0, 2, 4 … then … 5, 3, 1: ascending evens, descending odds. */
  private def vOrder(n: Int): Seq[Int] =
    (0 until n by 2) ++ (0 until n).filter(_ % 2 == 1).reverse

  /** One component's edges over positions 0 until n. */
  private def shape(kind: Int, n: Int): Seq[(Int, Int)] = kind match {
    case 0 => for (i <- 0 until n; j <- i + 1 until n) yield (i, j) // clique
    case 1 => (1 until n).map(i => (0, i)) // star
    case _ => (1 until n).map(i => (i - 1, i)) // chain
  }

  private val graph: Gen[Seq[(Long, Long)]] = for {
    parts <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.const(1),
      5 -> Gen.choose(2, 4))
    comps <- Gen.listOfN(parts, for {
      kind <- Gen.choose(0, 2)
      n <- kind match {
        case 0 => Gen.choose(2, 12)
        case 1 => Gen.choose(2, 60)
        case _ => Gen.oneOf(Gen.choose(2, 20), Gen.choose(100, 200))
      }
      order <- Gen.choose(0, 3)
    } yield (shape(kind, n), n, order))
    seed <- Gen.choose(0L, Long.MaxValue)
    dupShare <- Gen.choose(0.0, 0.3)
    loops <- Gen.choose(0, 2)
  } yield {
    val rnd = new Random(seed)
    val total = comps.map(_._2).sum
    // disjoint id ranges per component, spread over a shuffled id space
    val ids = rnd.shuffle((0L until 3L * total).toVector).take(total)
    var next = 0
    val edges = comps.flatMap { case (es, n, order) =>
      val mine = ids.slice(next, next + n)
      next += n
      val pos = order match {
        case 0 => mine // shuffled
        case 1 => mine.sorted
        case 2 => mine.sorted.reverse // a star's center is its maximum
        case _ => vOrder(n).map(mine.sorted)
      }
      es.map { case (i, j) => (pos(i), pos(j)) }
    }
    val noisy = edges.flatMap { e =>
      val twin = if (rnd.nextDouble() < dupShare) Seq(e, e.swap) else Nil
      (if (rnd.nextBoolean()) e.swap else e) +: twin
    }
    // self-loops on member vertices, plus one on a vertex of its own
    val selfLoops = if (total == 0) Nil
      else (Seq.fill(loops)(ids(rnd.nextInt(total))) :+ 3L * total).map(v => (v, v))
    rnd.shuffle(noisy ++ selfLoops)
  }

  property("labels equal a union-find on cliques, stars and chains") =
    forAllNoShrink(graph) { g =>
      val got = labels(g)
      val want = unionFind(g)
      if (got != want)
        println(s"[ConnectedComponentsPropSpec] ${g.size} edges: " +
          s"${(got.toSet diff want.toSet).take(5)} vs ${(want.toSet diff got.toSet).take(5)}")
      got == want
    }

  property("the empty graph has no labels") = Prop.secure(labels(Nil).isEmpty)
}
