package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ConnectedComponents vs a brute-force union-find over random graphs:
  * every node must be labeled with the minimum id of its component. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Brute-force union-find (path compression only; fine at test sizes). */
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
    // normalize: root of each set = min member (guaranteed by min-merge)
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)], clue: String): Unit = {
    val expect = unionFind(edges)
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == expect, clue)
  }

  test("random sparse graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to n).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      check(edges, s"trial $trial")
    }
  }

  test("a long path converges to the min endpoint (diameter stress)") {
    // path 0-1-2-...-15: worst-case diameter for propagation
    check((0L until 15L).map(i => (i, i + 1)), "path graph")
    // same path with ids reversed so the min label starts at the far end
    check((0L until 15L).map(i => (15L - i, 14L - i)), "reversed path")
  }

  test("disjoint cliques keep distinct components") {
    val cliques = Seq(Seq(1L, 2L, 3L, 4L), Seq(10L, 11L, 12L), Seq(20L, 21L))
    val edges = cliques.flatMap(c => for (a <- c; b <- c if a < b) yield (a, b))
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(cliques.forall(c => c.forall(m => got(m) == c.min)))
    assert(got.values.toSet == Set(1L, 10L, 20L))
  }

  test("a 2000-node chain converges inside 20 rounds (pointer jumping)") {
    // diameter 2000 >> maxIter: plain hashmin would need ~2000 rounds
    // and (round-9 fix) must THROW rather than return a partial closure;
    // with path halving distance information doubles per round, so this
    // converges in O(log 2000) ~ 11 rounds. The sf0.1 image-aHash pair
    // graph actually hit the old cap in the round-9 bench probe.
    val edges = (0L until 1999L).map(i => (i, i + 1))
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect()
    assert(got.length === 2000)
    assert(got.forall(_._2 == 0L), "every node must reach the min endpoint")
  }

  test("above one union-find partition: the loop merges cross-partition components") {
    // 40k-node chain (79,998 directed edges > 65,536): hash partitioning
    // spreads consecutive ids over the partitions, so the local
    // union-finds see it in pieces and the hashmin + pointer-jump loop has
    // to stitch them back together. Plus a sparse random graph of many
    // small components on 12k other nodes.
    val rnd = new Random(7)
    val chain = (0L until 39999L).map(i => (i, i + 1))
    val sparse = (1 to 3000).map(_ => (40000L + rnd.nextInt(12000), 40000L + rnd.nextInt(12000)))
    val edges = chain ++ sparse
    assert(2 * edges.length > 65536)
    check(edges, "chain + sparse random graph")
  }
}
