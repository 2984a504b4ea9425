package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Graph kernels: 2-hop frontier expansion and fixed-point PageRank. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  // Path graph 1-2-3-4 plus triangle 4-5-6 (undirected pairs a < b).
  private def pairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
    .toDF("a", "b")

  test("twoHopFromSeeds counts exactly-2-hop, non-neighbor vertices") {
    val edges = Graph.symmetrize(pairs)
    val seeds = Seq(1L, 4L).toDF("vertex")
    val got = Graph.twoHopFromSeeds(edges, seeds)
      .as[(Long, Long)].collect().toMap
    // from 1: 2-hop = {3}; from 4: via 3 -> {2}, via 5/6 -> each other
    // (already direct neighbors of 4) => {2}
    assert(got === Map(1L -> 1L, 4L -> 1L))
  }

  test("pageRank is deterministic across partitionings and sums mass") {
    val edges = Graph.symmetrize(pairs)
    val pr1 = Graph.pageRank(edges, 5).as[(Long, Long)].collect().toMap
    val pr2 = Graph.pageRank(edges.repartition(7), 5)
      .as[(Long, Long)].collect().toMap
    assert(pr1 === pr2)
    assert(pr1.size === 6)
    // hub 4 (degree 3) outranks every degree-2 vertex
    assert(Seq(1L, 2L, 3L, 5L, 6L).forall(v => pr1(4L) > pr1(v)))
    // leaf 1 (degree 1) holds the least rank
    assert(Seq(2L, 3L, 4L, 5L, 6L).forall(v => pr1(1L) < pr1(v)))
    // total fixed-point mass stays within integer-truncation slack of 1.0
    val total = pr1.values.sum
    assert(total <= 1000000000L && total > 990000000L)
  }

  test("triangleStats: one triangle, seven wedges on the fixture graph") {
    val edges = Graph.symmetrize(pairs)
    val r = Graph.triangleStats(edges).collect()(0)
    // degrees: 1->1, 2->2, 3->2, 4->3, 5->2, 6->2; wedges = 0+1+1+3+1+1
    assert(r.getLong(0) === 7L)   // n_wedges
    assert(r.getLong(1) === 1L)   // n_triangles (4-5-6)
    assert(math.abs(r.getDouble(2) - 3.0 / 7.0) < 1e-5)
  }

  test("reachableWithin: visited set stops saturated regions, seed counted") {
    val edges = Graph.symmetrize(pairs)
    val seeds = Seq(1L, 5L).toDF("vertex")
    def reach(k: Int) = Graph.reachableWithin(edges, seeds, k)
      .as[(Long, Long)].collect().toMap
    // from 1 on the path 1-2-3-4(-5,6): k=1 -> {1,2}; k=2 -> +3; k=3 -> +4
    assert(reach(1) === Map(1L -> 2L, 5L -> 3L))
    assert(reach(2) === Map(1L -> 3L, 5L -> 4L))
    assert(reach(3) === Map(1L -> 4L, 5L -> 5L))
    // k beyond the diameter saturates at the component size
    assert(reach(6) === Map(1L -> 6L, 5L -> 6L))
  }

  test("triangleStats counts K4 as four triangles") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val r = Graph.triangleStats(Graph.symmetrize(k4.toDF("a", "b")))
      .collect()(0)
    assert(r.getLong(1) === 4L)
  }

  test("pageRank hand-checked one iteration on a 2-cycle") {
    // 1 <-> 2: pr0 = 5e8 each; contrib = 5e8; pr1 = 15e8/100/2... base
    // = ((15 * 1e9) div 100) div 2 = 75_000_000; damp = 85*5e8 div 100
    // = 425_000_000 => 500_000_000 exactly (stationary).
    val edges = Graph.symmetrize(Seq((1L, 2L)).toDF("a", "b"))
    val pr = Graph.pageRank(edges, 1).as[(Long, Long)].collect().toMap
    assert(pr === Map(1L -> 500000000L, 2L -> 500000000L))
  }

  test("transitiveClosure: doubling covers paths of length <= 2^rounds") {
    // chain 1 -> 2 -> 3 -> 4 -> 5 (path lengths up to 4)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    def pairsAt(rounds: Int) = Graph.transitiveClosure(chain, rounds)
      .as[(Long, Long)].collect().toSet
    // rounds=1 -> length <= 2; the length-3 and -4 pairs are absent
    assert(pairsAt(1) === Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 3L), (2L, 4L), (3L, 5L)))
    // rounds=2 -> length <= 4: the full closure, no duplicates
    val full = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    assert(pairsAt(2) === full.toSet)
    // extra rounds are idempotent once the closure is reached
    assert(pairsAt(3) === full.toSet)
  }

  test("transitiveClosure on a DAG with reconverging paths stays a set") {
    // diamond 1 -> {2,3} -> 4 -> 5: two length-2 paths to 4 must yield
    // ONE (1,4) row, and (1,5) arrives via either arm
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val rows = Graph.transitiveClosure(dag, 3).as[(Long, Long)].collect()
    assert(rows.length === rows.toSet.size)
    assert(rows.toSet === Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 4L), (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L)))
  }

  test("pageRank/twoHop: broadcast path == shuffle fallback (r6 gate)") {
    // the r6 rank-vector and broadcast-hop1 paths must be bit-identical
    // to the shuffle formulations they shortcut; force the fallback with
    // a zero size gate and compare on the fixture graph
    val edges = Graph.symmetrize(pairs)
    val seeds = Seq(1L, 4L).toDF("vertex")
    val prLocal = Graph.pageRank(edges, 5).as[(Long, Long)].collect().toMap
    val hopLocal = Graph.twoHopFromSeeds(edges, seeds)
      .as[(Long, Long)].collect().toMap
    val prDist = Graph.pageRank(edges, 5, broadcastMaxRows = 0)
      .as[(Long, Long)].collect().toMap
    val hopDist = Graph.twoHopFromSeeds(edges, seeds, broadcastMaxRows = 0)
      .as[(Long, Long)].collect().toMap
    assert(prDist === prLocal)
    assert(hopDist === hopLocal)
  }
}
