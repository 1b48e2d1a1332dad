package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Components

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("empty edge set yields empty labelling, not an NPE") {
    // regression: sum() over zero rows is SQL NULL; the convergence
    // checksum must treat it as 0 so a scale with no near-dup pairs
    // returns an empty frame instead of crashing the pipeline
    assert(cc(Seq.empty) === Map.empty)
    // self-loops only → also empty after the self-loop filter
    assert(cc(Seq((7L, 7L))) === Map.empty)
  }

  test("reliable-checkpoint mode: CC converges identically and writes to the checkpoint dir") {
    // spark.graft.reliableCheckpoint=true routes every round's lineage
    // cut through checkpoint() (durable storage) instead of
    // localCheckpoint (executor blocks) — the cluster-deployment mode
    // that survives executor churn mid-iteration
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(graft.operators.Checkpoints.ConfKey, "true")
    try {
      val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L)))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
      // evidence the reliable path actually ran: round frames landed
      // in the checkpoint dir
      def countFiles(d: java.io.File): Int =
        Option(d.listFiles).toSeq.flatten
          .map(f => if (f.isDirectory) countFiles(f) else 1).sum
      assert(countFiles(new java.io.File(ckDir)) > 0,
        s"no checkpoint files written under $ckDir")
    } finally spark.conf.set(graft.operators.Checkpoints.ConfKey, "false")
  }

  test("chain, triangle and isolated pair resolve to min-id components") {
    // chain 1-2-3-4, triangle 10-11-12 (with chord), pair 20-21
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("transitive chain where greedy pair-break over-keeps") {
    // pairs (2,3),(1,3): greedy drops only the higher id of each pair
    // (keeps {1,2}); the cluster is {1,2,3} with representative 1
    val got = cc(Seq((2L, 3L), (1L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("duplicate / reversed / self-loop edges do not change the result") {
    val got = cc(Seq((5L, 6L), (6L, 5L), (5L, 6L), (7L, 7L), (6L, 7L)))
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("long path converges within the iteration cap") {
    val edges = (1L until 40L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.size == 40 && got.values.forall(_ == 1L))
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] = {
    import spark.implicits._
    Components.labelPropagation(edges.toDF("a", "b"), "a", "b", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("LPA keeps bridged cliques as separate communities (components would merge them)") {
    // two triangles joined by one bridge edge 3-10
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val got = lpa(edges)
    // hand-replayed synchronous rounds with (count desc, min-label) votes
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    // distinct communities survive where connectedComponents collapses to one
    assert(got.values.toSet.size == 2)
    val comp = cc(edges)
    assert(comp.values.toSet.size == 1)
  }

  test("LPA: an edge given in both orientations labels as that edge given once") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    // the bridge also arrives reversed: still one undirected edge, so
    // neither endpoint gets a second vote from the other side
    assert(lpa(edges :+ ((10L, 3L))) == lpa(edges))
    assert(lpa(edges ++ edges.map(_.swap)) == lpa(edges))
  }

  test("jaccardNeighbors matches hand-computed similarities and respects the hub cap") {
    import spark.implicits._
    // square with one diagonal: N(1)={2,3}, N(2)={1,3,4}, N(3)={1,2,4}, N(4)={2,3}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val got = Components.jaccardNeighbors(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // non-adjacent pair (1,4): identical neighborhoods {2,3} => jaccard 1
    assert(got((1L, 4L)) == (2L, 2L, 1000000L))
    // (2,3): common {1,4}, union {1,2,3,4} => 1/2
    assert(got((2L, 3L)) == (2L, 4L, 500000L))
    // (1,2): common {3}, union {1,2,3,4}\... inter=1, uni=2+3-1=4 => 1/4
    assert(got((1L, 2L)) == (1L, 4L, 250000L))
    // capping out every center leaves no wedges at all
    assert(Components.jaccardNeighbors(edges, "a", "b", maxDegree = 1L).count() == 0)
  }

  private def bfs(edges: Seq[(Long, Long)], srcs: Seq[Long], hops: Int): Map[Long, Long] = {
    import spark.implicits._
    Components.bfsHops(edges.toDF("a", "b"), "a", "b",
        srcs.toDF("id"), "id", hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfsHops labels minimum hop distance and excludes unreachable nodes") {
    // path 1-2-3-4-5, side branch 2-10, separate pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L), (20L, 21L))
    val got = bfs(edges, Seq(1L), hops = 3)
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 10L -> 2L, 4L -> 3L))
    // 5 is 4 hops away, 20/21 disconnected: both absent, not labelled MAX
  }

  test("bfsHops multi-source takes the min over sources; edges are undirected") {
    // sources at both ends of the path: middle node gets the nearer one
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = bfs(edges, Seq(1L, 5L), hops = 2)
    assert(got == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
    // direction of the stored edge must not matter
    assert(bfs(edges.map(_.swap), Seq(1L, 5L), 2) === got)
  }

  test("bfsHops tolerates duplicate/self-loop edges and isolated sources") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L))
    // source 9 has no edges at all: it still appears at hop 0
    val got = bfs(edges, Seq(1L, 9L), hops = 2)
    assert(got == Map(1L -> 0L, 9L -> 0L, 2L -> 1L))
  }

  test("landmarkHops carries every landmark's frontier with per-landmark exact distances") {
    // path 1-2-3-4-5 plus branch 3-10; landmarks 1 and 5 must each
    // label their own distances — (lm, id) keyed, no cross-landmark min
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 10L))
    val got = Components.landmarkHops(edges.toDF("a", "b"), "a", "b",
        Seq(1L, 5L).toDF("id"), "id", maxHops = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === Map(
      (1L, 1L) -> 0L, (1L, 2L) -> 1L, (1L, 3L) -> 2L, (1L, 4L) -> 3L, (1L, 10L) -> 3L,
      (5L, 5L) -> 0L, (5L, 4L) -> 1L, (5L, 3L) -> 2L, (5L, 2L) -> 3L, (5L, 10L) -> 3L))
    // harmonic composition: node 3 is reached by both landmarks at 2
    // → harm_e6 = 2 * (1000000 div 2)
    val harm = got.collect { case ((_, id), h) if h > 0 && id == 3L => 1000000L / h }.sum
    assert(harm === 1000000L)
  }

  private def sssp(edges: Seq[(Long, Long, Long)], srcs: Seq[Long], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    Components.ssspRounds(edges.toDF("a", "b", "w"), "a", "b", "w",
        srcs.toDF("id"), "id", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("ssspRounds finds the cheaper multi-hop path only when rounds allow it") {
    // direct 1-3 costs 10; detour 1-2-3 costs 2+3=5
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L))
    assert(sssp(edges, Seq(1L), rounds = 1) ==
      Map(1L -> 0L, 2L -> 2L, 3L -> 10L))
    assert(sssp(edges, Seq(1L), rounds = 2) ==
      Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
  }

  test("ssspRounds keeps the cheapest parallel edge and relaxes both directions") {
    val edges = Seq((1L, 2L, 7L), (2L, 1L, 4L), (1L, 2L, 9L))
    assert(sssp(edges, Seq(2L), rounds = 1) == Map(2L -> 0L, 1L -> 4L))
  }

  test("ssspRounds multi-source takes the global minimum") {
    // path 1 -2- 2 -2- 3 -2- 4, sources 1 and 4
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 4L, 2L))
    assert(sssp(edges, Seq(1L, 4L), rounds = 3) ==
      Map(1L -> 0L, 4L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  private def treach(edges: Seq[(Long, Long, Long)], srcs: Seq[Long], rounds: Int,
      start: Long = 0L): Map[Long, Long] = {
    import spark.implicits._
    Components.temporalReach(edges.toDF("a", "b", "t"), "a", "b", "t",
        srcs.toDF("id"), "id", rounds, start)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("temporalReach blocks paths that go backwards in time") {
    // 1-2 at t=5, 2-3 at t=3: statically 3 is reachable, temporally not
    assert(treach(Seq((1L, 2L, 5L), (2L, 3L, 3L)), Seq(1L), rounds = 3) ==
      Map(1L -> 0L, 2L -> 5L))
    // with the second edge at t=7 the path is time-respecting
    assert(treach(Seq((1L, 2L, 5L), (2L, 3L, 7L)), Seq(1L), rounds = 3) ==
      Map(1L -> 0L, 2L -> 5L, 3L -> 7L))
  }

  test("temporalReach takes the earliest arrival over alternative paths") {
    // direct 1-2 at t=5 vs detour 1-3 (t=1) then 3-2 (t=2)
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 2L))
    assert(treach(edges, Seq(1L), rounds = 2) ==
      Map(1L -> 0L, 3L -> 1L, 2L -> 2L))
    // with one round only the direct edge is usable
    assert(treach(edges, Seq(1L), rounds = 1) ==
      Map(1L -> 0L, 3L -> 1L, 2L -> 5L))
  }

  test("temporalReach respects the source start time") {
    // the only edge departs at t=5, before the sources become active
    assert(treach(Seq((1L, 2L, 5L)), Seq(1L), rounds = 2, start = 6L) ==
      Map(1L -> 6L))
    assert(treach(Seq((1L, 2L, 5L)), Seq(1L), rounds = 2, start = 5L) ==
      Map(1L -> 5L, 2L -> 5L))
  }

  test("relaxation rounds survive an extreme hub (100k-edge star) correctly") {
    // a single vertex with 100k neighbors: the src-keyed join puts the
    // hub's whole adjacency behind one shuffle key, the map-side-
    // combinable min keeps the reduction bounded, and AQE may split
    // the skewed partition — the result must still be exact
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val star = spark.range(1, 100001).select(lit(0L).as("a"), col("id").as("b"))
    val hops = Components.bfsHops(star, "a", "b", Seq(0L).toDF("id"), "id", 2)
    assert(hops.count() === 100001L)
    assert(hops.filter(col("hops") === 1L).count() === 100000L)
    assert(hops.filter(col("id") === 0L).head().getLong(1) === 0L)
  }

  test("kCore peels cascades a single degree filter would miss") {
    import spark.implicits._
    // triangle {1,2,3} with a pendant path 3-4-5: vertex 4 starts at
    // degree 2, but removing 5 (degree 1) drops it below k=2 — the
    // cascade. A single HAVING pass would keep 4.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val core = Components.kCore(edges, "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore returns empty when k exceeds every degree, and is a true fixpoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assert(Components.kCore(edges, "a", "b", k = 10).count() === 0L)
    // fixpoint property on real data: every reported core degree ≥ k
    val li = graft.sources.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val pairs = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .as("x").join(li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("p2")),
        col("ok") === col("ok2") && col("p") < col("p2"))
      .select(col("p").as("a"), col("p2").as("b")).distinct()
    val core = Components.kCore(pairs, "a", "b", k = 8)
    assert(core.filter(col("core_deg") < 8).count() === 0L)
  }

  test("LPA is partitioning-independent (deterministic tie-breaks)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L), (20L, 21L))
    val df = edges.toDF("a", "b")
    val a = Components.labelPropagation(df.repartition(7), "a", "b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Components.labelPropagation(df.coalesce(1), "a", "b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }
}
