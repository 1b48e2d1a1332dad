package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.TruncateOps

/** Distributed connected components over an undirected edge list, via
  * iterative min-label propagation: every vertex starts labelled with
  * its own id and repeatedly takes the minimum label in its closed
  * neighborhood until a fixpoint. The natural use here is turning
  * verified near-duplicate PAIRS into duplicate CLUSTERS — the greedy
  * pair-break in `dedup_apply` drops the higher id of each pair, which
  * over-keeps on transitive chains (pairs (2,3),(1,3) keep {1,2} while
  * the true cluster {1,2,3} should keep only {1}).
  *
  * Scale shape: each iteration is one shuffle (a groupBy-min over the
  * adjacency join) plus a label-of-label pointer-jumping join that
  * doubles propagation reach per round, so convergence takes
  * O(log diameter) rounds — near-dup clusters are shallow, so 2–4
  * rounds is typical. Each round's labels are truncated via
  * [[Checkpoints.truncateForProbe]] — a LAZY localCheckpoint whose
  * blocks are materialized by the convergence probe's own full scan,
  * merging the old materialize-checkpoint job and the probe job into
  * ONE per round (reliable `checkpoint` under
  * `spark.graft.reliableCheckpoint` stays eager for cluster
  * deployments that must survive executor churn mid-iteration; a lazy
  * reliable checkpoint would recompute the plan at file-write time).
  * The truncation is load-bearing: the labels frame is referenced
  * three times per round (adjacency join, closed-neighborhood union,
  * pointer-jump lookup), so carrying the logical plan forward would
  * grow the analysis tree exponentially with the round count — and
  * the probe action MUST run before the next round builds on the
  * frame (the truncateForProbe contract). Convergence is detected by
  * the monotone label sum (strictly decreases until the fixpoint),
  * one scalar agg per round — no driver-side collect of vertex data. For graphs with huge diameter
  * (not duplicate clusters), the alternating star variant (Kiveris et
  * al., "Connected Components in MapReduce and Beyond") drops the round
  * count to O(log^2 n); the pair-cluster workload never needs it.
  *
  * Reference context: `cnics_to_fhir.py` has no graph surface at all —
  * this is part of the LLM-training-pipeline extension (SURVEY §7.5).
  */
object Components {

  /** (id, component) for every vertex incident to an edge; `component`
    * is the minimum vertex id in the connected component. Deterministic.
    * Pass `edgesDistinct = true` when the caller already guarantees one
    * row per undirected pair (both LSH candidate pipelines do — their
    * pair frames end in `.distinct()`): it drops a redundant full
    * shuffle of the edge set. Duplicate edges would not break
    * correctness either way (min is idempotent) — the dedup exists to
    * keep the per-round join fan-out at |E|. */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30,
      edgesDistinct: Boolean = false): DataFrame = {
    // Undirected: keep each edge once in both orientations, self-loops
    // dropped. The edge input is checkpointed BEFORE the two-orientation
    // union: the union references it twice, and without the checkpoint
    // the whole upstream edge pipeline (for semantic dedup: the LSH
    // self-join + cosine rescore) would execute twice in one job.
    val base = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val adj = (if (edgesDistinct) base else base.distinct())
      .truncated
    // The two-orientation frame stays LAZY: it is a narrow union over
    // the checkpointed `adj` blocks, so each round's re-evaluation is a
    // cheap block read — a second materialization job would only add
    // scheduling latency (the frames here are cluster-metadata-sized).
    val both = adj
      .union(adj.select(col("dst").as("src"), col("src").as("dst")))

    // Seed labels with the closed-neighborhood minimum — one map-side-
    // combined agg over the edge frame instead of the identity
    // labelling. This is exactly what the first propagation round would
    // compute, obtained for one cheap shuffle with no join and no
    // pointer-jump, so shallow near-dup clusters (diameter 2–3)
    // typically converge in 1–2 checkpointed rounds instead of 3–4.
    // Every vertex appears as `src` in `both` (two orientations), so the
    // vertex set is unchanged; seeding with any per-vertex upper bound
    // ≥ the true component min preserves the monotone convergence
    // argument.
    var labels = both
      .groupBy(col("src").as("id"))
      .agg(min("dst").as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("comp"))
      .truncated
    // sum() over zero rows is SQL NULL — an empty edge set (no pairs at
    // this scale) must yield an empty labelling, not an NPE.
    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum("comp")).head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    var checksum = labelSum(labels)

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min label over the closed neighborhood of each vertex
      val hop = both
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
        .union(labels)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jumping: also take the label OF the label, so reach
      // doubles per round (O(log diameter) rounds on a path instead of
      // O(diameter) — the hash-to-min style shortcut)
      // lazy cut + probe: labelSum's scan materializes the checkpoint
      // blocks, so each round is ONE job instead of checkpoint+probe
      val next = Checkpoints.truncateForProbe(hop
        .join(labels.select(col("id").as("comp"), col("comp").as("jump")),
          Seq("comp"), "left")
        .select(col("id"), least(col("comp"), col("jump")).as("comp")))
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == checksum
      checksum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Fold a batch of NEW edges into a stored component labelling
    * without re-running CC over the old edge set — the standing
    * duplicate-cluster INDEX maintenance shape: verified near-dup
    * pairs stream in per ingest batch, and the cluster table is a
    * maintained store, not a per-batch rebuild.
    *
    * Exactness by CONTRACTION: every stored component is collapsed to
    * its label (labels are component-minimum vertex ids, so the label
    * IS a member vertex), new-edge endpoints map to their stored label
    * (identity for first-seen vertices), and connected components runs
    * on that contracted graph only — |batch| edges, not |history|.
    * The contracted component minimum equals the true merged-component
    * minimum (min over old labels = min over their members; fresh ids
    * participate directly), so composing `newLabel(oldLabel(v))` over
    * the store reproduces the full rebuild bit-for-bit — the
    * Scd2.mergeBatch equality discipline, proven by the randomized
    * fold property in ExtensionSpec and by `dedup_components_incremental`
    * sharing the full-rebuild recursive-CTE oracle.
    *
    * Scale shape: one keyed join of the batch's endpoint set against
    * the store (on a lakehouse the store is bucketed by id — no
    * shuffle), the contracted CC over batch-sized frames, then one
    * label-keyed join applying the batch-sized remap to the store
    * (AQE broadcasts it — the checkpointed remap's size is known) and
    * a broadcast semi join admitting first-seen vertices. Untouched
    * components pass through the left join unchanged. */
  def mergeIncremental(stored: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val lbl = stored.select(col("id").cast("long").as("id"),
      col("component").cast("long").as("component"))
    val e = newEdges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .truncated // referenced by the endpoint set and both mapping joins
    // batch endpoint → stored label (identity when first seen); small:
    // bounded by 2·|batch|
    val vm = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
      .join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("lab"),
        col("component").isNotNull.as("known"))
      .truncated
    val mapped = e
      .join(vm.select(col("id").as("src"), col("lab").as("ls")), Seq("src"))
      .join(vm.select(col("id").as("dst"), col("lab").as("ld")), Seq("dst"))
      .select(col("ls").as("src"), col("ld").as("dst"))
    val contracted = connectedComponents(mapped, "src", "dst")
      .truncated // referenced by remap and the fresh-vertex semi join
    val remap = contracted.select(col("id").as("component"), col("component").as("__nc"))
    val updated = lbl.join(remap, Seq("component"), "left")
      .select(col("id"), coalesce(col("__nc"), col("component")).as("component"))
    val fresh = contracted
      .join(broadcast(vm.filter(!col("known")).select("id")), Seq("id"), "left_semi")
      .select(col("id"), col("component"))
    updated.unionByName(fresh)
  }

  /** Deterministic SYNCHRONOUS label propagation (community detection):
    * every vertex starts labelled with its own id; each round, every
    * vertex simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the smallest label. Unlike connected
    * components (which finds *reachability* classes), LPA finds
    * *densely connected* communities — a bridge edge between two
    * cliques does not merge them, because the bridge label is always
    * outvoted.
    *
    * Classic async LPA is order-dependent; this synchronous fixed-round
    * variant with a total tie-break order is fully deterministic, so
    * its rounds replay bit-exact as SQL CTEs (the oracle for
    * `lpa_communities`). A fixed round count also sidesteps the
    * known 2-coloring oscillation of synchronous LPA on bipartite
    * structures.
    *
    * Scale shape: each round is two map-side-combinable aggregations —
    * a (vertex, label) vote count over the adjacency join, then an
    * argmax via `max_by(lbl, (cnt, -lbl))` — NO per-vertex window, so a
    * 10⁸-degree hub never buffers its whole neighborhood in one task
    * (the WindowExec hazard the PageRank totals rework removed). Labels
    * are checkpointed per round: three references per round would
    * otherwise grow the plan exponentially in the round count.
    *
    * Edges are undirected: (a, b) and (b, a) are one edge, whatever the
    * input holds. `edgesDistinct = true` promises one row per UNORDERED
    * pair; its one caller, `lpa_communities`, passes distinct a < b
    * pairs. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 3,
      edgesDistinct: Boolean = false): DataFrame = {
    // canonical pairs BEFORE the distinct: a duplicate adjacency would
    // break the round-1 min(dst) fold below
    val (s, d) = (col(srcCol).cast("long"), col(dstCol).cast("long"))
    val pre = edges.select(least(s, d).as("src"), greatest(s, d).as("dst"))
      .filter(col("src") =!= col("dst"))
    // edgesDistinct skips a redundant full shuffle of the edge set (r18,
    // the connectedComponents knob)
    val base = (if (edgesDistinct) pre else pre.distinct()).truncated
    val both = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
    if (iters < 1)
      return both.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("community"))
    // Round 1 from the identity labelling folds to ONE map-side-
    // combinable aggregate (r18): with lbl(v) = v every neighbor label
    // is distinct (the edge set is distinct), so every vote count is 1
    // and the (cnt desc, lbl asc) argmax is simply the MINIMUM neighbor
    // id — the identity-seed distinct, the round-1 adjacency join and
    // its two-stage vote all collapse into min(dst) per src.
    var labels = both.groupBy(col("src").as("id")).agg(min("dst").as("lbl"))
    // Later rounds chain lazily under a cadence cut (labels is
    // referenced ONCE per round, so the uncut plan grows linearly and
    // the `both`-side vote exchange reuses across chained rounds).
    for (r <- 2 to iters)
      labels = Checkpoints.truncateEvery(lpaRound(both, labels), r, iters, 4)
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** One synchronous LPA voting round (exposed pre-checkpoint so the
    * plan gate can assert the hub-safe shape on the live plan). */
  private[graft] def lpaRound(both: DataFrame, labels: DataFrame): DataFrame =
    both
      .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
      .groupBy(col("src").as("id"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("id")
      .agg(max_by(col("lbl"), struct(col("cnt"), (-col("lbl")).as("nl"))).as("lbl"))

  /** Multi-source BFS hop distance: every vertex reachable from the
    * source set within `maxHops` hops, labelled with its MINIMUM hop
    * count — the "blast radius" / proximity-labelling primitive
    * (impact analysis, neighborhood feature extraction). Monotone
    * min-propagation, one join + map-side-combinable min per round, so
    * the replay is exact as unrolled CTEs. A production unbounded BFS
    * would propagate only the newly-discovered FRONTIER per round
    * (anti-join against settled vertices); at small fixed depths the
    * full monotone re-min is the same shuffle count with one less join
    * per round, so it is kept deliberately. */
  def bfsHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: DataFrame,
      idCol: String,
      maxHops: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    val pre = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val base = (if (edgesDistinct) pre else pre.distinct()).truncated
    val both = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
    var labels = sources.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("hops", lit(0L))
      .truncated
    // Cadence-2 cut (r18): the label frame is referenced twice per
    // round (adjacency join + re-min union), so the uncut subtree
    // doubles per chained round — two rounds per cut keeps the plan
    // small while ReuseExchange shares the per-segment edge shuffle.
    for (r <- 1 to maxHops)
      labels = Checkpoints.truncateEvery(
        minRound(both, labels, "hops", lit(1L)), r, maxHops, 2)
    labels
  }

  /** Per-landmark BFS distances over the undirected graph: one row
    * (lm, id, hops) per landmark × vertex reachable in ≤ `maxHops` —
    * the input to landmark-based centrality (harmonic/closeness on a
    * landmark SAMPLE is the standard scalable stand-in for the exact
    * O(V·E) all-sources sweep). The label key is the COMPOSITE
    * (lm, id): one frame carries every landmark's frontier
    * simultaneously, so L landmarks cost the same round count as one
    * traversal — each round is still one adjacency join plus one
    * map-side-combinable min, now keyed on (lm, id). Label state is
    * O(L·V) rows, the deliberate trade for avoiding L sequential
    * traversals (and it shuffles on (lm, id), so a hub vertex's rows
    * spread over L keys instead of concentrating on one). */
  def landmarkHops(edges: DataFrame, srcCol: String, dstCol: String,
      landmarks: DataFrame, idCol: String, maxHops: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    val pre = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val base = (if (edgesDistinct) pre else pre.distinct()).truncated
    val both = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
    var labels = landmarks.select(col(idCol).cast("long").as("lm")).distinct()
      .select(col("lm"), col("lm").as("id"), lit(0L).as("hops"))
      .truncated
    for (r <- 1 to maxHops) // cadence-2: double-reference rounds, see bfsHops
      labels = Checkpoints.truncateEvery(landmarkRound(both, labels), r, maxHops, 2)
    labels
  }

  /** One (lm, id)-keyed relaxation round of [[landmarkHops]], exposed
    * pre-checkpoint for the plan gate like [[minRound]]. */
  private[graft] def landmarkRound(both: DataFrame, labels: DataFrame): DataFrame =
    both
      .join(labels.select(col("lm"), col("id").as("src"), col("hops")), "src")
      .select(col("lm"), col("dst").as("id"), (col("hops") + lit(1L)).as("hops"))
      .union(labels)
      .groupBy("lm", "id").agg(min("hops").as("hops"))

  /** One monotone min-relaxation round shared by [[bfsHops]] and
    * [[ssspRounds]] (exposed pre-checkpoint so the plan gate can assert
    * the hub-safe shape on a live plan): propagate value+step along
    * edges, keep the minimum per vertex — one keyed join plus one
    * map-side-combinable min, no windows. */
  private[graft] def minRound(
      both: DataFrame,
      labels: DataFrame,
      valCol: String,
      step: Column): DataFrame =
    both
      .join(labels.select(col("id").as("src"), col(valCol)), "src")
      .select(col("dst").as("id"), (col(valCol) + step).as(valCol))
      .union(labels)
      .groupBy("id").agg(min(valCol).as(valCol))

  /** Bounded-rounds weighted shortest paths (min-plus Bellman-Ford):
    * after `rounds` relaxations every vertex carries the MINIMUM total
    * weight over all paths of at most `rounds` edges from the source
    * set — the exact Bellman-Ford prefix, well-defined for any weights
    * (no non-negativity requirement because paths are hop-bounded, not
    * converged). Parallel edges collapse to their cheapest weight;
    * edges relax in both directions (undirected).
    *
    * Same hub-safe scale shape as [[bfsHops]]: one adjacency join plus
    * one map-side-combinable min per round, no windows, every round's
    * frame checkpointed so the plan stays linear in the round count.
    * All-integer arithmetic, so an unrolled-CTE replay is bit-exact. */
  def ssspRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      sources: DataFrame,
      idCol: String,
      rounds: Int,
      edgesPreAggregated: Boolean = false): DataFrame = {
    val pre = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src") =!= col("dst"))
    // edgesPreAggregated: caller guarantees one row per (src, dst) (a
    // grouped co-occurrence frame) — the parallel-edge min-collapse
    // would be a redundant full shuffle (r18).
    val base = (if (edgesPreAggregated) pre
      else pre.groupBy("src", "dst").agg(min("w").as("w"))).truncated
    val both = base.union(base.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    var dist = sources.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L))
      .truncated
    for (r <- 1 to rounds) // cadence-2: double-reference rounds, see bfsHops
      dist = Checkpoints.truncateEvery(minRound(both, dist, "dist", col("w")), r, rounds, 2)
    dist
  }

  /** Time-respecting EARLIEST-ARRIVAL reachability (temporal BFS):
    * edges carry timestamps, a valid path may only traverse edges with
    * non-decreasing times, and after `rounds` relaxations every vertex
    * carries the minimum achievable arrival time over such paths of at
    * most `rounds` edges from the source set (sources active from
    * `startTime`). The contact-tracing / influence-propagation
    * primitive — static reachability over-counts paths that go
    * "backwards in time".
    *
    * Monotone like [[bfsHops]]/[[ssspRounds]]: lowering an arrival only
    * admits MORE outgoing edges (t ≥ arr), so re-relaxation converges
    * and the unrolled-CTE replay is exact. Round shape: one keyed
    * adjacency join (with the t ≥ arr residual filter) plus one
    * map-side-combinable min — no windows, hub-safe. */
  def temporalReach(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      timeCol: String,
      sources: DataFrame,
      idCol: String,
      rounds: Int,
      startTime: Long = 0L): DataFrame = {
    val base = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
        col(timeCol).cast("long").as("t"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .truncated
    val both = base.union(base.select(col("dst").as("src"), col("src").as("dst"), col("t")))
    var arr = sources.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("arr", lit(startTime))
      .truncated
    for (r <- 1 to rounds) // cadence-2: double-reference rounds, see bfsHops
      arr = Checkpoints.truncateEvery(temporalRound(both, arr), r, rounds, 2)
    arr
  }

  /** One earliest-arrival relaxation round (exposed pre-checkpoint for
    * the plan gate): traverse edges departing no earlier than the
    * current arrival, arrive at the edge's time, keep the minimum. */
  private[graft] def temporalRound(both: DataFrame, arr: DataFrame): DataFrame =
    both
      .join(arr.select(col("id").as("src"), col("arr")), "src")
      .filter(col("t") >= col("arr"))
      .select(col("dst").as("id"), col("t").as("arr"))
      .union(arr)
      .groupBy("id").agg(min("arr").as("arr"))

  /** k-CORE decomposition by iterative peeling: repeatedly remove every
    * vertex whose degree in the SURVIVING subgraph is below `k` until
    * none remain — the standard dense-subgraph / influence-zone
    * primitive (the k-core is the maximal subgraph with minimum degree
    * ≥ k; removing one low-degree vertex can cascade, which is exactly
    * what a single HAVING-filter pass gets wrong). Returns
    * `(v, core_deg)` for every vertex of the k-core with its degree
    * inside the core.
    *
    * Scale shape: each round is one map-side-combinable degree count
    * plus two left-semi joins of the edge frame against the
    * vertex-sized survivor set — keyed equi-joins only, no windows, so
    * a hub vertex never buffers its neighborhood in one task. The
    * surviving-edge frame is checkpointed per round (it is referenced
    * by the degree agg and both semi joins; carrying the plan forward
    * would grow it geometrically in the round count). Convergence is
    * a scalar count per round — peeling is monotone (the edge set only
    * shrinks), so the fixpoint is reached in at most |V| rounds and in
    * practice a handful; an unrolled-CTE replay with R ≥ rounds-used is
    * therefore bit-exact (extra rounds are no-ops). */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 20,
      edgesDistinct: Boolean = false): DataFrame = {
    val pre = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val base = (if (edgesDistinct) pre else pre.distinct()).truncated
    var both = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
      .truncated
    var nEdges = both.count()
    var round = 0
    var converged = nEdges == 0L
    while (!converged && round < maxRounds) {
      // lazy cut + probe: ONE job per peel round (see truncateForProbe)
      val next = Checkpoints.truncateForProbe(kCoreRound(both, k))
      val n = next.count()
      converged = n == nEdges
      both = next
      nEdges = n
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(s"kCore did not stabilize in $maxRounds rounds")
    both.groupBy(col("src").as("v")).agg(count(lit(1)).as("core_deg"))
  }

  /** One peel round (exposed pre-checkpoint for the plan gate): keep
    * only edges whose BOTH endpoints currently have degree ≥ k. */
  private[graft] def kCoreRound(both: DataFrame, k: Int): DataFrame = {
    // `keep` stays LAZY (r18): its two semi-join references canonicalize
    // to the same aggregate subtree, so ReuseExchange materializes the
    // degree shuffle once per round; the old eager checkpoint paid one
    // extra job barrier and one extra full scan of `both` per peel
    // round without removing any work.
    val keep = both.groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= k).select("v")
    // (measured r18: ordering the joins so the round ends src-keyed
    // does NOT carry the partitioning through the probe checkpoint —
    // AQE's coalesced final stage reports no reusable partitioning —
    // so the per-round edge exchange is kept as the algorithm's
    // inherent cost rather than hidden behind a broadcast hint that a
    // 10⁹-vertex survivor set would overflow.)
    both
      .join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  /** Structural node similarity: common-neighbor JACCARD for every
    * node pair sharing ≥1 neighbor — the link-prediction primitive
    * (two nodes with near-identical neighborhoods are interchangeable
    * even when not adjacent). Returns (a, b, inter, uni, jac_e6) with
    * a < b; `jac_e6 = inter·10⁶ div uni` is an exact integer rational —
    * no float comparison anywhere.
    *
    * Scale shape: wedge enumeration through shared neighbors is the
    * quadratic step (Σ deg² candidate pairs), so wedge CENTERS above
    * the ABSOLUTE `maxDegree` cap are excluded via a left-semi join —
    * the Dedup.MaxBucket discipline: a 10⁸-degree hub would emit 10¹⁶
    * wedges and contributes near-zero similarity signal. Everything
    * else is equi-joins and map-side-combinable counts. */
  def jaccardNeighbors(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxDegree: Long = 1000L): DataFrame = {
    val base = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .truncated // referenced by ed (x2), deg, wedge join
    val ed = base.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(base.select(col("b").as("src"), col("a").as("dst")))
    val deg = ed.groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
    val ok = deg.filter(col("dg") <= maxDegree).select("v")
    val inter = ed.as("e1").join(ed.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .join(ok.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
      .groupBy(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(col("a"), col("b"), col("inter"),
        (col("da") + col("db") - col("inter")).as("uni"))
      .withColumn("jac_e6", expr("inter * 1000000L div uni"))
  }
}
