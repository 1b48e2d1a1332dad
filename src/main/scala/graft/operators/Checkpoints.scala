package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation policy for the iterative operators (connected
  * components, LPA, BFS/SSSP, k-core, PageRank, incremental-CC): each
  * round MUST cut lineage or the plan grows unboundedly, but HOW it
  * cuts is a deployment decision:
  *
  *   - `localCheckpoint` (default): blocks live on executor local
  *     storage — cheapest, and correct on a stable cluster, but an
  *     executor lost MID-ITERATION loses its blocks and the job dies
  *     (local checkpoints are exempt from lineage recompute).
  *   - reliable `checkpoint` (set `spark.graft.reliableCheckpoint` =
  *     true and a `sparkContext.setCheckpointDir` on durable storage):
  *     each round's frame is written to the checkpoint dir, so a
  *     1000-executor run with routine churn resumes the round from
  *     HDFS/S3 instead of restarting hours of iteration.
  *
  * One conf, read per call: long-running sessions can flip it between
  * jobs without rebuilding operators.
  */
object Checkpoints {
  val ConfKey = "spark.graft.reliableCheckpoint"

  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(ConfKey, "false").toBoolean) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Lineage cut for a frame whose caller runs a convergence probe
    * (count / checksum) on it IMMEDIATELY: a LAZY local checkpoint
    * lets that probe's scan materialize the blocks, merging the
    * per-round "materialize checkpoint" job and the probe job into
    * ONE — the iterative loops' 2-jobs-per-round → 1. Local mode
    * only: a lazy RELIABLE checkpoint would recompute the plan a
    * second time when the checkpoint file is written (the classic
    * rdd.checkpoint-without-persist double-compute), so reliable mode
    * stays eager and keeps the probe separate. Callers MUST run an
    * action on the result before building the next round on it. */
  def truncateForProbe(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(ConfKey, "false").toBoolean) df.checkpoint(true)
    else df.localCheckpoint(false)

  /** Cadence lineage cut for FIXED-round loops (no per-round
    * convergence probe — LPA, BFS/SSSP, temporal reach, landmark BFS,
    * PageRank): cut every `every` rounds and never after the final
    * round. Rounds in between chain LAZILY, so one job executes the
    * whole segment and the edge-side exchange — the same canonical
    * subtree in every chained round — is shuffled ONCE per segment via
    * ReuseExchange instead of once per round (guide §2.4: operations
    * keyed the same way share one exchange). The old per-round eager
    * checkpoint paid one job barrier AND one fresh edge shuffle per
    * round, because a checkpointed RDD loses its output partitioning.
    * `every` bounds plan growth: loops whose label frame is referenced
    * twice per round (the min-relaxation union shape) double the uncut
    * subtree per round and pass a small cadence; single-reference
    * loops (LPA vote, PageRank contribution) can chain longer. */
  def truncateEvery(df: DataFrame, round: Int, total: Int, every: Int): DataFrame =
    if (round < total && round % every == 0) truncate(df) else df

  /** Runs `use` on `df` materialized once: a LAZY local checkpoint, so
    * the first action `use` runs fills it and every later reader reads
    * its blocks instead of recomputing (or re-fetching) the lineage.
    * The blocks are released when `use` returns, not left to the
    * ContextCleaner. Local mode only: checkpoint blocks cannot be
    * recomputed, so an executor lost inside `use` fails it. */
  def pinned[A](df: DataFrame)(use: DataFrame => A): A = {
    val p = pin(df)
    try use(p) finally unpin(p)
  }

  /** [[pinned]]'s two halves, for pins that outlive one call: `pin`
    * returns the lazy checkpoint, `unpin` releases its blocks. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  def unpin(p: DataFrame): Unit = p.queryExecution.analyzed.foreach {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** `.truncated` — drop-in for the eager `.localCheckpoint(true)`
    * idiom at every iterative round boundary. */
  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncated: DataFrame = Checkpoints.truncate(df)
  }
}
