package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared soak-tool helpers: ONE spelling of the deterministic vector
  * corpus (and the timing/ranking utilities every vector soak wraps
  * around it), so a distribution change can never leave two soaks
  * silently measuring different corpora. Pseudo-floats are in [-1, 1]
  * at 1e-3 granularity — the e6 quantization the engine applies is
  * exact on them, so closed forms replay exactly. */
object SoakCorpus {

  /** FRONT-LOADED corpus: component d is damped by 1/(1 + d/8), so
    * energy concentrates in the leading dimensions — the Matryoshka /
    * coarse-quantizer-friendly shape (MRL prefix passes and IVF
    * centroids explain real variance on it). (vec_id, embedding). */
  def frontLoaded(spark: SparkSession, nVecs: Long): DataFrame =
    spark.range(0, nVecs)
      .select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), d ->
          CAST(((pmod(id * 2654435761L + d * 7919L, 2001L) - 1000L) / 1000.0D)
               / (1.0D + d / 8.0D) AS FLOAT))""")
          .as("embedding"))
      .repartition(partitions(nVecs))
      .localCheckpoint(true)

  /** FLAT corpus: undamped components (near-isotropic — the
    * adversarial case for prefix/residual methods), with the label
    * column `emb_stats`'s closed forms group by. (vec_id, label,
    * embedding). */
  def flat(spark: SparkSession, nVecs: Long): DataFrame =
    spark.range(0, nVecs)
      .select(col("id").as("vec_id"), (col("id") % 8).as("label"),
        expr("""transform(sequence(0, 63), d ->
          CAST((pmod(id * 2654435761L + d * 7919L, 2001L) - 1000L) / 1000.0D AS FLOAT))""")
          .as("embedding"))
      .repartition(partitions(nVecs))
      .localCheckpoint(true)

  /** 64 partitions from 256k vectors up (the recorded soak sizes),
    * fewer below, one per 4096 vectors: a toy corpus is not spread
    * over 64 near-empty tasks per stage. */
  private def partitions(nVecs: Long): Int = math.min(64L, math.max(1L, nVecs / 4096)).toInt

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (query_id, cand_id, score: long, rnk) rankings as a set — the
    * ADC-family serve output shape. */
  def rank4Long(df: DataFrame): Set[(Long, Long, Long, Int)] = df
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

  /** (query_id, cand_id, score: double, rnk) rankings as a set — the
    * cosine-family serve output shape. */
  def rank4Double(df: DataFrame): Set[(Long, Long, Double, Int)] = df
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  /** Exact top-`k` (query_id, cand_id) of a full scan of `cands`
    * against `probes`, both (vec_id, embedding), largest `score`
    * first: a SQL expression over the DOUBLE arrays `q` and `c`. A
    * probe never ranks itself. The recall denominator of the vector
    * soaks. */
  def exactTopK(probes: DataFrame, cands: DataFrame, score: String, k: Int): Set[(Long, Long)] = {
    val topk = udaf(graft.functions.TopKAgg.longs(k))
    val dbl = expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    cands.select(col("vec_id").as("cand_id"), dbl.as("c"))
      .crossJoin(broadcast(probes.select(col("vec_id").as("query_id"), dbl.as("q"))))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy("query_id")
      .agg(topk(expr(score).cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), explode(expr("transform(tk, e -> e._2)")).as("cand_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Per query, the `k` rows of (query_id, cand_id, `score`) with the
    * smallest integer `score`, as (query_id, cand_id, score, rnk): the
    * bounded-heap ranking of the ADC comparator plans. */
  def smallestK(scored: DataFrame, score: String, k: Int): DataFrame = {
    val topk = udaf(graft.functions.TopKAgg.longs(k))
    scored.groupBy("query_id")
      .agg(topk((-col(score)).cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        (-col("e._1")).cast("long").as(score), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Replica slices [from, until) of `base`: slice s shifts `idCol` by
    * s·10⁶ (fixture ids are below 10⁶), the other columns as they are.
    * A standing corpus is slices [0, n), its next crawl slice n. */
  def replicas(base: DataFrame, idCol: String, from: Long, until: Long): DataFrame =
    base.sparkSession.range(from, until).crossJoin(base)
      .select((col(idCol) + col("id") * 1000000L).as(idCol) +:
        base.columns.filterNot(_ == idCol).map(col).toSeq: _*)

  /** Recursive on-disk size of a store directory. */
  def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(p))
  }
}
