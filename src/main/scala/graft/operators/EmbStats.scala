package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact embedding class statistics (quantize-once integer algebra).
  *
  * Each float component is quantized ONCE to a 1e-6-scaled BIGINT (a
  * single identical IEEE round in any engine); every sum after that is
  * a DECIMAL(38,0) order-free exact aggregate, and divisions use the
  * signed round-half-away integer form — so centroids and dispersions
  * are bit-identical across engines, partitionings, and scales. Plan
  * shape: one narrow N×D explode into map-side-combinable aggregates,
  * no joins, no windows (plan-gated via the query twins
  * `emb_centroid_by_label` / `emb_dispersion_by_label`).
  *
  * Scale: shuffles carry only (label, dim)-keyed partial sums; output
  * is K×D (centroid) / K (dispersion) rows. `Soak emb_stats` proves the
  * one-pass dispersion identity against an independent join-back
  * computation at 2M vectors, exact to the last integer. */
object EmbStats {

  /** The ADDITIVE sufficient statistics behind both outputs:
    * per-(label, dim) n, Σv, Σv² as exact decimals — the foldable/
    * unlearnable form (see [[graft.streaming.VectorStreams]]
    * embStats store). */
  def sufficientStats(df: DataFrame, labelCol: String = "label",
      embCol: String = "embedding"): DataFrame =
    quantized(df, labelCol, embCol)
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(v_e6 AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(v_e6 AS DECIMAL(38,0)) * v_e6")).as("s2"))

  /** [[centroidByLabel]] from a (label, dim, n_vecs, s1, s2) stats
    * frame — shared by the direct path and the store serve. */
  def centroidFromStats(stats: DataFrame): DataFrame =
    stats.select(col("label"), col("dim"), col("n_vecs"),
      expr("""CAST((2 * s1 + CASE WHEN s1 >= 0 THEN CAST(n_vecs AS DECIMAL(38,0))
              ELSE -CAST(n_vecs AS DECIMAL(38,0)) END)
              div (2 * CAST(n_vecs AS DECIMAL(38,0))) AS BIGINT)""").as("centroid_e6"))

  /** [[dispersionByLabel]] from a stats frame. */
  def dispersionFromStats(stats: DataFrame): DataFrame =
    stats
      .groupBy("label")
      .agg(max("n_vecs").as("n_vecs"),
        sum("s2").as("__S2"), sum(expr("s1 * s1")).as("__SS1"))
      .select(col("label"), col("n_vecs"),
        expr("""CAST((2 * (CAST(n_vecs AS DECIMAL(38,0)) * __S2 - __SS1)
                + CAST(n_vecs AS DECIMAL(38,0)) * n_vecs * 1000000)
                div (2 * CAST(n_vecs AS DECIMAL(38,0)) * n_vecs * 1000000) AS BIGINT)""")
          .as("msd_e6"))

  /** (label, dim, v_e6): the quantized exploded view. The label column
    * must be numeric: casting a non-numeric label (e.g. a language
    * string) to long yields NULL and collapses every class into one
    * group — garbage stats with no error. Map string labels to ids
    * before calling. Numeric non-integral labels keep working (their
    * cast truncates, never NULLs — whole-number double ids are exact). */
  private def quantized(df: DataFrame, labelCol: String, embCol: String): DataFrame = {
    val lt = df.schema(df.schema.fieldIndex(labelCol)).dataType
    require(lt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"EmbStats label column '$labelCol' must be numeric, got $lt " +
        "(a non-numeric cast would NULL-collapse classes silently)")
    df.select(col(labelCol).cast("long").as("label"),
        posexplode(col(embCol)).as(Seq("dim", "v")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("v_e6"))
  }

  /** Per-(label, dim) exact mean as a 1e-6-scaled BIGINT, plus the
    * class count — signed round-half-away division of the exact sum. */
  def centroidByLabel(df: DataFrame, labelCol: String = "label",
      embCol: String = "embedding"): DataFrame =
    centroidFromStats(sufficientStats(df, labelCol, embCol))

  /** Per-label mean squared distance to the centroid in ONE pass via
    * E‖x−μ‖² = E‖x‖² − ‖μ‖²: per-dim sums s1 = Σv, s2 = Σv², then
    * msd = (n·Σ_d s2_d − Σ_d s1_d²)/n² — non-negative by
    * Cauchy–Schwarz, so the 1e-6 scaling division needs no sign
    * handling. No centroid join-back, no second scan. */
  def dispersionByLabel(df: DataFrame, labelCol: String = "label",
      embCol: String = "embedding"): DataFrame =
    dispersionFromStats(sufficientStats(df, labelCol, embCol))
}
