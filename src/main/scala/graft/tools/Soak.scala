package graft.tools

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.tools.SoakCorpus._

/** Scale soaks: one main over a table of scenarios. Each scenario
  * builds a deterministic corpus sized by one `n`, runs the operator
  * under test, checks the invariant its corpus makes closed-form, and
  * records one JSON evidence line (the lines in BASELINE.md).
  *
  * {{{
  *   sbt "runMain graft.tools.Soak <scenario> [n] [corpus]"
  * }}}
  *
  * `n` defaults to the size the recorded evidence was taken at.
  * `corpus` is the sf fixture directory for the scenarios that read
  * one (it must be given), and the corpus shape (`front` | `flat`) for
  * `sq8ivf_store`. The line is printed before any failed check is
  * raised, so a broken invariant still leaves its evidence. Walls are
  * printed, never checked. `SPARK_GRAFT_CPUS` sizes the local session
  * (default 32). */
object Soak {

  /** Default corpus of the scenarios that read an sf fixture
    * directory: there is none, the caller names it. */
  val SfDir = "<sf dir>"

  /** One soak: `n` is the default size, `toy` the smallest size the
    * test runs it at with every check still meaningful. */
  final case class Scenario(name: String, n: Long, toy: Long, corpus: String, body: Run => Unit)

  /** One scenario run: its session, size and corpus argument, and the
    * evidence fields and failed checks it records. */
  final class Run(val spark: SparkSession, val n: Long, val corpus: String) {
    private val fields = mutable.LinkedHashMap.empty[String, Any]
    private val broken = mutable.ArrayBuffer.empty[String]

    def put(kv: (String, Any)*): Unit = fields ++= kv
    /** `f`'s result; its wall in seconds goes to `key`. */
    def timed[T](key: String)(f: => T): T = {
      val (r, s) = SoakCorpus.timed(f)
      put(key -> math.round(s * 100) / 100.0)
      r
    }
    def check(ok: Boolean, what: => String): Unit = if (!ok) broken += what
    /** The `checks` field of the soaks whose line sums up every check. */
    def verdict(): Unit = put("checks" -> (if (broken.isEmpty) "all-exact" else "FAILED"))
    def failures: Seq[String] = broken.toSeq
    def json: String = fields.map { case (k, v) =>
      val js = v match {
        case s: String => "\"" + s + "\""
        case d: Double => (math.round(d * 10000) / 10000.0).toString
        case x => x.toString
      }
      s""""$k":$js"""
    }.mkString("{", ",", "}")

    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString
    /** The sf fixture's `documents` columns `cols`, pinned. */
    def docs(cols: String*): DataFrame =
      graft.sources.Tables(spark, corpus, "documents").select(cols.map(col): _*)
        .localCheckpoint(true)
    /** Feeds `standing` then `crawl` as two micro-batches of a
      * MemoryStream whose columns are `names` through `ingest`,
      * timing each batch into `keys`. */
    def ingestTwo[T: Encoder](names: Seq[String], standing: Seq[T], crawl: Seq[T],
        keys: (String, String))(ingest: DataFrame => StreamingQuery): Unit = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
      val q = ingest(mem.toDF().toDF(names: _*))
      try {
        timed(keys._1) { mem.addData(standing: _*); q.processAllAvailable() }
        timed(keys._2) { mem.addData(crawl: _*); q.processAllAvailable() }
      } finally q.stop()
    }
  }

  /** Runs `s` at size `n` over `corpus` in `spark`. */
  def run(spark: SparkSession, s: Scenario, n: Long, corpus: String): Run = {
    graft.functions.GraftFunctions.register(spark)
    val r = new Run(spark, n, corpus)
    r.put("soak" -> s.name)
    s.body(r)
    r
  }

  def main(args: Array[String]): Unit = {
    val s = args.headOption.flatMap(a => scenarios.find(_.name == a)).getOrElse(
      sys.error(s"usage: Soak <scenario> [n] [corpus]; scenarios: ${scenarios.map(_.name).mkString(", ")}"))
    val n = args.lift(1).map(_.toLong).getOrElse(s.n)
    val corpus = args.lift(2).getOrElse(s.corpus)
    require(corpus != SfDir, s"${s.name} reads an sf fixture directory: Soak ${s.name} [n] <sf dir>")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val r = run(spark, s, n, corpus)
      println(r.json)
      if (r.failures.nonEmpty) throw new AssertionError(r.failures.mkString("; "))
    } finally spark.stop()
  }

  val scenarios: Seq[Scenario] = Seq(
    Scenario("alsh_mips", 500000L, 8192L, "", alshMips),
    Scenario("bpe_batched_train", 150L, 30L, SfDir, bpeBatchedTrain),
    Scenario("curation_ingest", 48L, 1L, SfDir, curationIngest),
    Scenario("dedup_store_fold", 48L, 1L, SfDir, dedupStoreFold),
    Scenario("emb_stats", 2000000L, 8192L, "", embStats),
    Scenario("filtered", 500000L, 8192L, "", filtered),
    Scenario("fingerprint_hamming", 2000000L, 100000L, "", fingerprintHamming),
    Scenario("graph_relaxation", 1L << 21, 1L << 15, "", graphRelaxation),
    Scenario("incremental_cc", 1L << 21, 1L << 15, "", incrementalCc),
    Scenario("ivfpq_packed_store", 500000L, 8192L, "", ivfpqPackedStore),
    Scenario("ivfres_store", 500000L, 8192L, "", ivfresStore),
    Scenario("jdbc_skew_cursors", 2000L, 100L, "", jdbcSkewCursors),
    Scenario("lexical_index_fold", 48L, 1L, SfDir, lexicalIndexFold),
    Scenario("mrl", 2000000L, 8192L, "", mrl),
    Scenario("mrl_pruned_store", 500000L, 8192L, "", mrlPrunedStore),
    Scenario("nb_model_fold", 48L, 1L, SfDir, nbModelFold),
    Scenario("sparse_cosine_cap", 48L, 2L, SfDir, sparseCosineCap),
    Scenario("sq8_packed_scan", 500000L, 8192L, "", sq8PackedScan),
    Scenario("sq8ivf_store", 500000L, 8192L, "front", sq8ivfStore),
    Scenario("substring_hot_cap_prejoin", 48L, 2L, SfDir, substringHotCap),
    Scenario("ts_hub_user", 10000000L, 20000L, "", tsHubUser),
    Scenario("vector_index_fold", 48L, 1L, SfDir, vectorIndexFold))

  // ── vector search ────────────────────────────────────────────────

  /** MIPS/ALSH. On the flat corpus, each of the 32 queries gets one
    * planted vector w_q = 1000·(0.45·q̂ + √(1−0.45²)·r̂⊥), r̂⊥ a
    * deterministic direction orthogonalized against q̂. Norm 1000
    * dominates every base inner product (≤ ~25), so the exact MIPS
    * top-1 of every query is a planted vector, usually its own; the
    * flat lattice has period 2001, so the base holds ~n/2001 exact
    * copies of each query (cosine 1.0) and a cosine shortlist must go
    * hundreds deep before the winner is a candidate: the hole the lift
    * closes. With M pinned at ~1000 every base vector lifts near the
    * augmented axis, so base postings pile into a few buckets per
    * table and the MaxBucket cap must drop some. Checks: all 32 top-1
    * planted, winner's cosine rank > 100, >0 dropped postings, the
    * standing store serves the one-shot chain exactly, multi-probe
    * top-1 recall ≥ single-probe (candidate supersets under an exact
    * rescore) and ≥ 28/32 own-planted candidates with multi > single
    * (the lever at the designed cosine), the lifted-IVF store's fold
    * equals a one-batch rebuild and finds ≥ 30/32 winners at nprobe 4.
    * No absolute top-1 recall floor: the lattice's hyperplane
    * correlations void the random-collision model. */
  private def alshMips(r: Run): Unit = {
    import r._
    val (dim, tp, nt, k) = (64, 7, 16, 3)
    val cosPlant = 0.45
    val base = flat(spark, n).select("vec_id", "embedding")
    val qd = base.filter(col("vec_id") < 32)
      .select(col("vec_id"), expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("q_d"))
      .withColumn("q_hat", expr("transform(q_d, v -> v / sqrt(graft_dot_d(q_d, q_d)))"))
    val rd = flat(spark, 64).select((col("vec_id") - 32).as("vec_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("r_d"))
      .filter(col("vec_id") >= 0)
    val planted = qd.join(rd, Seq("vec_id"))
      .withColumn("rq", expr("graft_dot_d(r_d, q_hat)"))
      .withColumn("r_perp", expr("zip_with(r_d, q_hat, (r, q) -> r - rq * q)"))
      .withColumn("r_hat", expr("transform(r_perp, v -> v / sqrt(graft_dot_d(r_perp, r_perp)))"))
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr(s"zip_with(q_hat, r_hat, (q, r) -> CAST(1000.0D * ($cosPlant * q + sqrt(1.0D - $cosPlant * $cosPlant) * r) AS FLOAT))")
          .as("embedding"))
    val corpus = base.unionByName(planted).localCheckpoint(true)
    val probes = base.filter(col("vec_id") < 32).localCheckpoint(true)

    // exact scan: each query's MIPS winner and its cosine rank
    val scored = corpus.select(col("vec_id").as("cand_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("c_emb"))
      .crossJoin(broadcast(probes.select(col("vec_id").as("query_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("q_emb"))))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("ip", expr("graft_dot_d(q_emb, c_emb)"))
      .withColumn("cosine", expr(
        "ip / (sqrt(graft_dot_d(q_emb, q_emb)) * sqrt(graft_dot_d(c_emb, c_emb)))"))
    val top = scored.groupBy("query_id")
      .agg(max(struct(col("ip"), col("cand_id"), col("cosine"))).as("t"))
      .localCheckpoint(true)
    val mipsTop1Planted = top.filter(col("t.cand_id") >= 1000000L).count()
    val minCosRank = scored
      .join(broadcast(top.select(col("query_id"), col("t.cosine").as("w_cos"))), Seq("query_id"))
      .groupBy("query_id")
      .agg(sum(when(col("cosine") > col("w_cos"), 1L).otherwise(0L)).as("cos_above"))
      .agg(min(col("cos_above"))).head().getLong(0)
    val exactTop1 = top.collect().map(r => r.getLong(0) -> r.getStruct(1).getLong(1)).toMap

    // standing ALSH store under the pinned M = corpus max norm
    val m = maxNorm(corpus)
    val store = tmp("graft_alshsoak")
    timed("wall_fold") {
      foldHalves(corpus)((b, i) => graft.streaming.VectorStreams.mipsAlshFoldBatch(
        b, store, i, m, dim, tp, nt))
    }
    val hot = spark.read.parquet(s"$store/buckets").groupBy("tbl", "bucket").count()
      .agg(sum(when(col("count") > graft.operators.Dedup.MaxBucket, col("count"))
          .otherwise(0L)), max("count"))
      .head()
    val (dropped, maxBucketSeen) = (hot.getLong(0), hot.getLong(1))
    def serve(multiProbe: Boolean, kk: Int) = rank4Long(
      graft.streaming.VectorStreams.mipsAlshServeFromStore(
          spark, store, probes, dim, tp, nt, kk, multiProbe = multiProbe)
        .select("query_id", "cand_id", "ip_e6", "rnk"))
    // the true MIPS winner at rank 1
    def topHits(rows: Set[(Long, Long, Long, Int)]): Long =
      rows.count(r => r._4 == 1 && exactTop1(r._1) == r._2).toLong
    // the query's own planted vector among the candidates: planted
    // candidates outrank every base one and there are 32, so a k=40
    // answer holds them all
    def ownPlanted(rows: Set[(Long, Long, Long, Int)]): Long =
      rows.count(r => r._2 == r._1 + 1000000L).toLong
    val multi = timed("wall_serve_multi")(serve(multiProbe = true, k))
    val single = timed("wall_serve_single")(serve(multiProbe = false, k))
    val (foundMulti, foundSingle) = (topHits(multi), topHits(single))
    val (ownMulti, ownSingle) =
      (ownPlanted(serve(multiProbe = true, 40)), ownPlanted(serve(multiProbe = false, 40)))
    val storeExact = single == rank4Long(
      graft.streaming.VectorStreams.mipsAlshServe(probes, corpus, dim, tp, nt, k)
        .select("query_id", "cand_id", "ip_e6", "rnk"))

    // lifted-IVF MIPS store on the same corpus: the partition prune
    // beside the hash prune, and fold ≡ rebuild under the same pins
    val liftedCent = graft.operators.Knn.ivfTrain(
      mipsLift(corpus, m).filter(col("vec_id") < 65536 || col("vec_id") >= 1000000L),
      "vec_id", "ea", 64, 2).localCheckpoint(true)
    def ivfStore(batches: Seq[(DataFrame, Long)]): String = {
      val dir = tmp("graft_alshsoak_ivf")
      batches.foreach { case (b, i) => graft.streaming.VectorStreams.mipsIvfFoldBatch(
        b, dir, i, liftedCent, m, nAssign = 2) }
      dir
    }
    def serveIvf(dir: String, kk: Int) = rank4Long(
      graft.streaming.VectorStreams.mipsIvfServeFromStore(spark, dir, probes, k = kk, nprobe = 4)
        .select("query_id", "cand_id", "ip_e6", "rnk"))
    val ivf = timed("wall_ivf_fold")(ivfStore(halves(corpus)))
    val ivfRows = timed("wall_ivf_serve")(serveIvf(ivf, k))
    val (ivfTop1, ivfOwn) = (topHits(ivfRows), ownPlanted(serveIvf(ivf, 40)))
    val ivfFoldExact = serveIvf(ivfStore(Seq(corpus -> 0L)), k) == ivfRows

    put("n_vecs" -> (n + 32), "n_queries" -> 32, "dim" -> dim, "planes" -> tp, "tables" -> nt,
      "planted_cos" -> cosPlant, "pinned_m" -> m, "mips_top1_planted" -> mipsTop1Planted,
      "min_cosine_rank_of_winner" -> minCosRank, "dropped_postings" -> dropped,
      "max_bucket_seen" -> maxBucketSeen, "top1_found_multiprobe" -> foundMulti,
      "top1_found_singleprobe" -> foundSingle, "own_planted_cand_multiprobe" -> ownMulti,
      "own_planted_cand_singleprobe" -> ownSingle, "store_serve_exact" -> storeExact,
      "ivf_top1_found" -> ivfTop1, "ivf_own_planted_cand" -> ivfOwn,
      "ivf_fold_eq_rebuild" -> ivfFoldExact)
    check(ivfFoldExact, "lifted-IVF store fold != rebuild")
    check(ivfTop1 >= 30L && ivfOwn >= 30L,
      s"lifted-IVF recall collapsed on the planted corpus: top1=$ivfTop1 own=$ivfOwn")
    check(mipsTop1Planted == 32L, "a planted vector lost exact MIPS top-1 to a base vector")
    check(minCosRank > 100L, s"MIPS winners are not cosine-hidden (min rank $minCosRank)")
    check(dropped > 0L, "the hot-bucket cap never engaged on the lifted postings")
    check(storeExact, "standing ALSH store serve != the one-shot chain")
    check(foundMulti >= foundSingle,
      s"probe superset inverted top-1 recall: multi=$foundMulti single=$foundSingle")
    check(ownMulti >= 28L && ownMulti > ownSingle,
      s"multi-probe recall lever missing: multi=$ownMulti single=$ownSingle")
  }

  /** Filtered ANN on a lifted-IVF attr store, under predicates at
    * ~50% and ~1% selectivity. Checks: the `attrstats` estimate equals
    * the true survivor count (per-batch exact counts), no served row
    * violates its predicate, pre-filter equals over-fetch post-filter
    * row for row (the bounded-retry completeness guarantee), and
    * widening the probe never loses recall (candidate supersets).
    * Walls of both strategies are printed for the strategy guidance in
    * COVERAGE.md: over-fetch serves with k′ = k/sel, so its cost grows
    * as selectivity drops. */
  private def filtered(r: Run): Unit = {
    import r._
    import r.spark.implicits._
    val (ivfK, iters, nAssign, k, nprobe) = (64, 3, 2, 3, 8)
    val attrs = Seq("lab", "b100")
    val (pred50, pred1) = ("lab < 5", "b100 = 0")
    val corpus = flat(spark, n)
      .select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(10)).cast("int").as("lab"),
        pmod(col("vec_id"), lit(100)).cast("int").as("b100"))
      .localCheckpoint(true)
    val probes = corpus.filter(col("vec_id") < 32).select("vec_id", "embedding")
      .localCheckpoint(true)
    val m = maxNorm(corpus)
    val cent = timed("wall_train") {
      graft.operators.Knn.ivfTrain(mipsLift(corpus, m), "vec_id", "ea", ivfK, iters)
        .localCheckpoint(true)
    }
    val tbl = tmp("graft_filtered_soak")
    timed("wall_fold") {
      graft.streaming.VectorStreams.mipsIvfFoldBatch(
        corpus.select(("vec_id" +: "embedding" +: attrs).map(col): _*),
        tbl, 0L, cent, m, nAssign = nAssign, attrCols = attrs)
    }
    val stats = spark.read.parquet(s"$tbl/attrstats")
    def estOf(p: String): Long =
      stats.filter(expr(p)).agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val (est50, est1) = (estOf(pred50), estOf(pred1))
    val (true50, true1) = (corpus.filter(expr(pred50)).count(), corpus.filter(expr(pred1)).count())

    def rank4(df: DataFrame) = rank4Long(
      df.select(col("query_id"), col("cand_id"), col("ip_e6"), col("rnk").cast("int")))
    def pre(p: String, np: Int = nprobe) = rank4(
      graft.streaming.VectorStreams.mipsIvfServeFromStore(spark, tbl, probes, k, np,
        predicate = Some(p)))
    def post(p: String) = rank4(
      graft.streaming.VectorStreams.mipsIvfServeOverfetch(spark, tbl, probes, k, nprobe,
        predicate = p))
    val pre50 = timed("wall_pre50")(pre(pred50))
    val post50 = timed("wall_post50")(post(pred50))
    val pre1 = timed("wall_pre1")(pre(pred1))
    val post1 = timed("wall_post1")(post(pred1))
    def leakage(res: Set[(Long, Long, Long, Int)], p: String): Long =
      res.map(_._2).toSeq.toDF("vec_id")
        .join(corpus.select(("vec_id" +: attrs).map(col): _*), Seq("vec_id"))
        .filter(!expr(p)).count()
    val (leak50, leak1) = (leakage(pre50, pred50), leakage(pre1, pred1))
    def recall(served: Set[(Long, Long, Long, Int)], p: String): (Int, Int) = {
      val exact = exactTopK(probes, corpus.filter(expr(p)),
        "CAST(floor(graft_dot_d(q, c) * 1000000.0D) AS BIGINT)", k)
      ((exact & served.map(t => (t._1, t._2))).size, exact.size)
    }
    val (h50, k50) = recall(pre50, pred50)
    val (h1, k1) = recall(pre1, pred1)
    val (h1w, k1w) = recall(pre(pred1, 2 * nprobe), pred1)

    put("n_vecs" -> n, "ivf_k" -> ivfK, "nprobe" -> nprobe, "est50" -> est50,
      "true50" -> true50, "est1" -> est1, "true1" -> true1,
      "pre_eq_post_50" -> (pre50 == post50), "pre_eq_post_1" -> (pre1 == post1),
      "leak50" -> leak50, "leak1" -> leak1, "recall50" -> s"$h50/$k50",
      "recall1" -> s"$h1/$k1", "recall1_wide" -> s"$h1w/$k1w")
    check(est50 == true50 && est1 == true1,
      s"attrstats selectivity estimate is not exact: $est50/$true50 $est1/$true1")
    check(pre50.nonEmpty && pre1.nonEmpty, "empty filtered serve")
    check(pre50 == post50 && pre1 == post1,
      "pre-filter and over-fetch diverged: the bounded-retry completeness guarantee is broken")
    check(leak50 == 0L && leak1 == 0L, "a served candidate violates the predicate")
    check(h1w >= h1, s"probe widening lost recall: $h1w < $h1")
  }

  /** Matryoshka search on the front-loaded corpus (the information
    * profile MRL-trained embeddings have; prefix recall is meaningless
    * on a flat one): the retired window-pruned plan, the bounded-heap
    * `mrlTopK`, the single-heap `mrlServe` and a standing-store serve
    * must agree row for row (the tie contract at scale); recall@3 is
    * against an exact full-dimension scan. */
  private def mrl(r: Run): Unit = {
    import r._
    val (dim, prefixDim, nCand, k) = (64, 16, 16, 3)
    val vecs = frontLoaded(spark, n)
    val probes = vecs.filter(col("vec_id") < 32).localCheckpoint(true)
    def rank4(df: DataFrame) = rank4Double(
      df.select(col("query_id"), col("cand_id"), col("cosine"), col("rnk").cast("int")))

    // the retired plan: row_number prefix prune, then row_number rescore
    def windowed(): DataFrame = {
      def prep(df: DataFrame, role: String) = df
        .select(col("vec_id").as(s"${role}_id"), col("embedding").as(s"${role}_emb"))
        .withColumn(s"${role}_p", expr(s"slice(${role}_emb, 1, $prefixDim)"))
        .withColumn(s"${role}_pn", expr(s"sqrt(graft_dot(${role}_p, ${role}_p))"))
        .withColumn(s"${role}_fn", expr(s"sqrt(graft_dot(${role}_emb, ${role}_emb))"))
      val q = prep(probes, "query").localCheckpoint(true)
      val c = prep(vecs, "cand").localCheckpoint(true)
      c.select(col("cand_id"), col("cand_p"), col("cand_pn"))
        .crossJoin(broadcast(q.select(col("query_id"), col("query_p"), col("query_pn"))))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("pcos", round(
          expr("graft_dot(query_p, cand_p)") / (col("query_pn") * col("cand_pn")), 8))
        .withColumn("prnk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("pcos").desc, col("cand_id"))))
        .filter(col("prnk") <= nCand)
        .select("query_id", "cand_id")
        .join(c.select(col("cand_id"), col("cand_emb"), col("cand_fn")), Seq("cand_id"))
        .join(broadcast(q.select(col("query_id"), col("query_emb"), col("query_fn"))),
          Seq("query_id"))
        .withColumn("cosine", round(
          expr("graft_dot(query_emb, cand_emb)") / (col("query_fn") * col("cand_fn")), 8))
        .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("cand_id"))))
        .filter(col("rnk") <= k)
        .select("query_id", "cand_id", "cosine", "rnk")
    }
    val win = timed("wall_window_plan")(rank4(windowed()))
    val heap = timed("wall_heap_plan")(rank4(
      graft.operators.Knn.mrlTopK(probes, vecs, "vec_id", "embedding", prefixDim, nCand, k)))
    val single = timed("wall_single_heap_serve")(rank4(
      graft.streaming.VectorStreams.mrlServe(probes, vecs, prefixDim, nCand, k)))
    // one fold with narrow band params: MRL reads only the vectors table
    val tbl = tmp("graft_mrlsoak")
    timed("wall_store_fold")(graft.streaming.VectorStreams.vectorFoldBatch(
      vecs, tbl, 0L, dim, nPlanes = 4, nTables = 1))
    val stored = timed("wall_store_serve")(rank4(
      graft.streaming.VectorStreams.mrlServeFromStore(spark, tbl, probes, prefixDim, nCand, k)))
    val equal = heap == win && single == win && stored == win
    val exact = exactTopK(probes, vecs,
      "round(graft_dot_d(q, c) / (sqrt(graft_dot_d(q, q)) * sqrt(graft_dot_d(c, c))), 8)", k)
    val recall = (exact & heap.map(t => (t._1, t._2))).size.toDouble / exact.size

    put("n_vecs" -> n, "n_queries" -> 32, "prefix_dim" -> prefixDim, "n_cand" -> nCand,
      "k" -> k, "all_plans_equal" -> equal, "recall_at_3" -> recall)
    check(equal, "MRL plan results diverged")
  }

  /** Prefix-pinned MRL store layout: two standing stores fold the same
    * corpus, one persisting the 16-dim prefix as its own columns, and
    * the same `mrlServeFromStore` serves both (the raw store by the
    * full-embedding fallback, the pinned one by the I/O-pruned plan).
    * The raw serve runs first, so shared first-job costs land on the
    * incumbent. Check: the two rankings are row-identical. */
  private def mrlPrunedStore(r: Run): Unit = {
    import r._
    val (dim, tp, nt, prefixDim, nCand, k) = (64, 7, 16, 16, 16, 3)
    val vecs = frontLoaded(spark, n)
    val probes = vecs.filter(col("vec_id") < 32).localCheckpoint(true)
    def fold(pd: Int, key: String): String = {
      val tbl = tmp(s"graft_mrlsoak_p$pd")
      timed(key)(foldHalves(vecs)((b, i) => graft.streaming.VectorStreams.vectorFoldBatch(
        b, tbl, i, dim, tp, nt, prefixDim = pd)))
      tbl
    }
    val rawStore = fold(0, "wall_fold_raw")
    val pinnedStore = fold(prefixDim, "wall_fold_pinned")
    def serve(tbl: String) = rank4Double(
      graft.streaming.VectorStreams.mrlServeFromStore(spark, tbl, probes, prefixDim, nCand, k)
        .select(col("query_id"), col("cand_id"), col("cosine"), col("rnk").cast("int")))
    val raw = timed("wall_serve_raw")(serve(rawStore))
    val pruned = timed("wall_serve_pruned")(serve(pinnedStore))
    put("n_vecs" -> n, "n_queries" -> 32, "dim" -> dim, "prefix_dim" -> prefixDim,
      "n_cand" -> nCand, "vectors_bytes_raw" -> dirBytes(s"$rawStore/vectors"),
      "vectors_bytes_pinned" -> dirBytes(s"$pinnedStore/vectors"), "plans_equal" -> (raw == pruned))
    check(raw == pruned, "pruned and raw MRL store serves diverged")
  }

  /** SQ8: the packed codegen'd ADC scan (|Q|·N rows, a 64-step loop
    * each) against the exploded (vec, dim, code) ⋈ LUT join, which
    * joins |Q|·N·dim rows before its first aggregate. Check: the two
    * top-3s are row-identical (integer ADC sums are order-insensitive);
    * recall@3 is against exact full-precision L2. */
  private def sq8PackedScan(r: Run): Unit = {
    import r._
    import graft.operators.Sq
    val vecs = frontLoaded(spark, n)
    val probes = vecs.filter(col("vec_id") < 32).localCheckpoint(true)
    val bounds = Sq.train(vecs, "embedding").localCheckpoint(true)
    // both layouts pinned, so neither scan re-encodes
    val codesLong = timed("wall_encode_long") {
      val c = Sq.encode(vecs, "vec_id", "embedding", bounds).localCheckpoint(true); c.count(); c
    }
    val codesPacked = timed("wall_encode_packed") {
      val c = Sq.encodePacked(vecs, "vec_id", "embedding", bounds).localCheckpoint(true); c.count(); c
    }
    val lut = Sq.adcLut(probes, "vec_id", "embedding", bounds).localCheckpoint(true)
    val exploded = timed("wall_exploded_scan")(rank4Long(smallestK(
      codesLong.select(col("vec_id").as("cand_id"), col("dim"), col("code"))
        .join(broadcast(lut), Seq("dim", "code"))
        .filter(col("cand_id") =!= col("query_id"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6")), "adist_e6", 3)))
    val lutP = Sq.adcLutPacked(probes, "vec_id", "embedding", bounds).localCheckpoint(true)
    val packed = timed("wall_packed_scan")(rank4Long(smallestK(
      codesPacked.select(col("vec_id").as("cand_id"), col("codes"))
        .crossJoin(broadcast(lutP))
        .filter(col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"), expr("graft_sq8_adc(codes, lut)").as("adist_e6")),
      "adist_e6", 3)))
    val exact = exactTopK(probes, vecs, "-CAST(floor(graft_l2sq(q, c) * 1000000.0D) AS BIGINT)", 3)
    val recall = (exact & packed.map(t => (t._1, t._2))).size.toDouble / exact.size
    put("n_vecs" -> n, "n_queries" -> 32, "dim" -> 64, "plans_equal" -> (packed == exploded),
      "recall_at_3" -> recall)
    check(packed == exploded, "packed and exploded SQ8 rankings diverged")
  }

  /** Packed IVF×PQ standing store: a two-batch fold, then the
    * pinned-store serve both ways over the same bytes: packed (one
    * `graft_adc_sum` call per surviving pair against the flat LUT) and
    * exploded (the (vec_id, m, code) ⋈ LUT join re-aggregated per
    * pair; measured first, so shared first-job costs land on it). Also
    * the code-index bytes both ways: the exploded layout pays an m×
    * row tax. Check: the serves are row-identical. */
  private def ivfpqPackedStore(r: Run): Unit = {
    import r._
    import graft.operators.{Knn, Pq}
    val (ivfK, nprobe, nAssign, pqM, pqSub, pqKs) = (64, 4, 2, 8, 8, 16)
    val vecs = frontLoaded(spark, n)
    val probes = vecs.filter(col("vec_id") < 32).localCheckpoint(true)
    // both models train once on the corpus head and pin on the first fold
    val cent = coarse(vecs, ivfK)
    val books = Pq.train(
      Pq.subviews(vecs.filter(col("vec_id") < 16384), "vec_id", "embedding", pqM, pqSub),
      "vec_id", pqKs, 2).localCheckpoint(true)
    val store = tmp("graft_ivfpqsoak")
    timed("wall_fold")(foldHalves(vecs)((b, i) => graft.streaming.VectorStreams.ivfPqFoldBatch(
      b, store, i, cent, books, nAssign = nAssign, pqM = pqM, pqSub = pqSub)))
    val exploded = timed("wall_exploded_serve") {
      val cand = Knn.ivfRank(probes, spark.read.parquet(s"$store/centroids"), "vec_id", "embedding")
        .filter(col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cell"))
        .join(spark.read.parquet(s"$store/posts").select(col("vec_id").as("cand_id"), col("cell")),
          Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
      val lut = Pq.adcLut(Pq.subviews(probes, "vec_id", "embedding", pqM, pqSub),
          "vec_id", spark.read.parquet(s"$store/codebooks"))
        .withColumnRenamed("vec_id", "query_id")
      rank4Long(smallestK(spark.read.parquet(s"$store/codes")
        .select(col("vec_id").as("cand_id"), posexplode(col("codes")).as(Seq("m", "code")))
        .join(cand, Seq("cand_id"))
        .join(broadcast(lut), Seq("query_id", "m", "code"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6")), "adist_e6", 3))
    }
    val packed = timed("wall_packed_serve")(rank4Long(
      graft.streaming.VectorStreams.ivfPqServeFromStore(spark, store, probes, k = 3, nprobe = nprobe)
        .select("query_id", "cand_id", "adist_e6", "rnk")))
    val xdir = tmp("graft_ivfpqsoak_x")
    spark.read.parquet(s"$store/codes")
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .write.mode("overwrite").parquet(s"$xdir/codes_exploded")
    put("n_vecs" -> n, "n_queries" -> 32, "dim" -> 64, "ivf_k" -> ivfK, "nprobe" -> nprobe,
      "n_assign" -> nAssign, "pq_m" -> pqM, "codes_bytes_packed" -> dirBytes(s"$store/codes"),
      "codes_bytes_exploded" -> dirBytes(s"$xdir/codes_exploded"),
      "plans_equal" -> (packed == exploded))
    check(packed == exploded, "packed and exploded IVF-ADC store serves diverged")
  }

  /** Residual IVF×PQ (IVFADC) against raw IVF×PQ: one coarse
    * quantizer, the same m×ks code budget, codebooks trained on each
    * store's own target. Distortion is Σ |ADC estimate − true L2²·e6|
    * over each serve's coarse-pruned pair set (the number the
    * `pq_ivfres_distortion` row pins at fixture scale). Checks: the
    * pair sets match (same quantizer, same posts) and residual codes
    * reconstruct at least as tightly as raw ones. */
  private def ivfresStore(r: Run): Unit = {
    import r._
    import graft.operators.{Knn, Pq}
    val (ivfK, nprobe, nAssign, pqM, pqSub, pqKs) = (64, 4, 2, 8, 8, 16)
    val vecs = frontLoaded(spark, n)
    val probes = vecs.filter(col("vec_id") < 32).localCheckpoint(true)
    val cent = coarse(vecs, ivfK)
    val rawBooks = Pq.train(
      Pq.subviews(vecs.filter(col("vec_id") < 16384), "vec_id", "embedding", pqM, pqSub),
      "vec_id", pqKs, 2).localCheckpoint(true)
    val resBooks = residualBooks(vecs, cent, pqM, pqSub, pqKs)
    val (rawStore, resStore) = (tmp("graft_ivfressoak_raw"), tmp("graft_ivfressoak_res"))
    timed("wall_fold_raw")(foldHalves(vecs)((b, i) => graft.streaming.VectorStreams.ivfPqFoldBatch(
      b, rawStore, i, cent, rawBooks, nAssign = nAssign, pqM = pqM, pqSub = pqSub)))
    timed("wall_fold_res")(foldHalves(vecs)((b, i) => graft.streaming.VectorStreams.ivfPqResFoldBatch(
      b, resStore, i, cent, resBooks, nAssign = nAssign, pqM = pqM, pqSub = pqSub)))
    // raw first: shared first-job costs land on the incumbent
    val rawTop = timed("wall_serve_raw")(rank4Long(
      graft.streaming.VectorStreams.ivfPqServeFromStore(spark, rawStore, probes, k = 3, nprobe = nprobe)
        .select("query_id", "cand_id", "adist_e6", "rnk")))
    val resTop = timed("wall_serve_res")(rank4Long(
      graft.streaming.VectorStreams.ivfPqResServeFromStore(spark, resStore, probes, k = 3, nprobe = nprobe)
        .select("query_id", "cand_id", "adist_e6", "rnk")))

    // each store's scored pairs over the shared pruned pair set,
    // against exact per-pair distances
    val ranked = Knn.ivfRank(vecs, cent, "vec_id", "embedding").localCheckpoint(true)
    val cand = ranked.filter(col("vec_id") < 32 && col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
      .join(ranked.filter(col("rn") <= nAssign).select(col("vec_id").as("cand_id"), col("cell")),
        Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
      .localCheckpoint(true)
    val dv = expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    val trueD = cand
      .join(broadcast(probes.select(col("vec_id").as("query_id"), dv.as("qv"))), Seq("query_id"))
      .join(vecs.select(col("vec_id").as("cand_id"), dv.as("cv")), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        expr("CAST(floor(graft_l2sq(qv, cv) * 1000000.0D) AS BIGINT)").as("true_e6"))
      .localCheckpoint(true)
    val scoredRaw = {
      val lut = Pq.adcLut(Pq.subviews(probes, "vec_id", "embedding", pqM, pqSub),
          "vec_id", spark.read.parquet(s"$rawStore/codebooks"))
        .withColumnRenamed("vec_id", "query_id")
      spark.read.parquet(s"$rawStore/codes")
        .select(col("vec_id").as("cand_id"), posexplode(col("codes")).as(Seq("m", "code")))
        .join(cand, Seq("cand_id"))
        .join(broadcast(lut), Seq("query_id", "m", "code"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
    }
    val scoredRes = {
      val qres = probes.select(col("vec_id").as("query_id"), col("embedding"))
        .crossJoin(broadcast(cent.select(col("cell"), col("cw"))))
        .select((col("query_id") * lit(ivfK.toLong) + col("cell")).as("qc"), expr(Residual).as("rvec"))
      val lut = Pq.adcLut(Pq.subviews(qres, "qc", "rvec", pqM, pqSub), "qc",
          spark.read.parquet(s"$resStore/codebooks"))
        .select(expr(s"qc div $ivfK").as("query_id"), expr(s"pmod(qc, $ivfK)").as("cell"),
          col("m"), col("code"), col("dq_e6"))
      spark.read.parquet(s"$resStore/codes")
        .select(col("vec_id").as("cand_id"), col("cell"), posexplode(col("codes")).as(Seq("m", "code")))
        .join(cand, Seq("cand_id"))
        .join(broadcast(lut), Seq("query_id", "cell", "m", "code"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
    }
    def sae(scored: DataFrame): (Long, Long) = {
      val row = scored.join(trueD, Seq("query_id", "cand_id"))
        .agg(count(lit(1)), sum(abs(col("adist_e6") - col("true_e6")))).head()
      (row.getLong(0), row.getLong(1))
    }
    val (nRaw, saeRaw) = sae(scoredRaw)
    val (nRes, saeRes) = sae(scoredRes)
    put("n_vecs" -> n, "n_queries" -> 32, "dim" -> 64, "ivf_k" -> ivfK, "nprobe" -> nprobe,
      "n_assign" -> nAssign, "pq_m" -> pqM, "n_pairs_raw" -> nRaw, "n_pairs_res" -> nRes,
      "sae_raw_e6" -> saeRaw, "sae_res_e6" -> saeRes, "res_tighter" -> (saeRes <= saeRaw),
      "top3_raw" -> rawTop.size, "top3_res" -> resTop.size)
    check(nRaw == nRes, "pair sets diverged: the same quantizer must prune identically")
    check(saeRes <= saeRaw, s"residual SAE $saeRes > raw SAE $saeRaw")
  }

  /** IVF×SQ8 store and refine-at-serve. The IVF×SQ8 store is served
    * both ways over the same bytes: the flat full scan (legal: the IVF
    * layout is a superset of the flat one; run first, so shared
    * first-job costs land on it) and the coarse-pruned scan; the
    * prune's cost is its recall@3 against the flat answer. Then
    * `ivfResRefineServeFromStore` (shortlist 20 off a residual store,
    * packed rerank off an SQ8 store) against the inline composition:
    * the store shortlist joined to an exploded SQ8 rerank. Checks: the
    * flat top-1 distance ≤ the pruned one per query (the pruned scan
    * is a subset), and the refine equals the inline composition. The
    * corpus argument picks `front` (clustered, as real embeddings) or
    * `flat` (near-isotropic, where pruning costs recall). */
  private def sq8ivfStore(r: Run): Unit = {
    import r._
    import graft.operators.{Knn, Sq}
    val (ivfK, nprobe, nAssign, pqM, pqSub, pqKs) = (64, 4, 2, 8, 8, 16)
    val vecs = corpus match {
      case "front" => frontLoaded(spark, n)
      case "flat" => flat(spark, n).select("vec_id", "embedding").localCheckpoint(true)
      case other => sys.error(s"unknown corpus shape '$other' (front|flat)")
    }
    val probes = vecs.filter(col("vec_id") < 32).localCheckpoint(true)
    val cent = coarse(vecs, ivfK)
    val bounds = Sq.train(vecs, "embedding").localCheckpoint(true)
    val store = tmp("graft_sq8ivfsoak")
    timed("wall_fold")(foldHalves(vecs)((b, i) => graft.streaming.VectorStreams.sq8IvfFoldBatch(
      b, store, i, cent, bounds, nAssign = nAssign)))
    val flatTop = timed("wall_flat_serve")(rank4Long(
      graft.streaming.VectorStreams.sq8ServeFromStore(spark, store, probes, k = 3)
        .select("query_id", "cand_id", "adist_e6", "rnk")))
    val prunedTop = timed("wall_pruned_serve")(rank4Long(
      graft.streaming.VectorStreams.sq8IvfServeFromStore(spark, store, probes, k = 3, nprobe = nprobe)
        .select("query_id", "cand_id", "adist_e6", "rnk")))
    def best(rows: Set[(Long, Long, Long, Int)]) = rows.filter(_._4 == 1).map(r => r._1 -> r._3).toMap
    val flatBest = best(flatTop)
    val subsetOk = best(prunedTop).forall { case (q, d) => flatBest(q) <= d }
    val flatIds = flatTop.map(r => (r._1, r._2))
    val recall = (prunedTop.map(r => (r._1, r._2)) & flatIds).size.toDouble / flatIds.size

    val resBooks = residualBooks(vecs, cent, pqM, pqSub, pqKs)
    val (resStore, sqStore) = (tmp("graft_sq8ivfsoak_res"), tmp("graft_sq8ivfsoak_sq"))
    timed("wall_fold_refine_stores")(foldHalves(vecs) { (b, i) =>
      graft.streaming.VectorStreams.ivfPqResFoldBatch(
        b, resStore, i, cent, resBooks, nAssign = nAssign, pqM = pqM, pqSub = pqSub)
      graft.streaming.VectorStreams.sqFoldBatch(b, sqStore, i, bounds)
    })
    val refined = timed("wall_refine_serve")(rank4Long(
      graft.streaming.VectorStreams.ivfResRefineServeFromStore(
          spark, resStore, sqStore, probes, shortlist = 20, k = 3, nprobe = nprobe)
        .select("query_id", "cand_id", "sq_e6", "rnk")))
    val inline = timed("wall_refine_inline") {
      val short = graft.streaming.VectorStreams.ivfPqResServeFromStore(
          spark, resStore, probes, k = 20, nprobe = nprobe)
        .select("query_id", "cand_id").localCheckpoint(true)
      val sqBounds = spark.read.parquet(s"$sqStore/bounds")
      val lut = Sq.adcLut(probes, "vec_id", "embedding", sqBounds)
      rank4Long(smallestK(Sq.encode(
          spark.read.parquet(s"$sqStore/vectors").select("vec_id", "embedding"),
          "vec_id", "embedding", sqBounds)
        .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
        .join(broadcast(short), Seq("cand_id"))
        .join(broadcast(lut), Seq("query_id", "dim", "code"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("sq_e6")), "sq_e6", 3))
    }
    put("corpus" -> corpus, "n_vecs" -> n, "n_queries" -> 32, "dim" -> 64, "ivf_k" -> ivfK,
      "nprobe" -> nprobe, "n_assign" -> nAssign, "pruned_vs_flat_recall3" -> recall,
      "subset_invariant" -> subsetOk, "refine_equal" -> (refined == inline))
    check(subsetOk, "the pruned serve found a closer neighbor than the full scan")
    check(refined == inline, "store-composed refine diverged from the inline composition")
  }

  /** [[graft.operators.EmbStats]] numeric integrity on the flat
    * corpus (n 64-dim vectors, 8 labels). The one-pass dispersion rides
    * E‖x−μ‖² = E‖x‖² − ‖μ‖²; the check recomputes it by joining each
    * class's exact per-dim sums back to the rows, using
    * Σᵢ(n·vᵢ − s1)² = n·(n·S2 − s1²), and must match integer for
    * integer. It stays DECIMAL end to end: an intermediate ss/n through
    * IntegralDivide's LONG result overflows past ~10¹⁸, the bug this
    * soak exists to catch. Also checks the generator's closed-form
    * centroid on (label 0, dim 0). */
  private def embStats(r: Run): Unit = {
    import r._
    val vecs = flat(spark, n)
    val onePass = timed("one_pass_wall_s") {
      graft.operators.EmbStats.dispersionByLabel(vecs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    }
    val ref = timed("ref_wall_s") {
      val q = vecs.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("v_e6"))
        .localCheckpoint(true)
      val s1d = q.groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum(expr("CAST(v_e6 AS DECIMAL(38,0))")).as("s1"))
      q.join(s1d, Seq("label", "dim"))
        .groupBy("label")
        .agg(max("n").as("n"),
          sum(expr("""(CAST(n AS DECIMAL(38,0)) * v_e6 - s1) *
                      (CAST(n AS DECIMAL(38,0)) * v_e6 - s1)""")).as("ss"))
        // ss = n·num, so the one-pass (2·num + n²e6) div (2·n²e6)
        // becomes (2·ss + n³e6) div (2·n³e6)
        .select(col("label"), col("n"),
          expr("""CAST((2 * ss + CAST(n AS DECIMAL(38,0)) * n * n * 1000000)
                  div (2 * CAST(n AS DECIMAL(38,0)) * n * n * 1000000) AS BIGINT)"""))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    }
    val exact = onePass.sameElements(ref)
    // label 0, dim 0: v = ((8·j·2654435761) mod 2001 − 1000)/1000
    val cell = graft.operators.EmbStats.centroidByLabel(vecs.filter(col("label") === 0))
      .filter(col("dim") === 0).select("n_vecs", "centroid_e6").head()
    val ids = 0L until n by 8L
    val want = {
      val s1 = ids.map(i => (Math.floorMod(i * 2654435761L, 2001L) - 1000L) * 1000L).sum
      val cnt = ids.size.toLong
      (2 * s1 + (if (s1 >= 0) cnt else -cnt)) / (2 * cnt)
    }
    val centroidOk = cell.getLong(0) == ids.size.toLong && cell.getLong(1) == want
    put("n_vecs" -> n, "components" -> n * 64, "dispersion_exact" -> exact,
      "centroid_closed_form" -> centroidOk, "labels" -> onePass.length)
    check(exact, "one-pass dispersion != join-back reference")
    check(centroidOk, s"centroid closed form mismatch: got ${cell.getLong(1)}, want $want")
  }

  // ── near-duplicates and text ─────────────────────────────────────

  /** Exact hamming near-dup join with (radius+1)-band multi-index
    * hashing over n uniform 64-bit hashes, n/200 planted clusters of
    * three (two copies of a base hash with ≤ 3 bits flipped) and one
    * all-zero hash repeated n/40 times, whose bucket goes hot in every
    * band so the cap must drop it. At radius 3 with 4 bands of 16 bits
    * random collisions are ≪ 1 pair, so the result must be exactly the
    * planted in-radius pairs, less those whose only matching band is a
    * zero slice (capped away with the pile). Checks: none missing, none
    * extra, no pile pairs, and no organic bucket near the cap. */
  private def fingerprintHamming(r: Run): Unit = {
    import r._
    import r.spark.implicits._
    val (nClusters, hotCopies) = (n / 200, n / 40)
    val base = spark.range(n).select(col("id"), xxhash64(col("id")).as("h"))
    def bit(seed: Column) = call_function("shiftleft", lit(1L), pmod(seed, lit(64)).cast("int"))
    // copy c of cluster c's center: up to 3 distinct flipped bits drawn
    // from disjoint xxhash streams
    def perturbed(c: Column, copy: Column) = xxhash64(c)
      .bitwiseXOR(bit(xxhash64(c, copy, lit(1))))
      .bitwiseXOR(bit(xxhash64(c, copy, lit(2))))
      .bitwiseXOR(bit(xxhash64(c, copy, lit(3))))
    def copyId(c: Column, copy: Column) = lit(1000000000L) + c * 2 + copy
    val planted = spark.range(nClusters)
      .select(col("id").as("c"), explode(array(lit(1), lit(2))).as("copy"))
      .select(copyId(col("c"), col("copy")).as("id"), perturbed(col("c"), col("copy")).as("h"))
    val hot = spark.range(hotCopies).select((lit(2000000000L) + col("id")).as("id"), lit(0L).as("h"))
    val all = base.unionByName(planted).unionByName(hot)
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
    val pairs = timed("query_sec") {
      val p = graft.operators.Fingerprint.hammingNearDupPairs(all, "id", "h", maxHamming = 3,
        what = "fingerprintSoak").localCheckpoint(true)
      p.count()
      p
    }
    // each cluster's center (base id c) and its two copies, brute-forced
    val truth = spark.range(nClusters)
      .select(col("id").as("c"), explode(array(lit(0), lit(1), lit(2))).as("copy"))
      .select(col("c"),
        when(col("copy") === 0, col("c")).otherwise(copyId(col("c"), col("copy"))).as("id"),
        when(col("copy") === 0, xxhash64(col("c")))
          .otherwise(perturbed(col("c"), col("copy"))).as("h"))
    def slice(h: Column, i: Int) = shiftright(h, 16 * i).bitwiseAND(lit(65535L))
    val findable = (0 until 4).map(i =>
      slice(col("a.h"), i) === slice(col("b.h"), i) && slice(col("a.h"), i) =!= lit(0L)
    ).reduce(_ || _)
    val expected = truth.as("a").join(truth.as("b"), col("a.c") === col("b.c") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.h ^ b.h)").cast("int").as("hamming"), findable.as("findable"))
      .filter(col("hamming") <= 3)
      .localCheckpoint(true)
    val found = pairs.select("id_a", "id_b")
    val missing = expected.filter(col("findable")).select("id_a", "id_b").except(found).count()
    val extra = found.except(expected.select("id_a", "id_b")).count()
    val hotPairs = pairs.filter(col("id_a") >= 2000000000L).count()
    val maxOrganic = graft.operators.Fingerprint.bandsOf(all, "id", "h", 64, 4)
      .filter(col("band") =!= 0L).groupBy("pos", "band").count()
      .agg(max("count")).as[Long].head()
    check(missing == 0, s"$missing findable planted pairs missing")
    check(extra == 0, s"$extra pairs outside the planted clusters")
    check(hotPairs == 0, s"$hotPairs pairs from the capped pile")
    check(maxOrganic < 1000, s"an organic bucket reached $maxOrganic")
    put("n_hashes" -> (n + 2 * nClusters + hotCopies), "n_clusters" -> nClusters,
      "hot_copies" -> hotCopies, "pairs_found" -> pairs.count(), "pairs_expected" -> expected.count(),
      "capped_away" -> expected.filter(!col("findable")).count(), "missing" -> missing,
      "extra" -> extra, "hot_pairs" -> hotPairs, "hot_pairs_prevented" -> hotCopies * (hotCopies - 1) / 2,
      "max_organic_bucket" -> maxOrganic)
    verdict()
  }

  /** Batched BPE training: n merges over the pairwise expansion of the
    * fixture vocabulary (every 2-word concatenation, frequency mixed
    * from the base ones; the fixture alone has ~31 tokens, too few for
    * deep merge chains). The evidence is the driver round count, which
    * scales like m / batch, not m. Checks: n merges, all distinct, and
    * the merge table compresses the vocabulary. Cross-round exactness
    * is BpeSpec's batched == sequential property. */
  private def bpeBatchedTrain(r: Run): Unit = {
    import r._
    val m = n.toInt
    val base = graft.sources.Tables(spark, corpus, "documents")
      .select(explode(expr(graft.functions.TextFunctions.tokensSql("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val vocab = base.select(col("word").as("wa"), col("freq").as("fa"))
      .crossJoin(base.select(col("word").as("wb"), col("freq").as("fb")))
      .select(concat(col("wa"), col("wb")).as("word"),
        (pmod(col("fa") * 31 + col("fb"), lit(97)) + 1).as("freq"))
      .groupBy("word").agg(max("freq").as("freq"))
      .localCheckpoint(true)
    val batches = mutable.ArrayBuffer.empty[Int]
    val merges = timed("train_sec")(graft.operators.Bpe.train(vocab, "word", "freq", m,
      onRound = bs => { batches += bs; () }))
    val applied = graft.operators.Bpe.subwordCounts(vocab, "word", "freq", merges)
      .agg(sum("n_subwords")).head.getLong(0)
    val chars = vocab.agg(sum(length(col("word")))).head.getLong(0)
    put("n_words" -> vocab.count(), "merges" -> m, "driver_rounds" -> batches.size,
      "max_batch" -> batches.foldLeft(0)(math.max), "subwords_after" -> applied, "chars_before" -> chars)
    check(merges.size == m, s"trained ${merges.size} of $m merges")
    check(merges.map(mg => (mg.a, mg.b)).distinct.size == m, "duplicate merge")
    check(applied < chars, s"merges did not compress: $applied !< $chars")
  }

  /** Sparse-cosine absolute df cap (`SparseCosine.MaxDf`) on n
    * replicas of the fixture documents; at 48 replicas of sf0.1 the
    * proportional cut |docs|/10 exceeds the absolute cap, the regime
    * where the cap is the binding guard. Even docs get a per-replica
    * unique suffix token (near-dup structure without hot suffix keys);
    * every 1000th doc a shared rare marker, so the capped index still
    * pairs. Evidence: the pair mass the proportional cut alone would
    * admit against the capped index, and the real
    * `txt_sparse_cosine_pairs` query's wall on the soak corpus. */
  private def sparseCosineCap(r: Run): Unit = {
    import r._
    import graft.queries.TextDedupQueries.SparseCosine
    val dir = replicatedDocs(r,
      when(col("doc_id") % 1000 === 0, concat(col("text"), lit(" soakrare")))
        .when(col("doc_id") % 2 === 0, concat(col("text"), lit(" s"), col("doc_id"), lit("_"), col("rep")))
        .otherwise(col("text")))
    val tf = graft.operators.Dedup.stageThenSpread(graft.sources.Tables(spark, dir, "documents"),
        "__toks" -> expr(graft.functions.TextFunctions.tokensSql("text")))
      .select(col("doc_id"), explode(col("__toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val nd = tf.select("doc_id").distinct().count()
    val propCut = math.max(50L, nd / 10)
    val effCut = math.min(propCut, SparseCosine.MaxDf)
    val capped = col("df") > lit(SparseCosine.MaxDf) && col("df") <= propCut
    val ev = tf.groupBy("tok").agg(count(lit(1)).as("df")).agg(
        count(lit(1)),
        sum(when(col("df") <= effCut, 1L).otherwise(0L)),
        sum(when(capped, 1L).otherwise(0L)),
        sum(when(capped, expr("df * (df - 1) div 2")).otherwise(0L)),
        sum(when(col("df") <= effCut, expr("df * (df - 1) div 2")).otherwise(0L)))
      .head()
    val rows = timed("query_sec")(
      graft.SparkEntry.queries("txt_sparse_cosine_pairs")(spark, dir).collect())
    put("n_docs" -> nd, "proportional_cut" -> propCut, "effective_cut" -> effCut,
      "vocab" -> ev.getLong(0), "tokens_admitted" -> ev.getLong(1),
      "tokens_cap_dropped" -> ev.getLong(2), "pairs_prevented_by_cap" -> ev.getLong(3),
      "pairs_admitted" -> ev.getLong(4), "result_rows" -> rows.length)
  }

  /** Substring-window hot cap (df > 1000) applied before the pair join
    * (plan-gated in PlansSpec), on n fixture replicas with a planted
    * 100-char boilerplate footer on every 20th doc, the "same licence
    * header in a million files" shape: at 48 replicas of sf0.1 its
    * ~50 stride-1 windows each have df ≈ 12 000, where a post-join cap
    * would first build df_a × df_b ≈ 1.4×10⁸ rows per window. Evidence:
    * the pair mass the pre-join anti-join prevents against what the
    * capped index admits, and the real `dedup_substring_windows`
    * query's wall on the soak corpus. */
  private def substringHotCap(r: Run): Unit = {
    import r._
    val footer = " Shared boilerplate footer: this exact sentence is " +
      "planted on every twentieth soak document to make its windows hot."
    val dir = replicatedDocs(r,
      when(col("doc_id") % 20 === 0, concat(col("text"), lit(footer))).otherwise(col("text")))
    val docs = graft.operators.Dedup.spread(graft.sources.Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    def df(stride: Int, name: String) = docs
      .select(col("doc_id"), expr(s"graft_char_windows(text, 48, $stride)").as(Seq("win_idx", "w")))
      .select(col("doc_id"), xxhash64(col("w")).as("h"), col("w")).distinct()
      .groupBy("h", "w").agg(count(lit(1)).as(name))
    // a window's pair mass is df_a × df_b; hot windows are what the
    // pre-join cap removes from both inputs
    val ev = df(1, "df_a").join(df(8, "df_b"), Seq("h", "w"), "left")
      .select(col("df_a"), coalesce(col("df_b"), lit(0L)).as("df_b"), (col("df_a") > 1000).as("hot"))
      .agg(
        sum(when(col("hot"), 1L).otherwise(0L)),
        sum(when(col("hot"), col("df_a")).otherwise(0L)),
        sum(when(col("hot"), col("df_a") * col("df_b")).otherwise(0L)),
        sum(when(!col("hot"), col("df_a") * col("df_b")).otherwise(0L)),
        count(lit(1)))
      .head()
    val rows = timed("query_sec")(
      graft.SparkEntry.queries("dedup_substring_windows")(spark, dir).collect())
    put("n_windows" -> ev.getLong(4), "n_hot" -> ev.getLong(0), "hot_wa_rows" -> ev.getLong(1),
      "pairs_prevented_by_prejoin_cap" -> ev.getLong(2), "pairs_admitted" -> ev.getLong(3),
      "result_rows" -> rows.length)
  }

  // ── standing stores: a crawl fold against a 48× standing corpus ──
  // The standing corpus is n shifted replicas of a fixture table, the
  // crawl one more; is the crawl fold batch-proportional, and does the
  // folded store answer exactly what a rebuild over the union does?

  /** Lexical index fold ([[graft.streaming.DocStreams.indexIngest]]).
    * Checks: the crawl fold wrote only its own `batch=1` partitions
    * (append-only I/O) and the served ranking equals
    * [[graft.operators.Lexical.bm25]] over the union row for row. */
  private def lexicalIndexFold(r: Run): Unit = {
    import r._
    import r.spark.implicits._
    val base = docs("doc_id", "text")
    val standing = replicas(base, "doc_id", 0, n).localCheckpoint(true)
    val crawl = replicas(base, "doc_id", n, n + 1).localCheckpoint(true)
    val queries = Seq((0L, "spark hash join"), (1L, "stream window agg"),
      (2L, "fast vector scan"), (3L, "customer query filter"))
      .toDF("query_id", "qtext").localCheckpoint(true)
    val tbl = tmp("graft_lexsoak")
    def rows(df: DataFrame) = df.as[(Long, String)].collect().toSeq
    ingestTwo(Seq("doc_id", "text"), rows(standing), rows(crawl),
      ("standing_fold_sec", "crawl_fold_sec"))(graft.streaming.DocStreams.indexIngest(_, tbl))
    val appendOnly = batchParts(tbl, "postings") && batchParts(tbl, "doclens")
    val expected = timed("rebuild_sec")(graft.operators.Lexical.bm25(
      standing.unionByName(crawl), queries, 5).collect().map(_.toSeq).toSet)
    val served = timed("serve_sec")(graft.operators.Lexical.searchStore(
      spark, tbl, queries, 5).collect().map(_.toSeq).toSet)
    put("n_base" -> base.count(), "n_standing" -> base.count() * n,
      "n_docs" -> graft.operators.Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0),
      "ranking_exact" -> (served == expected), "append_only" -> appendOnly)
    check(appendOnly, "the crawl fold touched more than its own batch=1 partitions")
    check(served == expected, "served ranking != batch-built ranking")
  }

  /** Dense twin of `lexical_index_fold`
    * ([[graft.streaming.VectorStreams.vectorIndexIngest]]) over the
    * fixture `embeddings`. Checks: append-only I/O, and
    * `searchVectorStore` over 32 probes equals `lshTopKMultiTable`
    * built in session over the union. */
  private def vectorIndexFold(r: Run): Unit = {
    import r._
    import r.spark.implicits._
    val (dim, tp, nt) = (64, 7, 16)
    val base = graft.sources.Tables(spark, corpus, "embeddings").select("vec_id", "embedding")
      .localCheckpoint(true)
    val standing = replicas(base, "vec_id", 0, n).localCheckpoint(true)
    val crawl = replicas(base, "vec_id", n, n + 1).localCheckpoint(true)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val tbl = tmp("graft_vecsoak")
    ingestTwo(Seq("vec_id", "embedding"), rows(standing), rows(crawl),
      ("standing_fold_sec", "crawl_fold_sec"))(
      graft.streaming.VectorStreams.vectorIndexIngest(_, tbl, dim, tp, nt))
    val appendOnly = batchParts(tbl, "buckets") && batchParts(tbl, "vectors")
    val union = standing.unionByName(crawl).localCheckpoint(true)
    val expected = timed("rebuild_search_sec") {
      graft.operators.Knn.lshTopKMultiTable(
          graft.operators.Knn.withLshTables(union, "embedding", dim, tp, nt),
          "vec_id", "embedding", col("vec_id") < 32, 3)
        .select(col("query_id"), col("rnk").cast("long"), col("cand_id"), col("cosine"))
        .collect().map(_.toSeq).toSet
    }
    val served = timed("serve_sec") {
      graft.streaming.VectorStreams.searchVectorStore(
          spark, tbl, union.filter(col("vec_id") < 32), dim, tp, nt, 3)
        .select(col("query_id"), col("rnk"), col("cand_id"), col("cosine"))
        .collect().map(_.toSeq).toSet
    }
    put("n_base" -> base.count(), "n_standing" -> base.count() * n,
      "n_vecs" -> graft.operators.Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0),
      "ranking_exact" -> (served == expected), "append_only" -> appendOnly)
    check(appendOnly, "the crawl fold touched more than its own batch=1 partitions")
    check(served == expected, "served ranking != in-session index ranking")
  }

  /** NB model fold ([[graft.streaming.ModelStreams.nbModelIngest]]):
    * the crawl fold only tokenizes the batch; its store-sized work is
    * the vocabulary-keyed count merge. Checks: the folded sufficient
    * statistics equal a from-scratch retrain of the union exactly
    * (additive counts), and classifications served from the store
    * equal the retrained model's batch predictions on an unseen
    * replica, scores included. */
  private def nbModelFold(r: Run): Unit = {
    import r._
    import r.spark.implicits._
    import graft.operators.Classify
    val base = docs("doc_id", "text", "lang")
    def labelled(from: Long, until: Long) = replicas(base, "doc_id", from, until)
      .select(col("doc_id"), col("text"), col("lang").as("label")).localCheckpoint(true)
    val (standing, crawl) = (labelled(0, n), labelled(n, n + 1))
    def rows(df: DataFrame) = df.as[(Long, String, String)].collect().toSeq
    val tbl = tmp("graft_modelsoak")
    ingestTwo(Seq("doc_id", "text", "label"), rows(standing), rows(crawl),
      ("standing_fold_sec", "crawl_fold_sec"))(graft.streaming.ModelStreams.nbModelIngest(_, tbl))
    // retrain of the union, written to parquet like the fold's own write
    val retrainDir = tmp("graft_modelretrain")
    timed("retrain_sec") {
      val m = Classify.nbTrain(standing.unionByName(crawl), "doc_id", "text", "label")
      m.condCounts.write.mode("overwrite").parquet(s"$retrainDir/cond")
      m.classStats.write.mode("overwrite").parquet(s"$retrainDir/cstats")
    }
    val stored = graft.streaming.ModelStreams.nbModelFromStore(spark, tbl)
    val (rcond, rstats) =
      (spark.read.parquet(s"$retrainDir/cond"), spark.read.parquet(s"$retrainDir/cstats"))
    def same(a: DataFrame, b: DataFrame) = a.except(b).isEmpty && b.except(a).isEmpty
    val foldEqRetrain = same(stored.condCounts, rcond) && same(stored.classStats, rstats)
    val probe = replicas(base.select("doc_id", "text"), "doc_id", n + 1, n + 2).localCheckpoint(true)
    def preds(df: DataFrame) = df.select("doc_id", "pred_label", "score")
      .as[(Long, String, Double)].collect().toSet
    val m2 = Classify.NbModel(rcond, rstats, rcond.select("term").distinct())
    val want = preds(Classify.nbPredict(
      Classify.nbScores(Classify.nbLogProbs(m2), Classify.nbPriors(m2), probe)))
    val got = timed("serve_sec")(preds(graft.streaming.ModelStreams.nbServeFromStore(probe, tbl)))
    val servedExact = got == want && want.nonEmpty
    put("n_base" -> base.count(), "n_standing" -> base.count() * n, "n_docs" -> base.count() * (n + 1),
      "fold_eq_retrain" -> foldEqRetrain, "served_exact" -> servedExact)
    check(foldEqRetrain, "folded NB statistics != retrained ones")
    check(servedExact, "store-served classifications != retrained batch predictions")
  }

  /** Dedup store fold ([[graft.streaming.DocStreams.dedupFoldBatch]]):
    * the crawl fold against a one-shot fold of the union into a fresh
    * store. Checks: the crawl fold added only `batch=1` partitions and
    * left the standing ones untouched (mtime), and the folded cluster
    * labelling equals the one-shot clustering row for row. */
  private def dedupStoreFold(r: Run): Unit = {
    import r._
    val base = docs("doc_id", "text")
    val standing = replicas(base, "doc_id", 0, n).localCheckpoint(true)
    val crawl = replicas(base, "doc_id", n, n + 1).localCheckpoint(true)
    val tbl = tmp("graft_dedupsoak")
    timed("standing_fold_sec")(graft.streaming.DocStreams.dedupFoldBatch(standing, tbl, 0L))
    val mtime0 = new java.io.File(s"$tbl/bands/batch=0").lastModified()
    timed("crawl_fold_sec")(graft.streaming.DocStreams.dedupFoldBatch(crawl, tbl, 1L))
    val appendOnly = batchParts(tbl, "bands") && batchParts(tbl, "hashes") &&
      new java.io.File(s"$tbl/bands/batch=0").lastModified() == mtime0
    val union = standing.unionByName(crawl).localCheckpoint(true)
    val tbl2 = tmp("graft_dedupsoak2")
    timed("rebuild_sec")(graft.streaming.DocStreams.dedupFoldBatch(union, tbl2, 0L))
    val folded = graft.operators.Lakehouse.readCurrent(spark, tbl, "clusters")
    val oneShot = graft.operators.Lakehouse.readCurrent(spark, tbl2, "clusters")
    val clustersExact = folded.except(oneShot).isEmpty && oneShot.except(folded).isEmpty &&
      folded.count() > 0
    put("n_base" -> base.count(), "n_standing" -> base.count() * n, "n_docs" -> base.count() * (n + 1),
      "append_only" -> appendOnly, "clusters_exact" -> clustersExact)
    check(appendOnly, "the crawl fold touched more than its own batch=1 partitions")
    check(clustersExact, "folded clustering != one-shot clustering of the union")
  }

  /** The full curation-at-ingest cycle
    * ([[graft.streaming.DocStreams.curationIngest]]): dedup-store fold
    * plus the per-doc near-dup/quality/classification manifest, with
    * model stores folded once from the fixture's train split. Every
    * crawl doc is a shifted copy of a smaller-id standing doc, so dup
    * recall should be high and false flags cannot happen (pairs are
    * verified Jaccard); the evidence reports it. */
  private def curationIngest(r: Run): Unit = {
    import r._
    import r.spark.implicits._
    val base = docs("doc_id", "text", "lang")
    val standing = replicas(base, "doc_id", 0, n).select("doc_id", "text").localCheckpoint(true)
    val crawl = replicas(base, "doc_id", n, n + 1).select("doc_id", "text").localCheckpoint(true)
    val (dedupDir, lmDir, nbDir, manifestDir) =
      (tmp("graft_cs_dedup"), tmp("graft_cs_lm"), tmp("graft_cs_nb"), tmp("graft_cs_m"))
    val train = base.filter(col("doc_id") % 5 =!= 0)
    graft.streaming.ModelStreams.foldLmBatch(train.select("doc_id", "text"), lmDir, 0L)
    graft.streaming.ModelStreams.foldNbBatch(
      train.select(col("doc_id"), col("text"), col("lang").as("label")), nbDir, 0L)
    def rows(df: DataFrame) = df.as[(Long, String)].collect().toSeq
    ingestTwo(Seq("doc_id", "text"), rows(standing), rows(crawl),
      ("standing_cycle_sec", "crawl_cycle_sec"))(
      graft.streaming.DocStreams.curationIngest(_, dedupDir, lmDir, nbDir, manifestDir))
    val m1 = spark.read.parquet(s"$manifestDir/batch=1")
    val nRows = m1.count()
    val nDup = m1.filter(col("drop_dup")).count()
    put("n_base" -> base.count(), "n_standing" -> base.count() * n, "n_crawl" -> nRows,
      "crawl_dup_flagged" -> nDup, "dup_recall_e6" -> (if (nRows == 0) 0L else nDup * 1000000L / nRows),
      "lowq_flagged" -> m1.filter(col("drop_quality")).count(),
      "classified" -> m1.filter(col("pred_lang").isNotNull).count())
  }

  // ── graphs and time series ───────────────────────────────────────

  /** Relaxation-round graph family on closed forms: a perfect binary
    * tree over ids 1..n−1 (a node's level is ⌊log₂ i⌋) plus a mega-hub
    * (node 0 → every id ≡ 0 mod 16), whose whole adjacency is one
    * shuffle key every round. Multi-source BFS (root + the 1024
    * level-10 nodes, 4 rounds, tree only: 64 sources are hub
    * neighbours) has count(h) = 2ʰ + 2¹⁰⁻ʰ + 2¹⁰⁺ʰ per hop, 1 + 2¹⁰ at
    * h = 0; one BFS round from the hub reaches its (n − 16)/16
    * neighbours; SSSP with weights 1 + (child mod 7) matches a driver
    * recomputation; temporalReach with edge time = child level gives
    * arrival = level, and start time 3 strands the root; k-core (k = 3)
    * on tree + K₅ + a bridge unravels one tree level per peel round
    * and leaves exactly the clique at core degree 4. Needs n ≥ 2¹⁵ (the
    * BFS reaches level 14). Checks: every one of those closed forms. */
  private def graphRelaxation(r: Run): Unit = {
    import r._
    import r.spark.implicits._
    import graft.operators.Components
    val tree = binaryTree(spark, n)
    val edges = tree.unionAll(megaHub(spark, n))
    def hist(df: DataFrame) = df.groupBy("hops").count().as[(Long, Long)].collect().toMap
    val bfs = timed("bfs_sec")(hist(Components.bfsHops(tree, "a", "b",
      spark.range(1L << 10, 1L << 11).toDF("id").unionAll(Seq(1L).toDF("id")), "id", 4)))
    val bfsExact = bfs == Map(0L -> (1L + (1L << 10))) ++
      (1L to 4L).map(h => h -> ((1L << h) + (1L << (10 - h)) + (1L << (10 + h))))
    val hub = timed("hub_sec")(hist(Components.bfsHops(edges, "a", "b", Seq(0L).toDF("id"), "id", 1)))
    val hubExact = hub == Map(0L -> 1L, 1L -> ((n - 16) / 16))
    def byId(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sssp = timed("sssp_sec")(byId(Components.ssspRounds(edges.withColumn("w", expr("1 + b % 7")),
      "a", "b", "w", Seq(1L).toDF("id"), "id", 3)))
    val ssspWant = (2L until 16L).foldLeft(Map(1L -> 0L))((m, i) => m + (i -> (m(i / 2) + 1 + i % 7)))
    val tEdges = edges.withColumn("t", expr("CAST(length(bin(b)) - 1 AS BIGINT)"))
    val temporal = timed("temporal_sec")(byId(Components.temporalReach(tEdges, "a", "b", "t",
      Seq(1L).toDF("id"), "id", 4)))
    val tempExact = temporal.size == 31 &&
      temporal.forall { case (id, arr) => arr == 63 - java.lang.Long.numberOfLeadingZeros(id) }
    val late = Components.temporalReach(tEdges, "a", "b", "t", Seq(1L).toDF("id"), "id", 4,
      startTime = 3L).collect()
    val lateExact = late.length == 1 && late(0).getLong(0) == 1L
    val clique = (1L to 5L).map(n + _)
    val kcoreEdges = tree
      .unionAll((for (i <- clique; j <- clique if i < j) yield (i, j)).toDF("a", "b"))
      .unionAll(Seq((1L, n + 1)).toDF("a", "b"))
    val core = timed("kcore_sec")(byId(Components.kCore(kcoreEdges, "a", "b", k = 3, maxRounds = 40)))
    val kcoreExact = core == clique.map(_ -> 4L).toMap
    put("n_edges" -> edges.count(), "hub_degree" -> (n - 16) / 16, "bfs_labelled" -> bfs.values.sum,
      "bfs_hist_exact" -> bfsExact, "hub_round_exact" -> hubExact, "sssp_labelled" -> sssp.size,
      "sssp_exact" -> (sssp == ssspWant), "temporal_exact" -> tempExact,
      "temporal_start_gate_exact" -> lateExact, "kcore_survivors" -> core.size, "kcore_exact" -> kcoreExact)
    check(bfsExact, s"multi-source BFS histogram $bfs")
    check(hubExact, s"hub round $hub")
    check(sssp == ssspWant, "SSSP distances differ from the driver recomputation")
    check(tempExact, "temporal arrivals != levels")
    check(lateExact, "start time 3 did not strand the root")
    check(kcoreExact, s"k-core survivors $core")
  }

  /** [[graft.operators.Components.mergeIncremental]] against a full
    * rebuild on the `graph_relaxation` construction: the stored state
    * is the tree's one component (label 1); folding the mega-hub batch
    * (a star onto that single stored label) moves every vertex to
    * component 0, the hub being the new minimum; folding a disjoint
    * 1000-vertex chain at 10M adds first-seen vertices and passes the
    * store through untouched. Checks: every label and count. */
  private def incrementalCc(r: Run): Unit = {
    import r._
    import graft.operators.Components
    val tree = binaryTree(spark, n)
    val hub = megaHub(spark, n)
    val chain = spark.range(10000000L, 10000999L).select(col("id").as("a"), (col("id") + 1).as("b"))
    def labelled(df: DataFrame, lbl: Long) = df.filter(col("component") =!= lbl).count() == 0L
    val stored = timed("stored_sec")(
      Components.connectedComponents(tree, "a", "b").localCheckpoint(true))
    check(labelled(stored, 1L), "tree label != 1")
    val folded = timed("fold_hub_sec")(
      Components.mergeIncremental(stored, hub, "a", "b").localCheckpoint(true))
    check(folded.count() == n, s"fold vertex count ${folded.count()} != $n") // 1..n−1 plus the hub
    check(labelled(folded, 0L), "fold label != 0")
    val folded2 = timed("fold_chain_sec")(
      Components.mergeIncremental(folded, chain, "a", "b").localCheckpoint(true))
    check(folded2.count() == n + 1000, "chain vertices missing")
    check(labelled(folded2.filter(col("id") < 10000000L), 0L), "the store did not pass through")
    check(labelled(folded2.filter(col("id") >= 10000000L), 10000000L), "chain label != 10000000")
    val full = timed("full_rebuild_sec")(Components.connectedComponents(
      tree.unionAll(hub).unionAll(chain), "a", "b").localCheckpoint(true))
    check(full.count() == n + 1000, "full rebuild vertex count")
    put("n_edges" -> (tree.count() + hub.count() + chain.count()))
    verdict()
  }

  /** Per-user time-series queries (`ts_ewma_dyadic`,
    * `anomaly_trailing_z`, `ts_rolling_median`, `ts_drawdown`, the
    * registered SparkEntry queries) under the worst key skew a window
    * can face: one hub user owning n events, all in one window
    * partition, i.e. one task. They keep O(taps) state, so a hub costs
    * seconds, not an OOM. The hub's events are one second apart at
    * 5.00, with a 1000.00 spike every n/10 events (the last on its
    * final row); the crowd is n/10⁴ users × 1000 events at 7.00.
    * Closed forms: EWMA settles to num = 255·c on every full-weight
    * spike-free row (hub: n − 7 head − 73 spike-touched, 9 spikes × 8
    * taps + the final one; crowd: 993 per user); the anomaly detector
    * flags exactly the ten spikes (one spike in a 20-row baseline
    * inflates the variance enough that followers stay under 3σ); the
    * rolling median never moves (one spike among 15 cannot reach the
    * middle order statistics); the hub's max drawdown is spike − c and
    * the crowd's 0. Needs n a multiple of 10 of at least 1000. */
  private def tsHubUser(r: Run): Unit = {
    import r._
    require(n % 10 == 0 && n >= 1000, s"ts_hub_user needs n a multiple of 10, at least 1000: $n")
    val (gap, users) = (n / 10, math.max(1L, n / 10000))
    val dir = tmp("graft_tssoak")
    val t0 = 1704067200000000000L // 2024-01-01T00:00:00Z in ns
    val hub = spark.range(0, n).select(col("id").as("event_id"),
      (lit(t0) + col("id") * 1000000000L).as("ts"), lit(1L).as("user_id"),
      when(col("id") % gap === gap - 1, lit(1000.0)).otherwise(lit(5.0)).as("value"))
    val crowd = spark.range(0, users * 1000).select((col("id") + 2 * n).as("event_id"),
      (lit(t0) + expr(s"id div $users") * 1000000000L).as("ts"),
      (col("id") % users + 100L).as("user_id"), lit(7.0).as("value"))
    hub.unionAll(crowd).write.mode("overwrite").parquet(s"$dir/events.parquet")
    def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
    val isHub = col("user_id") === 1
    def rowsWhere(c: Column) = sum(when(c, 1L).otherwise(0L))

    val ewma = timed("ewma_sec")(q("ts_ewma_dyadic").agg(
      rowsWhere(isHub && col("wsum") === 255 && col("ewma_num") === 255L * 500),
      rowsWhere(!isHub && col("wsum") === 255 && col("ewma_num") === 255L * 700),
      count(lit(1))).head())
    check(ewma.getLong(0) == n - 80, s"hub settled: ${ewma.getLong(0)}")
    check(ewma.getLong(1) == 993L * users, s"crowd settled: ${ewma.getLong(1)}")
    check(ewma.getLong(2) == n + 1000 * users, s"rows: ${ewma.getLong(2)}")
    val flags = timed("anomaly_sec")(q("anomaly_trailing_z").select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    check(flags == (0 until 10).map(k => (1L, gap - 1 + k * gap)).toSet, s"flags: $flags")
    val med = timed("median_sec")(q("ts_rolling_median").agg(
      rowsWhere(isHub && col("med2") === 1000L), rowsWhere(!isHub && col("med2") === 1400L)).head())
    check(med.getLong(0) == n, s"hub med: ${med.getLong(0)}")
    check(med.getLong(1) == 1000L * users, s"crowd med: ${med.getLong(1)}")
    val dd = timed("drawdown_sec")(q("ts_drawdown").agg(
      rowsWhere(isHub && col("max_drawdown") === 99500L && col("peak") === 100000L &&
        col("n_events") === n),
      rowsWhere(!isHub && col("max_drawdown") === 0L && col("peak") === 700L),
      count(lit(1))).head())
    check(dd.getLong(0) == 1L, s"hub drawdown row: ${dd.getLong(0)}")
    check(dd.getLong(1) == users, s"crowd drawdown rows: ${dd.getLong(1)}")
    check(dd.getLong(2) == users + 1, s"users: ${dd.getLong(2)}")
    put("rows" -> (n + 1000 * users), "hub_rows" -> n)
    verdict()
  }

  // ── sources ──────────────────────────────────────────────────────

  /** JDBC range-partitioned cursors under key skew (the
    * one-patient-many-labs shape `CnicsSkewSoak` pins on the join side,
    * here at ingest), on embedded Derby with an index on each partition
    * column. n patients: patient 1 holds 100·n labs, loaded first
    * (physically clustered), the rest 10 each. Partitioning on
    * PatientId serializes (range strides are value-space, so the hot
    * cursor holds ≥ 90% of the rows; no Spark setting fixes that);
    * partitioning on the table's monotone LabSeq, the surrogate every
    * real CNICS table carries, arrives balanced (max ≤ 1.5 × mean) and
    * leaves the skew to the join's AQE split. Checks: both, and no row
    * lost. */
  private def jdbcSkewCursors(r: Run): Unit = {
    import r._
    val (hotLabs, coldEach, nCursors) = (100 * n, 10, 8)
    val nRows = hotLabs + coldEach * (n - 1)
    val url = s"jdbc:derby:${tmp("graft_jdbcskew")}/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    timed("wall_load_sec") {
      try {
        val st = conn.createStatement()
        st.execute("""CREATE TABLE lab ("LabSeq" BIGINT, "PatientId" BIGINT,
          "TestName" VARCHAR(16), "Result" VARCHAR(16))""")
        st.execute("""CREATE INDEX lab_seq ON lab ("LabSeq")""")
        st.execute("""CREATE INDEX lab_pat ON lab ("PatientId")""")
        st.close()
        conn.setAutoCommit(false)
        val ins = conn.prepareStatement("INSERT INTO lab VALUES (?, ?, ?, ?)")
        var seq = 0L
        def row(pid: Long): Unit = {
          ins.setLong(1, seq); ins.setLong(2, pid)
          ins.setString(3, "CD4"); ins.setString(4, (seq % 1500).toString)
          ins.addBatch(); seq += 1
          if (seq % 5000 == 0) { ins.executeBatch(); conn.commit() }
        }
        (0L until hotLabs).foreach(_ => row(1L))
        (2L to n).foreach(p => (0 until coldEach).foreach(_ => row(p)))
        ins.executeBatch(); conn.commit()
        ins.close()
      } finally conn.close()
    }
    // rows per cursor: one Spark input partition per range stride
    def cursorCounts(partCol: String, lower: Long, upper: Long): Seq[Long] =
      graft.sources.JdbcSource.partitionedTable(spark, url, "lab", partCol, lower, upper, nCursors)
        .groupBy(spark_partition_id()).count()
        .collect().map(_.getLong(1)).toSeq
    val bySeq = timed("wall_surrogate_sec")(cursorCounts("\"LabSeq\"", 0L, nRows))
    val byPat = timed("wall_hotkey_sec")(cursorCounts("\"PatientId\"", 1L, n))
    val seqMean = bySeq.sum.toDouble / nCursors
    val balanced = bySeq.max <= 1.5 * seqMean
    val serialized = byPat.max >= 0.9 * nRows
    put("n_rows" -> nRows, "hot_labs" -> hotLabs, "n_cursors" -> nCursors,
      "surrogate_key_cursor_max" -> bySeq.max, "surrogate_key_cursor_mean" -> seqMean,
      "surrogate_balanced" -> balanced, "hot_key_cursor_max" -> byPat.max,
      "hot_key_serialized" -> serialized)
    check(bySeq.sum == nRows && byPat.sum == nRows, s"row loss: ${bySeq.sum} / ${byPat.sum} vs $nRows")
    check(balanced, s"surrogate-key cursors unbalanced: $bySeq")
    check(serialized, s"hot-key cursor unexpectedly balanced (negative control): $byPat")
  }

  // ── corpus recipes shared by several scenarios ───────────────────

  /** The corpus split by vec_id parity: the standing corpus and the
    * next crawl of every two-batch store fold. */
  private def halves(vecs: DataFrame): Seq[(DataFrame, Long)] =
    Seq(0L, 1L).map(b => vecs.filter(pmod(col("vec_id"), lit(2)) === b) -> b)
  private def foldHalves(vecs: DataFrame)(fold: (DataFrame, Long) => Unit): Unit =
    halves(vecs).foreach(fold.tupled)

  /** The coarse quantizer every IVF store pins: 64 cells trained on the
    * corpus head. */
  private def coarse(vecs: DataFrame, ivfK: Int): DataFrame =
    graft.operators.Knn.ivfTrain(vecs.filter(col("vec_id") < 65536), "vec_id", "embedding", ivfK, 2)
      .localCheckpoint(true)

  /** A vector's residual against its cell's centroid (`cw`, e6-scaled
    * by 2²⁰). */
  private val Residual = "zip_with(embedding, cw, (a, b) -> CAST(a AS DOUBLE) - b / 1048576.0D)"

  /** PQ codebooks trained on the corpus head's residuals against their
    * home cells. */
  private def residualBooks(vecs: DataFrame, cent: DataFrame, pqM: Int, pqSub: Int,
      pqKs: Int): DataFrame = {
    import graft.operators.{Knn, Pq}
    val resHead = Knn.ivfRank(vecs.filter(col("vec_id") < 16384), cent, "vec_id", "embedding")
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .join(broadcast(cent.select(col("cell"), col("cw"))), Seq("cell"))
      .select(col("vec_id"), col("cell"), expr(Residual).as("rvec"))
      .localCheckpoint(true)
    Pq.train(Pq.subviews(resHead, "vec_id", "rvec", pqM, pqSub), "vec_id", pqKs, 2)
      .localCheckpoint(true)
  }

  private def maxNorm(corpus: DataFrame): Double =
    corpus.agg(max(graft.functions.VectorFunctions.norm("embedding"))).head().getDouble(0)

  /** The MIPS → cosine lift under the pinned max norm `m`: x/m with
    * the augmented component √(1 − ‖x/m‖²). (vec_id, ea). */
  private def mipsLift(corpus: DataFrame, m: Double): DataFrame = corpus
    .select(col("vec_id"), expr(s"transform(embedding, v -> CAST(v AS DOUBLE) / ${m}D)").as("sc"))
    .withColumn("s2", expr("graft_dot_d(sc, sc)"))
    .withColumn("ea", expr(
      "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
    .select("vec_id", "ea")

  /** Perfect binary tree over ids 1..n−1, edge ⌊i/2⌋ → i. (a, b). */
  private def binaryTree(spark: SparkSession, n: Long): DataFrame =
    spark.range(2, n).select(expr("id div 2").as("a"), col("id").as("b"))

  /** Node 0 → every id ≡ 0 mod 16 below n. (a, b). */
  private def megaHub(spark: SparkSession, n: Long): DataFrame =
    spark.range(16, n).filter(col("id") % 16 === 0).select(lit(0L).as("a"), col("id").as("b"))

  /** Whether a store table's partitions are exactly the standing
    * `batch=0` and the crawl's `batch=1`. */
  private def batchParts(tbl: String, table: String): Boolean =
    new java.io.File(s"$tbl/$table").listFiles().filter(_.isDirectory).map(_.getName).sorted
      .toSeq == Seq("batch=0", "batch=1")

  /** `r.n` replicas of the fixture documents (n ≤ 64: doc_id·64 + rep
    * keeps ids distinct) with the text `text`, written to a scratch sf
    * directory whose path is returned. */
  private def replicatedDocs(r: Run, text: Column): String = {
    require(r.n <= 64, s"at most 64 replicas: ${r.n}")
    val dir = r.tmp("graft_soak_docs")
    graft.sources.Tables(r.spark, r.corpus, "documents")
      .crossJoin(broadcast(r.spark.range(r.n).toDF("rep")))
      .select((col("doc_id") * 64 + col("rep")).as("doc_id"), col("source"), text.as("text"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}
