package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.Knn

/** Similarity search over `embeddings`, multimodal binary plumbing,
  * and the event-stream analytics surface (tumbling windows,
  * sessionization). Batch forms here share their logic with the
  * Structured Streaming surface in graft.streaming.
  */
object SimilarityStreamQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  val Dim = 64
  val NPlanes = 16

  // Scratch root for the multimodal fingerprint split: the decode half
  // of mm_image/audio_neardup is not SQL-expressible, so the engine
  // persists executor-decoded fingerprints here and the DuckDB oracle
  // replays the hamming join over the SAME parquet (read_parquet with
  // this literal path — the Spark write and the oracle replay run on
  // one host in the driver's gate). Fixed path by design: it is
  // interpolated into the oracle SQL string at registry-build time,
  // which also means the synthesized media MUST stay sf-independent
  // (it is: doc_id < 160/120 with fixed seeds at every scale), so
  // interleaved sf0.01/sf0.1 cycles write identical bytes.
  val MmScratchBase = "/tmp/graft_scratch"

  /** Write `df` to `$MmScratchBase/$name` via tmp dir + atomic rename,
    * so a DuckDB replay overlapping a later Verify can never observe a
    * half-written glob (mode=overwrite deletes in place), and return
    * the re-read frame the engine-side join runs over.
    *
    * Swap discipline (round-12, ADVICE): the PREVIOUS dest is renamed
    * aside to a unique trash name first, then tmp→dest is one
    * ATOMIC_MOVE — the dest-absent window is a single rename instead
    * of a recursive delete, so a concurrent DuckDB replay's glob read
    * either sees the old version or the new one. (The remaining
    * caveat stands as documented: the fixed shared scratch root means
    * the guarantee holds within one serialized verify gate, not across
    * concurrent checkouts on one host.) */
  private def writeMmScratch(s: SparkSession, name: String,
      df: DataFrame): DataFrame = {
    val dest = new java.io.File(s"$MmScratchBase/$name")
    val tmp = new java.io.File(s"$MmScratchBase/.$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val trash = new java.io.File(
      s"$MmScratchBase/.$name.trash.${System.nanoTime()}")
    if (dest.exists()) java.nio.file.Files.move(dest.toPath, trash.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(tmp.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteQuietly(trash)
    s.read.parquet(dest.getPath)
  }
  // ADVICE r13: store rows allocate their temp dirs through the
  // JVM-exit-reaped helper instead of leaking them into /tmp
  private def tempStoreDir(prefix: String): String =
    QueryDef.tempStoreDir(prefix)

  // Multi-table ANN: L tables of k planes each. The (k, L) pair is the
  // recall/cost dial: per-plane collision p = 1 - θ/π, per-table p^k,
  // union 1-(1-p^k)^L, bucket-scan fraction ≈ L/2^k of the corpus.
  // On this corpus the exact top-3 sits at mean cosine 0.344 (p≈0.61):
  // (k=8, L=8) predicts 0.147 — measured 0.146 by sim_lsh_recall —
  // and (k=7, L=16) predicts ≈0.41 at a ~12.5% scan fraction, which is
  // where the dial is set. True near-dups (cosine ≥ 0.9) collide with
  // p^k ≥ 0.8 per table and are found with near-certainty.
  val TPlanes = 7
  val NTables = 16

  // NDCG rank-2 discount 1/log2(3). Interpolated verbatim into both the
  // Spark literal and the oracle SQL (Double.toString round-trips), so
  // the two engines share one double value instead of each computing
  // its own log2 — DCG stays bit-identical.
  val W2: Double = 1.0 / (math.log(3.0) / math.log(2.0))

  // One persisted (vec_id, embedding, bucket, nrm) frame per (session,
  // dataset): bucket assignment + norms are shared by the LSH-bucket,
  // ANN-top-k and embedding-near-dup queries instead of recomputed per
  // query. Bounded cache; the scale analogue is a stored ANN index table.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Drop this session's memoized index frames (see
    * TextDedupQueries.clearMemo — benchmark cold-pass hygiene). */
  def clearMemo(s: SparkSession): Unit =
    memo.keys.filter(_._1 eq s).foreach { k =>
      memo.remove(k).foreach(_.unpersist(blocking = true))
    }

  // Standing stores built ONCE per (session, dataset) and deliberately
  // NOT dropped by clearMemo: a standing store is a persisted DISK
  // artifact — serving off an EXISTING pinned store is the measured
  // operation of the *_serve_pinned rows (train/fold cost is
  // ingest-time, amortized over every later serve; that production
  // split is exactly what the bench pairing with the train-replaying
  // one-shot rows is meant to surface — round-13 verdict #7). Nothing
  // is served from Spark memory: every serve re-reads the pinned
  // parquet, so cold-pass hygiene still holds for the serve itself.
  // Temp dirs are JVM-exit reaped like every in-row store.
  private val storeMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** The session's pinned residual IVFADC store (2-batch even/odd
    * fold, models pinned on the first fold) — built on first touch,
    * then only SERVED from ([[storeMemo]] contract). */
  private def residualStorePinned(s: SparkSession, d: String): String =
    storeMemo.getOrElseUpdate((s, d + "#respinned"), {
      val base = tempStoreDir("graft_ivfrespinned")
      val cent = ivfCentroids(s, d)
      val books = pqResCentroids(s, d)
      val emb = t(s, d, "embeddings")
      Seq(0L, 1L).foreach(b =>
        graft.streaming.VectorStreams.ivfPqResFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === b), base, b, cent, books,
          nAssign = IvfAssign, pqM = PqM, pqSub = PqSub))
      base
    })

  /** The session's pinned ALSH (MIPS) store — 2-batch even/odd fold
    * under the full-corpus MAX_NORM pin, built on first touch, then
    * only SERVED from ([[storeMemo]] contract; the residualStorePinned
    * precedent applied to the MIPS family so its production serve
    * wall-clock is benched per round, r14 verdict #6). */
  private def alshStorePinned(s: SparkSession, d: String): String =
    storeMemo.getOrElseUpdate((s, d + "#alshpinned"), {
      val base = tempStoreDir("graft_alshpinned")
      val emb = t(s, d, "embeddings")
      val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
        .head().getDouble(0)
      Seq(0L, 1L).foreach(b =>
        graft.streaming.VectorStreams.mipsAlshFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === b).select("vec_id", "embedding"),
          base, b, m, Dim, TPlanes, NTables))
      base
    })

  /** The session's pinned lifted-IVF MIPS store (2-batch even/odd fold
    * under the full-corpus M + the lifted quantizer) — built on first
    * touch, then only SERVED from ([[storeMemo]] contract; pairs with
    * [[alshStorePinned]] so BOTH MIPS serve families bench per round). */
  private def mipsIvfStorePinned(s: SparkSession, d: String): String =
    storeMemo.getOrElseUpdate((s, d + "#mipsivfpinned"), {
      val base = tempStoreDir("graft_mipsivfpinned")
      val emb = t(s, d, "embeddings")
      val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
        .head().getDouble(0)
      Seq(0L, 1L).foreach(b =>
        graft.streaming.VectorStreams.mipsIvfFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === b).select("vec_id", "embedding"),
          base, b, liftedIvfCentroids(s, d), m, nAssign = IvfAssign))
      base
    })

  /** The session's pinned lifted-IVF MIPS store WITH candidate
    * attributes (r15 verdict #1 — filtered ANN): same fold as
    * [[mipsIvfStorePinned]] plus two declared attr columns — `label`
    * (the fixture's ~10%-per-value metadata, `label < 5` ≈ 50%
    * selectivity) and `b100` = vec_id % 100 (`b100 = 0` ≈ 1%) — so the
    * pre-filter and over-fetch serve strategies have a store to
    * filter, and attrstats to estimate selectivity from. */
  private def mipsIvfAttrStorePinned(s: SparkSession, d: String): String =
    storeMemo.getOrElseUpdate((s, d + "#mipsivfattr"), {
      val base = tempStoreDir("graft_mipsivfattr")
      val emb = t(s, d, "embeddings")
        .withColumn("b100", pmod(col("vec_id"), lit(100)).cast("int"))
      val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
        .head().getDouble(0)
      Seq(0L, 1L).foreach(b =>
        graft.streaming.VectorStreams.mipsIvfFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === b)
            .select("vec_id", "embedding", "label", "b100"),
          base, b, liftedIvfCentroids(s, d), m, nAssign = IvfAssign,
          attrCols = Seq("label", "b100")))
      base
    })

  private def embBuckets(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d),
      Knn.withLshBucket(t(s, d, "embeddings"), "embedding", Dim, NPlanes)
        .select(col("vec_id"), col("embedding"), col("bucket"))
        .withColumn("nrm", graft.functions.VectorFunctions.norm("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // IVF parameters: K coarse cells, nprobe probed per query, and a
  // fixed Lloyd refinement depth. Seed centroids are the first K
  // vectors; `IvfIters` k-means rounds then sharpen them. Everything is
  // deterministic and exactly oracle-able: assignments tie-break on
  // (rounded cosine desc, cell), and centroid means are computed from
  // INTEGER-quantized components (q = floor(v·2²⁰ + 0.5), exact for
  // floats) — the per-cell sums are order-insensitive BIGINT sums, so
  // the mean's double value is bit-identical in any engine, unlike a
  // float summation whose result depends on aggregation order.
  val IvfK = 16
  val IvfProbe = 4
  val IvfIters = 3
  // Database-side multi-assignment: each vector is POSTED to its top-
  // `IvfAssign` cells (its home cell is still rank 1 — `sim_ivf_cells`
  // is unchanged in meaning). Replicated postings are the standard
  // recall lever that leaves query-side nprobe (and thus query cost)
  // fixed: a neighbor is found if ANY of its posted cells is probed.
  // Index size grows by exactly IvfAssign×; candidates are
  // distinct-deduped before scoring so nothing is scored twice.
  val IvfAssign = 2

  /** Trained centroids (cell, cw: array<double>, cn): `IvfIters` Lloyd
    * rounds from the first-K seed. Each round is one broadcast-crossjoin
    * assignment (n×K, narrow) plus one map-side-combined integer agg —
    * at 100 TB this is the standard distributed k-means shape, with only
    * the K×dim centroid frame ever checkpointed between rounds. */
  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#ivfcent"), {
      Knn.ivfTrain(t(s, d, "embeddings"), "vec_id", "embedding", IvfK, IvfIters)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** IVF index: every vector with its argmax-cosine cell (one row per
    * vector; each vector lives in exactly one cell). Broadcast the K
    * trained centroids, rank cells per vector, keep rank 1. */
  private def ivfCells(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#ivf"), {
      // derived from the capped ranked memo (r17): rank 1 is a subset
      // of the capped frame, so the rank window runs once per pass
      ivfRankedCap(s, d).filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** All (vector, cell) similarities against the TRAINED centroids,
    * ranked per vector — rank 1 is the home cell, ranks ≤ nprobe are a
    * query's probe set. */
  private def ivfRanked(s: SparkSession, d: String): DataFrame =
    Knn.ivfRank(t(s, d, "embeddings"), ivfCentroids(s, d), "vec_id", "embedding")

  /** [[ivfRanked]] capped at rank ≤ max(IvfProbe, IvfAssign), memoized
    * (r17 optimization): every IVF surface derives its probe set
    * (rn ≤ IvfProbe on the query rows), its posting set
    * (rn ≤ IvfAssign) and the home-cell index (rn = 1) from THIS one
    * persisted frame instead of re-running the n×K rank window per
    * reference — the cold path previously ranked the corpus 3×+ per
    * pass. The storage analogue at scale is the stored posting table. */
  private def ivfRankedCap(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#ivfrankcap"),
      ivfRanked(s, d).filter(col("rn") <= math.max(IvfProbe, IvfAssign))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // Double-list dot fold (same index order as graft_dot_d).
  private def dkDotD(a: String, b: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${Dim + 1}), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)"

  /** DuckDB twin of the trained-IVF pipeline: CTE chain `qv` (quantized
    * vectors) → c0 (seed) → a1/c1 … a_I/c_I (Lloyd rounds) → `rk`
    * (ranked (vector, cell) against the final centroids, same columns
    * the old untrained `rk` exposed). Centroid means divide exact
    * BIGINT sums, so every double here is bit-identical to Spark's. */
  private def dkIvfCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""qv AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm,
              |  list_transform(embedding, v -> floor(v::DOUBLE * 1048576.0 + 0.5)::BIGINT) AS qemb
              |  FROM embeddings),
              |c0 AS (SELECT vec_id AS cell, list_transform(embedding, v -> v::DOUBLE) AS cw,
              |  ${dkNorm("embedding")} AS cn FROM embeddings WHERE vec_id < $IvfK)""".stripMargin
    for (r <- 1 to IvfIters) {
      sb ++= s""",
                |a$r AS (SELECT vec_id, qemb, cell FROM (
                |  SELECT v.vec_id, v.qemb, c.cell, row_number() OVER (PARTITION BY v.vec_id
                |    ORDER BY round(${dkDotD("v.embedding", "c.cw")} / (v.nrm * c.cn), 8) DESC, c.cell) AS rn
                |  FROM qv v CROSS JOIN c${r - 1} c) WHERE rn = 1),
                |c$r AS (SELECT cell, cw, sqrt(${dkDotD("cw", "cw")}) AS cn FROM (
                |  SELECT cell, list(w ORDER BY i) AS cw FROM (
                |    SELECT cell, i, sum(qvv)::DOUBLE / count(*)::DOUBLE AS w FROM (
                |      SELECT cell, unnest(qemb) AS qvv, unnest(range(1, ${Dim + 1})) AS i FROM a$r)
                |    GROUP BY cell, i) GROUP BY cell))""".stripMargin
    }
    sb ++= s""",
              |rk AS (SELECT v.vec_id, v.embedding, v.nrm, c.cell,
              |  row_number() OVER (PARTITION BY v.vec_id
              |    ORDER BY round(${dkDotD("v.embedding", "c.cw")} / (v.nrm * c.cn), 8) DESC, c.cell) AS rn
              |  FROM qv v CROSS JOIN c$IvfIters c)""".stripMargin
    sb.toString
  }

  // Product quantization (the THIRD ANN family beside hash-based LSH
  // and partition-based IVF): each vector is compressed to PqM sub-
  // codes — the Dim-dim vector is split into PqM contiguous PqSub-dim
  // subvectors, each quantized to its nearest cell of a per-subspace
  // PqKs-centroid codebook (trained with PqIters Lloyd rounds, same
  // integer-quantized means as IVF so training replays bit-exact in
  // SQL). Search is ASYMMETRIC DISTANCE (ADC): the query builds a
  // PqM×PqKs lookup table of exact subvector→centroid distances, and
  // every candidate is scored by summing PqM table entries keyed by
  // its codes — the scan touches ONLY the PqM-byte codes (a 64× size
  // reduction at these parameters), never the raw vectors. Per-entry
  // distances are floor-quantized to integer e6 so the PqM-way sum is
  // an order-insensitive BIGINT sum (a double sum over a groupBy would
  // depend on aggregation order). Subspace distance is squared L2 with
  // a fixed sequential fold, bit-identical in both engines.
  val PqM = 8
  val PqSub = Dim / PqM
  val PqKs = 16
  val PqIters = 2

  /** Sequential-fold squared L2 distance of two double arrays — the
    * codegen'd SquaredL2 expression (same accumulation order as the
    * interpreted `aggregate(zip_with(...))` fold and the DuckDB
    * `list_reduce` twin, but a tight JVM loop: the training/search
    * path evaluates this millions of times per pass). */
  private def d2Sql(a: String, b: String) = s"graft_l2sq($a, $b)"

  /** Per-subspace views: (vec_id, m, sub: array<double>, qsub:
    * array<bigint>) — one row per (vector, subspace), qsub the exact
    * integer quantization feeding order-insensitive centroid means. */
  private def pqSubs(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#pqsub"),
      graft.operators.Pq.subviews(t(s, d, "embeddings"), "vec_id", "embedding", PqM, PqSub)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Trained per-subspace codebooks (m, cell, cw: array<double>):
    * PqIters Lloyd rounds from the first-PqKs seed, all subspaces
    * trained in ONE frame (m is a grouping column, not an unrolled
    * loop). Each round: broadcast the PqM×PqKs codebook, argmin-assign
    * per (vector, subspace), integer-mean update — the distributed
    * k-means shape, with only the codebook ever checkpointed. */
  private def pqCentroids(s: SparkSession, d: String,
      trainMax: Option[Long] = None): DataFrame =
    memo.getOrElseUpdate((s, d + "#pqcent" + trainMax.getOrElse(-1L)), {
      // trainMax bounds the TRAINING set only (stored-codebook /
      // incremental-encode story); the full corpus is still encodable
      // against the resulting codebooks
      val q = trainMax.foldLeft(pqSubs(s, d))((df, mx) => df.filter(col("vec_id") < mx))
      graft.operators.Pq.train(q, "vec_id", PqKs, PqIters)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The PQ index: (vec_id, m, code) — PqM small integers per vector.
    * This is ALL the search scan ever reads. */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#pqcode"),
      graft.operators.Pq.encode(pqSubs(s, d), "vec_id", pqCentroids(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The PACKED PQ index: (vec_id, codes array<int>) — one row per
    * vector, the layout a 100 TB code scan actually reads (the
    * [[pqCodes]] long form is the oracle-replayable view). */
  private def pqCodesPacked(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#pqcodep"),
      graft.operators.Pq.encodePacked(pqSubs(s, d), "vec_id", pqCentroids(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** SQ8 per-dimension bounds (dim, mn, mx) — the cheapest trainable
    * quantizer (one min/max aggregate). */
  private def sqBounds(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#sqb"),
      graft.operators.Sq.train(t(s, d, "embeddings"), "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The SQ8 code index: (vec_id, dim, code) — 1 byte per (vector,
    * dimension), all the ADC scan reads. */
  private def sqCodes(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#sqc"),
      graft.operators.Sq.encode(t(s, d, "embeddings"), "vec_id", "embedding",
          sqBounds(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The PACKED code index: (vec_id, codes array<int>) — one row per
    * vector, what a 100 TB scan actually reads. */
  private def sqCodesPacked(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#sqcp"),
      graft.operators.Sq.encodePacked(t(s, d, "embeddings"), "vec_id", "embedding",
          sqBounds(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // DuckDB twin of the SQ8 pipeline: xv (exploded double components) →
  // sqb (per-dim bounds) → sqc (codes) → slut (per-query (dim, code)
  // ADC table over all 256 reconstructions) → sadc (BIGINT-summed ADC
  // ranking for probes vec_id < 32). Every double is a fixed single-op
  // sequence spelled identically to the engine (Sq.scala).
  private def dkSqCtes: String =
    s"""xv AS (SELECT vec_id, unnest(range(0, $Dim)) AS dim,
       |    unnest(list_transform(embedding, v -> v::DOUBLE)) AS v
       |  FROM embeddings),
       |sqb AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM xv GROUP BY dim),
       |sqc AS (SELECT vec_id, dim,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE least(greatest(floor((v - mn) / (mx - mn) * 255.0 + 0.5), 0.0), 255.0)::INT END AS code
       |  FROM xv JOIN sqb USING (dim)),
       |slut AS (SELECT query_id, dim, code,
       |    floor((v - recon) * (v - recon) * 1000000.0)::BIGINT AS dq_e6
       |  FROM (SELECT q.vec_id AS query_id, q.dim, cd.code, q.v,
       |      CASE WHEN b.mx = b.mn THEN b.mn
       |           ELSE b.mn + cd.code::DOUBLE / 255.0 * (b.mx - b.mn) END AS recon
       |    FROM xv q JOIN sqb b USING (dim)
       |    CROSS JOIN (SELECT unnest(range(0, 256)) AS code) cd
       |    WHERE q.vec_id < 32)),
       |sadc AS (SELECT query_id, cand_id, adist_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist_e6, cand_id) AS rnk
       |  FROM (SELECT l.query_id, c.vec_id AS cand_id, sum(l.dq_e6)::BIGINT AS adist_e6
       |    FROM sqc c JOIN slut l ON l.dim = c.dim AND l.code = c.code
       |    WHERE c.vec_id <> l.query_id GROUP BY 1, 2))""".stripMargin

  // full-dim squared-L2 with the same sequential fold as graft_l2sq
  private def dkD2Full(a: String, b: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${Dim + 1}), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), (x, y) -> x + y)"

  /** ADC ranking over the code index for queries vec_id < 32 (rows up
    * to rnk ≤ `keep`). rnk ≤ 3 is the pure-ADC answer; rnk ≤ 20 is the
    * shortlist the exact re-rank stage rescores. */
  private[graft] def pqAdcRanked(s: SparkSession, d: String, keep: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val lut = pqSubs(s, d).filter(col("vec_id") < 32)
      .join(broadcast(pqCentroids(s, d)), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("cell").as("code"),
        expr(s"CAST(floor(${d2Sql("sub", "cw")} * 1000000.0D) AS BIGINT)").as("dq_e6"))
    val ranked = pqCodes(s, d).select(col("vec_id").as("cand_id"), col("m"), col("code"))
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
    adcTopK(ranked, keep)
  }

  /** Bounded-heap top-k by (adist_e6 asc, cand_id asc) — the exact
    * total order `row_number().over(orderBy(adist, cand))` gives, but
    * as a map-side-combining ObjectHashAggregate instead of a
    * full-shuffle-then-sort Window: the shuffle carries O(k) entries
    * per query per mapper, not every scored candidate (plan-gated in
    * PqSpec). Score = −adist_e6 (exact: ADC sums are ≤ ~2³⁰, far
    * inside the double-exact integer range); payload tie-break asc
    * matches the window's cand_id asc. */
  private def adcTopK(scored: DataFrame, keep: Int,
      distCol: String = "adist_e6"): DataFrame = {
    val topk = udaf(graft.functions.TopKAgg.longs(keep))
    scored
      .groupBy("query_id")
      .agg(topk((-col(distCol)).cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        (-col("e._1")).cast("long").as(distCol),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Bounded-heap top-k by (score desc, cand_id asc) over BIGINT
    * scores — the [[adcTopK]] twin for descending integer scores
    * (int8 dots ≤ 64·127² ≈ 1.03e6 and e6-floored unit-vector inner
    * products ≤ 64e6 are both exact in double, so the heap's double
    * score round-trips the long losslessly).
    * Output: (query_id, cand_id, <scoreCol>, rnk). */
  private def int8TopK(scored: DataFrame, keep: Int,
      scoreCol: String = "score"): DataFrame = {
    val topk = udaf(graft.functions.TopKAgg.longs(keep))
    scored
      .groupBy("query_id")
      .agg(topk(col(scoreCol).cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        col("e._1").cast("long").as(scoreCol),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** IVF×PQ composition (the production 100 TB ANN shape): the trained
    * coarse quantizer prunes the corpus to the `IvfProbe` probed cells
    * per query FIRST, and the ADC LUT scan then touches only codes of
    * candidates posted to a probed cell — candidates ≈ nprobe·assign/K
    * of the corpus instead of 100% of it. The candidate frame is
    * queries × (corpus/K × nprobe × assign) rows, broadcast against
    * the code index, so the big `pqCodes` scan is pruned by a
    * broadcast join BELOW the ADC aggregate (plan-gated in PqSpec). */
  private[graft] def pqIvfAdcRanked(s: SparkSession, d: String, keep: Int): DataFrame =
    adcTopK(pqIvfAdcScored(s, d), keep)

  /** All coarse-pruned (query, candidate) pairs with their raw-code
    * ADC estimate — [[pqIvfAdcRanked]] before the heap (also the frame
    * the distortion pin measures). */
  private[graft] def pqIvfAdcScored(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val lut = pqSubs(s, d).filter(col("vec_id") < 32)
      .join(broadcast(pqCentroids(s, d)), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("cell").as("code"),
        expr(s"CAST(floor(${d2Sql("sub", "cw")} * 1000000.0D) AS BIGINT)").as("dq_e6"))
    // the coarse prune is the SHARED ivfCandPairs builder — the
    // residual estimator's "identical pair set" contract
    // (pq_ivfres_distortion, PqSpec keySet equality) holds by
    // construction, not by two hand-synced copies
    pqCodes(s, d).select(col("vec_id").as("cand_id"), col("m"), col("code"))
      .join(broadcast(ivfCandPairs(s, d)), Seq("cand_id")) // prune BEFORE the LUT scan
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
  }

  /** The production PQ pipeline: ADC shortlist of 20 per query (codes
    * only), then EXACT re-rank of just those 20 candidates against the
    * true vectors — raw-ADC recall@3 on this corpus is 0.26 (the cost
    * of 64× compression); the rerank recovers the rest at a fixed
    * 20-vector fetch per query. */
  private def pqRerankTop3(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val short = pqAdcRanked(s, d, 20).select("query_id", "cand_id")
    val subs = pqSubs(s, d)
    short
      .join(subs.select(col("vec_id").as("query_id"), col("m"), col("sub").as("q_sub")),
        Seq("query_id"))
      .join(subs.select(col("vec_id").as("cand_id"), col("m"), col("sub").as("c_sub")),
        Seq("cand_id", "m"))
      .withColumn("d_e6",
        expr(s"CAST(floor(${d2Sql("q_sub", "c_sub")} * 1000000.0D) AS BIGINT)"))
      .groupBy("query_id", "cand_id").agg(sum("d_e6").as("dist_e6"))
      .transform(adcTopK(_, 3, "dist_e6"))
  }

  /** The PACKED IVF×PQ composition — [[pqIvfAdcRanked]] with the code
    * scan riding the codegen'd `graft_adc_sum` kernel over one
    * (vec_id, codes) row per candidate instead of the exploded
    * (vec_id, m, code) ⋈ LUT join (|cand| kernel calls vs |cand|·m
    * joined rows). This is the plan the packed standing store serves
    * ([[graft.streaming.VectorStreams.ivfPqServeFromStore]]); integer
    * ADC sums are order-insensitive, so the exploded form's oracle
    * pins it verbatim. */
  private[graft] def pqIvfAdcPackedRanked(s: SparkSession, d: String,
      keep: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // the coarse prune is the SHARED memoized ivfCandPairs frame (r17:
    // this site re-derived the identical probes × posts pair set
    // inline, ranking the corpus twice more per cold pass)
    val cand = ivfCandPairs(s, d)
    val lut = graft.operators.Pq.adcLutFlat(
        pqSubs(s, d).filter(col("vec_id") < 32), "vec_id", pqCentroids(s, d), PqKs)
      .withColumnRenamed("vec_id", "query_id")
    val ranked = pqCodesPacked(s, d).select(col("vec_id").as("cand_id"), col("codes"))
      .join(broadcast(cand), Seq("cand_id")) // coarse prune BEFORE the kernel scan
      .join(broadcast(lut), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        expr(s"graft_adc_sum(codes, lut, $PqKs)").as("adist_e6"))
    adcTopK(ranked, keep)
  }

  /** Exact rerank of the IVF×PQ ADC shortlist (composition twin of
    * [[pqRerankTop3]]): same 20-candidate exact rescoring, but the
    * shortlist came from the coarse-pruned code scan. */
  private def pqIvfRerankTop3(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val short = pqIvfAdcRanked(s, d, 20).select("query_id", "cand_id")
    val subs = pqSubs(s, d)
    short
      .join(subs.select(col("vec_id").as("query_id"), col("m"), col("sub").as("q_sub")),
        Seq("query_id"))
      .join(subs.select(col("vec_id").as("cand_id"), col("m"), col("sub").as("c_sub")),
        Seq("cand_id", "m"))
      .withColumn("d_e6",
        expr(s"CAST(floor(${d2Sql("q_sub", "c_sub")} * 1000000.0D) AS BIGINT)"))
      .groupBy("query_id", "cand_id").agg(sum("d_e6").as("dist_e6"))
      .transform(adcTopK(_, 3, "dist_e6"))
  }

  // DuckDB squared-L2 with the same sequential fold as d2Sql.
  private def dkD2(a: String, b: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${PqSub + 1}), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), (x, y) -> x + y)"

  /** DuckDB twin of the PQ pipeline: `pv` (subvectors) → p0 (seed) →
    * pa1/p1 … (Lloyd rounds) → `pcode` (final codes). Centroid means
    * divide exact BIGINT sums, so every double is bit-identical. */
  private def dkPqCtes(trainMax: Option[Long] = None): String = {
    val sb = new StringBuilder
    val tw = trainMax.map(mx => s"WHERE vec_id < $mx").getOrElse("")
    sb ++= s"""pv AS (SELECT vec_id, m,
              |  list_transform(range(1, ${PqSub + 1}), i -> embedding[(m * $PqSub + i)::INT]::DOUBLE) AS sub,
              |  list_transform(range(1, ${PqSub + 1}), i -> floor(embedding[(m * $PqSub + i)::INT]::DOUBLE * 1048576.0 + 0.5)::BIGINT) AS qsub
              |  FROM (SELECT vec_id, embedding, unnest(range(0, $PqM)) AS m FROM embeddings)),
              |pvt AS (SELECT * FROM pv $tw),
              |p0 AS (SELECT m, vec_id AS cell, sub AS cw FROM pvt WHERE vec_id < $PqKs)""".stripMargin
    for (r <- 1 to PqIters) {
      sb ++= s""",
                |pa$r AS (SELECT vec_id, m, qsub, cell FROM (
                |  SELECT v.vec_id, v.m, v.qsub, c.cell, row_number() OVER (PARTITION BY v.vec_id, v.m
                |    ORDER BY round(${dkD2("v.sub", "c.cw")}, 8), c.cell) AS rn
                |  FROM pvt v JOIN p${r - 1} c ON c.m = v.m) WHERE rn = 1),
                |p$r AS (SELECT m, cell, list(w ORDER BY i) AS cw FROM (
                |  SELECT m, cell, i, (sum(qv)::DOUBLE / count(*)::DOUBLE) / 1048576.0 AS w FROM (
                |    SELECT m, cell, unnest(qsub) AS qv, unnest(range(1, ${PqSub + 1})) AS i FROM pa$r)
                |  GROUP BY m, cell, i) GROUP BY m, cell)""".stripMargin
    }
    sb ++= s""",
              |pcode AS (SELECT vec_id, m, cell AS code FROM (
              |  SELECT v.vec_id, v.m, c.cell, row_number() OVER (PARTITION BY v.vec_id, v.m
              |    ORDER BY round(${dkD2("v.sub", "c.cw")}, 8), c.cell) AS rn
              |  FROM pv v JOIN p$PqIters c ON c.m = v.m) WHERE rn = 1)""".stripMargin
    sb.toString
  }

  // DuckDB ADC CTEs on top of dkPqCtes: query LUT + code-sum scoring
  // (padc keeps rnk ≤ 20 — the shortlist; pure ADC answers take
  // rnk ≤ 3) and the exact re-rank of the shortlist (prr).
  private def dkPqAdcCtes: String =
    s"""plut AS (SELECT q.vec_id AS query_id, c.m, c.cell AS code,
       |    floor(${dkD2("q.sub", "c.cw")} * 1000000.0)::BIGINT AS dq_e6
       |  FROM pv q JOIN p$PqIters c ON c.m = q.m WHERE q.vec_id < 32),
       |padc AS (SELECT * FROM (
       |  SELECT query_id, cand_id, adist_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist_e6, cand_id) AS rnk
       |  FROM (SELECT l.query_id, pc.vec_id AS cand_id, sum(l.dq_e6)::BIGINT AS adist_e6
       |    FROM pcode pc JOIN plut l ON l.m = pc.m AND l.code = pc.code
       |    WHERE pc.vec_id <> l.query_id GROUP BY 1, 2)) WHERE rnk <= 20),
       |prr AS (SELECT * FROM (
       |  SELECT query_id, cand_id, dist_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist_e6, cand_id) AS rnk
       |  FROM (SELECT s.query_id, s.cand_id,
       |      sum(floor(${dkD2("q.sub", "c.sub")} * 1000000.0)::BIGINT)::BIGINT AS dist_e6
       |    FROM padc s JOIN pv q ON q.vec_id = s.query_id
       |    JOIN pv c ON c.vec_id = s.cand_id AND c.m = q.m
       |    GROUP BY 1, 2)) WHERE rnk <= 3)""".stripMargin

  // DuckDB-side sequential double dot over one PqSub-wide subvector
  // (same fold order as graft_dot_d ⇒ bit-identical doubles).
  private def dkDotSub(a: String, b: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${PqSub + 1}), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)"

  /** DuckDB twin of the INNER-PRODUCT ADC chain over [[dkPqCtes]]
    * (`pv`/`p$PqIters`/`pcode`): per-query (m, code) inner-product LUT
    * (`iplut`, e6-floored exact subvector·codeword dots) → BIGINT-
    * summed DESC ranking (`ipadc`). ONE definition serves the exploded
    * and packed rows (integer sums are order-insensitive). */
  private def dkIpCtes: String =
    s"""iplut AS (SELECT q.vec_id AS query_id, c.m, c.cell AS code,
       |    floor(${dkDotSub("q.sub", "c.cw")} * 1000000.0)::BIGINT AS dq_e6
       |  FROM pv q JOIN p$PqIters c ON c.m = q.m WHERE q.vec_id < 32),
       |ipadc AS (SELECT query_id, cand_id, ip_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ip_e6 DESC, cand_id) AS rnk
       |  FROM (SELECT l.query_id, pc.vec_id AS cand_id, sum(l.dq_e6)::BIGINT AS ip_e6
       |    FROM pcode pc JOIN iplut l ON l.m = pc.m AND l.code = pc.code
       |    WHERE pc.vec_id <> l.query_id GROUP BY 1, 2))""".stripMargin

  /** ALSH-augmented corpus bucket table (vec_id, tbl, bucket) — the
    * SIMPLE-LSH reduction (Neyshabur & Srebro 2015) that makes MIPS
    * composable with a prune SOUNDLY: items map to the UNIT sphere via
    * x → [x/M ; √(1 − ‖x/M‖²)] (M = max corpus norm), queries to
    * [q ; 0] (sign-LSH buckets are scale-invariant, so q needs no
    * normalization), and then cos(q', x') is MONOTONE in ⟨q, x⟩ — the
    * augmented-space cosine-ANN candidates ARE MIPS candidates, which
    * the raw cosine-trained IVF prune can never guarantee (a
    * far-but-huge-norm item wins MIPS from an unprobed cell). All
    * arithmetic is double with the shared sequential folds, so the
    * oracle replays the buckets bit-exact. Memoized per (session,
    * dataset) like every index frame. */
  private def alshBuckets(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#alshb"), {
      graft.functions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
        .head().getDouble(0)
      emb.select(col("vec_id"),
          transform(col("embedding"), v => v.cast("double") / lit(m)).as("sc"))
        .withColumn("s2", expr("graft_dot_d(sc, sc)"))
        // the max-norm vector's s2 can exceed 1 by float rounding:
        // clamp the augmented slot to 0 (spelled identically in SQL)
        .withColumn("ea", expr(
          "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
        .withColumn("tbl", explode(expr(s"sequence(0, ${NTables - 1})")))
        .withColumn("bucket", expr(graft.functions.VectorFunctions
          .lshBucketTableSql("ea", Dim + 1, TPlanes, "tbl")))
        .select("vec_id", "tbl", "bucket")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Zero-slot-augmented query buckets for the ALSH chain:
    * (query_id, tbl, bucket) for probes vec_id < 32. */
  private def alshQueryBuckets(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(col("vec_id") < 32)
      .select(col("vec_id").as("query_id"), expr(
        "array_append(transform(embedding, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE))")
        .as("ea"))
      .withColumn("tbl", explode(expr(s"sequence(0, ${NTables - 1})")))
      .withColumn("bucket", expr(graft.functions.VectorFunctions
        .lshBucketTableSql("ea", Dim + 1, TPlanes, "tbl")))
      .select("query_id", "tbl", "bucket")

  /** Shared ALSH tail: capped corpus buckets joined to the given query
    * bucket frame, distinct candidates, exact-⟨q,x⟩ rescore of ONLY
    * the candidates (e6-floored BIGINT, desc heap, top-3). */
  private def mipsAlshRescoreTopK(s: SparkSession, d: String,
      qBuckets: DataFrame, tag: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings")
    val ids = graft.operators.Dedup.dropHotBuckets(alshBuckets(s, d),
      Seq("tbl", "bucket"), graft.operators.Dedup.MaxBucket, tag)
    val cand = qBuckets
      .join(ids.select(col("vec_id").as("cand_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val ed = emb.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
    val scored = cand
      .join(broadcast(ed.filter(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))), Seq("query_id"))
      .join(ed.select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb")), Seq("cand_id"))
      .withColumn("ip_e6",
        expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)"))
    int8TopK(scored, 3, "ip_e6")
  }

  /** MIPS top-3 through the ALSH prune: augmented-space multi-table
    * LSH candidates (hot-bucket capped), then an exact-⟨q,x⟩ rescore
    * of ONLY the candidates (e6-floored BIGINT, desc heap). */
  private def mipsAlshTopK(s: SparkSession, d: String): DataFrame =
    mipsAlshRescoreTopK(s, d, alshQueryBuckets(s, d), "mips_alsh")

  /** The LIFTED corpus (vec_id, ea: array<double>) — the unit-sphere
    * embedding the ALSH buckets hash; exposed directly so the
    * lifted-IVF family can train/assign on the same arrays. */
  private def alshLifted(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#alshlift"), {
      graft.functions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
        .head().getDouble(0)
      emb.select(col("vec_id"),
          transform(col("embedding"), v => v.cast("double") / lit(m)).as("sc"))
        .withColumn("s2", expr("graft_dot_d(sc, sc)"))
        .withColumn("ea", expr(
          "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
        .select("vec_id", "ea")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Coarse quantizer trained ON THE LIFT (65-dim) — the norm-aware
    * partitioning the `pq_ip_adc_topk` note names as the correct MIPS
    * lever: lifted cosine is monotone in ⟨q,x⟩, so a cosine-trained
    * IVF over the LIFTED vectors is a MIPS-sound coarse prune (FAISS's
    * IndexIVF + METRIC_INNER_PRODUCT shape), unlike the same quantizer
    * trained on the raw vectors (where a far-but-huge-norm winner
    * hides in an unprobed cell). Same deterministic integer-quantized
    * Lloyd as every IVF surface ([[Knn.ivfTrain]] is double-safe). */
  private def liftedIvfCentroids(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#mipsivfcent"), {
      Knn.ivfTrain(alshLifted(s, d), "vec_id", "ea", IvfK, IvfIters)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  // rank a lifted frame (vec_id, ea: array<double>) against the lifted
  // centroids — graft_dot_d throughout (Knn.ivfRank's norm reads FLOAT
  // elements and would mis-read a double array's bytes)
  private def liftedIvfRank(frame: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    frame
      .withColumn("nrm", expr("sqrt(graft_dot_d(ea, ea))"))
      .crossJoin(broadcast(cent))
      .withColumn("csim",
        round(expr("graft_dot_d(ea, cw)") / (col("nrm") * col("cn")), 8))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))))
      .select(col("vec_id"), col("cell"), col("rn"))
  }

  /** MIPS top-3 through the LIFTED-IVF prune: corpus posted to its
    * `IvfAssign` best lifted cells, queries (zero-slot lift) probe
    * their `IvfProbe` best cells, candidates rescore by exact raw
    * ⟨q,x⟩ — the partition-based MIPS candidate generator beside the
    * hash-based ALSH one. */
  private def mipsIvfLiftedTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings")
    val cent = liftedIvfCentroids(s, d)
    val posts = liftedIvfRank(alshLifted(s, d), cent)
      .filter(col("rn") <= IvfAssign)
      .select(col("vec_id").as("cand_id"), col("cell"))
    val qlift = emb.filter(col("vec_id") < 32)
      .select(col("vec_id"), expr(
        "array_append(transform(embedding, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE))")
        .as("ea"))
    val probes = liftedIvfRank(qlift, cent)
      .filter(col("rn") <= IvfProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val cand = probes.join(posts, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val ed = emb.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
    val scored = cand
      .join(broadcast(ed.filter(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))), Seq("query_id"))
      .join(ed.select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb")), Seq("cand_id"))
      .withColumn("ip_e6",
        expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)"))
    int8TopK(scored, 3, "ip_e6")
  }

  /** Multi-PROBE MIPS top-3 (the round-5 Lv et al. lever applied to
    * the LIFTED buckets — the recall lever mips_alsh_recall's 0.385
    * left unexercised, r14 verdict #3): each query probes its home
    * bucket PLUS every 1-bit-flip bucket per table — near neighbors one
    * hyperplane away in the AUGMENTED space are still found, at the
    * SAME table count. Probe expansion is query-side only (×(TPlanes+1)
    * narrow rows); the capped corpus postings, the distinct-candidate
    * join and the exact-dot rescore are the single-probe plan
    * unchanged. */
  private def mipsAlshTopKProbe(s: SparkSession, d: String): DataFrame =
    mipsAlshRescoreTopK(s, d,
      alshQueryBuckets(s, d).select(col("query_id"), col("tbl"),
        explode(expr(s"array_union(array(bucket), " +
          s"transform(sequence(0, ${TPlanes - 1}), j -> bucket ^ shiftleft(1L, j)))"))
          .as("bucket")),
      "mips_alsh_probe")

  /** DuckDB twin of the ALSH chain — CTE chain ending in `amips`
    * (query_id, cand_id, ip_e6, rnk): max norm (`mm`) → scaled corpus
    * (`sca`) → unit-sphere augmentation (`caug`, clamped slot) →
    * zero-slot query augmentation (`qaug`) → 65-dim multi-table
    * buckets both sides (the dkTables weight stream at dim 65) →
    * hot-bucket cap → distinct candidates → exact-dot desc ranking. */
  private def dkAlshCtes: String = {
    val dimA = Dim + 1
    def bucketOf(src: String) =
      s"""(SELECT vec_id, tbl,
         |  list_reduce(list_prepend(0::BIGINT, range(0, $TPlanes)), (acc, j) -> acc +
         |    CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0, $dimA),
         |      i -> ea[(i + 1)::INT]::DOUBLE *
         |        ((((((tbl * $TPlanes + j) * $dimA + i) + 1) * 2654435761) % 1000003) - 501501)::DOUBLE)),
         |      (s2, x) -> s2 + x) >= 0
         |    THEN (1::BIGINT << j::INT) ELSE 0 END) AS bucket
         |  FROM (SELECT vec_id, ea, unnest(range(0, $NTables)) AS tbl FROM $src))"""
    s"""mm AS (SELECT max(${dkNorm("embedding")}) AS mnorm FROM embeddings),
       |sca AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE / mnorm) AS sc
       |  FROM embeddings CROSS JOIN mm),
       |caug AS (SELECT vec_id, list_append(sc,
       |    CASE WHEN s2 >= 1.0 THEN 0.0::DOUBLE ELSE sqrt(1.0 - s2) END) AS ea
       |  FROM (SELECT vec_id, sc, list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, ${Dim + 1}), i -> sc[i]::DOUBLE * sc[i]::DOUBLE)),
       |    (x, y) -> x + y) AS s2 FROM sca)),
       |qaug AS (SELECT vec_id, list_append(list_transform(embedding, v -> v::DOUBLE),
       |    0.0::DOUBLE) AS ea
       |  FROM embeddings WHERE vec_id < 32),
       |cbk AS ${bucketOf("caug")},
       |qbk AS ${bucketOf("qaug")},
       |ccap AS (SELECT * FROM cbk
       |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
       |acand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM qbk q JOIN ccap c ON c.tbl = q.tbl AND c.bucket = q.bucket
       |    AND c.vec_id <> q.vec_id),
       |amips AS (SELECT query_id, cand_id, ip_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ip_e6 DESC, cand_id) AS rnk
       |  FROM (SELECT a.query_id, a.cand_id,
       |      floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT AS ip_e6
       |    FROM acand a JOIN embeddings q ON q.vec_id = a.query_id
       |    JOIN embeddings c ON c.vec_id = a.cand_id))""".stripMargin
  }

  /** Multi-probe extension of [[dkAlshCtes]] (appended after it):
    * query buckets expand to home + every 1-bit flip (`qpb`, the
    * sim_probe_recall probes CTE at dim 65), then the same capped
    * candidate join (`pcand`) and exact-dot desc ranking (`pmips`). */
  private def dkAlshProbeCtes: String =
    s"""qpb AS (SELECT query_id, tbl,
       |    unnest(list_append(list_transform(range(0, $TPlanes),
       |      j -> xor(bucket, (1::BIGINT << j))), bucket)) AS bucket
       |  FROM (SELECT vec_id AS query_id, tbl, bucket FROM qbk)),
       |pcand AS (SELECT DISTINCT p.query_id, c.vec_id AS cand_id
       |  FROM qpb p JOIN ccap c ON c.tbl = p.tbl AND c.bucket = p.bucket
       |    AND c.vec_id <> p.query_id),
       |pmips AS (SELECT query_id, cand_id, ip_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ip_e6 DESC, cand_id) AS rnk
       |  FROM (SELECT a.query_id, a.cand_id,
       |      floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT AS ip_e6
       |    FROM pcand a JOIN embeddings q ON q.vec_id = a.query_id
       |    JOIN embeddings c ON c.vec_id = a.cand_id))""".stripMargin

  /** Lifted-IVF extension of [[dkAlshCtes]] (appended after it): the
    * [[dkIvfCtes]] trained-k-means chain replayed over the LIFTED
    * `caug` table at dim 65 (`lqv` → `lc0` → `la_r`/`lc_r` Lloyd
    * rounds → corpus ranking `lrk`), the zero-slot query lift `qaug`
    * ranked against the final centroids (`lqr`), then probed-cell
    * candidates rescored by exact raw dot (`livf`). Centroid means
    * divide exact BIGINT sums of the 2²⁰-quantized lifted components,
    * so every double is bit-identical to Spark's. */
  private def dkLiftedIvfCtes: String = {
    val dimA = Dim + 1
    def dotA(a: String, b: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${dimA + 1}), " +
        s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)"
    val sb = new StringBuilder
    sb ++= s"""lqv AS (SELECT vec_id, ea, sqrt(${dotA("ea", "ea")}) AS nrm,
              |  list_transform(ea, v -> floor(v::DOUBLE * 1048576.0 + 0.5)::BIGINT) AS qemb
              |  FROM caug),
              |lc0 AS (SELECT vec_id AS cell, ea AS cw, sqrt(${dotA("ea", "ea")}) AS cn
              |  FROM caug WHERE vec_id < $IvfK)""".stripMargin
    for (r <- 1 to IvfIters) {
      sb ++= s""",
                |la$r AS (SELECT vec_id, qemb, cell FROM (
                |  SELECT v.vec_id, v.qemb, c.cell, row_number() OVER (PARTITION BY v.vec_id
                |    ORDER BY round(${dotA("v.ea", "c.cw")} / (v.nrm * c.cn), 8) DESC, c.cell) AS rn
                |  FROM lqv v CROSS JOIN lc${r - 1} c) WHERE rn = 1),
                |lc$r AS (SELECT cell, cw, sqrt(${dotA("cw", "cw")}) AS cn FROM (
                |  SELECT cell, list(w ORDER BY i) AS cw FROM (
                |    SELECT cell, i, sum(qvv)::DOUBLE / count(*)::DOUBLE AS w FROM (
                |      SELECT cell, unnest(qemb) AS qvv, unnest(range(1, ${dimA + 1})) AS i FROM la$r)
                |    GROUP BY cell, i) GROUP BY cell))""".stripMargin
    }
    sb ++= s""",
              |lrk AS (SELECT v.vec_id, c.cell,
              |  row_number() OVER (PARTITION BY v.vec_id
              |    ORDER BY round(${dotA("v.ea", "c.cw")} / (v.nrm * c.cn), 8) DESC, c.cell) AS rn
              |  FROM lqv v CROSS JOIN lc$IvfIters c),
              |lqr AS (SELECT v.vec_id, c.cell,
              |  row_number() OVER (PARTITION BY v.vec_id
              |    ORDER BY round(${dotA("v.ea", "c.cw")} / (sqrt(${dotA("v.ea", "v.ea")}) * c.cn), 8) DESC, c.cell) AS rn
              |  FROM qaug v CROSS JOIN lc$IvfIters c),
              |livf AS (SELECT query_id, cand_id, ip_e6,
              |    row_number() OVER (PARTITION BY query_id ORDER BY ip_e6 DESC, cand_id) AS rnk
              |  FROM (SELECT a.query_id, a.cand_id,
              |      floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT AS ip_e6
              |    FROM (SELECT DISTINCT p.vec_id AS query_id, x.vec_id AS cand_id
              |          FROM (SELECT vec_id, cell FROM lqr WHERE rn <= $IvfProbe) p
              |          JOIN (SELECT vec_id, cell FROM lrk WHERE rn <= $IvfAssign) x
              |            ON x.cell = p.cell AND x.vec_id <> p.vec_id) a
              |    JOIN embeddings q ON q.vec_id = a.query_id
              |    JOIN embeddings c ON c.vec_id = a.cand_id))""".stripMargin
    sb.toString
  }

  /** FILTERED variant of [[dkLiftedIvfCtes]]'s final `livf` CTE —
    * layered over its `lqr`/`lrk`: candidates additionally inner-join
    * embeddings as `m` under `pred` (the predicate-survivor prune the
    * pre-filter serve applies below its candidate join), so `$name` is
    * the lifted-IVF MIPS ranking over ONLY the predicate's survivors.
    * Exact filtered brute force is [[dkMipsExactFiltered]]. */
  private def dkLiftedIvfFiltered(name: String, pred: String,
      nprobe: Int = IvfProbe): String =
    s"""$name AS (SELECT query_id, cand_id, ip_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ip_e6 DESC, cand_id) AS rnk
       |  FROM (SELECT a.query_id, a.cand_id,
       |      floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT AS ip_e6
       |    FROM (SELECT DISTINCT p.vec_id AS query_id, x.vec_id AS cand_id
       |          FROM (SELECT vec_id, cell FROM lqr WHERE rn <= $nprobe) p
       |          JOIN (SELECT vec_id, cell FROM lrk WHERE rn <= $IvfAssign) x
       |            ON x.cell = p.cell AND x.vec_id <> p.vec_id
       |          JOIN embeddings m ON m.vec_id = x.vec_id AND ($pred)) a
       |    JOIN embeddings q ON q.vec_id = a.query_id
       |    JOIN embeddings c ON c.vec_id = a.cand_id))""".stripMargin

  /** Exact MIPS top-3 (e6-floored ⟨q,x⟩ desc, cand_id asc) over ONLY
    * the predicate's survivors — the filtered-recall rows' ground
    * truth (`c` is the candidate side the predicate constrains). */
  private def dkMipsExactFiltered(name: String, pred: String): String =
    s"""$name AS (SELECT query_id, cand_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT DESC,
       |      c.vec_id) AS rnk
       |  FROM embeddings q JOIN embeddings c
       |    ON c.vec_id <> q.vec_id AND ($pred)
       |  WHERE q.vec_id < 32) WHERE rnk <= 3)""".stripMargin

  // DuckDB twin of the IVF×PQ composition, layered over dkIvfCtes
  // (`rk`) + dkPqCtes (`pv`/`p$PqIters`/`pcode`): candidate pairs from
  // probed cells, then the ADC code-sum restricted to those candidates,
  // then an exact rerank of the shortlist (ivfrr).
  private def dkIvfAdcCtes: String =
    s"""cand AS (SELECT DISTINCT p.query_id, c.cand_id
       |  FROM (SELECT vec_id AS query_id, cell FROM rk
       |        WHERE vec_id < 32 AND rn <= $IvfProbe) p
       |  JOIN (SELECT vec_id AS cand_id, cell FROM rk WHERE rn <= $IvfAssign) c
       |    ON c.cell = p.cell AND c.cand_id <> p.query_id),
       |plut AS (SELECT q.vec_id AS query_id, c.m, c.cell AS code,
       |    floor(${dkD2("q.sub", "c.cw")} * 1000000.0)::BIGINT AS dq_e6
       |  FROM pv q JOIN p$PqIters c ON c.m = q.m WHERE q.vec_id < 32),
       |ivfadc AS (SELECT query_id, cand_id, adist_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist_e6, cand_id) AS rnk
       |  FROM (SELECT cd.query_id, cd.cand_id, sum(l.dq_e6)::BIGINT AS adist_e6
       |    FROM pcode pc JOIN cand cd ON cd.cand_id = pc.vec_id
       |    JOIN plut l ON l.query_id = cd.query_id AND l.m = pc.m AND l.code = pc.code
       |    GROUP BY 1, 2)),
       |ivfrr AS (SELECT * FROM (
       |  SELECT query_id, cand_id, dist_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist_e6, cand_id) AS rnk
       |  FROM (SELECT s.query_id, s.cand_id,
       |      sum(floor(${dkD2("q.sub", "c.sub")} * 1000000.0)::BIGINT)::BIGINT AS dist_e6
       |    FROM (SELECT query_id, cand_id FROM ivfadc WHERE rnk <= 20) s
       |    JOIN pv q ON q.vec_id = s.query_id
       |    JOIN pv c ON c.vec_id = s.cand_id AND c.m = q.m
       |    GROUP BY 1, 2)) WHERE rnk <= 3)""".stripMargin

  // ── RESIDUAL IVF×PQ (the FAISS IVFADC layout, Jégou et al. 2011
  //    §III): codes quantize the RESIDUAL vec − home-centroid instead
  //    of the raw vector. The coarse quantizer has already explained
  //    the between-cell variance, so the residual distribution is far
  //    tighter than the raw one and the same m×ks code budget buys
  //    strictly more precision. The price is that ADC LUTs become
  //    per-(query, cell) — the query's residual differs per probed
  //    cell — which is |Q|·K·m·ks entries: probe-batch bounded, still
  //    broadcast. The index row is (cell, vec_id, codes): home cell +
  //    residual codes, built once at encode time. ──

  /** Residual vectors wrt the home (rank-1) IVF cell:
    * (vec_id, cell, rvec array<double>). One broadcast join against
    * the K-row centroid frame — index-build cost, O(corpus) rows.
    * NOTE the /2²⁰ rescale: [[Knn.ivfTrain]] centroids live in the
    * integer-quantized (×1048576) space because cosine is
    * scale-invariant; residual L2 is NOT, so the centroid must come
    * back to vector scale first (one fixed division per component,
    * spelled identically in the oracle). */
  private def ivfResVecs(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#ivfres"),
      ivfCells(s, d)
        .join(broadcast(ivfCentroids(s, d).select(col("cell"), col("cw"))), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          expr("zip_with(embedding, cw, (a, b) -> CAST(a AS DOUBLE) - b / 1048576.0D)").as("rvec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Residual subviews (vec_id, m, sub, qsub) — [[Pq.subviews]] over
    * the residuals; the frame residual codebooks train on. */
  private def pqResSubs(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#rsub"),
      graft.operators.Pq.subviews(ivfResVecs(s, d), "vec_id", "rvec", PqM, PqSub)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Residual codebooks: same deterministic Lloyd training as the raw
    * PQ codebooks, but fit to the residual distribution. */
  private def pqResCentroids(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#rcent"),
      graft.operators.Pq.train(pqResSubs(s, d), "vec_id", PqKs, PqIters)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The residual IVFADC index, exploded oracle shape:
    * (vec_id, cell, m, code) — home cell carried on every code row so
    * the scan can key the per-(query, cell) LUT without a corpus join
    * at query time. */
  private def pqResCodes(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#rcode"),
      graft.operators.Pq.encode(pqResSubs(s, d), "vec_id", pqResCentroids(s, d))
        .join(ivfResVecs(s, d).select(col("vec_id"), col("cell")), Seq("vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The PACKED residual index: (vec_id, cell, codes array<int>) —
    * one row per vector, the layout a 100 TB IVFADC scan reads. */
  private def pqResCodesPacked(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#rcodep"),
      graft.operators.Pq.encodePacked(pqResSubs(s, d), "vec_id", pqResCentroids(s, d))
        .join(ivfResVecs(s, d).select(col("vec_id"), col("cell")), Seq("vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Query residual subviews per (query, cell), keyed by the composite
    * qc = query_id·IvfK + cell (cells are seed ids < IvfK, so the key
    * is collision-free): |Q|·K·m rows, the frame both LUT builders
    * take. */
  private def pqResQuerySubs(s: SparkSession, d: String): DataFrame = {
    val q = t(s, d, "embeddings").filter(col("vec_id") < 32)
      .crossJoin(broadcast(ivfCentroids(s, d).select(col("cell"), col("cw"))))
      .select((col("vec_id") * lit(IvfK.toLong) + col("cell")).as("qc"),
        expr("zip_with(embedding, cw, (a, b) -> CAST(a AS DOUBLE) - b / 1048576.0D)").as("rvec"))
    graft.operators.Pq.subviews(q, "qc", "rvec", PqM, PqSub)
  }

  /** (query_id, cand_id) pairs surviving the coarse prune — shared by
    * the exploded and packed residual scans (same prune as
    * [[pqIvfAdcRanked]]). Memoized like its sibling frames (ADVICE
    * r13: pq_ivfres_distortion evaluates it through BOTH estimators,
    * re-running the ivfRanked window join each time otherwise). */
  private def ivfCandPairs(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#candpairs"), {
      // probes AND posts read the one capped ranked memo (r17) — the
      // rank window used to run twice more here per cold pass
      val probes = ivfRankedCap(s, d)
        .filter(col("vec_id") < 32 && col("rn") <= IvfProbe)
        .select(col("vec_id").as("query_id"), col("cell"))
      val posts = ivfRankedCap(s, d).filter(col("rn") <= IvfAssign)
        .select(col("vec_id").as("cand_id"), col("cell"))
      probes.join(posts, Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Residual IVFADC, exploded oracle shape: coarse prune → code rows
    * of surviving candidates joined against the per-(query, home-cell)
    * LUT → order-insensitive BIGINT ADC sum → bounded-heap top-k. */
  private[graft] def pqIvfResRanked(s: SparkSession, d: String, keep: Int): DataFrame =
    adcTopK(pqIvfResScored(s, d), keep)

  /** All coarse-pruned pairs with their RESIDUAL-code ADC estimate —
    * same pair set as [[pqIvfAdcScored]] (same prune), different
    * estimator. */
  private[graft] def pqIvfResScored(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val lut = graft.operators.Pq.adcLut(pqResQuerySubs(s, d), "qc", pqResCentroids(s, d))
    pqResCodes(s, d)
      .select(col("vec_id").as("cand_id"), col("cell"), col("m"), col("code"))
      .join(broadcast(ivfCandPairs(s, d)), Seq("cand_id")) // prune BEFORE the LUT scan
      .withColumn("qc", col("query_id") * lit(IvfK.toLong) + col("cell"))
      .join(broadcast(lut), Seq("qc", "m", "code"))
      .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
  }

  /** The fully-compressed pipeline's refine stage: residual-ADC
    * shortlist of 20 per query, rescored by SQ8 codes (64 one-byte
    * codes per candidate — never the raw vector), top-3 by
    * (sq_e6 asc, cand_id asc). Shared by `pq_ivfres_refine_topk` and
    * its recall row. */
  private[graft] def pqIvfResRefined(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val short = pqIvfResRanked(s, d, 20).select("query_id", "cand_id")
    val lut = graft.operators.Sq.adcLut(
      t(s, d, "embeddings").filter(col("vec_id") < 32),
      "vec_id", "embedding", sqBounds(s, d))
    val refined = sqCodes(s, d)
      .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
      .join(broadcast(short), Seq("cand_id")) // shortlist prune BEFORE the code scan
      .join(broadcast(lut), Seq("query_id", "dim", "code"))
      .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("sq_e6"))
    adcTopK(refined, 3, "sq_e6")
  }

  /** Residual IVFADC, PACKED production plan: one `graft_adc_sum`
    * kernel call per surviving (query, candidate) pair over the
    * (vec_id, cell, codes) row, LUT keyed by the candidate's home
    * cell. Integer ADC sums are order-insensitive, so the exploded
    * form's oracle pins this plan verbatim. */
  private[graft] def pqIvfResPackedRanked(s: SparkSession, d: String,
      keep: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val lutFlat = graft.operators.Pq.adcLutFlat(
      pqResQuerySubs(s, d), "qc", pqResCentroids(s, d), PqKs)
    val ranked = pqResCodesPacked(s, d)
      .select(col("vec_id").as("cand_id"), col("cell"), col("codes"))
      .join(broadcast(ivfCandPairs(s, d)), Seq("cand_id")) // prune BEFORE the kernel scan
      .withColumn("qc", col("query_id") * lit(IvfK.toLong) + col("cell"))
      .join(broadcast(lutFlat), Seq("qc"))
      .select(col("query_id"), col("cand_id"),
        expr(s"graft_adc_sum(codes, lut, $PqKs)").as("adist_e6"))
    adcTopK(ranked, keep)
  }

  /** DuckDB twin of the residual IVFADC chain, layered over
    * [[dkIvfCtes]] (`rk`, `c$IvfIters`): residuals (`rvv`) → residual
    * subviews (`rpv`) → Lloyd rounds (rp0..rp`PqIters`) → codes with
    * home cell (`rcode`) → per-(query, cell) LUT (`rlut`) →
    * candidate-restricted ADC ranking (`rivfadc`). Every double is the
    * same fixed single-op sequence as the engine's, so the chain
    * replays bit-exact. */
  private def dkResCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""rvv AS (SELECT r.vec_id, r.cell,
              |  list_transform(range(1, ${Dim + 1}), i -> r.embedding[i]::DOUBLE - c.cw[i] / 1048576.0) AS rvec
              |  FROM (SELECT vec_id, embedding, cell FROM rk WHERE rn = 1) r
              |  JOIN c$IvfIters c ON c.cell = r.cell),
              |rpv AS (SELECT vec_id, cell, m,
              |  list_transform(range(1, ${PqSub + 1}), i -> rvec[(m * $PqSub + i)::INT]) AS sub,
              |  list_transform(range(1, ${PqSub + 1}), i -> floor(rvec[(m * $PqSub + i)::INT] * 1048576.0 + 0.5)::BIGINT) AS qsub
              |  FROM (SELECT vec_id, cell, rvec, unnest(range(0, $PqM)) AS m FROM rvv)),
              |rp0 AS (SELECT m, vec_id AS cw_cell, sub AS cw FROM rpv WHERE vec_id < $PqKs)""".stripMargin
    for (r <- 1 to PqIters) {
      sb ++= s""",
                |rpa$r AS (SELECT vec_id, m, qsub, cw_cell FROM (
                |  SELECT v.vec_id, v.m, v.qsub, c.cw_cell, row_number() OVER (PARTITION BY v.vec_id, v.m
                |    ORDER BY round(${dkD2("v.sub", "c.cw")}, 8), c.cw_cell) AS rn
                |  FROM rpv v JOIN rp${r - 1} c ON c.m = v.m) WHERE rn = 1),
                |rp$r AS (SELECT m, cw_cell, list(w ORDER BY i) AS cw FROM (
                |  SELECT m, cw_cell, i, (sum(qv)::DOUBLE / count(*)::DOUBLE) / 1048576.0 AS w FROM (
                |    SELECT m, cw_cell, unnest(qsub) AS qv, unnest(range(1, ${PqSub + 1})) AS i FROM rpa$r)
                |  GROUP BY m, cw_cell, i) GROUP BY m, cw_cell)""".stripMargin
    }
    sb ++= s""",
              |rcode AS (SELECT vec_id, cell, m, cw_cell AS code FROM (
              |  SELECT v.vec_id, v.cell, v.m, c.cw_cell, row_number() OVER (PARTITION BY v.vec_id, v.m
              |    ORDER BY round(${dkD2("v.sub", "c.cw")}, 8), c.cw_cell) AS rn
              |  FROM rpv v JOIN rp$PqIters c ON c.m = v.m) WHERE rn = 1),
              |rqv AS (SELECT q.vec_id AS query_id, c.cell,
              |    list_transform(range(1, ${Dim + 1}), i -> q.embedding[i]::DOUBLE - c.cw[i] / 1048576.0) AS rvec
              |  FROM embeddings q CROSS JOIN c$IvfIters c WHERE q.vec_id < 32),
              |rqpv AS (SELECT query_id, cell, m,
              |  list_transform(range(1, ${PqSub + 1}), i -> rvec[(m * $PqSub + i)::INT]) AS sub
              |  FROM (SELECT query_id, cell, rvec, unnest(range(0, $PqM)) AS m FROM rqv)),
              |rlut AS (SELECT q.query_id, q.cell, q.m, c.cw_cell AS code,
              |    floor(${dkD2("q.sub", "c.cw")} * 1000000.0)::BIGINT AS dq_e6
              |  FROM rqpv q JOIN rp$PqIters c ON c.m = q.m),
              |rcand AS (SELECT DISTINCT p.query_id, c.cand_id
              |  FROM (SELECT vec_id AS query_id, cell FROM rk
              |        WHERE vec_id < 32 AND rn <= $IvfProbe) p
              |  JOIN (SELECT vec_id AS cand_id, cell FROM rk WHERE rn <= $IvfAssign) c
              |    ON c.cell = p.cell AND c.cand_id <> p.query_id),
              |rivfadc AS (SELECT query_id, cand_id, adist_e6,
              |    row_number() OVER (PARTITION BY query_id ORDER BY adist_e6, cand_id) AS rnk
              |  FROM (SELECT cd.query_id, cd.cand_id, sum(l.dq_e6)::BIGINT AS adist_e6
              |    FROM rcode rc JOIN rcand cd ON cd.cand_id = rc.vec_id
              |    JOIN rlut l ON l.query_id = cd.query_id AND l.cell = rc.cell
              |      AND l.m = rc.m AND l.code = rc.code
              |    GROUP BY 1, 2))""".stripMargin
    sb.toString
  }

  /** DuckDB twin of the SQ8 refine stage, layered over [[dkResCtes]]
    * (`rivfadc`) + [[dkSqCtes]] (`sqc`/`slut`): residual-ADC
    * shortlist-20 reranked by the SQ8 codes. ONE definition serves the
    * one-shot refine row, its recall row, and the store-served
    * refine twins (integer ADC sums are order-insensitive, so the
    * exploded SQ8 oracle pins the packed `graft_sq8_adc` store plan
    * verbatim) — the four oracles cannot drift. */
  private def dkRefineCte: String =
    s"""rfn AS (SELECT query_id, cand_id, sq_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sq_e6, cand_id) AS rnk
       |  FROM (SELECT s.query_id, s.cand_id, sum(l.dq_e6)::BIGINT AS sq_e6
       |    FROM (SELECT query_id, cand_id FROM rivfadc WHERE rnk <= 20) s
       |    JOIN sqc c ON c.vec_id = s.cand_id
       |    JOIN slut l ON l.query_id = s.query_id AND l.dim = c.dim AND l.code = c.code
       |    GROUP BY 1, 2))""".stripMargin

  /** DuckDB twin of the IVF×SQ8 composition, layered over
    * [[dkIvfCtes]] (`rk`) + [[dkSqCtes]] (`sqc`/`slut`): coarse-pruned
    * candidate pairs, then the SQ8 ADC ranking `sivf`. ONE definition
    * serves both the exploded and packed rows (integer ADC sums are
    * order-insensitive), so the two oracles cannot drift. */
  private def dkSqIvfCtes: String =
    s"""scand AS (SELECT DISTINCT p.query_id, c.cand_id
       |  FROM (SELECT vec_id AS query_id, cell FROM rk
       |        WHERE vec_id < 32 AND rn <= $IvfProbe) p
       |  JOIN (SELECT vec_id AS cand_id, cell FROM rk WHERE rn <= $IvfAssign) c
       |    ON c.cell = p.cell AND c.cand_id <> p.query_id),
       |sivf AS (SELECT query_id, cand_id, adist_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist_e6, cand_id) AS rnk
       |  FROM (SELECT cd.query_id, cd.cand_id, sum(l.dq_e6)::BIGINT AS adist_e6
       |    FROM sqc c JOIN scand cd ON cd.cand_id = c.vec_id
       |    JOIN slut l ON l.query_id = cd.query_id AND l.dim = c.dim AND l.code = c.code
       |    GROUP BY 1, 2))""".stripMargin

  /** recall@3 of `ann` (query_id, cand_id) against the exact full-dim
    * L2 top-3 — ONE spelling of the exact baseline + recall
    * aggregation, shared by `pq_ivfres_recall` and
    * `pq_ivfres_refine_recall` (the oracle discipline requires the
    * floor/tie-break spelling to stay bit-identical across the
    * family). */
  private def recallVsExactL2(s: SparkSession, d: String,
      ann: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("qv"))
    val exact = emb
      .select(col("vec_id").as("cand_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        expr("CAST(floor(graft_l2sq(qv, cv) * 1000000.0D) AS BIGINT)").as("dist_e6"))
      .transform(adcTopK(_, 3, "dist_e6"))
      .select("query_id", "cand_id")
    exact.join(ann.select(col("query_id"), col("cand_id"), lit(1).as("hit")),
        Seq("query_id", "cand_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
  }

  /** The `rex` exact-baseline CTE + recall SELECT the recall rows
    * share, parameterized by the ANN answer subquery. */
  private def dkRecallSql(annSubquery: String): String =
    s"""rex AS (SELECT query_id, cand_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY floor(${dkD2Full("q.embedding", "c.embedding")} * 1000000.0)::BIGINT, c.vec_id) AS rnk
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 32) WHERE rnk <= 3)
       |SELECT b.query_id, count(a.cand_id) AS n_hits,
       |  round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
       |FROM rex b LEFT JOIN ($annSubquery) a
       |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
       |GROUP BY b.query_id""".stripMargin

  /** Multi-table ANN index (vec_id, embedding, nrm, tbl, bucket). */
  private def embTables(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d + "#tables"),
      Knn.withLshTables(t(s, d, "embeddings"), "embedding", Dim, TPlanes, NTables)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("tbl"), col("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // DuckDB twin of the multi-table index (weight row = tbl*TPlanes + j).
  private def dkTables: String =
    s"""(SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm, tbl,
       |list_reduce(list_prepend(0::BIGINT, range(0, $TPlanes)), (acc, j) -> acc +
       |  CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0, $Dim),
       |    i -> embedding[(i + 1)::INT]::DOUBLE *
       |      ((((((tbl * $TPlanes + j) * $Dim + i) + 1) * 2654435761) % 1000003) - 501501)::DOUBLE)),
       |    (s2, x) -> s2 + x) >= 0
       |  THEN (1::BIGINT << j::INT) ELSE 0 END) AS bucket
       |FROM (SELECT vec_id, embedding, unnest(range(0, $NTables)) AS tbl FROM embeddings))""".stripMargin

  // DuckDB-side sequential double dot product (same fold order as
  // VectorFunctions.dotSql ⇒ bit-identical doubles). dkDotN is the
  // prefix form over the first n components (the Matryoshka dial).
  private def dkDotN(a: String, b: String, n: Int) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${n + 1}), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)"
  private def dkDot(a: String, b: String) = dkDotN(a, b, Dim)

  // ── Shared hybrid-retrieval arms: the BM25 lexical ranking and the
  //    RRF fusion tail are identical across the hybrid rows (exact
  //    dense arm in hybrid_rrf_lexdense; standing-store MRL ANN arm in
  //    hybrid_rrf_ann_lexdense) — one engine builder + one oracle CTE
  //    string each, so the two rows can never drift apart. ──

  /** Lexical arm: the fixture query batch served through the BM25
    * impact index, top 10 per query — txt_bm25_serve's exact plan. */
  private def hybridLexArm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = t(s, d, "documents")
    val post = graft.operators.Lexical.postings(docs)
    val dl = graft.operators.Lexical.doclens(docs)
    val idx = graft.operators.Lexical.impactIndex(post, dl,
      graft.operators.Lexical.termstats(post),
      graft.operators.Lexical.corpusStats(dl))
    val qs = Seq((0L, "spark hash join"), (1L, "stream window agg"),
      (2L, "fast vector scan"), (3L, "customer query filter"))
      .toDF("query_id", "qtext")
    graft.operators.Lexical.bm25Serve(qs, idx, 10)
      .select(col("query_id"), col("doc_id"), col("rnk").cast("int").as("lex_rnk"))
  }

  /** RRF fusion of a lexical and a dense top-10 list: Σ 1/(60 + rank)
    * over the families that retrieved the doc (k=60, the standard RRF
    * constant), top 5 per query. The window partitions are ≤ 20-row
    * fused lists — bounded by construction, never corpus-sized. */
  private def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame =
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(expr("CAST(1 AS DOUBLE) / (60 + lex_rnk)"), lit(0.0d))
          + coalesce(expr("CAST(1 AS DOUBLE) / (60 + dense_rnk)"), lit(0.0d)), 8))
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rnk"), lit(0)).as("lex_rnk"),
        coalesce(col("dense_rnk"), lit(0)).as("dense_rnk"), col("rrf"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rnk") <= 5)

  /** DuckDB twin of [[hybridLexArm]] (CTEs qs…lex). */
  private def dkHybridLexCtes: String =
    s"""qs AS (SELECT * FROM (VALUES (0, 'spark hash join'),
       |    (1, 'stream window agg'), (2, 'fast vector scan'),
       |    (3, 'customer query filter')) v(query_id, qtext)),
       |qterms AS (SELECT query_id::BIGINT AS query_id,
       |    unnest(list_distinct(string_split(qtext, ' '))) AS term FROM qs),
       |toks AS (SELECT doc_id, unnest(${TextDedupQueries.dkTokens}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dfc AS (SELECT term, count(*) AS df_cnt FROM tf GROUP BY 1),
       |dlen AS (SELECT doc_id, len(${TextDedupQueries.dkTokens})::BIGINT AS dl FROM documents),
       |st AS (SELECT count(*) AS n, sum(dl)::BIGINT AS tot FROM dlen),
       |contrib AS (SELECT query_id, t.doc_id,
       |    round((round((ln(1.0::DOUBLE + (n::DOUBLE - df_cnt::DOUBLE + 0.5::DOUBLE)
       |        / (df_cnt::DOUBLE + 0.5::DOUBLE)))::DECIMAL(18,12), 6)::DOUBLE
       |      * ((tf::DOUBLE * 2.2::DOUBLE) / (tf::DOUBLE + 1.2::DOUBLE
       |        * (0.25::DOUBLE + 0.75::DOUBLE * (dl::DOUBLE / (tot::DOUBLE / n::DOUBLE))))))::DECIMAL(18,12),
       |      8)::DECIMAL(18,8) AS c8
       |  FROM tf t JOIN qterms USING (term) JOIN dfc USING (term)
       |    JOIN dlen ON dlen.doc_id = t.doc_id CROSS JOIN st),
       |lex AS (SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sd DESC, doc_id) AS INT) AS lex_rnk
       |  FROM (SELECT query_id, doc_id, sum(c8) AS sd FROM contrib GROUP BY 1, 2)
       |  QUALIFY lex_rnk <= 10)""".stripMargin

  /** DuckDB twin of [[rrfFuse]] over CTEs `lex` and `dense`. */
  private def dkHybridFusedSql: String =
    s"""fused AS (SELECT coalesce(l.query_id, dn.query_id) AS query_id,
       |    coalesce(l.doc_id, dn.doc_id) AS doc_id,
       |    coalesce(l.lex_rnk, 0) AS lex_rnk,
       |    coalesce(dn.dense_rnk, 0) AS dense_rnk,
       |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rnk), 0.0)
       |      + coalesce(CAST(1 AS DOUBLE) / (60 + dn.dense_rnk), 0.0), 8) AS rrf
       |  FROM lex l FULL OUTER JOIN dense dn
       |    ON dn.query_id = l.query_id AND dn.doc_id = l.doc_id)
       |SELECT query_id, doc_id, lex_rnk, dense_rnk, rrf,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS INT) AS rnk
       |FROM fused QUALIFY rnk <= 5""".stripMargin

  private def dkNorm(a: String) = s"sqrt(${dkDot(a, a)})"
  private def dkNormN(a: String, n: Int) = s"sqrt(${dkDotN(a, a, n)})"

  // Matryoshka truncation dial: candidate generation scores only the
  // first MrlDim of Dim components (a 4× cheaper scan — MRL-style
  // embeddings front-load information so prefixes remain usable
  // embeddings), then the MrlCand survivors per query rescore at full
  // dimension. At 100 TB the prefix pass runs over a 4×-smaller
  // column (or its int8/PQ form); rescore cost is candidate-bounded.
  val MrlDim = 16
  val MrlCand = 16

  /** Matryoshka score-prune-rescore (shared by `sim_mrl_topk` and
    * `sim_mrl_recall`): prefix-MrlDim cosine prunes to MrlCand
    * candidates per query, full-dim exact cosine ranks the survivors.
    * Thin wrapper over the [[graft.operators.Knn.mrlTopK]] operator
    * (which `mrl_store_serve` also serves off the standing store). */
  private def mrlTopK(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    graft.operators.Knn.mrlTopK(emb.filter(col("vec_id") < 32), emb,
      "vec_id", "embedding", MrlDim, MrlCand, 3)
  }

  // MMR (maximal marginal relevance) re-ranking dial: from MmrCand
  // exact-top candidates per query, pick MmrK iteratively maximizing
  // λ·rel − (1−λ)·max-sim-to-already-picked. λ as an exact decimal
  // string so both engines compute the identical double product.
  val MmrCand = 16
  val MmrK = 5
  val MmrLambda = "0.7"
  // The λ-complement as its OWN exact decimal literal, interpolated
  // verbatim into both engines. Computing it as (1.0 - 0.7) instead
  // diverges by ~1 ulp between engines (Spark folds lit(1.0)-0.7d in
  // doubles → 0.30000000000000004; DuckDB's 1.0-0.7 is exact DECIMAL
  // 0.3 → double 0.2999999999999999889) — and because rel/maxsim are
  // round-8 values, MMR scores frequently land on round(..,8)
  // half-boundaries where that ulp flips a pick and cascades through
  // later rounds. One shared literal, one shared double.
  val MmrLambdaComp = "0.3"

  /** MMR selection (shared by the query and its oracle's Spark side):
    * candidate relevance = exact full-dim cosine to the query;
    * diversity penalty = max cosine to the already-picked set. MmrK
    * driver-synchronous rounds of candidate-bounded joins (the IVF
    * Lloyd-round pattern — per-round frames are (queries × MmrCand)
    * rows, checkpointed so lineage stays flat). */
  private def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val cand = Knn.bruteForceTopK(emb.filter(col("vec_id") < 16), emb,
        "vec_id", "embedding", MmrCand)
      .select(col("query_id"), col("cand_id"), col("cosine").as("rel"))
    mmrPick(s, d, cand)
  }

  /** MMR over the ANN-served shortlist — the serving path MMR rides in
    * production (the sim_hard_negatives precedent): candidates come
    * from the Matryoshka prune-rescore search
    * ([[graft.operators.Knn.mrlTopK]], prefix-prune to
    * 2·MmrCand survivors, exact full-dim rescore, keep MmrCand) with
    * rel = the rescored exact cosine, then the identical MmrK pick
    * rounds. At 100 TB the candidate stage costs one ANN serve per
    * query instead of a corpus scan; the pick rounds stay
    * (queries × MmrCand²)-bounded. */
  private def mmrAnnRerank(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val cand = Knn.mrlTopK(emb.filter(col("vec_id") < 16), emb,
        "vec_id", "embedding", MrlDim, 2 * MmrCand, MmrCand)
      .select(col("query_id"), col("cand_id"), col("cosine").as("rel"))
    mmrPick(s, d, cand)
  }

  /** The MmrK driver-synchronous pick rounds over any candidate frame
    * (query_id, cand_id, rel) — shared by [[mmrRerank]] (exact
    * brute-force candidates) and [[mmrAnnRerank]] (ANN-served
    * candidates). */
  private def mmrPick(s: SparkSession, d: String, candIn: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings")
    val cand = candIn.localCheckpoint(true)
    val e = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm("embedding"))
    // candidate-candidate cosine within each query's candidate set:
    // (queries × MmrCand²) rows — candidate-bounded at any corpus size
    val psim = cand.select(col("query_id"), col("cand_id").as("id_a"))
      .join(cand.select(col("query_id"), col("cand_id").as("id_b")), Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("query_id"), col("id_a"), col("id_b"),
        round(graft.functions.VectorFunctions.dot("ea", "eb")
          / (col("na") * col("nb")), 8).as("sim"))
      .localCheckpoint(true)
    var selected = cand
      .withColumn("__rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("cand_id"))))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("cand_id"), lit(1).as("pick"))
      .localCheckpoint(true)
    (2 to MmrK).foreach { t =>
      val maxsim = psim
        .join(selected.select(col("query_id"), col("cand_id").as("id_b")),
          Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("cand_id"))
        .agg(max("sim").as("maxsim"))
      val next = cand
        .join(selected.select("query_id", "cand_id"),
          Seq("query_id", "cand_id"), "left_anti")
        .join(maxsim, Seq("query_id", "cand_id"))
        .withColumn("mmr", round(
          lit(MmrLambda).cast("double") * col("rel")
            - lit(MmrLambdaComp).cast("double") * col("maxsim"), 8))
        .withColumn("__rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("mmr").desc, col("cand_id"))))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("cand_id"), lit(t).as("pick"))
      selected = selected.union(next).localCheckpoint(true)
    }
    selected
  }

  /** DuckDB twin of the MmrK pick rounds over a caller-supplied
    * candidate CTE body (must yield (query_id, cand_id, rel)) —
    * unrolled rounds per the BPE/Lloyd unrolled-CTE precedent, the
    * λ-complement as the SAME exact decimal literal the engine uses
    * (see [[MmrLambdaComp]]). Terminal relation: (query_id, cand_id,
    * pick). */
  private def dkMmrSqlOver(candCte: String): String = {
    val lam = MmrLambda
    val lamC = MmrLambdaComp
    val rounds = (2 to MmrK).map { t =>
      s"""p$t AS (SELECT query_id, cand_id, $t AS pick FROM (
         |  SELECT c.query_id, c.cand_id,
         |    row_number() OVER (PARTITION BY c.query_id ORDER BY
         |      round($lam * c.rel - $lamC * ms.maxsim, 8) DESC,
         |      c.cand_id) AS rn
         |  FROM cand c
         |  JOIN (SELECT ps.query_id, ps.id_a AS cand_id, max(ps.sim) AS maxsim
         |      FROM psim ps JOIN s${t - 1} sl
         |        ON sl.query_id = ps.query_id AND sl.cand_id = ps.id_b
         |      GROUP BY 1, 2) ms
         |    ON ms.query_id = c.query_id AND ms.cand_id = c.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM s${t - 1} sx
         |    WHERE sx.query_id = c.query_id AND sx.cand_id = c.cand_id)
         |  ) WHERE rn = 1),
         |s$t AS (SELECT * FROM s${t - 1} UNION ALL SELECT * FROM p$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm
       |  FROM embeddings),
       |cand AS ($candCte),
       |psim AS (SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
       |    round(${dkDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 8) AS sim
       |  FROM cand a JOIN cand b ON b.query_id = a.query_id
       |    AND b.cand_id <> a.cand_id
       |  JOIN e x ON x.vec_id = a.cand_id JOIN e y ON y.vec_id = b.cand_id),
       |s1 AS (SELECT query_id, cand_id, 1 AS pick FROM (
       |  SELECT query_id, cand_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
       |  FROM cand) WHERE rn = 1),
       |$rounds
       |SELECT * FROM s$MmrK""".stripMargin
  }

  /** DuckDB twin of [[mmrRerank]]: brute top-MmrCand candidates. */
  private def dkMmrSql: String = dkMmrSqlOver(
    s"""SELECT query_id, cand_id, rel FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) AS rel,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) DESC,
       |      c.vec_id) AS rnk
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 16) WHERE rnk <= $MmrCand""".stripMargin)

  /** DuckDB twin of [[mmrAnnRerank]]: the MRL prune-rescore shortlist
    * (prefix-MrlDim prune to 2·MmrCand, full-dim rescore, keep
    * MmrCand) replayed as the candidate CTE — rel is the rescored
    * exact cosine, exactly the engine's. */
  private def dkMmrAnnSql: String = dkMmrSqlOver(
    s"""WITH ep AS (SELECT vec_id, embedding,
       |    ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
       |  FROM embeddings),
       |qp AS (SELECT * FROM ep WHERE vec_id < 16),
       |prn AS (SELECT query_id, cand_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
       |      c.vec_id) AS prnk
       |  FROM qp q CROSS JOIN ep c WHERE c.vec_id <> q.vec_id
       |  ) WHERE prnk <= ${2 * MmrCand})
       |SELECT query_id, cand_id, rel FROM (
       |  SELECT query_id, cand_id,
       |    round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) AS rel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
       |      cand_id) AS rnk
       |  FROM prn JOIN ep q ON q.vec_id = query_id
       |    JOIN ep c ON c.vec_id = cand_id
       |  ) WHERE rnk <= $MmrCand""".stripMargin)

  /** Embedding near-dup pairs (id_a, id_b, cosine >= 0.3) from
    * multi-table LSH candidates — shared by the near-dup report and the
    * semantic-dedup clustering query. */
  private def embNeardupPairs(s: SparkSession, d: String): DataFrame = {
    val wt = embTables(s, d)
    val ids = graft.operators.Dedup.dropHotBuckets(
      wt.select(col("vec_id"), col("tbl"), col("bucket")),
      Seq("tbl", "bucket"), graft.operators.Dedup.MaxBucket, "sim_emb_neardup")
    val pairs = ids.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
      .join(ids.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val e = wt.filter(col("tbl") === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cosine", round(
        graft.functions.VectorFunctions.dot("ea", "eb") / (col("na") * col("nb")), 8))
      .filter(col("cosine") >= 0.3)
      .select("id_a", "id_b", "cosine")
  }

  /** DuckDB twin of [[embNeardupPairs]] — CTE chain ending in
    * `sp(id_a, id_b, cosine)`. */
  private def dkEmbPairCtes: String =
    s"""wt AS $dkTables,
       |cc AS (SELECT * FROM wt
       |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
       |prs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cc a JOIN cc b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id),
       |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
       |sp AS (SELECT * FROM (
       |  SELECT id_a, id_b,
       |    round(${dkDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 8) AS cosine
       |  FROM prs JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b
       |  ) WHERE cosine >= 0.3)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ── Exact cosine top-k (brute-force baseline) ──
    QueryDef(
      "sim_cosine_topk",
      "brute-force cosine top-5 per query over embeddings",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Knn.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, ${dkNorm("embedding")} AS qn
              |  FROM embeddings WHERE vec_id < 8),
              |c AS (SELECT vec_id AS cand_id, embedding AS ce, ${dkNorm("embedding")} AS cn
              |  FROM embeddings),
              |scored AS (SELECT query_id, cand_id,
              |  round(${dkDot("qe", "ce")} / (qn * cn), 8) AS cosine
              |  FROM q CROSS JOIN c WHERE query_id <> cand_id)
              |SELECT query_id, cand_id, cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
              |FROM scored
              |QUALIFY rnk <= 5""".stripMargin),
      bench = true),

    // ── FILTERED top-k, exact baseline (r15 verdict #1): the
    //    production RAG shape — "top-k among vectors WHERE <metadata
    //    predicate>" — as brute force over the predicate's survivors.
    //    The predicate prunes the CANDIDATE side below the score join
    //    (Catalyst pushes it into the parquet scan), queries are
    //    unconstrained; this is the ground truth the filtered ANN
    //    serves (mips_ivf_filtered_*) measure against. ──
    QueryDef(
      "sim_filtered_topk",
      "predicate-constrained exact cosine top-3: brute force over label<5 survivors",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Knn.bruteForceTopK(emb.filter(col("vec_id") < 32),
          emb.filter(col("label") < 5), "vec_id", "embedding", 3)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, ${dkNorm("embedding")} AS qn
              |  FROM embeddings WHERE vec_id < 32),
              |c AS (SELECT vec_id AS cand_id, embedding AS ce, ${dkNorm("embedding")} AS cn
              |  FROM embeddings WHERE label < 5),
              |scored AS (SELECT query_id, cand_id,
              |  round(${dkDot("qe", "ce")} / (qn * cn), 8) AS cosine
              |  FROM q CROSS JOIN c WHERE query_id <> cand_id)
              |SELECT query_id, cand_id, cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
              |FROM scored
              |QUALIFY rnk <= 3""".stripMargin),
      bench = true),

    // ── Matryoshka (MRL) truncated-dimension search: score-prune on
    //    the first MrlDim components, exact-rescore the MrlCand
    //    survivors at full dimension. The standard cheap-first serving
    //    shape for MRL-trained embeddings (prefix cosine ≈ full cosine
    //    because MRL front-loads information); exactly oracle-able
    //    because both passes are the repo's quantized-cosine contract. ──
    QueryDef(
      "sim_mrl_topk",
      s"prefix-$MrlDim candidate gen + full-dim rescore: top-3 per query",
      (s, d) => mrlTopK(s, d),
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |    ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
              |  FROM embeddings),
              |q AS (SELECT * FROM e WHERE vec_id < 32),
              |pruned AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
              |      c.vec_id) AS prnk
              |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id
              |  ) WHERE prnk <= $MrlCand)
              |SELECT query_id, cand_id,
              |  round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) AS cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY
              |    round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |    cand_id) AS rnk
              |FROM pruned JOIN e q ON q.vec_id = query_id
              |  JOIN e c ON c.vec_id = cand_id
              |QUALIFY rnk <= 3""".stripMargin),
      bench = true),

    // ── MRL serving off the STANDING vector store: two vectorFoldBatch
    //    folds build the store (odd/even vec_ids), then
    //    mrlServeFromStore answers the probe batch off the pinned
    //    `vectors` table. Fold ≡ rebuild makes the served ranking equal
    //    the batch sim_mrl_topk over the same corpus — the oracle IS
    //    the same SQL, so the store path is pinned per round like every
    //    other serving family (nb/bm25/ivf/ivfpq/emb-stats). ──
    QueryDef(
      "mrl_store_serve",
      s"2-batch vector-store fold + prefix-$MrlDim MRL serve == batch sim_mrl_topk",
      (s, d) => {
        val base = tempStoreDir("graft_mrlstore")
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.vectorFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0).select("vec_id", "embedding"),
          base, 0L, Dim, TPlanes, NTables)
        graft.streaming.VectorStreams.vectorFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1).select("vec_id", "embedding"),
          base, 1L, Dim, TPlanes, NTables)
        graft.streaming.VectorStreams.mrlServeFromStore(s, base,
          emb.filter(col("vec_id") < 32).select("vec_id", "embedding"),
          MrlDim, MrlCand, 3)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |    ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
              |  FROM embeddings),
              |q AS (SELECT * FROM e WHERE vec_id < 32),
              |pruned AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
              |      c.vec_id) AS prnk
              |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id
              |  ) WHERE prnk <= $MrlCand)
              |SELECT query_id, cand_id,
              |  round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) AS cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY
              |    round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |    cand_id) AS rnk
              |FROM pruned JOIN e q ON q.vec_id = query_id
              |  JOIN e c ON c.vec_id = cand_id
              |QUALIFY rnk <= 3""".stripMargin)),

    // ── The I/O-PRUNED MRL store serve: the store is folded with the
    //    prefix PINNED as its own columns (PREFIX_DIM file +
    //    (p_emb, p_nrm) on the vectors table), so the cheap pass
    //    column-prunes to prefixDim/dim of the embedding bytes and the
    //    exact rescore scans only the IN-pushed survivor row groups —
    //    the 100 TB MRL layout (round-12 scaladoc's "production
    //    layout" note made real). Same arithmetic as mrlTopK verbatim,
    //    so the sim_mrl_topk SQL pins it unchanged. ──
    QueryDef(
      "mrl_store_serve_pruned",
      s"prefix-pinned vector store: column-pruned MRL prune + IN-pushed rescore == batch",
      (s, d) => {
        val base = tempStoreDir("graft_mrlstorep")
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.vectorFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0).select("vec_id", "embedding"),
          base, 0L, Dim, TPlanes, NTables, prefixDim = MrlDim)
        graft.streaming.VectorStreams.vectorFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1).select("vec_id", "embedding"),
          base, 1L, Dim, TPlanes, NTables, prefixDim = MrlDim)
        graft.streaming.VectorStreams.mrlServeFromStore(s, base,
          emb.filter(col("vec_id") < 32).select("vec_id", "embedding"),
          MrlDim, MrlCand, 3)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |    ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
              |  FROM embeddings),
              |q AS (SELECT * FROM e WHERE vec_id < 32),
              |pruned AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
              |      c.vec_id) AS prnk
              |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id
              |  ) WHERE prnk <= $MrlCand)
              |SELECT query_id, cand_id,
              |  round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) AS cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY
              |    round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |    cand_id) AS rnk
              |FROM pruned JOIN e q ON q.vec_id = query_id
              |  JOIN e c ON c.vec_id = cand_id
              |QUALIFY rnk <= 3""".stripMargin)),

    // ── MMR diversified re-ranking: from each query's exact top-16,
    //    pick 5 iteratively maximizing λ·relevance − (1−λ)·max-cosine
    //    to the already-picked set — the standard diversity pass for
    //    retrieval serving and eval-set selection (near-duplicate
    //    candidates can't dominate a result page). MmrK
    //    driver-synchronous rounds of candidate-bounded joins; the
    //    oracle replays the same picks as an unrolled CTE chain. ──
    QueryDef(
      "sim_mmr_rerank",
      s"maximal-marginal-relevance pick-$MmrK from exact top-$MmrCand (lambda=$MmrLambda)",
      (s, d) => mmrRerank(s, d),
      Some(dkMmrSql),
      bench = true),

    // ── MMR over the ANN-served shortlist — the production
    //    composition (round-12 verdict #4): candidates come from the
    //    Matryoshka prune-rescore search instead of a brute-force
    //    corpus scan, rel = the rescored exact cosine, then the
    //    identical pick rounds. The oracle replays the ANN candidate
    //    stage (prefix prune + rescore CTEs) AND the pick rounds. ──
    QueryDef(
      "sim_mmr_ann_rerank",
      s"MMR pick-$MmrK over the MRL ANN shortlist (prefix-$MrlDim prune, top-$MmrCand rescored)",
      (s, d) => mmrAnnRerank(s, d),
      Some(dkMmrAnnSql),
      bench = true),

    // ── The MRL ONLINE-SERVING plan as a driver row (round-12 verdict
    //    #3): the SAME single-aggregation, streaming-legal plan
    //    VectorStreams.mrlServe runs per micro-batch — stream-static
    //    scored join, ONE embedding-carrying bounded heap, row-local
    //    full-dim rescore (transform + comparator array_sort + slice;
    //    no window, no join-back, no second aggregation) — run here
    //    over the batch probe frame, pinned against the exact
    //    sim_mrl_topk SQL. Streaming==batch equivalence (MemoryStream,
    //    update mode) is tested in VectorStreamsSpec. ──
    QueryDef(
      "mrl_serve_heap",
      s"MRL online-serving plan (single embedding-carrying heap + row-local rescore) == batch",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.mrlServe(
          emb.filter(col("vec_id") < 32), emb, MrlDim, MrlCand, 3)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |    ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
              |  FROM embeddings),
              |q AS (SELECT * FROM e WHERE vec_id < 32),
              |pruned AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
              |      c.vec_id) AS prnk
              |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id
              |  ) WHERE prnk <= $MrlCand)
              |SELECT query_id, cand_id,
              |  round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) AS cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY
              |    round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |    cand_id) AS rnk
              |FROM pruned JOIN e q ON q.vec_id = query_id
              |  JOIN e c ON c.vec_id = cand_id
              |QUALIFY rnk <= 3""".stripMargin),
      bench = true),

    // ── SQ8 scalar quantization (the THIRD compression family beside
    //    sign-LSH and PQ): per-dimension affine uint8 codes, 4× smaller
    //    than float32 with no codebook training. Three rows pin the
    //    family: the trained bounds, the ADC search, and its recall
    //    against the exact full-precision L2 ranking. ──
    QueryDef(
      "sq8_bounds",
      "SQ8 per-dimension quantizer bounds (dim, mn, mx) over the corpus",
      (s, d) => sqBounds(s, d),
      Some(s"""WITH xv AS (SELECT vec_id, unnest(range(0, $Dim)) AS dim,
              |    unnest(list_transform(embedding, v -> v::DOUBLE)) AS v
              |  FROM embeddings)
              |SELECT dim, min(v) AS mn, max(v) AS mx FROM xv GROUP BY dim""".stripMargin)),

    QueryDef(
      "sq8_adc_topk",
      "SQ8 asymmetric-distance top-3 per query over the 1-byte-per-dim code index",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val lut = graft.operators.Sq.adcLut(emb.filter(col("vec_id") < 32),
          "vec_id", "embedding", sqBounds(s, d))
        val ranked = sqCodes(s, d)
          .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
          .join(broadcast(lut), Seq("dim", "code"))
          .filter(col("cand_id") =!= col("query_id"))
          .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
        adcTopK(ranked, 3)
      },
      Some(s"""WITH $dkSqCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM sadc WHERE rnk <= 3""".stripMargin),
      bench = true),

    QueryDef(
      "sq8_recall",
      "recall@3 of SQ8-ADC search vs the exact full-precision squared-L2 top-3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val lut = graft.operators.Sq.adcLut(emb.filter(col("vec_id") < 32),
          "vec_id", "embedding", sqBounds(s, d))
        val sq3 = adcTopK(sqCodes(s, d)
            .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
            .join(broadcast(lut), Seq("dim", "code"))
            .filter(col("cand_id") =!= col("query_id"))
            .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6")), 3)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val ed = emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        val topk = udaf(graft.functions.TopKAgg.longs(3))
        val exact = ed.select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
          .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
            .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("dist_e6",
            expr("CAST(floor(graft_l2sq(q_emb, c_emb) * 1000000.0D) AS BIGINT)"))
          .groupBy("query_id")
          .agg(topk((-col("dist_e6")).cast("double"), col("cand_id")).as("tk"))
          .select(col("query_id"), explode(expr("transform(tk, e -> e._2)")).as("cand_id"))
        exact.join(sq3, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH $dkSqCtes,
              |e AS (SELECT vec_id, embedding FROM embeddings),
              |xrk AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      floor(${dkD2Full("q.embedding", "c.embedding")} * 1000000.0)::BIGINT,
              |      c.vec_id) AS rnk
              |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |sq3 AS (SELECT query_id, cand_id FROM sadc WHERE rnk <= 3)
              |SELECT x.query_id, count(s.cand_id) AS n_hits,
              |  round(count(s.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM xrk x LEFT JOIN sq3 s
              |  ON s.query_id = x.query_id AND s.cand_id = x.cand_id
              |GROUP BY x.query_id""".stripMargin)),

    // ── The SQ8 twin of `profile_drift_cells`/`profile_drift_codes` —
    //    the "retrain the BOUNDS?" gate: per-dimension fraction of a
    //    new batch's components falling OUTSIDE the pinned quantizer
    //    bounds (exactly the values round-13's encode clamp saturates —
    //    the clamp makes stale bounds safe, this row makes them
    //    OBSERVABLE). Baseline = bounds trained on even vec_ids (the
    //    first-fold pin), batch = odd vec_ids; out-of-range share as a
    //    round-half-up ppm BIGINT (no float ratios), drift flag at >5%.
    //    One broadcast join + one map-side aggregate — dim rows out at
    //    any corpus size. ──
    QueryDef(
      "profile_drift_bounds",
      "pinned-SQ8-bounds drift gate: per-dim out-of-range ppm of a new batch, flag at >5%",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val bounds = graft.operators.Sq.train(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding")
        emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          .select(posexplode(expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
            .as(Seq("dim", "v")))
          .join(broadcast(bounds), Seq("dim"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n_batch"),
            sum(when(col("v") < col("mn") || col("v") > col("mx"), 1L)
              .otherwise(0L)).as("n_oob"))
          .select(col("dim"), col("n_batch"), col("n_oob"),
            expr("(2000000 * n_oob + n_batch) div (2 * n_batch)").as("oob_ppm"),
            (col("n_oob") * lit(20L) > col("n_batch")).as("drifted"))
      },
      Some(s"""WITH xe AS (SELECT vec_id, unnest(range(0, $Dim)) AS dim,
              |    unnest(list_transform(embedding, v -> v::DOUBLE)) AS v
              |  FROM embeddings WHERE vec_id % 2 = 0),
              |b AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM xe GROUP BY dim),
              |xo AS (SELECT vec_id, unnest(range(0, $Dim)) AS dim,
              |    unnest(list_transform(embedding, v -> v::DOUBLE)) AS v
              |  FROM embeddings WHERE vec_id % 2 = 1),
              |agg AS (SELECT dim, count(*)::BIGINT AS n_batch,
              |    sum(CASE WHEN v < mn OR v > mx THEN 1 ELSE 0 END)::BIGINT AS n_oob
              |  FROM xo JOIN b USING (dim) GROUP BY dim)
              |SELECT dim, n_batch, n_oob,
              |  ((2000000 * n_oob + n_batch) // (2 * n_batch))::BIGINT AS oob_ppm,
              |  n_oob * 20 > n_batch AS drifted
              |FROM agg""".stripMargin)),

    // ── The PACKED SQ8 scan — the 100 TB plan shape: one row per
    //    vector (codes array<int>), the probe batch's flat LUTs
    //    broadcast, and the codegen'd graft_sq8_adc kernel sums
    //    dim LUT lookups per (query, vector) pair in one tight loop —
    //    no ×dim row explosion on the corpus side (the exploded
    //    sq8_adc_topk join produces |Q|·N·dim rows; this produces
    //    |Q|·N). Integer sums are order-insensitive, so the EXPLODED
    //    form's oracle applies verbatim. ──
    QueryDef(
      "sq8_adc_packed_topk",
      "packed-codes SQ8 ADC top-3 via the codegen'd graft_sq8_adc kernel == exploded plan",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val lut = graft.operators.Sq.adcLutPacked(emb.filter(col("vec_id") < 32),
          "vec_id", "embedding", sqBounds(s, d))
        val ranked = sqCodesPacked(s, d)
          .select(col("vec_id").as("cand_id"), col("codes"))
          .crossJoin(broadcast(lut))
          .filter(col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"),
            expr("graft_sq8_adc(codes, lut)").as("adist_e6"))
        adcTopK(ranked, 3)
      },
      Some(s"""WITH $dkSqCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM sadc WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── IVF×SQ8 composition (FAISS's IndexIVFScalarQuantizer): the
    //    trained coarse quantizer prunes the corpus to the probed
    //    cells FIRST, and the SQ8 ADC scan touches only surviving
    //    candidates' 1-byte codes — the cheap-quantizer analogue of
    //    pq_ivf_adc_topk: every quantized-code family ({PQ,
    //    residual-PQ, SQ8}) now composes with the IVF coarse prune.
    //    Exploded row = oracle shape; packed row = the production
    //    graft_sq8_adc kernel plan (same SQL — integer sums). ──
    QueryDef(
      "sq8_ivf_adc_topk",
      s"IVF-pruned SQ8 ADC top-3: coarse prune to $IvfProbe/$IvfK cells, 1-byte-code scan",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val lut = graft.operators.Sq.adcLut(
          t(s, d, "embeddings").filter(col("vec_id") < 32),
          "vec_id", "embedding", sqBounds(s, d)) // keyed query_id by adcLut
        val ranked = sqCodes(s, d)
          .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
          .join(broadcast(ivfCandPairs(s, d)), Seq("cand_id")) // prune BEFORE the LUT scan
          .join(broadcast(lut), Seq("query_id", "dim", "code"))
          .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
        adcTopK(ranked, 3)
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkSqCtes,
              |$dkSqIvfCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM sivf WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "sq8_ivf_adc_packed_topk",
      "IVF-coarse-pruned PACKED SQ8 scan via graft_sq8_adc == exploded IVF-SQ8 plan",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val lut = graft.operators.Sq.adcLutPacked(
          t(s, d, "embeddings").filter(col("vec_id") < 32),
          "vec_id", "embedding", sqBounds(s, d))
        val ranked = sqCodesPacked(s, d)
          .select(col("vec_id").as("cand_id"), col("codes"))
          .join(broadcast(ivfCandPairs(s, d)), Seq("cand_id")) // prune BEFORE the kernel scan
          .join(broadcast(lut), Seq("query_id"))
          .select(col("query_id"), col("cand_id"),
            expr("graft_sq8_adc(codes, lut)").as("adist_e6"))
        adcTopK(ranked, 3)
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkSqCtes,
              |$dkSqIvfCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM sivf WHERE rnk <= 3""".stripMargin)),

    // ── The standing IVF×SQ8 store (round-13 verdict #1 — the last
    //    empty cell of the partition × quantizer store matrix): BOTH
    //    models pin on the first fold (coarse quantizer + SQ8 bounds),
    //    2-batch even/odd ingest appends cell-sorted posts + packed
    //    1-byte codes, and the pinned serve coarse-prunes through the
    //    posts before the graft_sq8_adc kernel scan. Fold ≡ rebuild is
    //    exact (assignment and encoding are per-vector), so the oracle
    //    is the one-shot sq8_ivf_adc_topk CTE chain verbatim. ──
    QueryDef(
      "sq8ivf_store_serve",
      "standing IVF-SQ8 store: 2-batch fold + pinned coarse+bounds ADC serve == one-shot IVF-SQ8",
      (s, d) => {
        val base = tempStoreDir("graft_sq8ivfstore")
        val cent = ivfCentroids(s, d)
        val bounds = sqBounds(s, d)
        val emb = t(s, d, "embeddings")
        Seq(0L, 1L).foreach(b =>
          graft.streaming.VectorStreams.sq8IvfFoldBatch(
            emb.filter(pmod(col("vec_id"), lit(2)) === b).select("vec_id", "embedding"),
            base, b, cent, bounds, nAssign = IvfAssign))
        graft.streaming.VectorStreams.sq8IvfServeFromStore(s, base,
            emb.filter(col("vec_id") < 32).select("vec_id", "embedding"),
            k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "adist_e6", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkSqCtes,
              |$dkSqIvfCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM sivf WHERE rnk <= 3""".stripMargin)),

    // ── SQ8 serving off a STANDING store: bounds trained on the
    //    corpus and pinned by the first fold, two sqFoldBatch folds
    //    (odd/even vec_ids) append the 1-byte code index, then
    //    sq8ServeFromStore answers the probe batch off the pinned
    //    codes. Fold ≡ rebuild makes the served ranking equal the
    //    batch sq8_adc_topk — the oracle IS the same SQL, completing
    //    the standing-store matrix for the SQ8 family (the
    //    nb/bm25/lsh/ivf/ivfpq/mrl precedent). ──
    QueryDef(
      "sq8_store_serve",
      "2-batch SQ8 store fold + pinned-bounds ADC serve == batch sq8_adc_topk",
      (s, d) => {
        val base = tempStoreDir("graft_sq8store")
        val emb = t(s, d, "embeddings")
        val bounds = graft.operators.Sq.train(emb, "embedding")
        graft.streaming.VectorStreams.sqFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0).select("vec_id", "embedding"),
          base, 0L, bounds)
        graft.streaming.VectorStreams.sqFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1).select("vec_id", "embedding"),
          base, 1L, bounds)
        graft.streaming.VectorStreams.sq8ServeFromStore(s, base,
          emb.filter(col("vec_id") < 32).select("vec_id", "embedding"), 3)
      },
      Some(s"""WITH $dkSqCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM sadc WHERE rnk <= 3""".stripMargin)),

    // ── CROSS-MODALITY hybrid retrieval: reciprocal-rank fusion of
    //    the LEXICAL (BM25 impact index, txt_bm25_serve's exact plan)
    //    and DENSE (exact cosine) rankings — the deployed hybrid-
    //    search pattern (doc_id and vec_id share a key space in the
    //    fixture corpus, as they would in any real doc store). The
    //    existing hybrid_rrf_fusion row fuses two DENSE rankers
    //    (float cosine vs int8 dot); this one crosses retrieval
    //    families, which is what hybrid search means in production.
    //    rrf = Σ 1/(60 + rank) over the families that retrieved the
    //    doc (k=60 per the standard RRF formulation); one double
    //    division + one addition per row, spelled identically in the
    //    oracle. ──
    QueryDef(
      "hybrid_rrf_lexdense",
      "reciprocal-rank fusion of BM25 top-10 and dense cosine top-10, top-5 per query",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val dense = Knn.bruteForceTopK(emb.filter(col("vec_id") < 4), emb,
            "vec_id", "embedding", 10)
          .select(col("query_id"), col("cand_id").as("doc_id"),
            col("rnk").cast("int").as("dense_rnk"))
        rrfFuse(hybridLexArm(s, d), dense)
      },
      Some(s"""WITH $dkHybridLexCtes,
              |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
              |dense AS (SELECT query_id, cand_id AS doc_id, rnk::INT AS dense_rnk FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) DESC,
              |      c.vec_id) AS rnk
              |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 4) WHERE rnk <= 10),
              |$dkHybridFusedSql""".stripMargin),
      bench = true),

    // ── The ANN-COMPOSED hybrid row — the production composition: the
    //    dense arm is a STANDING-STORE ANN shortlist (mrlServeFromStore
    //    over the pinned vector store — the sim_mmr_ann_rerank
    //    precedent), not the exact brute scan; the lexical arm and the
    //    RRF tail are the shared builders above. Fold ≡ rebuild makes
    //    the store's MRL ranking equal the in-session mrlTopK over the
    //    same corpus (mrl_store_serve pins that), so the oracle replays
    //    the MRL candidate CTEs + fusion exactly. ──
    QueryDef(
      "hybrid_rrf_ann_lexdense",
      "RRF fusion of BM25 top-10 with a standing-store MRL ANN top-10 dense arm, top-5 per query",
      (s, d) => {
        val base = tempStoreDir("graft_hybridann")
        val emb = t(s, d, "embeddings")
        // prefix-pinned folds: the dense arm runs the production
        // I/O-pruned MRL serve (column-pruned cheap pass + IN-pushed
        // rescore) — same ranking contract either way
        graft.streaming.VectorStreams.vectorFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0).select("vec_id", "embedding"),
          base, 0L, Dim, TPlanes, NTables, prefixDim = MrlDim)
        graft.streaming.VectorStreams.vectorFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1).select("vec_id", "embedding"),
          base, 1L, Dim, TPlanes, NTables, prefixDim = MrlDim)
        val dense = graft.streaming.VectorStreams.mrlServeFromStore(
            s, base, emb.filter(col("vec_id") < 4), MrlDim, MrlCand, 10)
          .select(col("query_id"), col("cand_id").as("doc_id"),
            col("rnk").cast("int").as("dense_rnk"))
        rrfFuse(hybridLexArm(s, d), dense)
      },
      Some(s"""WITH $dkHybridLexCtes,
              |e AS (SELECT vec_id, embedding,
              |    ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
              |  FROM embeddings),
              |q AS (SELECT * FROM e WHERE vec_id < 4),
              |pruned AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
              |      c.vec_id) AS prnk
              |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id
              |  ) WHERE prnk <= $MrlCand),
              |dense AS (SELECT query_id, cand_id AS doc_id, rnk::INT AS dense_rnk FROM (
              |  SELECT query_id, cand_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |      cand_id) AS rnk
              |  FROM pruned JOIN e q ON q.vec_id = query_id
              |    JOIN e c ON c.vec_id = cand_id
              |  ) WHERE rnk <= 10),
              |$dkHybridFusedSql""".stripMargin)),

    // ── FILTERED hybrid retrieval (r16 capstone): the full production
    //    RAG query — "top-k WHERE lang='en'" through BOTH arms — with
    //    the predicate applied ARM-NATIVELY: the lexical arm prunes
    //    the impact index by the survivor frame (bm25Serve docFilter,
    //    corpus-level scoring kept), the dense arm is the standing
    //    MRL store's pre-filter serve (predicate on the pinned
    //    vectors scan; the cheap pass prunes among SURVIVORS, so the
    //    nCand budget is spent inside the filter, not wasted on docs
    //    the predicate will discard), and RRF fuses the two filtered
    //    top-10s. doc_id ≡ vec_id on this corpus, so one predicate
    //    drives both arms. ──
    QueryDef(
      "hybrid_rrf_filtered",
      "predicate-constrained hybrid retrieval: filtered BM25 arm + filtered standing-store MRL arm, RRF top-5",
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val pred = "lang = 'en'"
        // lexical arm: impact index pruned to the predicate survivors
        val post = graft.operators.Lexical.postings(docs)
        val dl = graft.operators.Lexical.doclens(docs)
        val idx = graft.operators.Lexical.impactIndex(post, dl,
          graft.operators.Lexical.termstats(post),
          graft.operators.Lexical.corpusStats(dl))
        val qs = Seq((0L, "spark hash join"), (1L, "stream window agg"),
          (2L, "fast vector scan"), (3L, "customer query filter"))
          .toDF("query_id", "qtext")
        val lex = graft.operators.Lexical.bm25Serve(qs, idx, 10,
            docFilter = Some(docs.filter(expr(pred)).select("doc_id")))
          .select(col("query_id"), col("doc_id"),
            col("rnk").cast("int").as("lex_rnk"))
        // dense arm: prefix-pinned attr store (lang folded from the
        // documents table — doc_id ≡ vec_id), filtered MRL serve
        val base = tempStoreDir("graft_hybridfilt")
        val embL = emb.join(docs.select(col("doc_id").as("vec_id"),
          col("lang")), Seq("vec_id"))
        Seq(0L, 1L).foreach(b =>
          graft.streaming.VectorStreams.vectorFoldBatch(
            embL.filter(pmod(col("vec_id"), lit(2)) === b)
              .select("vec_id", "embedding", "lang"),
            base, b, Dim, TPlanes, NTables, prefixDim = MrlDim,
            attrCols = Seq("lang")))
        val dense = graft.streaming.VectorStreams.mrlServeFromStore(
            s, base, emb.filter(col("vec_id") < 4), MrlDim, MrlCand, 10,
            predicate = Some(pred))
          .select(col("query_id"), col("cand_id").as("doc_id"),
            col("rnk").cast("int").as("dense_rnk"))
        rrfFuse(lex, dense)
      },
      Some(s"""WITH $dkHybridLexCtes,
              |lexf AS (SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id
              |      ORDER BY sd DESC, doc_id) AS INT) AS lex_rnk
              |  FROM (SELECT query_id, c.doc_id, sum(c8) AS sd
              |        FROM contrib c JOIN documents dd
              |          ON dd.doc_id = c.doc_id AND dd.lang = 'en'
              |        GROUP BY 1, 2)
              |  QUALIFY lex_rnk <= 10),
              |e AS (SELECT e0.vec_id, e0.embedding, e0.pn, e0.fn, dd.lang
              |  FROM (SELECT vec_id, embedding,
              |      ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
              |    FROM embeddings) e0
              |  JOIN documents dd ON dd.doc_id = e0.vec_id),
              |q AS (SELECT * FROM e WHERE vec_id < 4),
              |prunedf AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
              |      c.vec_id) AS prnk
              |  FROM q CROSS JOIN e c
              |  WHERE c.vec_id <> q.vec_id AND c.lang = 'en'
              |  ) WHERE prnk <= $MrlCand),
              |densef AS (SELECT query_id, cand_id AS doc_id, rnk::INT AS dense_rnk FROM (
              |  SELECT query_id, cand_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |      cand_id) AS rnk
              |  FROM prunedf JOIN e q ON q.vec_id = query_id
              |    JOIN e c ON c.vec_id = cand_id
              |  ) WHERE rnk <= 10),
              |fusedf AS (SELECT coalesce(l.query_id, dn.query_id) AS query_id,
              |    coalesce(l.doc_id, dn.doc_id) AS doc_id,
              |    coalesce(l.lex_rnk, 0) AS lex_rnk,
              |    coalesce(dn.dense_rnk, 0) AS dense_rnk,
              |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rnk), 0.0)
              |      + coalesce(CAST(1 AS DOUBLE) / (60 + dn.dense_rnk), 0.0), 8) AS rrf
              |  FROM lexf l FULL OUTER JOIN densef dn
              |    ON dn.query_id = l.query_id AND dn.doc_id = l.doc_id)
              |SELECT query_id, doc_id, lex_rnk, dense_rnk, rrf,
              |  CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY rrf DESC, doc_id) AS INT) AS rnk
              |FROM fusedf QUALIFY rnk <= 5""".stripMargin)),

    // ── MRL quality dial as a driver row: recall@3 of the prefix-
    //    pruned search vs exact full-dim top-3, per query — the number
    //    that decides how small the cheap pass can go. ──
    QueryDef(
      "sim_mrl_recall",
      s"recall@3 of prefix-$MrlDim prune + rescore vs exact full-dim top-3",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val mrl = mrlTopK(s, d)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val brute = Knn.bruteForceTopK(emb.filter(col("vec_id") < 32), emb,
          "vec_id", "embedding", 3).select("query_id", "cand_id")
        brute.join(mrl, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |    ${dkNormN("embedding", MrlDim)} AS pn, ${dkNorm("embedding")} AS fn
              |  FROM embeddings),
              |q AS (SELECT * FROM e WHERE vec_id < 32),
              |pruned AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDotN("q.embedding", "c.embedding", MrlDim)} / (q.pn * c.pn), 8) DESC,
              |      c.vec_id) AS prnk
              |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id
              |  ) WHERE prnk <= $MrlCand),
              |mrl AS (SELECT query_id, cand_id FROM (
              |  SELECT query_id, cand_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |      cand_id) AS rnk
              |  FROM pruned JOIN e q ON q.vec_id = query_id
              |    JOIN e c ON c.vec_id = cand_id
              |  ) WHERE rnk <= 3),
              |brute AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.fn * c.fn), 8) DESC,
              |      c.vec_id) AS rnk
              |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id
              |  ) WHERE rnk <= 3)
              |SELECT b.query_id, count(m.cand_id) AS n_hits,
              |  round(count(m.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM brute b LEFT JOIN mrl m
              |  ON m.query_id = b.query_id AND m.cand_id = b.cand_id
              |GROUP BY b.query_id""".stripMargin)),

    // ── Contrastive-training data mining: semi-hard negatives per
    //    anchor — the candidates ranked just BELOW the positives
    //    (ranks 4..13 here, with rank ≤ 3 standing in for the positive
    //    set), each with its margin to the weakest positive. This is
    //    the FaceNet/DPR curriculum: negatives close enough to teach
    //    the boundary, far enough to be true negatives. Composes the
    //    existing top-k machinery (one wider k, one broadcast self-join
    //    on the rank-3 row) — at scale the anchor ranking comes from
    //    the ANN path, so mining cost is the serving cost. ──
    QueryDef(
      "sim_hard_negatives",
      "semi-hard negatives per anchor (ranks 4..13) with margin vs weakest positive",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val top = Knn.bruteForceTopK(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", 13)
        val pos = top.filter(col("rnk") === 3)
          .select(col("query_id"), col("cosine").as("__pos3"))
        top.filter(col("rnk") >= 4)
          .join(broadcast(pos), Seq("query_id"))
          .select(col("query_id"), col("cand_id").as("neg_id"), col("cosine"),
            round(col("__pos3") - col("cosine"), 8).as("margin"), col("rnk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, ${dkNorm("embedding")} AS qn
              |  FROM embeddings WHERE vec_id < 8),
              |c AS (SELECT vec_id AS cand_id, embedding AS ce, ${dkNorm("embedding")} AS cn
              |  FROM embeddings),
              |rk AS (SELECT query_id, cand_id, cosine,
              |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
              |  FROM (SELECT query_id, cand_id,
              |      round(${dkDot("qe", "ce")} / (qn * cn), 8) AS cosine
              |    FROM q CROSS JOIN c WHERE query_id <> cand_id)),
              |top AS (SELECT * FROM rk WHERE rnk <= 13),
              |pos AS (SELECT query_id, cosine AS pos3 FROM top WHERE rnk = 3)
              |SELECT t.query_id, t.cand_id AS neg_id, t.cosine,
              |  round(pos3 - t.cosine, 8) AS margin, t.rnk
              |FROM top t JOIN pos USING (query_id) WHERE t.rnk >= 4""".stripMargin)),

    // ── Embedding-space class analytics: the per-label centroid, the
    //    input to semantic clustering diagnostics, nearest-class-mean
    //    classification, and drift baselines. Each float is quantized
    //    to a 1e-6-scaled BIGINT once (a single identical IEEE
    //    round in both engines), then every sum is DECIMAL(38,0)/
    //    HUGEINT-exact and order-free; the mean is a signed
    //    round-half-away integer division (both engines' integer
    //    division truncates toward zero, so the shared (2a ± b) div 2b
    //    form is engine-identical for negative sums too). Scale shape:
    //    one N×D-row narrow explode feeding a map-side-combinable
    //    aggregate onto K×D output rows — no joins, no windows. ──
    QueryDef(
      "emb_centroid_by_label",
      "exact per-(label, dim) embedding centroid as 1e-6-scaled integers",
      (s, d) =>
        graft.operators.EmbStats.centroidByLabel(t(s, d, "embeddings")),
      Some(s"""WITH x AS (SELECT label::BIGINT AS label, dim,
              |    CAST(round(embedding[(dim + 1)::INT]::DOUBLE * 1000000) AS BIGINT) AS v_e6
              |  FROM (SELECT label, embedding, unnest(range(0, $Dim)) AS dim FROM embeddings))
              |SELECT label, dim, count(*)::BIGINT AS n_vecs,
              |  ((2 * sum(v_e6::HUGEINT) + CASE WHEN sum(v_e6::HUGEINT) >= 0
              |      THEN count(*)::HUGEINT ELSE -(count(*)::HUGEINT) END)
              |    // (2 * count(*)::HUGEINT))::BIGINT AS centroid_e6
              |FROM x GROUP BY 1, 2""".stripMargin)),

    // ── Per-label dispersion (mean squared distance to the centroid)
    //    in ONE pass via E‖x−μ‖² = E‖x‖² − ‖μ‖²: per-dim exact sums
    //    s1 = Σv, s2 = Σv², then msd = (n·Σ_d s2_d − Σ_d s1_d²)/n² —
    //    no centroid join-back, no second scan. The Cauchy–Schwarz
    //    numerator is non-negative, so the ppm-style division needs no
    //    sign handling. The tight-vs-diffuse class signal that gates
    //    "is this label coherent enough to train on" and the scalar a
    //    drift monitor tracks per snapshot. ──
    QueryDef(
      "emb_dispersion_by_label",
      "per-label mean squared distance to centroid (1e-6-scaled, one pass)",
      (s, d) =>
        graft.operators.EmbStats.dispersionByLabel(t(s, d, "embeddings")),
      Some(s"""WITH x AS (SELECT label::BIGINT AS label, dim,
              |    CAST(round(embedding[(dim + 1)::INT]::DOUBLE * 1000000) AS BIGINT) AS v_e6
              |  FROM (SELECT label, embedding, unnest(range(0, $Dim)) AS dim FROM embeddings)),
              |pd AS (SELECT label, dim, count(*)::BIGINT AS n_vecs,
              |    sum(v_e6::HUGEINT) AS s1, sum(v_e6::HUGEINT * v_e6) AS s2
              |  FROM x GROUP BY 1, 2),
              |agg AS (SELECT label, max(n_vecs) AS n_vecs,
              |    sum(s2) AS s2t, sum(s1 * s1) AS ss1 FROM pd GROUP BY 1)
              |SELECT label, n_vecs,
              |  ((2 * (n_vecs::HUGEINT * s2t - ss1) + n_vecs::HUGEINT * n_vecs * 1000000)
              |    // (2 * n_vecs::HUGEINT * n_vecs * 1000000))::BIGINT AS msd_e6
              |FROM agg""".stripMargin),
      bench = true),

    // ── The dispersion SERVED OFF THE STANDING STORE, pinned per
    //    round: two statistics folds (even/odd vectors) then a pinned
    //    CURRENT read — the oracle is emb_dispersion_by_label's SQL
    //    verbatim, so the additive-fold and serve algebra must
    //    reproduce the batch row under the driver's hash every round
    //    (the eval_kappa_serve discipline). ──
    QueryDef(
      "emb_stats_serve",
      "2-batch embedding-stats fold + served dispersion == one-shot emb_dispersion_by_label",
      (s, d) => {
        val tbl = tempStoreDir("graft_embstats_q")
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.embStatsFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), tbl, 0L)
        graft.streaming.VectorStreams.embStatsFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), tbl, 1L)
        graft.streaming.VectorStreams.dispersionFromStore(s, tbl)
      },
      Some(s"""WITH x AS (SELECT label::BIGINT AS label, dim,
              |    CAST(round(embedding[(dim + 1)::INT]::DOUBLE * 1000000) AS BIGINT) AS v_e6
              |  FROM (SELECT label, embedding, unnest(range(0, $Dim)) AS dim FROM embeddings)),
              |pd AS (SELECT label, dim, count(*)::BIGINT AS n_vecs,
              |    sum(v_e6::HUGEINT) AS s1, sum(v_e6::HUGEINT * v_e6) AS s2
              |  FROM x GROUP BY 1, 2),
              |agg AS (SELECT label, max(n_vecs) AS n_vecs,
              |    sum(s2) AS s2t, sum(s1 * s1) AS ss1 FROM pd GROUP BY 1)
              |SELECT label, n_vecs,
              |  ((2 * (n_vecs::HUGEINT * s2t - ss1) + n_vecs::HUGEINT * n_vecs * 1000000)
              |    // (2 * n_vecs::HUGEINT * n_vecs * 1000000))::BIGINT AS msd_e6
              |FROM agg""".stripMargin)),

    // ── Nearest-class-mean classification — the classical strong
    //    baseline over the exact centroids: train on 4/5 of the
    //    vectors, classify the holdout by smallest exact squared-L2
    //    to a class centroid (integer algebra end-to-end: quantized
    //    components vs quantized centroids, DECIMAL(38,0) distance
    //    sums, (dist², label) argmin), reported as the confusion
    //    matrix. Scale shape: K×D centroids broadcast; the probe side
    //    is one N×D explode joined per-dim to the K centroids (the
    //    N·D·K flops NCM costs by definition), combined map-side into
    //    (vec, label) distances, then a K-way argmin per vector. ──
    QueryDef(
      "emb_ncm_confusion",
      "nearest-class-mean holdout confusion matrix over exact centroids",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cent = graft.operators.EmbStats
          .centroidByLabel(emb.filter(pmod(col("vec_id"), lit(5)) =!= 0))
          .select(col("label").as("c_label"), col("dim"), col("centroid_e6"))
        val probe = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
          .select(col("vec_id"), col("label").cast("long").as("true_label"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("true_label"), col("dim").cast("long").as("dim"),
            expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("v_e6"))
        probe.join(broadcast(cent), Seq("dim"))
          .groupBy("vec_id", "true_label", "c_label")
          .agg(sum(expr(
            "CAST(v_e6 - centroid_e6 AS DECIMAL(38,0)) * (v_e6 - centroid_e6)"))
            .as("__d2"))
          .groupBy("vec_id", "true_label")
          .agg(min(struct(col("__d2"), col("c_label"))).as("__w"))
          .groupBy(col("true_label"), col("__w.c_label").as("pred_label"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""WITH q AS (SELECT vec_id, label::BIGINT AS lbl, dim,
              |    CAST(round(embedding[(dim + 1)::INT]::DOUBLE * 1000000) AS BIGINT) AS v_e6
              |  FROM (SELECT vec_id, label, embedding, unnest(range(0, $Dim)) AS dim
              |        FROM embeddings)),
              |tr AS (SELECT * FROM q WHERE vec_id % 5 <> 0),
              |cent AS (SELECT lbl AS c_label, dim,
              |    ((2 * sum(v_e6::HUGEINT) + CASE WHEN sum(v_e6::HUGEINT) >= 0
              |        THEN count(*)::HUGEINT ELSE -(count(*)::HUGEINT) END)
              |      // (2 * count(*)::HUGEINT))::BIGINT AS c_e6
              |  FROM tr GROUP BY 1, 2),
              |dist AS (SELECT q.vec_id, q.lbl AS true_label, c.c_label,
              |    sum((q.v_e6 - c.c_e6)::HUGEINT * (q.v_e6 - c.c_e6)) AS d2
              |  FROM q JOIN cent c USING (dim) WHERE q.vec_id % 5 = 0
              |  GROUP BY 1, 2, 3),
              |pred AS (SELECT vec_id, true_label, c_label AS pred_label FROM dist
              |  QUALIFY row_number() OVER (PARTITION BY vec_id
              |    ORDER BY d2, c_label) = 1)
              |SELECT true_label, pred_label, count(*) AS n
              |FROM pred GROUP BY 1, 2""".stripMargin)),

    // ── LSH bucket assignment (the scale path for ANN) ──
    QueryDef(
      "sim_lsh_bucket",
      "sign-random-projection LSH bucket id per embedding",
      (s, d) => embBuckets(s, d).select("vec_id", "bucket"),
      Some(s"""SELECT vec_id,
              |list_reduce(list_prepend(0::BIGINT, range(0, $NPlanes)), (acc, j) -> acc +
              |  CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0, $Dim),
              |    i -> embedding[(i + 1)::INT]::DOUBLE *
              |      (((((j * $Dim + i) + 1) * 2654435761) % 1000003) - 501501)::DOUBLE)),
              |    (s2, x) -> s2 + x) >= 0
              |  THEN (1::BIGINT << j::INT) ELSE 0 END) AS bucket
              |FROM embeddings""".stripMargin)),

    // ── Multi-table ANN top-k. The bucket function and the rounded
    //    cosine are integer/fold-deterministic, so the full ANN result is
    //    exactly reproducible in DuckDB — a real oracle, not rows-only. ──
    QueryDef(
      "sim_lsh_topk",
      s"multi-table ($NTables×$TPlanes-plane) LSH cosine top-3 (ANN scale path)",
      (s, d) => Knn.lshTopKMultiTable(embTables(s, d), "vec_id", "embedding",
        col("vec_id") < 32, 3),
      Some(s"""WITH wt AS $dkTables,
              |cc AS (SELECT * FROM wt
              |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
              |pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
              |  FROM wt q JOIN cc c ON q.tbl = c.tbl AND q.bucket = c.bucket
              |    AND q.vec_id <> c.vec_id
              |  WHERE q.vec_id < 32),
              |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
              |scored AS (SELECT query_id, cand_id,
              |  round(${dkDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 8) AS cosine
              |  FROM pairs JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = cand_id)
              |SELECT query_id, cand_id, cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
              |FROM scored QUALIFY rnk <= 3""".stripMargin)),

    // ── ANN quality: recall@3 of the LSH path vs exact brute force.
    //    Both rankings are integer/fold-deterministic, so recall is an
    //    exactly-oracled number, not an estimate — "measure, don't
    //    guess" for the approximate path. ──
    QueryDef(
      "sim_lsh_recall",
      "recall@3 of multi-table ANN vs exact cosine top-3 per query",
      (s, d) => {
        val ann = Knn.lshTopKMultiTable(embTables(s, d), "vec_id", "embedding",
          col("vec_id") < 32, 3)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val emb = t(s, d, "embeddings")
        val brute = Knn.bruteForceTopK(emb.filter(col("vec_id") < 32), emb,
          "vec_id", "embedding", 3).select("query_id", "cand_id")
        brute.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH wt AS $dkTables,
              |cc AS (SELECT * FROM wt
              |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
              |pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
              |  FROM wt q JOIN cc c ON q.tbl = c.tbl AND q.bucket = c.bucket
              |    AND q.vec_id <> c.vec_id
              |  WHERE q.vec_id < 32),
              |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
              |ann AS (SELECT * FROM (
              |  SELECT query_id, cand_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY
              |      round(${dkDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 8) DESC,
              |      cand_id) AS rnk
              |  FROM pairs JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = cand_id
              |  ) WHERE rnk <= 3),
              |brute AS (SELECT * FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) DESC,
              |      c.vec_id) AS rnk
              |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3)
              |SELECT b.query_id, count(a.cand_id) AS n_hits,
              |  round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM brute b LEFT JOIN ann a
              |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
              |GROUP BY b.query_id""".stripMargin)),

    // ── Graded ranking metrics: MRR@3 and NDCG@3 of the ANN ranking
    //    against exact-cosine graded relevance (rel = 4 - exact rank).
    //    Recall treats the top-k as a SET; MRR/NDCG grade the ORDER the
    //    index returns — the numbers a retrieval deployment actually
    //    tracks. Everything is fixed-order arithmetic: the per-rank
    //    relevances are pivoted to columns first, so DCG is a 3-term
    //    expression tree (never a float SUM whose order the engine
    //    picks), and the 1/log2(3) weight is one shared double literal
    //    on both engines — bit-identical, exactly oracled. ──
    QueryDef(
      "eval_rank_metrics",
      "MRR@3 and NDCG@3 of multi-table ANN vs exact graded relevance",
      (s, d) => {
        val sys = Knn.lshTopKMultiTable(embTables(s, d), "vec_id", "embedding",
          col("vec_id") < 32, 3)
          .select(col("query_id"), col("cand_id"), col("rnk"))
        val emb = t(s, d, "embeddings")
        val truth = Knn.bruteForceTopK(emb.filter(col("vec_id") < 32), emb,
          "vec_id", "embedding", 3)
          .select(col("query_id"), col("cand_id"), (lit(4) - col("rnk")).as("rel"))
        // graded relevance observed at each SYSTEM rank (0 = that pick
        // is outside the exact top-3; absent rank = short result list)
        val atRank = sys.join(truth, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(
            coalesce(max(when(col("rnk") === 1, coalesce(col("rel"), lit(0)))), lit(0)).as("r1"),
            coalesce(max(when(col("rnk") === 2, coalesce(col("rel"), lit(0)))), lit(0)).as("r2"),
            coalesce(max(when(col("rnk") === 3, coalesce(col("rel"), lit(0)))), lit(0)).as("r3"))
        val ideal = truth.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
        ideal.join(atRank, Seq("query_id"), "left")
          .select(col("query_id"), col("n_rel"),
            coalesce(col("r1"), lit(0)).as("r1"),
            coalesce(col("r2"), lit(0)).as("r2"),
            coalesce(col("r3"), lit(0)).as("r3"))
          .select(col("query_id"),
            when(col("r1") > 0, lit(1.0)).when(col("r2") > 0, lit(0.5))
              .when(col("r3") > 0, lit(0.333333)).otherwise(lit(0.0)).as("rr"),
            round((col("r1") * lit(1.0) + col("r2") * lit(W2) + col("r3") * lit(0.5)) /
              (when(col("n_rel") === 3, lit(3.0 + 2.0 * W2 + 0.5))
                .when(col("n_rel") === 2, lit(3.0 + 2.0 * W2))
                .otherwise(lit(3.0))), 6).as("ndcg"))
      },
      Some(s"""WITH wt AS $dkTables,
              |cc AS (SELECT * FROM wt
              |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
              |pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
              |  FROM wt q JOIN cc c ON q.tbl = c.tbl AND q.bucket = c.bucket
              |    AND q.vec_id <> c.vec_id
              |  WHERE q.vec_id < 32),
              |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
              |ann AS (SELECT * FROM (
              |  SELECT query_id, cand_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY
              |      round(${dkDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 8) DESC,
              |      cand_id) AS rnk
              |  FROM pairs JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = cand_id
              |  ) WHERE rnk <= 3),
              |brute AS (SELECT query_id, cand_id, 4 - rnk AS rel FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) DESC,
              |      c.vec_id) AS rnk
              |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |atr AS (SELECT a.query_id,
              |    coalesce(max(CASE WHEN a.rnk = 1 THEN coalesce(b.rel, 0) END), 0) AS r1,
              |    coalesce(max(CASE WHEN a.rnk = 2 THEN coalesce(b.rel, 0) END), 0) AS r2,
              |    coalesce(max(CASE WHEN a.rnk = 3 THEN coalesce(b.rel, 0) END), 0) AS r3
              |  FROM ann a LEFT JOIN brute b
              |    ON b.query_id = a.query_id AND b.cand_id = a.cand_id
              |  GROUP BY a.query_id),
              |idl AS (SELECT query_id, count(*) AS n_rel FROM brute GROUP BY 1)
              |SELECT query_id,
              |  (CASE WHEN r1 > 0 THEN 1.0 WHEN r2 > 0 THEN 0.5
              |        WHEN r3 > 0 THEN 0.333333 ELSE 0.0 END)::DOUBLE AS rr,
              |  round((r1::DOUBLE * 1.0::DOUBLE + r2::DOUBLE * ($W2)::DOUBLE
              |      + r3::DOUBLE * 0.5::DOUBLE) /
              |    (CASE WHEN n_rel = 3 THEN (${3.0 + 2.0 * W2 + 0.5})::DOUBLE
              |          WHEN n_rel = 2 THEN (${3.0 + 2.0 * W2})::DOUBLE
              |          ELSE 3.0::DOUBLE END), 6) AS ndcg
              |FROM (SELECT i.query_id, i.n_rel,
              |    coalesce(a.r1, 0) AS r1, coalesce(a.r2, 0) AS r2, coalesce(a.r3, 0) AS r3
              |  FROM idl i LEFT JOIN atr a ON a.query_id = i.query_id)""".stripMargin)),

    // ── IVF ANN (partition-based, the second ANN family): coarse-cell
    //    assignment + nprobe search over TRAINED centroids (IvfIters
    //    Lloyd rounds, integer-quantized means). Deterministic training
    //    ⇒ exact oracles for the index, the search, and its recall. ──
    QueryDef(
      "sim_ivf_cells",
      s"IVF coarse-cell assignment (argmax cosine over $IvfK trained centroids)",
      (s, d) => ivfCells(s, d).select("vec_id", "cell"),
      Some(s"""WITH $dkIvfCtes
              |SELECT vec_id, cell FROM rk WHERE rn = 1""".stripMargin)),

    // ── Embedding-distribution drift gate: the "retrain the coarse
    //    quantizer?" signal. Baseline vs batch (even/odd vec_id — the
    //    standing corpus vs the new crawl) are profiled by their
    //    trained-cell assignment counts; a >20% move in any cell's
    //    SHARE of its corpus — decided by integer cross-multiplication
    //    (DECIMAL(38,0)/HUGEINT products: at 1e9 vectors n·T exceeds
    //    BIGINT), never a float ratio — plus new/emptied-cell flags
    //    from the full-outer join. Both profiles are K-row map-side
    //    aggregates off the existing assignment, so the gate costs two
    //    groupBys at any corpus size — the embedding twin of
    //    profile_drift_lang. ──
    QueryDef(
      "profile_drift_cells",
      "baseline-vs-batch IVF cell-assignment profile: counts, >20% share drift, new/emptied flags",
      (s, d) => {
        val asg = ivfCells(s, d).select(col("vec_id"), col("cell"))
        def prof(even: Boolean, n: String) = asg
          .filter(pmod(col("vec_id"), lit(2)) === (if (even) 0 else 1))
          .groupBy("cell").agg(count(lit(1)).as(n))
        val base = prof(even = true, "n_base")
        val batch = prof(even = false, "n_batch")
        val totals = asg.agg(
          sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L)).as("t_base"),
          sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L)).as("t_batch"))
        base.join(batch, Seq("cell"), "full")
          .crossJoin(broadcast(totals)) // 1-row aggregate broadcast
          .select(col("cell"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_batch"), lit(0L)).as("n_batch"),
            col("n_base").isNull.cast("int").as("cell_new"),
            col("n_batch").isNull.cast("int").as("cell_gone"),
            (coalesce(col("n_base"), lit(0L)) > 0 &&
              coalesce(col("n_batch"), lit(0L)) > 0 &&
              abs(col("n_batch").cast("decimal(38,0)") * col("t_base") -
                  col("n_base").cast("decimal(38,0)") * col("t_batch")) * 5 >
                col("n_base").cast("decimal(38,0)") * col("t_batch"))
              .cast("int").as("share_drift"))
      },
      Some(s"""WITH $dkIvfCtes,
              |asg AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
              |a AS (SELECT cell, count(*) AS n_base FROM asg WHERE vec_id % 2 = 0 GROUP BY 1),
              |b AS (SELECT cell, count(*) AS n_batch FROM asg WHERE vec_id % 2 = 1 GROUP BY 1),
              |ta AS (SELECT count(*) AS t_base FROM asg WHERE vec_id % 2 = 0),
              |tb AS (SELECT count(*) AS t_batch FROM asg WHERE vec_id % 2 = 1)
              |SELECT coalesce(a.cell, b.cell) AS cell,
              |  coalesce(n_base, 0)::BIGINT AS n_base,
              |  coalesce(n_batch, 0)::BIGINT AS n_batch,
              |  (a.cell IS NULL)::INT AS cell_new,
              |  (b.cell IS NULL)::INT AS cell_gone,
              |  (coalesce(n_base, 0) > 0 AND coalesce(n_batch, 0) > 0 AND
              |   abs(n_batch::HUGEINT * t_base - n_base::HUGEINT * t_batch) * 5 >
              |     n_base::HUGEINT * t_batch)::INT AS share_drift
              |FROM a FULL JOIN b ON a.cell = b.cell, ta, tb""".stripMargin)),

    // ── The residual-store retrain gate (completes the drift family
    //    beside cells/codes/bounds): per cell, the e6-floored squared
    //    residual energy of the "batch" half (odd vec_ids) vs the
    //    "base" half the models saw — a cell whose incoming residual
    //    energy grows >1.2× means the pinned coarse centroid has gone
    //    stale for new data and the residual codebooks are spending
    //    their budget on drift, not geometry. Exact BIGINT sums,
    //    DECIMAL/HUGEINT cross-multiplied ratio test, K rows out at
    //    any corpus size. ──
    QueryDef(
      "profile_drift_residual",
      "baseline-vs-batch per-cell residual energy: counts, e6 sums, >1.2x energy drift flag",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val r2 = ivfResVecs(s, d).select(col("vec_id"), col("cell"),
          expr("CAST(floor(graft_dot_d(rvec, rvec) * 1000000.0D) AS BIGINT)").as("r2_e6"))
        def prof(even: Boolean, n: String, sn: String) = r2
          .filter(pmod(col("vec_id"), lit(2)) === (if (even) 0 else 1))
          .groupBy("cell").agg(count(lit(1)).as(n), sum("r2_e6").as(sn))
        prof(even = true, "n_base", "sr2_base_e6")
          .join(prof(even = false, "n_batch", "sr2_batch_e6"), Seq("cell"), "full")
          .select(col("cell"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_batch"), lit(0L)).as("n_batch"),
            coalesce(col("sr2_base_e6"), lit(0L)).as("sr2_base_e6"),
            coalesce(col("sr2_batch_e6"), lit(0L)).as("sr2_batch_e6"),
            (coalesce(col("n_base"), lit(0L)) > 0 &&
              coalesce(col("n_batch"), lit(0L)) > 0 &&
              col("sr2_batch_e6").cast("decimal(38,0)") * col("n_base") * 5 >
                col("sr2_base_e6").cast("decimal(38,0)") * col("n_batch") * 6)
              .cast("int").as("energy_drift"))
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes,
              |rr AS (SELECT vec_id, cell,
              |    floor(${dkDotD("rvec", "rvec")} * 1000000.0)::BIGINT AS r2_e6 FROM rvv),
              |a AS (SELECT cell, count(*) AS n_base, sum(r2_e6)::BIGINT AS sr2_base_e6
              |  FROM rr WHERE vec_id % 2 = 0 GROUP BY 1),
              |b AS (SELECT cell, count(*) AS n_batch, sum(r2_e6)::BIGINT AS sr2_batch_e6
              |  FROM rr WHERE vec_id % 2 = 1 GROUP BY 1)
              |SELECT coalesce(a.cell, b.cell) AS cell,
              |  coalesce(n_base, 0)::BIGINT AS n_base,
              |  coalesce(n_batch, 0)::BIGINT AS n_batch,
              |  coalesce(sr2_base_e6, 0)::BIGINT AS sr2_base_e6,
              |  coalesce(sr2_batch_e6, 0)::BIGINT AS sr2_batch_e6,
              |  (coalesce(n_base, 0) > 0 AND coalesce(n_batch, 0) > 0 AND
              |   sr2_batch_e6::HUGEINT * n_base * 5 > sr2_base_e6::HUGEINT * n_batch * 6)::INT
              |    AS energy_drift
              |FROM a FULL JOIN b ON a.cell = b.cell""".stripMargin)),

    QueryDef(
      "sim_ivf_topk",
      s"IVF top-3: probe the $IvfProbe best of $IvfK cells against ${IvfAssign}x-posted index",
      (s, d) => {
        val cells = ivfCells(s, d)
        // shared memoized pair set (r17) — identical probes × posts
        // derivation, previously re-ranked the corpus inline
        val pairs = ivfCandPairs(s, d)
        Knn.heapTopK(pairs
          .join(cells.select(col("vec_id").as("cand_id"),
            col("embedding").as("c_emb"), col("nrm").as("c_norm")), Seq("cand_id"))
          .join(cells.select(col("vec_id").as("query_id"),
            col("embedding").as("q_emb"), col("nrm").as("q_norm")), Seq("query_id"))
          .withColumn("cosine", round(
            graft.functions.VectorFunctions.dot("q_emb", "c_emb") /
              (col("q_norm") * col("c_norm")), 8)), 3)
          .select("query_id", "cand_id", "cosine", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |cells AS (SELECT vec_id, embedding, nrm, cell FROM rk WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM rk WHERE vec_id < 32 AND rn <= $IvfProbe),
              |posts AS (SELECT vec_id AS cand_id, cell FROM rk WHERE rn <= $IvfAssign),
              |pairs AS (SELECT DISTINCT p.query_id, c.cand_id
              |  FROM probes p JOIN posts c ON c.cell = p.cell AND c.cand_id <> p.query_id),
              |scored AS (SELECT pr.query_id, pr.cand_id,
              |  round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) AS cosine
              |  FROM pairs pr JOIN cells c ON c.vec_id = pr.cand_id
              |  JOIN cells q ON q.vec_id = pr.query_id)
              |SELECT query_id, cand_id, cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
              |FROM scored QUALIFY rnk <= 3""".stripMargin)),

    QueryDef(
      "sim_ivf_recall",
      "recall@3 of IVF nprobe search vs exact cosine top-3 per query",
      (s, d) => {
        val cells = ivfCells(s, d)
        // shared memoized pair set (r18, ADVICE r17): the inline probes
        // × posts derivation was identical to ivfCandPairs but re-ran
        // the n×K rank window twice per cold pass
        val pairs = ivfCandPairs(s, d)
        val ann = Knn.heapTopK(pairs
          .join(cells.select(col("vec_id").as("cand_id"),
            col("embedding").as("c_emb"), col("nrm").as("c_norm")), Seq("cand_id"))
          .join(cells.select(col("vec_id").as("query_id"),
            col("embedding").as("q_emb"), col("nrm").as("q_norm")), Seq("query_id"))
          .withColumn("cosine", round(
            graft.functions.VectorFunctions.dot("q_emb", "c_emb") /
              (col("q_norm") * col("c_norm")), 8)), 3)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val emb = t(s, d, "embeddings")
        val brute = Knn.bruteForceTopK(emb.filter(col("vec_id") < 32), emb,
          "vec_id", "embedding", 3).select("query_id", "cand_id")
        brute.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH $dkIvfCtes,
              |cells AS (SELECT vec_id, embedding, nrm, cell FROM rk WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM rk WHERE vec_id < 32 AND rn <= $IvfProbe),
              |posts AS (SELECT vec_id AS cand_id, cell FROM rk WHERE rn <= $IvfAssign),
              |pairs AS (SELECT DISTINCT p.query_id, c.cand_id
              |  FROM probes p JOIN posts c ON c.cell = p.cell AND c.cand_id <> p.query_id),
              |ann AS (SELECT * FROM (
              |  SELECT pr.query_id, pr.cand_id,
              |    row_number() OVER (PARTITION BY pr.query_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) DESC,
              |      pr.cand_id) AS rnk
              |  FROM pairs pr JOIN cells c ON c.vec_id = pr.cand_id
              |  JOIN cells q ON q.vec_id = pr.query_id) WHERE rnk <= 3),
              |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
              |brute AS (SELECT * FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) DESC,
              |      c.vec_id) AS rnk
              |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3)
              |SELECT b.query_id, count(a.cand_id) AS n_hits,
              |  round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM brute b LEFT JOIN ann a
              |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
              |GROUP BY b.query_id""".stripMargin)),

    // ── The standing IVF store as a driver-visible row: the pinned
    //    coarse quantizer (trained once on the corpus, written into
    //    the store), a TWO-batch fold (even then odd vec_ids — the
    //    standing corpus and the next crawl), and the pinned-version
    //    serve (cell-sorted posts join + payload-distinct heap) must
    //    reproduce the one-shot `sim_ivf_topk` search EXACTLY — fold
    //    ≡ rebuild for the IVF family, pinned per round with the SAME
    //    oracle CTE chain (per-vector cell assignment is independent
    //    of every other vector, so batch-at-a-time assignment against
    //    a fixed quantizer is the whole proof). ──
    QueryDef(
      "ivf_store_serve",
      "standing IVF store: 2-batch fold + pinned-quantizer serve == one-shot IVF search",
      (s, d) => {
        val base = tempStoreDir("graft_ivfstore")
        val cent = ivfCentroids(s, d)
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.ivfFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), base, 0L, cent,
          nAssign = IvfAssign)
        graft.streaming.VectorStreams.ivfFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), base, 1L, cent,
          nAssign = IvfAssign)
        graft.streaming.VectorStreams.ivfServeFromStore(
            s, base, emb.filter(col("vec_id") < 32), k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "cosine", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |cells AS (SELECT vec_id, embedding, nrm, cell FROM rk WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM rk WHERE vec_id < 32 AND rn <= $IvfProbe),
              |posts AS (SELECT vec_id AS cand_id, cell FROM rk WHERE rn <= $IvfAssign),
              |pairs AS (SELECT DISTINCT p.query_id, c.cand_id
              |  FROM probes p JOIN posts c ON c.cell = p.cell AND c.cand_id <> p.query_id),
              |scored AS (SELECT pr.query_id, pr.cand_id,
              |  round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) AS cosine
              |  FROM pairs pr JOIN cells c ON c.vec_id = pr.cand_id
              |  JOIN cells q ON q.vec_id = pr.query_id)
              |SELECT query_id, cand_id, cosine,
              |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
              |FROM scored QUALIFY rnk <= 3""".stripMargin)),

    // ── Product quantization (third ANN family): trained codebooks,
    //    the compressed code index, ADC search over codes only, and an
    //    exactly-measured recall row. See the PQ block comment above. ──
    QueryDef(
      "pq_codes",
      s"PQ code index: $PqM×$PqSub-dim subspaces, $PqKs-cell codebooks, $PqIters Lloyd rounds",
      (s, d) => pqCodes(s, d).select("vec_id", "m", "code"),
      Some(s"""WITH ${dkPqCtes()}
              |SELECT vec_id, m, code FROM pcode""".stripMargin)),

    // ── The PQ twin of `profile_drift_cells` — the "retrain the
    //    CODEBOOKS?" gate: baseline vs batch (even/odd vec_id) code
    //    histograms per (subspace, code), >20% share drift decided by
    //    HUGEINT/DECIMAL(38,0) cross-multiplication (never a float
    //    ratio), new/emptied-code flags from the full-outer join. Two
    //    (m×ks)-row map-side aggregates off the existing code index —
    //    K-row cost at any corpus size. A drifting crawl distribution
    //    shows up here as codes going hot/cold per subspace before ADC
    //    recall quietly degrades. ──
    QueryDef(
      "profile_drift_codes",
      "baseline-vs-batch PQ code histograms: counts, >20% share drift, new/emptied flags",
      (s, d) => {
        val codes = pqCodes(s, d).select(col("vec_id"), col("m"), col("code"))
        def prof(even: Boolean, n: String) = codes
          .filter(pmod(col("vec_id"), lit(2)) === (if (even) 0 else 1))
          .groupBy("m", "code").agg(count(lit(1)).as(n))
        val base = prof(even = true, "n_base")
        val batch = prof(even = false, "n_batch")
        val totals = codes.agg(
          sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L)).as("t_base"),
          sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L)).as("t_batch"))
        base.join(batch, Seq("m", "code"), "full")
          .crossJoin(broadcast(totals))
          .select(col("m"), col("code"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_batch"), lit(0L)).as("n_batch"),
            col("n_base").isNull.cast("int").as("code_new"),
            col("n_batch").isNull.cast("int").as("code_gone"),
            (coalesce(col("n_base"), lit(0L)) > 0 &&
              coalesce(col("n_batch"), lit(0L)) > 0 &&
              abs(col("n_batch").cast("decimal(38,0)") * col("t_base") -
                  col("n_base").cast("decimal(38,0)") * col("t_batch")) * 5 >
                col("n_base").cast("decimal(38,0)") * col("t_batch"))
              .cast("int").as("share_drift"))
      },
      Some(s"""WITH ${dkPqCtes()},
              |a AS (SELECT m, code, count(*) AS n_base FROM pcode
              |  WHERE vec_id % 2 = 0 GROUP BY 1, 2),
              |b AS (SELECT m, code, count(*) AS n_batch FROM pcode
              |  WHERE vec_id % 2 = 1 GROUP BY 1, 2),
              |ta AS (SELECT count(*) AS t_base FROM pcode WHERE vec_id % 2 = 0),
              |tb AS (SELECT count(*) AS t_batch FROM pcode WHERE vec_id % 2 = 1)
              |SELECT coalesce(a.m, b.m) AS m, coalesce(a.code, b.code) AS code,
              |  coalesce(n_base, 0)::BIGINT AS n_base,
              |  coalesce(n_batch, 0)::BIGINT AS n_batch,
              |  (a.m IS NULL)::INT AS code_new,
              |  (b.m IS NULL)::INT AS code_gone,
              |  (coalesce(n_base, 0) > 0 AND coalesce(n_batch, 0) > 0 AND
              |   abs(n_batch::HUGEINT * t_base - n_base::HUGEINT * t_batch) * 5 >
              |     n_base::HUGEINT * t_batch)::INT AS share_drift
              |FROM a FULL JOIN b ON a.m = b.m AND a.code = b.code, ta, tb""".stripMargin)),

    // ── Index maintenance for the PQ family (the LSH and IVF twins are
    //    `sim_incremental_index` / stored multi-table index): codebooks
    //    are a STORED artifact — a new ingest batch is encoded against
    //    codebooks trained only on the initial corpus, no retraining,
    //    one broadcast join per batch. ──
    QueryDef(
      "pq_incremental_codes",
      "new-batch PQ encode against stored codebooks trained on vec_id < 400 only",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        pqSubs(s, d).filter(col("vec_id") >= 400)
          .join(broadcast(pqCentroids(s, d, Some(400L))), Seq("m"))
          .withColumn("dist", round(expr(d2Sql("sub", "cw")), 8))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id", "m").orderBy(col("dist"), col("cell"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("m"), col("cell").as("code"))
      },
      Some(s"""WITH ${dkPqCtes(Some(400L))}
              |SELECT vec_id, m, code FROM pcode WHERE vec_id >= 400""".stripMargin)),

    QueryDef(
      "pq_adc_topk",
      s"PQ asymmetric-distance top-3: broadcast query LUT summed over $PqM-code scans",
      (s, d) => pqAdcRanked(s, d, 3).select("query_id", "cand_id", "adist_e6", "rnk"),
      Some(s"""WITH ${dkPqCtes()},
              |$dkPqAdcCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM padc WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── The PACKED PQ scan — same kernel discipline as
    //    sq8_adc_packed_topk (graft_adc_sum with ks=PqKs): one
    //    (vec_id, codes array<int>) row per vector scored against the
    //    broadcast flat m×ks LUT — |Q|·N scored rows instead of the
    //    exploded join's |Q|·N·m. Integer sums are order-insensitive,
    //    so pq_adc_topk's oracle pins this plan verbatim. ──
    QueryDef(
      "pq_adc_packed_topk",
      s"packed-codes PQ ADC top-3 via the codegen'd graft_adc_sum kernel == exploded plan",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val lut = graft.operators.Pq.adcLutFlat(
            pqSubs(s, d).filter(col("vec_id") < 32), "vec_id", pqCentroids(s, d), PqKs)
          .withColumnRenamed("vec_id", "query_id")
        val codesP = pqCodesPacked(s, d)
          .select(col("vec_id").as("cand_id"), col("codes"))
        val ranked = codesP.crossJoin(broadcast(lut))
          .filter(col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"),
            expr(s"graft_adc_sum(codes, lut, $PqKs)").as("adist_e6"))
        adcTopK(ranked, 3)
      },
      Some(s"""WITH ${dkPqCtes()},
              |$dkPqAdcCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM padc WHERE rnk <= 3""".stripMargin),
      bench = true),

    QueryDef(
      "pq_rerank_topk",
      "PQ ADC shortlist-20 re-ranked exactly against true vectors (production ANN shape)",
      (s, d) => pqRerankTop3(s, d).select("query_id", "cand_id", "dist_e6", "rnk"),
      Some(s"""WITH ${dkPqCtes()},
              |$dkPqAdcCtes
              |SELECT query_id, cand_id, dist_e6, rnk FROM prr""".stripMargin)),

    QueryDef(
      "pq_recall",
      "recall@3 of PQ shortlist+rerank vs exact subspace-summed L2 top-3 per query",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val subs = pqSubs(s, d)
        val qd = subs.filter(col("vec_id") < 32)
          .select(col("vec_id").as("query_id"), col("m"), col("sub").as("q_sub"))
        val exact = subs
          .select(col("vec_id").as("cand_id"), col("m"), col("sub").as("c_sub"))
          .join(broadcast(qd), Seq("m"))
          .filter(col("cand_id") =!= col("query_id"))
          .withColumn("d_e6",
            expr(s"CAST(floor(${d2Sql("q_sub", "c_sub")} * 1000000.0D) AS BIGINT)"))
          .groupBy("query_id", "cand_id").agg(sum("d_e6").as("dist_e6"))
          .transform(adcTopK(_, 3, "dist_e6"))
          .select("query_id", "cand_id")
        val ann = pqRerankTop3(s, d)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        exact.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH ${dkPqCtes()},
              |$dkPqAdcCtes,
              |pex AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY sum(floor(${dkD2("q.sub", "c.sub")} * 1000000.0)::BIGINT), c.vec_id) AS rnk
              |  FROM pv q JOIN pv c ON c.m = q.m AND c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32 GROUP BY q.vec_id, c.vec_id) WHERE rnk <= 3)
              |SELECT b.query_id, count(a.cand_id) AS n_hits,
              |  round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM pex b LEFT JOIN prr a
              |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
              |GROUP BY b.query_id""".stripMargin)),

    // ── IVF×PQ composition: the missing production piece round 8
    //    flagged — pure ADC scans 100% of codes per query; composing
    //    the trained coarse quantizer in front bounds the scan to the
    //    nprobe·assign/K candidate fraction. Both halves replay
    //    bit-exact in SQL, so the composition does too. ──
    QueryDef(
      "pq_ivf_adc_topk",
      s"IVF-ADC top-3: coarse prune to $IvfProbe/$IvfK probed cells, then PQ code-scan only those",
      (s, d) => pqIvfAdcRanked(s, d, 3).select("query_id", "cand_id", "adist_e6", "rnk"),
      Some(s"""WITH $dkIvfCtes,
              |${dkPqCtes()},
              |$dkIvfAdcCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM ivfadc WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── The PACKED IVF×PQ composition — the production 100 TB plan
    //    and the exact plan the packed standing store serves: coarse
    //    prune first, then ONE graft_adc_sum kernel call per surviving
    //    (query, candidate) pair over the packed (vec_id, codes) row —
    //    never the |cand|·m exploded join. Benched beside the exploded
    //    pq_ivf_adc_topk (which stays registered as the oracle-shape
    //    row) so the artifact carries the production number. ──
    QueryDef(
      "pq_ivf_adc_packed_topk",
      s"IVF-coarse-pruned PACKED code scan via graft_adc_sum == exploded IVF-ADC",
      (s, d) => pqIvfAdcPackedRanked(s, d, 3).select("query_id", "cand_id", "adist_e6", "rnk"),
      Some(s"""WITH $dkIvfCtes,
              |${dkPqCtes()},
              |$dkIvfAdcCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM ivfadc WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── The standing IVF×PQ store as a driver-visible row: both
    //    models (coarse quantizer + PQ codebooks) pinned in the store
    //    by the first fold, a two-batch ingest (even/odd vec_ids),
    //    and the pinned-version ADC serve must reproduce the one-shot
    //    `pq_ivf_adc_topk` search EXACTLY — per-vector assignment AND
    //    per-vector encoding make fold ≡ rebuild a theorem for the
    //    production ANN shape, so the oracle is the same CTE chain. ──
    QueryDef(
      "ivfpq_store_serve",
      "standing IVF-PQ store: 2-batch fold + pinned-model ADC serve == one-shot IVF-ADC",
      (s, d) => {
        val base = tempStoreDir("graft_ivfpqstore")
        val cent = ivfCentroids(s, d)
        val books = pqCentroids(s, d)
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.ivfPqFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), base, 0L, cent, books,
          nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
        graft.streaming.VectorStreams.ivfPqFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), base, 1L, cent, books,
          nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
        graft.streaming.VectorStreams.ivfPqServeFromStore(
            s, base, emb.filter(col("vec_id") < 32), k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "adist_e6", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |${dkPqCtes()},
              |$dkIvfAdcCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM ivfadc WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "pq_ivf_recall",
      "recall@3 of IVF-ADC shortlist+rerank vs exact subspace-summed L2 top-3 per query",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val subs = pqSubs(s, d)
        val qd = subs.filter(col("vec_id") < 32)
          .select(col("vec_id").as("query_id"), col("m"), col("sub").as("q_sub"))
        val exact = subs
          .select(col("vec_id").as("cand_id"), col("m"), col("sub").as("c_sub"))
          .join(broadcast(qd), Seq("m"))
          .filter(col("cand_id") =!= col("query_id"))
          .withColumn("d_e6",
            expr(s"CAST(floor(${d2Sql("q_sub", "c_sub")} * 1000000.0D) AS BIGINT)"))
          .groupBy("query_id", "cand_id").agg(sum("d_e6").as("dist_e6"))
          .transform(adcTopK(_, 3, "dist_e6"))
          .select("query_id", "cand_id")
        val ann = pqIvfRerankTop3(s, d)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        exact.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH $dkIvfCtes,
              |${dkPqCtes()},
              |$dkIvfAdcCtes,
              |pex AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY sum(floor(${dkD2("q.sub", "c.sub")} * 1000000.0)::BIGINT), c.vec_id) AS rnk
              |  FROM pv q JOIN pv c ON c.m = q.m AND c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32 GROUP BY q.vec_id, c.vec_id) WHERE rnk <= 3)
              |SELECT b.query_id, count(a.cand_id) AS n_hits,
              |  round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM pex b LEFT JOIN ivfrr a
              |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
              |GROUP BY b.query_id""".stripMargin)),

    // ── MAXIMUM-INNER-PRODUCT search over the SAME PQ index (FAISS's
    //    METRIC_INNER_PRODUCT): the ADC estimate Σ_m dot(q_m, cw_m)
    //    approximates dot(q, recon(c)) and ranks DESC — retrieval for
    //    recommender/two-tower embeddings, where score = ⟨user, item⟩
    //    and norms CARRY MEANING (cosine/L2 would erase the popularity
    //    component a trained item norm encodes). Same e6-floored
    //    order-insensitive BIGINT-sum discipline; exploded row =
    //    oracle shape, packed row = the graft_adc_sum kernel plan
    //    (dead LUT slots carry −2⁵⁰ — under DESC ranking a foreign
    //    code must LOSE unmissably, the mirror of the distance LUT's
    //    +2⁵⁰). No IVF composition: the cosine-trained coarse
    //    quantizer does not bound inner products (a far-but-huge-norm
    //    candidate can win MIPS from an unprobed cell), so composing
    //    them would be silently lossy in a way recall can't gate —
    //    norm-aware partitioning is the correct future lever. ──
    QueryDef(
      "pq_ip_adc_topk",
      "max-inner-product ADC top-3 over the PQ code index (desc BIGINT e6 dot sums)",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val lut = graft.operators.Pq.ipLut(
            pqSubs(s, d).filter(col("vec_id") < 32), "vec_id", pqCentroids(s, d))
          .withColumnRenamed("vec_id", "query_id")
        val scored = pqCodes(s, d)
          .select(col("vec_id").as("cand_id"), col("m"), col("code"))
          .join(broadcast(lut), Seq("m", "code"))
          .filter(col("cand_id") =!= col("query_id"))
          .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("ip_e6"))
        int8TopK(scored, 3, "ip_e6")
      },
      Some(s"""WITH ${dkPqCtes()},
              |$dkIpCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM ipadc WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "pq_ip_adc_packed_topk",
      "packed-codes MIPS ADC top-3 via the graft_adc_sum kernel == exploded plan",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val lut = graft.operators.Pq.ipLutFlat(
            pqSubs(s, d).filter(col("vec_id") < 32), "vec_id", pqCentroids(s, d), PqKs)
          .withColumnRenamed("vec_id", "query_id")
        val scored = pqCodesPacked(s, d)
          .select(col("vec_id").as("cand_id"), col("codes"))
          .crossJoin(broadcast(lut))
          .filter(col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"),
            expr(s"graft_adc_sum(codes, lut, $PqKs)").as("ip_e6"))
        int8TopK(scored, 3, "ip_e6")
      },
      Some(s"""WITH ${dkPqCtes()},
              |$dkIpCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM ipadc WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "pq_ip_recall",
      "recall@3 of MIPS-ADC search vs the exact full-dim inner-product top-3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val lut = graft.operators.Pq.ipLut(
            pqSubs(s, d).filter(col("vec_id") < 32), "vec_id", pqCentroids(s, d))
          .withColumnRenamed("vec_id", "query_id")
        val ann = int8TopK(pqCodes(s, d)
            .select(col("vec_id").as("cand_id"), col("m"), col("code"))
            .join(broadcast(lut), Seq("m", "code"))
            .filter(col("cand_id") =!= col("query_id"))
            .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("ip_e6")), 3, "ip_e6")
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val ed = emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        val exact = int8TopK(ed
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
          .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
            .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("ip_e6",
            expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)")),
          3, "ip_e6")
          .select("query_id", "cand_id")
        exact.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH ${dkPqCtes()},
              |$dkIpCtes,
              |xip AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT DESC,
              |      c.vec_id) AS rnk
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |ip3 AS (SELECT query_id, cand_id FROM ipadc WHERE rnk <= 3)
              |SELECT x.query_id, count(s.cand_id) AS n_hits,
              |  round(count(s.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM xip x LEFT JOIN ip3 s
              |  ON s.query_id = x.query_id AND s.cand_id = x.cand_id
              |GROUP BY x.query_id""".stripMargin)),

    // ── MIPS WITH a sound prune — the SIMPLE-LSH/ALSH reduction
    //    (Neyshabur & Srebro 2015): items lift to the unit sphere
    //    (x → [x/M ; √(1−‖x/M‖²)], M = max corpus norm), queries get a
    //    zero slot, and cosine in the lifted space is MONOTONE in
    //    ⟨q, x⟩ — so the existing multi-table sign-LSH machinery
    //    becomes a CORRECT MIPS candidate generator (the thing the
    //    cosine-trained IVF prune structurally is not, per the
    //    pq_ip_adc_topk note). Candidates rescore by exact dot; the
    //    recall row pins the quality against exact MIPS. ──
    QueryDef(
      "mips_alsh_topk",
      "MIPS top-3 via the ALSH unit-sphere lift: 65-dim LSH candidates + exact-dot rescore",
      (s, d) => mipsAlshTopK(s, d),
      Some(s"""WITH $dkAlshCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM amips WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "mips_alsh_recall",
      "recall@3 of ALSH-pruned MIPS vs the exact full-scan inner-product top-3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val ann = mipsAlshTopK(s, d)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val ed = emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        val exact = int8TopK(ed
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
          .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
            .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("ip_e6",
            expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)")),
          3, "ip_e6")
          .select("query_id", "cand_id")
        exact.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH $dkAlshCtes,
              |xip AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT DESC,
              |      c.vec_id) AS rnk
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |alsh3 AS (SELECT query_id, cand_id FROM amips WHERE rnk <= 3)
              |SELECT x.query_id, count(s.cand_id) AS n_hits,
              |  round(count(s.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM xip x LEFT JOIN alsh3 s
              |  ON s.query_id = x.query_id AND s.cand_id = x.cand_id
              |GROUP BY x.query_id""".stripMargin)),

    // ── Multi-PROBE MIPS (r14 verdict #3): the round-5 multi-probe
    //    precedent (home bucket + all 1-bit flips, which took cosine
    //    sign-LSH recall 0.302 → 0.635 at fixed table count) applied to
    //    the 65-dim LIFTED buckets — same NTables, same QUALIFY-
    //    mirrored hot-bucket cap, probe expansion on the query side
    //    only. ──
    QueryDef(
      "mips_alsh_probe_topk",
      "multi-probe MIPS top-3: home + 1-bit-flip lifted buckets per table, exact-dot rescore",
      (s, d) => mipsAlshTopKProbe(s, d),
      Some(s"""WITH $dkAlshCtes,
              |$dkAlshProbeCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM pmips WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "mips_alsh_probe_recall",
      "recall@3 of multi-probe ALSH MIPS vs the exact full-scan inner-product top-3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val ann = mipsAlshTopKProbe(s, d)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val ed = emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        val exact = int8TopK(ed
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
          .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
            .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("ip_e6",
            expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)")),
          3, "ip_e6")
          .select("query_id", "cand_id")
        exact.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH $dkAlshCtes,
              |$dkAlshProbeCtes,
              |xip AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT DESC,
              |      c.vec_id) AS rnk
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |palsh3 AS (SELECT query_id, cand_id FROM pmips WHERE rnk <= 3)
              |SELECT x.query_id, count(s.cand_id) AS n_hits,
              |  round(count(s.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM xip x LEFT JOIN palsh3 s
              |  ON s.query_id = x.query_id AND s.cand_id = x.cand_id
              |GROUP BY x.query_id""".stripMargin)),

    // ── The multi-probe LIFT pinned as DATA: over the identical exact
    //    inner-product top-3, total hits of the raw single-probe chain
    //    vs the probe-expanded chain. Candidate sets are supersets, so
    //    probe_hits >= raw_hits up to boundary ties — whichever way the
    //    fixture lands, both engines compute the identical booleans. ──
    QueryDef(
      "mips_alsh_probe_lift",
      "multi-probe MIPS recall lift over single-probe, pinned as exact hit counts",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val ed = emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        val exact = int8TopK(ed
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
          .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
            .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("ip_e6",
            expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)")),
          3, "ip_e6")
          .select("query_id", "cand_id").localCheckpoint(true)
        val rawH = exact.join(mipsAlshTopK(s, d).select("query_id", "cand_id"),
            Seq("query_id", "cand_id"), "left_semi")
          .agg(count(lit(1)).as("raw_hits"))
        val probeH = exact.join(mipsAlshTopKProbe(s, d).select("query_id", "cand_id"),
            Seq("query_id", "cand_id"), "left_semi")
          .agg(count(lit(1)).as("probe_hits"))
        rawH.crossJoin(probeH)
          .select(col("raw_hits"), col("probe_hits"),
            (col("probe_hits") >= col("raw_hits")).as("no_regression"),
            (col("probe_hits") > col("raw_hits")).as("lifted"))
      },
      Some(s"""WITH $dkAlshCtes,
              |$dkAlshProbeCtes,
              |xip AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT DESC,
              |      c.vec_id) AS rnk
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |r AS (SELECT count(*)::BIGINT AS raw_hits FROM xip x
              |  JOIN (SELECT query_id, cand_id FROM amips WHERE rnk <= 3) a
              |    ON a.query_id = x.query_id AND a.cand_id = x.cand_id),
              |p AS (SELECT count(*)::BIGINT AS probe_hits FROM xip x
              |  JOIN (SELECT query_id, cand_id FROM pmips WHERE rnk <= 3) b
              |    ON b.query_id = x.query_id AND b.cand_id = x.cand_id)
              |SELECT raw_hits, probe_hits,
              |  probe_hits >= raw_hits AS no_regression,
              |  probe_hits > raw_hits AS lifted
              |FROM r CROSS JOIN p""".stripMargin)),

    // ── LIFTED-IVF MIPS — the norm-aware PARTITIONING the
    //    pq_ip_adc_topk note names as the correct coarse-prune lever
    //    (FAISS IndexIVF + METRIC_INNER_PRODUCT): train the standard
    //    deterministic IVF on the 65-dim LIFT, where cosine order ==
    //    inner-product order, so probing the query's nearest lifted
    //    cells is a MIPS-sound candidate generator — the partition-
    //    based sibling of the hash-based ALSH prune. A huge-norm
    //    far-direction winner lifts near the unit sphere's "equator"
    //    away from the augmented axis and gets its own cells, instead
    //    of hiding in an unprobed raw-space cell. ──
    QueryDef(
      "mips_ivf_lifted_topk",
      "MIPS top-3 via IVF trained on the unit-sphere lift: probed lifted cells + exact-dot rescore",
      (s, d) => mipsIvfLiftedTopK(s, d),
      Some(s"""WITH $dkAlshCtes,
              |$dkLiftedIvfCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM livf WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "mips_ivf_lifted_recall",
      "recall@3 of lifted-IVF MIPS vs the exact full-scan inner-product top-3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val ann = mipsIvfLiftedTopK(s, d)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val ed = emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        val exact = int8TopK(ed
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
          .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
            .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("ip_e6",
            expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)")),
          3, "ip_e6")
          .select("query_id", "cand_id")
        exact.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH $dkAlshCtes,
              |$dkLiftedIvfCtes,
              |xip AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT DESC,
              |      c.vec_id) AS rnk
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |livf3 AS (SELECT query_id, cand_id FROM livf WHERE rnk <= 3)
              |SELECT x.query_id, count(s.cand_id) AS n_hits,
              |  round(count(s.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM xip x LEFT JOIN livf3 s
              |  ON s.query_id = x.query_id AND s.cand_id = x.cand_id
              |GROUP BY x.query_id""".stripMargin)),

    // ── The lifted-IVF family's STANDING STORE: both models pin on
    //    the first fold (MAX_NORM + the 65-dim quantizer), 2-batch
    //    even/odd ingest appends cell-sorted lifted posts + raw
    //    vectors, and the pinned serve — row-local probe cells, so the
    //    SAME function serves batch and streaming probes — equals the
    //    one-shot lifted-IVF chain (fold ≡ rebuild: assignment is
    //    per-vector against pinned models). ──
    QueryDef(
      "mips_ivf_store_serve",
      "standing lifted-IVF store: 2-batch fold under pinned M + quantizer, MIPS serve == one-shot",
      (s, d) => {
        val base = tempStoreDir("graft_mipsivfstore")
        val emb = t(s, d, "embeddings")
        val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
          .head().getDouble(0)
        Seq(0L, 1L).foreach(b =>
          graft.streaming.VectorStreams.mipsIvfFoldBatch(
            emb.filter(pmod(col("vec_id"), lit(2)) === b).select("vec_id", "embedding"),
            base, b, liftedIvfCentroids(s, d), m, nAssign = IvfAssign))
        graft.streaming.VectorStreams.mipsIvfServeFromStore(s, base,
            emb.filter(col("vec_id") < 32).select("vec_id", "embedding"),
            k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "ip_e6", "rnk")
      },
      Some(s"""WITH $dkAlshCtes,
              |$dkLiftedIvfCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM livf WHERE rnk <= 3""".stripMargin)),

    // ── The lifted-IVF family's BENCHED production serve off the
    //    session-pinned store (ingest amortized) — pairs with
    //    mips_alsh_serve_pinned so both MIPS serve families ratchet. ──
    QueryDef(
      "mips_ivf_serve_pinned",
      "MIPS serve off the session's existing pinned lifted-IVF store (ingest amortized) == one-shot",
      (s, d) => graft.streaming.VectorStreams.mipsIvfServeFromStore(
          s, mipsIvfStorePinned(s, d),
          t(s, d, "embeddings").filter(col("vec_id") < 32)
            .select("vec_id", "embedding"),
          k = 3, nprobe = IvfProbe)
        .select("query_id", "cand_id", "ip_e6", "rnk"),
      Some(s"""WITH $dkAlshCtes,
              |$dkLiftedIvfCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM livf WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── FILTERED MIPS serve (r15 verdict #1): predicate-constrained
    //    top-k off the standing attr store, BOTH standard strategies —
    //    the PRE-FILTER plan (predicate on the vectors scan, survivor
    //    semi-join below the candidate join, survivors-only rescore)
    //    and the adaptive OVER-FETCH POST-FILTER (k′ = k/selectivity
    //    from the store's attrstats histogram, bounded retry) — must
    //    agree exactly; the returned rows are the pre-filter plan's,
    //    oracled against the lifted-IVF CTE restricted to survivors. ──
    QueryDef(
      "mips_ivf_filtered_serve",
      "filtered MIPS off the pinned attr store: pre-filter == adaptive over-fetch post-filter",
      (s, d) => {
        val base = mipsIvfAttrStorePinned(s, d)
        val probes = t(s, d, "embeddings").filter(col("vec_id") < 32)
          .select("vec_id", "embedding")
        val pre = graft.streaming.VectorStreams.mipsIvfServeFromStore(
            s, base, probes, k = 3, nprobe = IvfProbe,
            predicate = Some("label < 5"))
          .select("query_id", "cand_id", "ip_e6", "rnk")
        // Adjudication runs on eagerly-cut k-bounded COPIES (r17):
        // exceptAll used to re-evaluate each whole serve per reference
        // (pre 3×, post 2× — measured), so each strategy now runs once
        // for the equivalence check; the RETURNED frame stays the
        // uncut pre-filter plan (the plan gate reads it), adding one
        // final evaluation at materialization. The verdict is ONE
        // 1-row action (the symmetric difference union, not two
        // isEmpty jobs).
        val preC = pre.localCheckpoint(true)
        val post = graft.streaming.VectorStreams.mipsIvfServeOverfetch(
            s, base, probes, k = 3, nprobe = IvfProbe,
            predicate = "label < 5")
          .select("query_id", "cand_id", "ip_e6", "rnk")
          .localCheckpoint(true)
        require(preC.exceptAll(post).union(post.exceptAll(preC)).isEmpty,
          "mips_ivf_filtered_serve: pre-filter and over-fetch post-filter " +
            "strategies disagree — the bounded retry's completeness " +
            "guarantee is broken")
        pre
      },
      Some(s"""WITH $dkAlshCtes,
              |$dkLiftedIvfCtes,
              |${dkLiftedIvfFiltered("livf50", "m.label < 5")}
              |SELECT query_id, cand_id, ip_e6, rnk FROM livf50 WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── Filtered-serve RECALL at the two canonical selectivities
    //    (≈50%: label < 5 → 254/500; ≈1%: vec_id%100 = 0 → 5/500) vs
    //    exact filtered brute force — the filtered analogue of
    //    mips_ivf_lifted_recall, pinning how much the coarse prune
    //    gives up when the predicate thins the probed cells, AND the
    //    standard counter-move: widening nprobe when the predicate is
    //    selective (the (sel 1%, np 8) row) buys the recall back at a
    //    cost that is still survivor-bounded. ──
    QueryDef(
      "mips_ivf_filtered_recall",
      "recall@3 of the pre-filtered lifted-IVF serve vs exact filtered MIPS, sel ~50%/~1%, probe-widened",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val base = mipsIvfAttrStorePinned(s, d)
        val emb = t(s, d, "embeddings")
        val probes = emb.filter(col("vec_id") < 32).select("vec_id", "embedding")
        val ed = emb.select(col("vec_id"), col("label"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        def recallAt(selPct: Int, np: Int, servePred: String,
            exactCand: DataFrame): DataFrame = {
          val ann = graft.streaming.VectorStreams.mipsIvfServeFromStore(
              s, base, probes, k = 3, nprobe = np,
              predicate = Some(servePred))
            .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
          val exact = int8TopK(exactCand
            .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
              .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
            .filter(col("query_id") =!= col("cand_id"))
            .withColumn("ip_e6",
              expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)")),
            3, "ip_e6")
            .select("query_id", "cand_id")
          exact.join(ann, Seq("query_id", "cand_id"), "left")
            .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_k"))
            .select(lit(selPct).as("sel_pct"), lit(np).as("np"),
              col("n_hits"), col("n_k"),
              round(col("n_hits").cast("double") / col("n_k"), 4).as("recall"))
        }
        val c50 = ed.filter(col("label") < 5)
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
        val c1 = ed.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
        recallAt(50, IvfProbe, "label < 5", c50)
          .unionByName(recallAt(1, IvfProbe, "vec_id % 100 = 0", c1))
          .unionByName(recallAt(1, 2 * IvfProbe, "vec_id % 100 = 0", c1))
      },
      Some(s"""WITH $dkAlshCtes,
              |$dkLiftedIvfCtes,
              |${dkLiftedIvfFiltered("livf50", "m.label < 5")},
              |${dkLiftedIvfFiltered("livf1", "m.vec_id % 100 = 0")},
              |${dkLiftedIvfFiltered("livf1w", "m.vec_id % 100 = 0", 2 * IvfProbe)},
              |${dkMipsExactFiltered("xf50", "c.label < 5")},
              |${dkMipsExactFiltered("xf1", "c.vec_id % 100 = 0")},
              |r50 AS (SELECT 50 AS sel_pct, $IvfProbe AS np, count(a.cand_id) AS n_hits,
              |  count(*) AS n_k, round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |  FROM xf50 x LEFT JOIN (SELECT query_id, cand_id FROM livf50 WHERE rnk <= 3) a
              |    ON a.query_id = x.query_id AND a.cand_id = x.cand_id),
              |r1 AS (SELECT 1 AS sel_pct, $IvfProbe AS np, count(a.cand_id) AS n_hits,
              |  count(*) AS n_k, round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |  FROM xf1 x LEFT JOIN (SELECT query_id, cand_id FROM livf1 WHERE rnk <= 3) a
              |    ON a.query_id = x.query_id AND a.cand_id = x.cand_id),
              |r1w AS (SELECT 1 AS sel_pct, ${2 * IvfProbe} AS np, count(a.cand_id) AS n_hits,
              |  count(*) AS n_k, round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |  FROM xf1 x LEFT JOIN (SELECT query_id, cand_id FROM livf1w WHERE rnk <= 3) a
              |    ON a.query_id = x.query_id AND a.cand_id = x.cand_id)
              |SELECT * FROM r50 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r1w""".stripMargin)),

    // ── The lifted-IVF OPERATING CURVE (r15 verdict #4): recall@3 at
    //    nprobe ∈ {1, 2, 4, 8} vs the exact MIPS top-3, pinned as data
    //    (the sim_probe_recall precedent) — the when-to-dial guidance
    //    COVERAGE.md's MIPS family note reads from. ──
    QueryDef(
      "mips_ivf_probe_recall",
      "lifted-IVF MIPS recall@3 operating curve at nprobe in {1,2,4,8}",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val base = mipsIvfStorePinned(s, d)
        val emb = t(s, d, "embeddings")
        val probes = emb.filter(col("vec_id") < 32).select("vec_id", "embedding")
        val ed = emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb_d"))
        val exact = int8TopK(ed
          .select(col("vec_id").as("cand_id"), col("emb_d").as("c_emb"))
          .crossJoin(broadcast(ed.filter(col("vec_id") < 32)
            .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("ip_e6",
            expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)")),
          3, "ip_e6")
          .select("query_id", "cand_id").localCheckpoint(true)
        Seq(1, 2, 4, 8).map { np =>
          val ann = graft.streaming.VectorStreams.mipsIvfServeFromStore(
              s, base, probes, k = 3, nprobe = np)
            .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
          exact.join(ann, Seq("query_id", "cand_id"), "left")
            .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_k"))
            .select(lit(np).as("nprobe"), col("n_hits"), col("n_k"),
              round(col("n_hits").cast("double") / col("n_k"), 4).as("recall"))
        }.reduce(_.unionByName(_))
      },
      Some(s"""WITH $dkAlshCtes,
              |$dkLiftedIvfCtes,
              |xip AS (SELECT query_id, cand_id FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT DESC,
              |      c.vec_id) AS rnk
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3),
              |${Seq(1, 2, 4, 8).map(np => s"""lv$np AS (SELECT query_id, cand_id, ip_e6,
              |    row_number() OVER (PARTITION BY query_id ORDER BY ip_e6 DESC, cand_id) AS rnk
              |  FROM (SELECT a.query_id, a.cand_id,
              |      floor(${dkDotD("q.embedding", "c.embedding")} * 1000000.0)::BIGINT AS ip_e6
              |    FROM (SELECT DISTINCT p.vec_id AS query_id, x.vec_id AS cand_id
              |          FROM (SELECT vec_id, cell FROM lqr WHERE rn <= $np) p
              |          JOIN (SELECT vec_id, cell FROM lrk WHERE rn <= $IvfAssign) x
              |            ON x.cell = p.cell AND x.vec_id <> p.vec_id) a
              |    JOIN embeddings q ON q.vec_id = a.query_id
              |    JOIN embeddings c ON c.vec_id = a.cand_id))""").mkString(",\n")}
              |${Seq(1, 2, 4, 8).map(np => s"""SELECT $np AS nprobe, count(a.cand_id) AS n_hits,
              |  count(*) AS n_k, round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM xip x LEFT JOIN (SELECT query_id, cand_id FROM lv$np WHERE rnk <= 3) a
              |  ON a.query_id = x.query_id AND a.cand_id = x.cand_id""").mkString("\nUNION ALL\n")}""".stripMargin)),

    // ── The MIPS family's ONLINE twin: the ALSH lift served through
    //    the streaming plan (probe-side zero-slot augmentation + bucket
    //    is a pure projection, capped lifted index broadcast-joins,
    //    exact-dot rescore, ONE payload-distinct heap). Streamed ==
    //    batch is MemoryStream-tested in VectorStoreSpec; this row pins
    //    the plan's arithmetic against the same dkAlshCtes chain. ──
    QueryDef(
      "mips_alsh_serve_stream",
      "streaming MIPS serve via the ALSH lift (projection probe side, one heap) == batch ALSH",
      (s, d) => graft.streaming.VectorStreams.mipsAlshServe(
          t(s, d, "embeddings").filter(col("vec_id") < 32),
          t(s, d, "embeddings"), Dim, TPlanes, NTables, 3)
        .select("query_id", "cand_id", "ip_e6", "rnk"),
      Some(s"""WITH $dkAlshCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM amips WHERE rnk <= 3""".stripMargin)),

    // ── Multi-probe through the ONLINE serve: probe expansion is a
    //    stream-legal projection, so the plan keeps its single
    //    stateful aggregation — the probe lever in all three family
    //    forms (one-shot, online, standing store). ──
    QueryDef(
      "mips_alsh_probe_serve_stream",
      "streaming multi-probe MIPS serve == batch probe-expanded ALSH chain",
      (s, d) => graft.streaming.VectorStreams.mipsAlshServe(
          t(s, d, "embeddings").filter(col("vec_id") < 32),
          t(s, d, "embeddings"), Dim, TPlanes, NTables, 3, multiProbe = true)
        .select("query_id", "cand_id", "ip_e6", "rnk"),
      Some(s"""WITH $dkAlshCtes,
              |$dkAlshProbeCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM pmips WHERE rnk <= 3""".stripMargin)),

    // ── The ALSH family's STANDING STORE: the max corpus norm M is
    //    the pinned model (MAX_NORM, first-fold pin — the bounds/
    //    centroids precedent), 2-batch even/odd ingest appends lifted
    //    65-dim buckets + once-per-vector vectors, pinned serve ==
    //    one-shot ALSH (fold ≡ rebuild: M pinned from the full corpus
    //    exactly as the oracle's mm CTE computes it; lifting is
    //    per-vector). Completes the store matrix for the MIPS family. ──
    QueryDef(
      "mips_alsh_store_serve",
      "standing ALSH store: 2-batch fold under pinned MAX_NORM + MIPS serve == one-shot ALSH",
      (s, d) => {
        val base = tempStoreDir("graft_alshstore")
        val emb = t(s, d, "embeddings")
        val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
          .head().getDouble(0)
        Seq(0L, 1L).foreach(b =>
          graft.streaming.VectorStreams.mipsAlshFoldBatch(
            emb.filter(pmod(col("vec_id"), lit(2)) === b).select("vec_id", "embedding"),
            base, b, m, Dim, TPlanes, NTables))
        graft.streaming.VectorStreams.mipsAlshServeFromStore(s, base,
            emb.filter(col("vec_id") < 32).select("vec_id", "embedding"),
            Dim, TPlanes, NTables, 3)
          .select("query_id", "cand_id", "ip_e6", "rnk")
      },
      Some(s"""WITH $dkAlshCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM amips WHERE rnk <= 3""".stripMargin)),

    // ── The MIPS family's BENCHED production serve: answers off the
    //    session's pinned standing store (fold amortized at ingest,
    //    the ivfres_serve_pinned pairing discipline) — the serve
    //    re-reads the pinned parquet every invocation, so the timing
    //    is an honest cold serve. ──
    QueryDef(
      "mips_alsh_serve_pinned",
      "MIPS serve off the session's existing pinned ALSH store (ingest amortized) == one-shot ALSH",
      (s, d) => graft.streaming.VectorStreams.mipsAlshServeFromStore(
          s, alshStorePinned(s, d),
          t(s, d, "embeddings").filter(col("vec_id") < 32)
            .select("vec_id", "embedding"),
          Dim, TPlanes, NTables, 3)
        .select("query_id", "cand_id", "ip_e6", "rnk"),
      Some(s"""WITH $dkAlshCtes
              |SELECT query_id, cand_id, ip_e6, rnk FROM amips WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── The ALSH store's retrain gate — the norm member of the drift
    //    family (cells/codes/bounds/residual/…): share of a new batch's
    //    norms EXCEEDING the pinned MAX_NORM (exactly the vectors whose
    //    lifted slot clamps to 0 — direction preserved, unit-norm
    //    property lost, MIPS monotonicity degrading). Baseline M =
    //    even vec_ids (the first-fold pin), batch = odd; round-half-up
    //    ppm BIGINT, drift flag at >5%. One aggregate — 1 row out at
    //    any corpus size. ──
    QueryDef(
      "profile_drift_norm",
      "pinned-MAX_NORM drift gate: ppm of a new batch's norms above the pin, flag at >5%",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          .agg(max(graft.functions.VectorFunctions.norm("embedding")).as("mx"))
        emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          .select(graft.functions.VectorFunctions.norm("embedding").as("nrm"))
          .crossJoin(broadcast(base))
          .agg(count(lit(1)).as("n_batch"),
            sum(when(col("nrm") > col("mx"), 1L).otherwise(0L)).as("n_oob"))
          .select(col("n_batch"), col("n_oob"),
            expr("(2000000 * n_oob + n_batch) div (2 * n_batch)").as("oob_ppm"),
            (col("n_oob") * lit(20L) > col("n_batch")).as("drifted"))
      },
      Some(s"""WITH b AS (SELECT max(${dkNorm("embedding")}) AS mx
              |  FROM embeddings WHERE vec_id % 2 = 0),
              |agg AS (SELECT count(*)::BIGINT AS n_batch,
              |    sum(CASE WHEN ${dkNorm("embedding")} > mx THEN 1 ELSE 0 END)::BIGINT AS n_oob
              |  FROM embeddings CROSS JOIN b WHERE vec_id % 2 = 1)
              |SELECT n_batch, n_oob,
              |  ((2000000 * n_oob + n_batch) // (2 * n_batch))::BIGINT AS oob_ppm,
              |  n_oob * 20 > n_batch AS drifted
              |FROM agg""".stripMargin)),

    // ── RESIDUAL IVF×PQ (FAISS IVFADC, Jégou et al. 2011 §III): the
    //    codes quantize vec − home-centroid, so the same m×ks budget
    //    spends all its precision on the within-cell geometry the
    //    coarse quantizer didn't explain. LUTs become per-(query,
    //    probed-cell) — |Q|·K·m·ks entries, probe-batch bounded. The
    //    exploded row is the oracle shape; the packed row is the
    //    production kernel plan (same SQL: integer ADC sums are
    //    order-insensitive). ──
    QueryDef(
      "pq_ivfres_topk",
      "residual IVF-ADC top-3: codes quantize vec − home centroid, per-(query, cell) LUTs",
      (s, d) => pqIvfResRanked(s, d, 3).select("query_id", "cand_id", "adist_e6", "rnk"),
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM rivfadc WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "pq_ivfres_packed_topk",
      "residual IVF-ADC PACKED: graft_adc_sum over (cell, codes) rows == exploded plan",
      (s, d) => pqIvfResPackedRanked(s, d, 3).select("query_id", "cand_id", "adist_e6", "rnk"),
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM rivfadc WHERE rnk <= 3""".stripMargin),
      bench = true),

    QueryDef(
      "pq_ivfres_recall",
      "recall@3 of RAW residual IVF-ADC (no rerank) vs exact full-dim L2 top-3 per query",
      (s, d) => recallVsExactL2(s, d, pqIvfResRanked(s, d, 3)),
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes,
              |${dkRecallSql("SELECT query_id, cand_id FROM rivfadc WHERE rnk <= 3")}""".stripMargin)),

    // ── The residual claim pinned as DATA: over the identical
    //    coarse-pruned pair set, sum |ADC estimate − true L2²·e6| for
    //    the residual codes vs the raw codes. Exact BIGINTs (no
    //    division anywhere), so the "residual quantizes tighter"
    //    property is a hash-checked driver row, not a doc claim. On
    //    this near-isotropic synthetic corpus the margin is ~6%; on
    //    clustered real embeddings the coarse quantizer explains far
    //    more variance and the gap widens (Jégou et al. 2011, Fig. 2).
    QueryDef(
      "pq_ivfres_distortion",
      "ADC |estimate − true| summed over all coarse-pruned pairs: residual vs raw codes",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, d, "embeddings")
        val dv = expr("transform(embedding, v -> CAST(v AS DOUBLE))")
        val q = emb.filter(col("vec_id") < 32)
          .select(col("vec_id").as("query_id"), dv.as("qv"))
        val c = emb.select(col("vec_id").as("cand_id"), dv.as("cv"))
        pqIvfResScored(s, d).withColumnRenamed("adist_e6", "res_e6")
          .join(pqIvfAdcScored(s, d).withColumnRenamed("adist_e6", "raw_e6"),
            Seq("query_id", "cand_id"))
          .join(broadcast(q), Seq("query_id"))
          .join(c, Seq("cand_id"))
          .select(col("res_e6"), col("raw_e6"),
            expr("CAST(floor(graft_l2sq(qv, cv) * 1000000.0D) AS BIGINT)").as("true_e6"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(abs(col("res_e6") - col("true_e6"))).as("sae_res_e6"),
            sum(abs(col("raw_e6") - col("true_e6"))).as("sae_raw_e6"))
      },
      Some(s"""WITH $dkIvfCtes,
              |${dkPqCtes()},
              |$dkIvfAdcCtes,
              |$dkResCtes,
              |ex AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    floor(${dkD2Full("q.embedding", "c.embedding")} * 1000000.0)::BIGINT AS true_e6
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 32)
              |SELECT count(*)::BIGINT AS n_pairs,
              |  sum(abs(r.adist_e6 - ex.true_e6))::BIGINT AS sae_res_e6,
              |  sum(abs(p.adist_e6 - ex.true_e6))::BIGINT AS sae_raw_e6
              |FROM rivfadc r
              |JOIN ivfadc p ON p.query_id = r.query_id AND p.cand_id = r.cand_id
              |JOIN ex ON ex.query_id = r.query_id AND ex.cand_id = r.cand_id""".stripMargin)),

    // ── The standing residual store as a driver row: models pinned by
    //    the first fold, 2-batch even/odd ingest, pinned-version serve
    //    == the one-shot residual search (fold ≡ rebuild is exact —
    //    assignment and encoding are per-vector), so the oracle is the
    //    `pq_ivfres_topk` CTE chain verbatim. ──
    QueryDef(
      "ivfres_store_serve",
      "standing residual IVF-PQ store: 2-batch fold + pinned-model serve == one-shot IVFADC",
      (s, d) => {
        val base = tempStoreDir("graft_ivfresstore")
        val cent = ivfCentroids(s, d)
        val books = pqResCentroids(s, d)
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.ivfPqResFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), base, 0L, cent, books,
          nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
        graft.streaming.VectorStreams.ivfPqResFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), base, 1L, cent, books,
          nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
        graft.streaming.VectorStreams.ivfPqResServeFromStore(
            s, base, emb.filter(col("vec_id") < 32), k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "adist_e6", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM rivfadc WHERE rnk <= 3""".stripMargin)),

    // ── The residual store's STREAMING serve twin as a driver row:
    //    row-local probe cells + per-pair row-local ADC arithmetic
    //    (no LUT amortization on the stream path — the stated
    //    tradeoff) + ONE payload-distinct heap. Streamed == batch is
    //    MemoryStream-tested in VectorStoreSpec; this row pins the
    //    per-pair arithmetic against the same one-shot CTE chain. ──
    QueryDef(
      "ivfres_serve_stream",
      "residual store streaming-serve plan (row-local per-pair ADC) == one-shot IVFADC",
      (s, d) => {
        val base = tempStoreDir("graft_ivfresstream")
        val cent = ivfCentroids(s, d)
        val books = pqResCentroids(s, d)
        val emb = t(s, d, "embeddings")
        graft.streaming.VectorStreams.ivfPqResFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), base, 0L, cent, books,
          nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
        graft.streaming.VectorStreams.ivfPqResFoldBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), base, 1L, cent, books,
          nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
        graft.streaming.VectorStreams.ivfPqResServeStreamFromStore(
            s, base, emb.filter(col("vec_id") < 32), k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "adist_e6", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM rivfadc WHERE rnk <= 3""".stripMargin)),

    // ── The FULLY-COMPRESSED serving pipeline (FAISS's IndexRefine
    //    pattern): IVF coarse prune → residual 8-byte-code ADC
    //    shortlist (20/query) → SQ8 64-byte-code refine of just the
    //    shortlist → top-3. The refine stage reads 64 one-byte codes
    //    per candidate instead of the 256-byte raw vector, so the
    //    whole pipeline never touches a raw embedding — at 100 TB the
    //    serve reads (8 + 64)/256 ≈ 28% of the bytes with near-exact
    //    ordering, and the raw vectors can live on cold storage. ──
    QueryDef(
      "pq_ivfres_refine_topk",
      "residual-ADC shortlist-20 refined by SQ8 codes (no raw vectors anywhere) top-3",
      (s, d) => pqIvfResRefined(s, d),
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes,
              |$dkSqCtes,
              |$dkRefineCte
              |SELECT query_id, cand_id, sq_e6, rnk FROM rfn WHERE rnk <= 3""".stripMargin)),

    // ── The refine stage's VALUE pinned as data: recall@3 of the
    //    SQ8-refined pipeline vs exact full-dim L2 — 0.68 on this
    //    corpus where the raw residual-ADC answer reads 0.24
    //    (`pq_ivfres_recall`), i.e. the 64-byte refine recovers most
    //    of the compression's recall loss while the serve still never
    //    touches a raw vector. ──
    QueryDef(
      "pq_ivfres_refine_recall",
      "recall@3 of the SQ8-refined compressed pipeline vs exact full-dim L2 top-3",
      (s, d) => recallVsExactL2(s, d, pqIvfResRefined(s, d)),
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes,
              |$dkSqCtes,
              |$dkRefineCte,
              |${dkRecallSql("SELECT query_id, cand_id FROM rfn WHERE rnk <= 3")}""".stripMargin)),

    // ── REFINE-AT-SERVE off the pinned standing stores (round-13
    //    verdict #2 — the production FAISS IndexRefine shape): the
    //    residual store answers the ADC shortlist, the SQ8 store's
    //    packed codes rerank it through graft_sq8_adc, each store's
    //    version pin resolved ONCE (the torn-model rule). Fold ≡
    //    rebuild on both stores makes the oracle the one-shot
    //    pq_ivfres_refine_topk CTE chain verbatim. ──
    QueryDef(
      "ivfres_refine_store_serve",
      "refine-at-serve off pinned stores: residual-ADC shortlist-20 + SQ8-store rerank == one-shot refine",
      (s, d) => {
        val resBase = tempStoreDir("graft_refres")
        val sqBase = tempStoreDir("graft_refsq")
        val cent = ivfCentroids(s, d)
        val books = pqResCentroids(s, d)
        val bounds = sqBounds(s, d)
        val emb = t(s, d, "embeddings")
        Seq(0L, 1L).foreach { b =>
          graft.streaming.VectorStreams.ivfPqResFoldBatch(
            emb.filter(pmod(col("vec_id"), lit(2)) === b), resBase, b, cent, books,
            nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
          graft.streaming.VectorStreams.sqFoldBatch(
            emb.filter(pmod(col("vec_id"), lit(2)) === b).select("vec_id", "embedding"),
            sqBase, b, bounds)
        }
        graft.streaming.VectorStreams.ivfResRefineServeFromStore(
            s, resBase, sqBase, emb.filter(col("vec_id") < 32),
            shortlist = 20, k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "sq_e6", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes,
              |$dkSqCtes,
              |$dkRefineCte
              |SELECT query_id, cand_id, sq_e6, rnk FROM rfn WHERE rnk <= 3""".stripMargin)),

    // ── The refine pipeline's STREAMING twin as a driver row — ONE
    //    stateful operator end to end: the shortlist heap CARRIES each
    //    survivor's SQ8 codes in its payload (TopKCodesAgg — the
    //    embedding-carrying mrlServe heap compressed to codes), and the
    //    rerank is a row-local graft_sq8_adc per survivor + comparator
    //    sort. Streamed == batch is MemoryStream-tested in
    //    VectorStoreSpec; this row pins the arithmetic against the
    //    same one-shot refine SQL. ──
    QueryDef(
      "ivfres_refine_serve_stream",
      "streaming refine-at-serve (codes-carrying shortlist heap, row-local SQ8 rerank) == one-shot refine",
      (s, d) => {
        val resBase = tempStoreDir("graft_refresstream")
        val sqBase = tempStoreDir("graft_refsqstream")
        val cent = ivfCentroids(s, d)
        val books = pqResCentroids(s, d)
        val bounds = sqBounds(s, d)
        val emb = t(s, d, "embeddings")
        Seq(0L, 1L).foreach { b =>
          graft.streaming.VectorStreams.ivfPqResFoldBatch(
            emb.filter(pmod(col("vec_id"), lit(2)) === b), resBase, b, cent, books,
            nAssign = IvfAssign, pqM = PqM, pqSub = PqSub)
          graft.streaming.VectorStreams.sqFoldBatch(
            emb.filter(pmod(col("vec_id"), lit(2)) === b).select("vec_id", "embedding"),
            sqBase, b, bounds)
        }
        graft.streaming.VectorStreams.ivfResRefineServeStreamFromStore(
            s, resBase, sqBase, emb.filter(col("vec_id") < 32),
            shortlist = 20, k = 3, nprobe = IvfProbe)
          .select("query_id", "cand_id", "sq_e6", "rnk")
      },
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes,
              |$dkSqCtes,
              |$dkRefineCte
              |SELECT query_id, cand_id, sq_e6, rnk FROM rfn WHERE rnk <= 3""".stripMargin)),

    // ── The PRODUCTION residual serve number (round-13 verdict #7):
    //    pq_ivfres_packed_topk replays codebook training in-query (its
    //    wall is the training CTE chain), so the bench artifact pairs
    //    it with this row — serving off the session's EXISTING pinned
    //    store, where training/fold happened once at ingest. The store
    //    is disk-pinned (storeMemo, not cleared between bench passes —
    //    deliberately: re-folding per pass would measure ingest, not
    //    the serve); the serve itself re-reads the pinned parquet every
    //    invocation, so the timing is an honest cold serve. ──
    QueryDef(
      "ivfres_serve_pinned",
      "residual IVFADC serve off the session's existing pinned store (ingest amortized) == one-shot",
      (s, d) => graft.streaming.VectorStreams.ivfPqResServeFromStore(
          s, residualStorePinned(s, d),
          t(s, d, "embeddings").filter(col("vec_id") < 32),
          k = 3, nprobe = IvfProbe)
        .select("query_id", "cand_id", "adist_e6", "rnk"),
      Some(s"""WITH $dkIvfCtes,
              |$dkResCtes
              |SELECT query_id, cand_id, adist_e6, rnk FROM rivfadc WHERE rnk <= 3""".stripMargin),
      bench = true),

    // ── Embedding near-dup: multi-table LSH candidates (collide in ANY
    //    of the L tables ⇒ candidate, far higher recall than a single
    //    bucketing), distinct pairs scored once, threshold on exact
    //    cosine — the production embedding near-dup shape. ──
    QueryDef(
      "sim_emb_neardup",
      "embedding-cosine near-dup pairs from multi-table LSH candidates (cosine >= 0.3)",
      (s, d) => embNeardupPairs(s, d),
      Some(s"""WITH $dkEmbPairCtes
              |SELECT id_a, id_b, cosine FROM sp""".stripMargin)),

    // ── SEMANTIC benchmark decontamination — the embedding-space
    //    member of the family (decontam_keep = exact text,
    //    decontam_ngram_overlap = shingle collision, decontam_neardup =
    //    lexical Jaccard): training vectors whose embedding sits at
    //    cosine ≥ 0.45 of a benchmark vector (vec_id % 17 == 0, the
    //    registry's benchmark convention) — the paraphrase leak the
    //    lexical detectors can't see (τ = 0.45 sits in this synthetic
    //    corpus's near-dup tail — p99 of the candidate cosines — the
    //    way 0.8 Jaccard sits in the lexical tail). Rides the memoized
    //    multi-table
    //    LSH pair list, so recall is the measured sim_lsh_recall bound
    //    and the corpus never self-joins outside the capped buckets;
    //    both engines compute the identical candidate set, so the
    //    oracle is exact, not rows-only. ──
    QueryDef(
      "decontam_semantic",
      "training vectors embedding-near (cosine >= 0.45) a benchmark vector",
      (s, d) => {
        val hi = embNeardupPairs(s, d).filter(col("cosine") >= 0.45)
        hi.select(col("id_a").as("vec_id"), col("id_b").as("other"), col("cosine"))
          .union(hi.select(col("id_b").as("vec_id"), col("id_a").as("other"), col("cosine")))
          .filter(col("vec_id") % 17 =!= 0 && col("other") % 17 === 0)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_benchmark_sims"), max("cosine").as("max_cosine"))
      },
      Some(s"""WITH $dkEmbPairCtes,
              |hi AS (SELECT id_a, id_b, cosine FROM sp WHERE cosine >= 0.45),
              |sides AS (SELECT id_a AS vec_id, id_b AS other, cosine FROM hi
              |  UNION ALL SELECT id_b, id_a, cosine FROM hi)
              |SELECT vec_id, count(*) AS n_benchmark_sims, max(cosine) AS max_cosine
              |FROM sides WHERE vec_id % 17 <> 0 AND other % 17 = 0
              |GROUP BY 1""".stripMargin)),

    // ── Incremental embedding-index ingest: the vector twin of
    //    dedup_incremental — a NEW batch (vec_id ≥ 400) joins the STORED
    //    multi-table LSH index (vec_id < 400) plus itself, instead of
    //    re-indexing the world. Per-side hot-bucket caps, distinct
    //    candidate pairs, exact-cosine rescore with the same ≥ 0.3
    //    near-dup threshold. At scale the `old` side is yesterday's
    //    persisted index table; the join stays keyed on (tbl, bucket). ──
    QueryDef(
      "sim_incremental_index",
      "new vector batch vs stored multi-table LSH index (cross + within pairs, cosine >= 0.3)",
      (s, d) => {
        val wt = embTables(s, d)
        def side(pred: org.apache.spark.sql.Column, tag: String) =
          graft.operators.Dedup.dropHotBuckets(
            wt.filter(pred).select(col("vec_id"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"), graft.operators.Dedup.MaxBucket, s"sim_incr_$tag")
        val oldC = side(col("vec_id") < 400, "old")
        val newC = side(col("vec_id") >= 400, "new")
        val cross = newC.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
          .join(oldC.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"))
          .select("id_a", "id_b").distinct()
          .withColumn("vs", lit("old"))
        val within = newC.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
          .join(newC.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
          .withColumn("vs", lit("new"))
        val e = wt.filter(col("tbl") === 0)
          .select(col("vec_id"), col("embedding"), col("nrm"))
        cross.unionByName(within)
          .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
            col("nrm").as("na")), Seq("id_a"))
          .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
            col("nrm").as("nb")), Seq("id_b"))
          .withColumn("cosine", round(
            graft.functions.VectorFunctions.dot("ea", "eb") / (col("na") * col("nb")), 8))
          .filter(col("cosine") >= 0.3)
          .select("id_a", "id_b", "vs", "cosine")
      },
      Some(s"""WITH wt AS $dkTables,
              |oldc AS (SELECT vec_id, tbl, bucket FROM wt WHERE vec_id < 400
              |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
              |newc AS (SELECT vec_id, tbl, bucket FROM wt WHERE vec_id >= 400
              |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
              |crossp AS (SELECT DISTINCT n.vec_id AS id_a, o.vec_id AS id_b, 'old' AS vs
              |  FROM newc n JOIN oldc o USING (tbl, bucket)),
              |within AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, 'new' AS vs
              |  FROM newc a JOIN newc b
              |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
              |pp AS (SELECT * FROM crossp UNION ALL SELECT * FROM within),
              |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings)
              |SELECT * FROM (
              |  SELECT id_a, id_b, vs,
              |    round(${dkDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 8) AS cosine
              |  FROM pp JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b
              |) WHERE cosine >= 0.3""".stripMargin)),

    // ── Semantic dedup: the embedding analogue of dedup_components —
    //    near-dup pairs (cosine >= 0.3 via multi-table LSH) closed into
    //    clusters by distributed connected components; keeping min-id
    //    representatives collapses paraphrase/near-copy groups the
    //    token-level MinHash path can't see. Oracle closes the same
    //    pair set with a recursive CTE. ──
    QueryDef(
      "sem_dedup_clusters",
      "semantic duplicate clusters over embedding near-dup pairs (connected components)",
      (s, d) =>
        graft.operators.Components.connectedComponents(embNeardupPairs(s, d), "id_a", "id_b", edgesDistinct = true)
          .select(col("id").as("vec_id"), col("component")),
      Some(s"""WITH RECURSIVE $dkEmbPairCtes,
              |uedges AS (SELECT id_a AS src, id_b AS dst FROM sp
              |  UNION SELECT id_b, id_a FROM sp),
              |reach AS (
              |  SELECT src AS id, src AS r FROM uedges
              |  UNION
              |  SELECT e2.src AS id, reach.r FROM uedges e2 JOIN reach ON reach.id = e2.dst)
              |SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id""".stripMargin),
      bench = true),

    // ── Higher-order array functions battery: filter / exists /
    //    aggregate(transform) / zip_with(reverse) — all codegen'd
    //    lambda expressions, no UDFs; folds are sequential on both
    //    engines so the doubles agree bit-for-bit before rounding. ──
    QueryDef(
      "hof_array_ops",
      "per-vector HOF battery: positive count, L1 norm, big-component flag, reversed dot",
      (s, d) =>
        t(s, d, "embeddings")
          .filter(col("vec_id") < 100)
          .select(col("vec_id"),
            expr("size(filter(embedding, v -> CAST(v AS DOUBLE) > 0.0D))").as("n_pos"),
            round(expr("aggregate(embedding, 0.0D, (a, v) -> a + abs(CAST(v AS DOUBLE)))"), 6)
              .as("l1"),
            expr("exists(embedding, v -> abs(CAST(v AS DOUBLE)) > 0.5D)").as("has_big"),
            round(expr(
              "aggregate(zip_with(embedding, reverse(embedding), (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (a, v) -> a + v)"),
              6).as("rev_dot")),
      Some("""SELECT vec_id,
             |  len(list_filter(embedding, v -> v::DOUBLE > 0.0)) AS n_pos,
             |  round(list_reduce(list_prepend(0.0::DOUBLE,
             |    list_transform(embedding, v -> abs(v::DOUBLE))), (a, v) -> a + v), 6) AS l1,
             |  len(list_filter(embedding, v -> abs(v::DOUBLE) > 0.5)) > 0 AS has_big,
             |  round(list_reduce(list_prepend(0.0::DOUBLE,
             |    list_transform(range(1, len(embedding) + 1),
             |      i -> embedding[i]::DOUBLE * list_reverse(embedding)[i]::DOUBLE)),
             |    (a, v) -> a + v), 6) AS rev_dot
             |FROM embeddings WHERE vec_id < 100""".stripMargin)),

    // ── Embedding int8 quantization: 4× storage compression for the
    //    ANN index. floor-based (not round) so the math is bit-identical
    //    across engines; zero-vector guarded. Exploded to scalar rows
    //    for the oracle compare. ──
    QueryDef(
      "sim_quantize_int8",
      "deterministic int8 scalar quantization of embeddings (floor(x·127/maxabs))",
      (s, d) => graft.operators.Dedup.spread(t(s, d, "embeddings"))
        .select(col("vec_id"), col("embedding"),
          expr("127.0D / greatest(array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 1e-30D)")
            .as("scale"))
        .select(col("vec_id"), col("scale"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("vec_id"), col("i"),
          floor(col("v").cast("double") * col("scale")).cast("long").as("qv")),
      Some(s"""WITH sc AS (SELECT vec_id, embedding,
              |  127.0 / greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))), 1e-30) AS scale
              |  FROM embeddings),
              |e AS (SELECT vec_id, scale, embedding, unnest(range(0, $Dim)) AS i FROM sc)
              |SELECT vec_id, i::INT AS i,
              |  floor(embedding[(i + 1)::INT]::DOUBLE * scale)::BIGINT AS qv
              |FROM e""".stripMargin)),

    // ── Quantized search: brute-force top-k by INT8 dot product —
    //    the memory-bound scale play (4× smaller vectors, SIMD-friendly
    //    integer math). Integer arithmetic is associative, so scores
    //    are exact on both engines regardless of fold order. ──
    QueryDef(
      "sim_int8_topk",
      "top-3 neighbors by int8-quantized dot product (8 query vectors)",
      (s, d) => {
        val q8 = graft.operators.Dedup.stageThenSpread(t(s, d, "embeddings"),
          "__scale" -> expr("127.0D / greatest(array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 1e-30D)"))
          .select(col("vec_id"),
            expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * __scale) AS BIGINT))").as("q8"))
        val q = q8.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("q8").as("qa"))
        val c = q8.select(col("vec_id").as("cand_id"), col("q8").as("qb"))
        int8TopK(c.join(broadcast(q), col("query_id") =!= col("cand_id"))
          .withColumn("score",
            expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (a, v) -> a + v)")), 3)
          .select("query_id", "cand_id", "score", "rnk")
      },
      Some(s"""WITH sc AS (SELECT vec_id, embedding,
              |  127.0 / greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))), 1e-30) AS scale
              |  FROM embeddings),
              |q8 AS (SELECT vec_id,
              |  list_transform(embedding, v -> floor(v::DOUBLE * scale)::BIGINT) AS q FROM sc),
              |pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
              |  list_reduce(list_prepend(0::BIGINT,
              |    list_transform(range(0, $Dim), i -> a.q[(i + 1)::INT] * b.q[(i + 1)::INT])),
              |    (s2, v) -> s2 + v) AS score
              |  FROM q8 a JOIN q8 b ON a.vec_id < 8 AND a.vec_id <> b.vec_id)
              |SELECT query_id, cand_id, score, rnk FROM (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, cand_id) AS rnk FROM pairs)
              |WHERE rnk <= 3""".stripMargin)),

    // ── Quantization quality: recall@3 of the int8 ranking against the
    //    exact float cosine ranking — the measurement that justifies
    //    (or rejects) shipping the 4×-smaller index. Both rankings are
    //    deterministic, so recall is exactly oracled like the LSH/IVF
    //    recall queries. ──
    QueryDef(
      "sim_int8_recall",
      "per-query overlap of int8 top-3 with exact cosine top-3",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val exact = graft.operators.Knn.bruteForceTopK(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 3)
          .select(col("query_id"), col("cand_id"))
        val q8all = graft.operators.Dedup.stageThenSpread(emb,
          "__scale" -> expr("127.0D / greatest(array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 1e-30D)"))
          .select(col("vec_id"),
            expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * __scale) AS BIGINT))").as("q8"))
        val q = q8all.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("q8").as("qa"))
        val int8 = int8TopK(q8all.select(col("vec_id").as("cand_id"), col("q8").as("qb"))
          .join(broadcast(q), col("query_id") =!= col("cand_id"))
          .withColumn("score",
            expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (a, v) -> a + v)")), 3)
          .select(col("query_id"), col("cand_id"))
        exact.join(int8, Seq("query_id", "cand_id"), "left_semi")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_hit"))
          .select(col("query_id"), col("n_hit"),
            round(col("n_hit") / 3.0, 6).as("recall_at_3"))
      },
      Some(s"""WITH nr AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
              |ex AS (SELECT query_id, cand_id FROM (
              |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
              |      round(${dkDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 8) DESC,
              |      b.vec_id) AS rnk
              |  FROM nr a JOIN nr b ON a.vec_id < 8 AND a.vec_id <> b.vec_id)
              |  WHERE rnk <= 3),
              |sc AS (SELECT vec_id, embedding,
              |  127.0 / greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))), 1e-30) AS scale
              |  FROM embeddings),
              |q8 AS (SELECT vec_id,
              |  list_transform(embedding, v -> floor(v::DOUBLE * scale)::BIGINT) AS q FROM sc),
              |i8 AS (SELECT query_id, cand_id FROM (
              |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
              |      list_reduce(list_prepend(0::BIGINT,
              |        list_transform(range(0, $Dim), i -> a.q[(i + 1)::INT] * b.q[(i + 1)::INT])),
              |        (s2, v) -> s2 + v) DESC, b.vec_id) AS rnk
              |  FROM q8 a JOIN q8 b ON a.vec_id < 8 AND a.vec_id <> b.vec_id)
              |  WHERE rnk <= 3)
              |SELECT ex.query_id, count(*) AS n_hit, round(count(*) / 3.0, 6) AS recall_at_3
              |FROM ex JOIN i8 ON ex.query_id = i8.query_id AND ex.cand_id = i8.cand_id
              |GROUP BY ex.query_id""".stripMargin)),

    // ── Multi-probe LSH recall: each query also probes every 1-bit-
    //    flip bucket per table (Lv et al.) — recall at a FIXED table
    //    count rises because near neighbors one hyperplane away are
    //    still found. Measured against the same exact top-3 as
    //    sim_lsh_recall, so the lift over single-probe is a directly
    //    comparable, exactly-oracled number. ──
    QueryDef(
      "sim_probe_recall",
      "recall@3 of multi-PROBE multi-table ANN vs exact cosine top-3",
      (s, d) => {
        val ann = Knn.lshTopKMultiProbe(embTables(s, d), "vec_id", "embedding",
          col("vec_id") < 32, 3, TPlanes)
          .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
        val emb = t(s, d, "embeddings")
        val brute = Knn.bruteForceTopK(emb.filter(col("vec_id") < 32), emb,
          "vec_id", "embedding", 3).select("query_id", "cand_id")
        brute.join(ann, Seq("query_id", "cand_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
      },
      Some(s"""WITH wt AS $dkTables,
              |cc AS (SELECT * FROM wt
              |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
              |probes AS (SELECT vec_id AS query_id, tbl,
              |  unnest(list_append(list_transform(range(0, $TPlanes),
              |    j -> xor(bucket, (1::BIGINT << j))), bucket)) AS bucket
              |  FROM wt WHERE vec_id < 32),
              |pairs AS (SELECT DISTINCT p.query_id, c.vec_id AS cand_id
              |  FROM probes p JOIN cc c ON p.tbl = c.tbl AND p.bucket = c.bucket
              |    AND p.query_id <> c.vec_id),
              |e AS (SELECT vec_id, embedding, ${dkNorm("embedding")} AS nrm FROM embeddings),
              |ann AS (SELECT * FROM (
              |  SELECT query_id, cand_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY
              |      round(${dkDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 8) DESC,
              |      cand_id) AS rnk
              |  FROM pairs JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = cand_id
              |  ) WHERE rnk <= 3),
              |brute AS (SELECT * FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      round(${dkDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 8) DESC,
              |      c.vec_id) AS rnk
              |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id < 32) WHERE rnk <= 3)
              |SELECT b.query_id, count(a.cand_id) AS n_hits,
              |  round(count(a.cand_id)::DOUBLE / count(*), 4) AS recall
              |FROM brute b LEFT JOIN ann a
              |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
              |GROUP BY b.query_id""".stripMargin)),

    // ── Semi-structured extraction: parse the events' JSON props
    //    column with a declared schema (from_json → typed struct, the
    //    columnar path for JSON-bearing tables) and aggregate on the
    //    extracted field. ──
    QueryDef(
      "ev_props_json",
      "typed extraction from the JSON props column + per-type aggregate",
      (s, d) =>
        t(s, d, "events")
          .withColumn("k",
            from_json(col("props"), lit("struct<k: bigint>")).getField("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum("k").as("sum_k"),
            max("k").as("max_k"),
            count(when(col("k").isNull, 1)).as("n_null")),
      Some("""SELECT event_type, count(*) AS n,
             |CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
             |max(CAST(props ->> 'k' AS BIGINT)) AS max_k,
             |count(CASE WHEN props ->> 'k' IS NULL THEN 1 END) AS n_null
             |FROM events GROUP BY event_type""".stripMargin)),

    // ── Multimodal binary plumbing ──
    QueryDef(
      "mm_binary_meta",
      "opaque binary payload + typed metadata (decode stub plumbing)",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        (lit(1) + octet_length(col("text").cast("binary")) % 640).as("width"),
        (lit(1) + (octet_length(col("text").cast("binary")) * 7) % 480).as("height"),
        (lit(1) + octet_length(col("text").cast("binary")) % 16).as("n_frames")),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |1 + octet_length(encode(text)) % 640 AS width,
             |1 + (octet_length(encode(text)) * 7) % 480 AS height,
             |1 + octet_length(encode(text)) % 16 AS n_frames
             |FROM documents""".stripMargin)),

    // ── Image near-dup end-to-end: deterministic PNGs are synthesized
    //    on executors (four doc_ids share each noise seed — planted
    //    exact-duplicate images), decoded through the REAL imageio
    //    dHash (9×8 bilinear grayscale gradient → 64-bit), and paired
    //    by the pigeonhole-complete 7-band hamming join. The decode
    //    half is not SQL-expressible, so the query is SPLIT at the
    //    fingerprint boundary: executor-decoded (doc_id, dhash) rows
    //    are persisted to a scratch parquet, the engine's hamming join
    //    runs over that persisted table, and the DuckDB oracle replays
    //    the SAME banding + equi-join + bit_count rescore over the SAME
    //    scratch parquet (the dedup_simhash_hamming shape, 64-bit,
    //    radius 6 → 7 bands of widths 10,9,9,9,9,9,9). The decode half
    //    stays pinned by FingerprintSpec's invariance + brute-force
    //    exactness proofs. ──
    QueryDef(
      "mm_image_neardup",
      "synthesized PNGs -> real imageio dHash -> exact hamming near-dup pairs",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 160).as[Long].map { id =>
            val seed = (id % 40L).toInt
            val img = new java.awt.image.BufferedImage(32, 32,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < 32) {
              var x = 0
              while (x < 32) {
                val g = ((seed * 1000003 + x * 9176 + y * 31) % 256 + 256) % 256
                img.setRGB(x, y, (g << 16) | (g << 8) | g)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            graft.operators.Multimodal.MediaRow(id, bos.toByteArray, "image/png")
          }
        graft.operators.Fingerprint.hammingNearDupPairs(
          writeMmScratch(s, "mm_image_fp",
            graft.operators.Fingerprint.dHash64(s, media)),
          "doc_id", "dhash", 6)
      },
      Some(s"""WITH fp AS (SELECT doc_id, dhash
              |  FROM read_parquet('$MmScratchBase/mm_image_fp/*.parquet')),
              |bands AS (SELECT doc_id, dhash, pos, (dhash >> off) & mask AS band
              |  FROM fp, (VALUES (0,0,1023),(1,10,511),(2,19,511),(3,28,511),
              |    (4,37,511),(5,46,511),(6,55,511)) b(pos, off, mask)),
              |ok AS (SELECT * FROM bands
              |  QUALIFY count(*) OVER (PARTITION BY pos, band) <= ${graft.operators.Dedup.MaxBucket}),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
              |    a.dhash AS ha, b.dhash AS hb
              |  FROM ok a JOIN ok b ON a.pos = b.pos AND a.band = b.band
              |    AND a.doc_id < b.doc_id)
              |SELECT id_a, id_b, bit_count(xor(ha, hb))::INT AS hamming
              |FROM cand WHERE bit_count(xor(ha, hb)) <= 6""".stripMargin)),

    // ── Audio twin: deterministic 16-bit PCM WAVs synthesized on
    //    executors (four doc_ids share each per-frame amplitude
    //    envelope — planted duplicate clips), decoded through the REAL
    //    javax.sound pipeline into the gain-invariant energy-contour
    //    fingerprint, paired by the exact hamming join. Split at the
    //    fingerprint boundary like mm_image_neardup: the scratch
    //    parquet carries (doc_id, ahash), the oracle replays the
    //    radius-4 5-band scheme (widths 13,13,13,13,12) over it;
    //    FingerprintSpec carries the invariance and exactness proofs
    //    for the decode half. ──
    QueryDef(
      "mm_audio_neardup",
      "synthesized WAVs -> real javax.sound energy fingerprint -> exact hamming pairs",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 120).as[Long].map { id =>
            val seed = (id % 30L).toInt
            val r = new scala.util.Random(seed)
            val amps = Array.fill(65)((r.nextInt(60) + 4) * 4)
            val samples = new Array[Short](65 * 40)
            var f = 0
            while (f < 65) {
              var i = 0
              while (i < 40) {
                samples(f * 40 + i) =
                  (if (i % 2 == 0) amps(f) else -amps(f)).toShort
                i += 1
              }
              f += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
            val data = new Array[Byte](samples.length * 2)
            var j = 0
            while (j < samples.length) {
              data(2 * j) = (samples(j) & 0xff).toByte
              data(2 * j + 1) = ((samples(j) >> 8) & 0xff).toByte
              j += 1
            }
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(data), fmt, samples.length)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            graft.operators.Multimodal.MediaRow(id, bos.toByteArray, "audio/wav")
          }
        graft.operators.Fingerprint.hammingNearDupPairs(
          writeMmScratch(s, "mm_audio_fp",
            graft.operators.Fingerprint.audioFingerprint64(s, media)),
          "doc_id", "ahash", 4)
      },
      Some(s"""WITH fp AS (SELECT doc_id, ahash
              |  FROM read_parquet('$MmScratchBase/mm_audio_fp/*.parquet')),
              |bands AS (SELECT doc_id, ahash, pos, (ahash >> off) & mask AS band
              |  FROM fp, (VALUES (0,0,8191),(1,13,8191),(2,26,8191),
              |    (3,39,8191),(4,52,4095)) b(pos, off, mask)),
              |ok AS (SELECT * FROM bands
              |  QUALIFY count(*) OVER (PARTITION BY pos, band) <= ${graft.operators.Dedup.MaxBucket}),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
              |    a.ahash AS ha, b.ahash AS hb
              |  FROM ok a JOIN ok b ON a.pos = b.pos AND a.band = b.band
              |    AND a.doc_id < b.doc_id)
              |SELECT id_a, id_b, bit_count(xor(ha, hb))::INT AS hamming
              |FROM cand WHERE bit_count(xor(ha, hb)) <= 4""".stripMargin)),

    // ── Tumbling-window aggregation over the event stream ──
    QueryDef(
      "ev_window_tumbling",
      "5-minute tumbling window counts/sums per event type",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""SELECT strftime(to_timestamp((epoch_us(ts) // 300000000) * 300),
             | '%Y-%m-%d %H:%M:%S') AS win_start,
             |event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      bench = true),

    // ── Temporal profile: hour-of-day × type activity matrix — the
    //    time-dimension extraction profile (one groupBy, map-side
    //    combinable; UTC session timezone pins the hour on both
    //    engines) ──
    QueryDef(
      "events_hourly_profile",
      "hour-of-day activity counts per event type",
      (s, d) =>
        t(s, d, "events")
          .groupBy(hour(col("ts")).as("hr"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value")),
      Some("""SELECT EXTRACT(hour FROM ts)::INT AS hr, event_type,
             |count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // ── Co-occurrence (market-basket) pairs: which event types appear
    //    together in the same user's history — per-user DISTINCT types
    //    first (bounded by the type vocabulary), then a user-keyed
    //    self-join of the reduced sets: the pair blowup is |types|²
    //    per user, never |events|², the standard basket-analysis
    //    shape at scale ──
    QueryDef(
      "cooccur_event_types",
      "event-type co-occurrence counts across user histories",
      (s, d) => {
        val ut = t(s, d, "events").select("user_id", "event_type").distinct()
        ut.select(col("user_id"), col("event_type").as("type_a"))
          .join(ut.select(col("user_id"), col("event_type").as("type_b")),
            Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             |  count(*) AS n_users
             |FROM ut a JOIN ut b
             |  ON a.user_id = b.user_id AND a.event_type < b.event_type
             |GROUP BY 1, 2""".stripMargin)),

    // ── Count-min sketch heavy hitters: frequency estimation from a
    //    fixed 4×1024 counter grid — the sketch is a groupBy over
    //    (row, hash-bucket) so it partial-aggregates map-side and its
    //    state is O(D·W) regardless of corpus size (the mergeable-
    //    sketch scale story, like the KMV distinct sketch). Estimate =
    //    min over rows; deterministic polynomial hashes make both the
    //    sketch and the estimates exactly oracle-able. est >= exact
    //    always (collisions only inflate). ──
    QueryDef(
      "cms_heavy_hitters",
      "count-min-sketch frequency estimates for the top-5 users vs exact counts",
      (s, d) => {
        val P = 1000003L; val W = 1024; val D = 4
        def bucket(j: org.apache.spark.sql.Column, uid: org.apache.spark.sql.Column) =
          ((j * 2 + 3) * (uid % P) + (j * 7919 + 13)) % P % W
        val ev = t(s, d, "events").select("user_id")
        val sk = ev
          .select(col("user_id"), explode(sequence(lit(0), lit(D - 1))).as("j"))
          .withColumn("bucket", bucket(col("j"), col("user_id")))
          .groupBy("j", "bucket").agg(count(lit(1)).as("c"))
        val top5 = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("user_id")).limit(5)
        top5
          .withColumn("j", explode(sequence(lit(0), lit(D - 1))))
          .withColumn("bucket", bucket(col("j"), col("user_id")))
          .join(sk, Seq("j", "bucket"))
          .groupBy("user_id", "exact_n")
          .agg(min("c").as("est_n"))
      },
      Some("""WITH rows4 AS (SELECT unnest(range(0, 4)) AS j),
             |sk AS (SELECT j,
             |    ((j*2 + 3) * (user_id % 1000003) + (j*7919 + 13)) % 1000003 % 1024 AS bucket,
             |    count(*) AS c
             |  FROM events CROSS JOIN rows4 GROUP BY 1, 2),
             |top5 AS (SELECT user_id, count(*) AS exact_n FROM events
             |  GROUP BY 1 ORDER BY exact_n DESC, user_id LIMIT 5),
             |probes AS (SELECT t.user_id, t.exact_n, r.j,
             |    ((r.j*2 + 3) * (t.user_id % 1000003) + (r.j*7919 + 13)) % 1000003 % 1024 AS bucket
             |  FROM top5 t CROSS JOIN rows4 r)
             |SELECT p.user_id, p.exact_n, min(sk.c) AS est_n
             |FROM probes p JOIN sk ON sk.j = p.j AND sk.bucket = p.bucket
             |GROUP BY 1, 2""".stripMargin)),

    // ── Sliding windows: 10-minute windows every 5 — each event lands
    //    in exactly length/slide = 2 windows (plans as an Expand, then
    //    the same partial+final aggregate as tumbling; the oracle
    //    generates the two window starts per event explicitly) ──
    QueryDef(
      "ev_window_sliding",
      "10-minute windows sliding every 5 minutes: counts/sums per event type",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""SELECT strftime(to_timestamp((epoch_us(ts) // 300000000) * 300 - off),
             | '%Y-%m-%d %H:%M:%S') AS win_start,
             |event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events, (SELECT unnest([0, 300]) AS off) k
             |GROUP BY 1, 2""".stripMargin),
      bench = true),

    // ── As-of join: each click matched to the latest prior view ──
    QueryDef(
      "asof_join_events",
      "as-of join (latest right row with time <= left time per key) — union+window composition vs DuckDB native ASOF JOIN",
      (s, d) => {
        val ev = t(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .withColumn("__rn", row_number().over(
            Window.partitionBy("user_id", "ts_ns").orderBy(col("event_id").desc)))
          .filter(col("__rn") === 1)
          .select("user_id", "ts_ns", "event_id", "value")
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "ts_ns", "event_id")
        graft.operators.AsofJoin.asof(clicks, views, "user_id", "ts_ns", Seq("event_id", "value"))
          .select(
            col("user_id"),
            col("event_id").as("click_id"),
            col("asof_match.event_id").as("view_id"),
            expr("(ts_ns - asof_match.ts_ns) div 1000000000").as("gap_s"))
      },
      Some("""WITH v AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, value FROM events
             |  WHERE event_type = 'view'
             |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ns(ts) ORDER BY event_id DESC) = 1),
             |c AS (SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events WHERE event_type = 'click')
             |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
             | (c.tns - v.tns) // 1000000000 AS gap_s
             |FROM c ASOF JOIN v ON c.user_id = v.user_id AND v.tns <= c.tns""".stripMargin),
      bench = true),

    // ── Forward as-of: each view matched to the NEXT click (the
    //    conversion-attribution direction). Same union+window plan,
    //    descending order. Oracle: per-view earliest later click via
    //    windowed join (DuckDB ASOF is backward-only). ──
    QueryDef(
      "asof_join_forward",
      "forward as-of (earliest right row with time >= left time per key)",
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .withColumn("__rn", row_number().over(
            Window.partitionBy("user_id", "ts_ns").orderBy(col("event_id"))))
          .filter(col("__rn") === 1)
          .select("user_id", "ts_ns", "event_id")
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts_ns", "event_id")
        graft.operators.AsofJoin.asofForward(views, clicks, "user_id", "ts_ns", Seq("event_id"))
          .select(
            col("user_id"),
            col("event_id").as("view_id"),
            col("asof_match.event_id").as("click_id"),
            expr("(asof_match.ts_ns - ts_ns) div 1000000000").as("gap_s"))
      },
      Some("""WITH c AS (SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events
             |  WHERE event_type = 'click'
             |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ns(ts) ORDER BY event_id) = 1),
             |v AS (SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events WHERE event_type = 'view')
             |SELECT user_id, view_id, click_id, gap_s FROM (
             |  SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
             |    (c.tns - v.tns) // 1000000000 AS gap_s,
             |    row_number() OVER (PARTITION BY v.user_id, v.event_id
             |      ORDER BY c.tns, c.event_id) AS rn
             |  FROM v JOIN c ON c.user_id = v.user_id AND c.tns >= v.tns)
             |WHERE rn = 1""".stripMargin)),

    // ── Tolerance-bounded as-of: latest prior view within 10 minutes
    //    of the click — stale matches dropped (pandas merge_asof
    //    `tolerance=` semantics; one extra codegen'd comparison). ──
    QueryDef(
      "asof_join_tolerance",
      "backward as-of bounded to a 600 s tolerance window",
      (s, d) => {
        val ev = t(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .withColumn("__rn", row_number().over(
            Window.partitionBy("user_id", "ts_ns").orderBy(col("event_id").desc)))
          .filter(col("__rn") === 1)
          .select("user_id", "ts_ns", "event_id", "value")
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "ts_ns", "event_id")
        graft.operators.AsofJoin.asofTolerance(clicks, views, "user_id", "ts_ns",
            Seq("event_id", "value"), 600L * 1000000000L)
          .select(
            col("user_id"),
            col("event_id").as("click_id"),
            col("asof_match.event_id").as("view_id"),
            expr("(ts_ns - asof_match.ts_ns) div 1000000000").as("gap_s"))
      },
      Some("""WITH v AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, value FROM events
             |  WHERE event_type = 'view'
             |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ns(ts) ORDER BY event_id DESC) = 1),
             |c AS (SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events WHERE event_type = 'click')
             |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
             | (c.tns - v.tns) // 1000000000 AS gap_s
             |FROM c ASOF JOIN v ON c.user_id = v.user_id AND v.tns <= c.tns
             |WHERE c.tns - v.tns <= 600000000000""".stripMargin)),

    // ── Sessionization (30-minute inactivity gap) ──
    QueryDef(
      "ev_sessionize",
      "gap-based sessionization per user via lag + cumulative flag",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
        val cum = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .withColumn("new_sess",
            when(col("ts_ns") - lag("ts_ns", 1).over(w) > 1800L * 1000000000L, 1)
              .otherwise(when(lag("ts_ns", 1).over(w).isNull, 1).otherwise(0)))
          .withColumn("session_id", sum("new_sess").over(cum))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            date_format(expr("timestamp_micros(min(ts_ns) div 1000)"), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
            ((max("ts_ns") - min("ts_ns")) / lit(1000000000L)).cast("long").as("dur_s"))
      },
      Some("""WITH flagged AS (SELECT user_id, event_id, epoch_ns(ts) AS tns,
             |  CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
             |    (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) > 1800000000000
             |   THEN 1
             |   WHEN lag(epoch_ns(ts)) OVER
             |    (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL THEN 1
             |   ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (SELECT *, CAST(sum(new_sess) OVER
             |  (PARTITION BY user_id ORDER BY tns, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM flagged)
             |SELECT user_id, session_id, count(*) AS n_events,
             |strftime(make_timestamp(min(tns) // 1000), '%Y-%m-%d %H:%M:%S') AS start_ts,
             |(max(tns) - min(tns)) // 1000000000 AS dur_s
             |FROM sess GROUP BY user_id, session_id""".stripMargin),
      bench = true),

    // ── First-order MARKOV transition matrix over per-user event
    //    sequences: (from_type, to_type) counts from a lead() step
    //    pair, with row-normalized probabilities as integer rationals
    //    (p_e6 = cnt·10⁶ div row_total — exact, no float sums). The
    //    behavioral-model / next-event-prediction primitive; the
    //    window is partitioned per user so the sort is per-key. ──
    QueryDef(
      "ev_transitions",
      "per-user event-type Markov transitions with integer-rational row probabilities",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
        val steps = t(s, d, "events")
          .withColumn("to_type", lead("event_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("cnt"))
        val tot = steps.groupBy("from_type").agg(sum("cnt").as("tot"))
        steps.join(tot, "from_type")
          .select(col("from_type"), col("to_type"), col("cnt"),
            expr("cnt * 1000000L div tot").as("p_e6"))
      },
      Some("""WITH s AS (SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS to_type
             |  FROM events),
             |c AS (SELECT from_type, to_type, count(*) AS cnt FROM s
             |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT c.from_type, c.to_type, c.cnt::BIGINT AS cnt,
             |  ((c.cnt * 1000000) // t.tot)::BIGINT AS p_e6
             |FROM c JOIN (SELECT from_type, sum(cnt) AS tot FROM c GROUP BY 1) t
             |  ON t.from_type = c.from_type""".stripMargin)),

    // ── Gaps-and-islands: merge each user's overlapping 5-minute
    //    event intervals into maximal covered islands (running-max of
    //    interval ends over preceding rows → new-island flag →
    //    cumulative island id), then per-user island count and total
    //    covered seconds. The classic interval-coverage pattern —
    //    utilization, uptime, exposure windows — in ONE partitioned
    //    window pass: no self-join, no interval tree; pure integer ns
    //    arithmetic so the oracle replays it exactly. Partitioned by
    //    user ⇒ the sort is per-key and the shape survives any scale
    //    (a mega-user would salt like any skewed window key). ──
    QueryDef(
      "ev_interval_islands",
      "per-user merged 5-min interval islands: count + covered seconds (gaps-and-islands)",
      (s, d) => {
        val gapNs = 300L * 1000000000L
        val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prev = w.rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .withColumn("prev_end", max(col("ts_ns") + gapNs).over(prev))
          .withColumn("new_island",
            when(col("prev_end").isNull || col("ts_ns") > col("prev_end"), 1L)
              .otherwise(0L))
          .withColumn("island", sum("new_island").over(cum))
          .groupBy("user_id", "island")
          .agg(min("ts_ns").as("s"), (max("ts_ns") + gapNs).as("e"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            expr("sum(e - s) div 1000000000").as("covered_s"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
             |m AS (SELECT user_id, event_id, t,
             |  max(t + 300000000000) OVER (PARTITION BY user_id ORDER BY t, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM e),
             |f AS (SELECT user_id, event_id, t,
             |  CASE WHEN prev_end IS NULL OR t > prev_end THEN 1 ELSE 0 END AS ni FROM m),
             |i AS (SELECT user_id, t, sum(ni) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM f),
             |g AS (SELECT user_id, island, min(t) AS s, max(t) + 300000000000 AS e
             |  FROM i GROUP BY 1, 2)
             |SELECT user_id, count(*)::BIGINT AS n_islands,
             |  (sum(e - s) // 1000000000)::BIGINT AS covered_s
             |FROM g GROUP BY 1""".stripMargin)),

    // ── Session funnel: ordered multi-stage conditional aggregation —
    //    per session, the first view, the first click AT OR AFTER that
    //    view, and the first purchase at or after that click; then one
    //    corpus row of per-stage session counts. Each stage is a
    //    conditional MIN keyed on the previous stage's timestamp
    //    (null-propagating, so a session that never reaches stage k
    //    contributes null to every later stage). All joins are on the
    //    session key — three keyed aggregations, no self-join blowup. ──
    QueryDef(
      "funnel_sessions",
      "view -> click -> purchase funnel counts over 30-minute sessions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
        val cum = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = t(s, d, "events")
          .withColumn("new_sess",
            when(col("ts_ns") - lag("ts_ns", 1).over(w) > 1800L * 1000000000L, 1)
              .otherwise(when(lag("ts_ns", 1).over(w).isNull, 1).otherwise(0)))
          .withColumn("session_id", sum("new_sess").over(cum))
          .select("user_id", "session_id", "event_type", "ts_ns")
        val v = sess.groupBy("user_id", "session_id")
          .agg(min(when(col("event_type") === "view", col("ts_ns"))).as("t_view"))
        val c = sess.join(v, Seq("user_id", "session_id"))
          .groupBy("user_id", "session_id", "t_view")
          .agg(min(when(col("event_type") === "click" && col("ts_ns") >= col("t_view"),
            col("ts_ns"))).as("t_click"))
        val p = sess.join(c, Seq("user_id", "session_id"))
          .groupBy("user_id", "session_id", "t_view", "t_click")
          .agg(min(when(col("event_type") === "purchase" && col("ts_ns") >= col("t_click"),
            col("ts_ns"))).as("t_buy"))
        p.agg(count(lit(1)).as("n_sessions"),
          count("t_view").as("n_view"),
          count("t_click").as("n_click"),
          count("t_buy").as("n_purchase"))
      },
      Some("""WITH flagged AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
             |  CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
             |    (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) > 1800000000000
             |   THEN 1
             |   WHEN lag(epoch_ns(ts)) OVER
             |    (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL THEN 1
             |   ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (SELECT user_id, event_type, tns, sum(new_sess) OVER
             |  (PARTITION BY user_id ORDER BY tns, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM flagged),
             |v AS (SELECT user_id, session_id,
             |    min(CASE WHEN event_type = 'view' THEN tns END) AS t_view
             |  FROM sess GROUP BY 1, 2),
             |c AS (SELECT s.user_id, s.session_id, v.t_view,
             |    min(CASE WHEN s.event_type = 'click' AND s.tns >= v.t_view THEN s.tns END) AS t_click
             |  FROM sess s JOIN v USING (user_id, session_id) GROUP BY 1, 2, 3),
             |p AS (SELECT s.user_id, s.session_id, c.t_view, c.t_click,
             |    min(CASE WHEN s.event_type = 'purchase' AND s.tns >= c.t_click THEN s.tns END) AS t_buy
             |  FROM sess s JOIN c USING (user_id, session_id) GROUP BY 1, 2, 3, 4)
             |SELECT count(*) AS n_sessions, count(t_view) AS n_view,
             |  count(t_click) AS n_click, count(t_buy) AS n_purchase
             |FROM p""".stripMargin)),

    // ── HYBRID RETRIEVAL via Reciprocal Rank Fusion: the standard way
    //    production search stacks combine rankers that score on
    //    incommensurable scales (dense float cosine vs int8 dot here;
    //    dense vs BM25 in the wild). Each retriever contributes
    //    1e6 div (60 + rank) for its top-10 — rank-only, so no score
    //    calibration is needed, and the fused score is a pure BIGINT
    //    both engines compute identically. The two candidate lists
    //    meet in a full outer join on (query, candidate) — a
    //    candidate surfaced by one retriever still scores — and the
    //    fused top-5 re-ranks by (rrf_e6 DESC, cand_id). Both input
    //    rankings are already deterministic (rounded cosine / integer
    //    dot with id tie-breaks), so the fusion is hash-exact. Scale:
    //    fusion touches only the k·|queries| candidate lists, never
    //    the corpus — it composes onto the ANN scale path unchanged. ──
    QueryDef(
      "hybrid_rrf_fusion",
      "reciprocal-rank fusion of exact-cosine and int8-dot top-10 into a fused top-5",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val dense = graft.operators.Knn.bruteForceTopK(
            emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 10)
          .select(col("query_id"), col("cand_id"),
            expr("1000000L div (60 + rnk)").as("e_dense"))
        val q8all = graft.operators.Dedup.stageThenSpread(emb,
          "__scale" -> expr("127.0D / greatest(array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 1e-30D)"))
          .select(col("vec_id"),
            expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * __scale) AS BIGINT))").as("q8"))
        val q = q8all.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("q8").as("qa"))
        val int8 = int8TopK(q8all.select(col("vec_id").as("cand_id"), col("q8").as("qb"))
          .join(broadcast(q), col("query_id") =!= col("cand_id"))
          .withColumn("score",
            expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (a, v) -> a + v)")), 10)
          .select(col("query_id"), col("cand_id"),
            expr("1000000L div (60 + rnk)").as("e_int8"))
        dense.join(int8, Seq("query_id", "cand_id"), "full_outer")
          .select(col("query_id"), col("cand_id"),
            (coalesce(col("e_dense"), lit(0L)) + coalesce(col("e_int8"), lit(0L))).as("rrf_e6"))
          .withColumn("fused_rnk", row_number().over(
            Window.partitionBy("query_id").orderBy(col("rrf_e6").desc, col("cand_id"))))
          .filter(col("fused_rnk") <= 5)
          .select("query_id", "cand_id", "rrf_e6", "fused_rnk")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, ${dkNorm("embedding")} AS qn
              |  FROM embeddings WHERE vec_id < 8),
              |c AS (SELECT vec_id AS cand_id, embedding AS ce, ${dkNorm("embedding")} AS cn
              |  FROM embeddings),
              |dense AS (SELECT query_id, cand_id, 1000000 // (60 + rnk) AS e_dense FROM (
              |  SELECT query_id, cand_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY
              |      round(${dkDot("qe", "ce")} / (qn * cn), 8) DESC, cand_id) AS rnk
              |  FROM q CROSS JOIN c WHERE query_id <> cand_id) WHERE rnk <= 10),
              |sc AS (SELECT vec_id, embedding,
              |  127.0 / greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))), 1e-30) AS scale
              |  FROM embeddings),
              |q8 AS (SELECT vec_id,
              |  list_transform(embedding, v -> floor(v::DOUBLE * scale)::BIGINT) AS q FROM sc),
              |int8 AS (SELECT query_id, cand_id, 1000000 // (60 + rnk) AS e_int8 FROM (
              |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, cand_id) AS rnk FROM (
              |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
              |      list_reduce(list_prepend(0::BIGINT,
              |        list_transform(range(0, $Dim), i -> a.q[(i + 1)::INT] * b.q[(i + 1)::INT])),
              |        (s2, v) -> s2 + v) AS score
              |    FROM q8 a JOIN q8 b ON a.vec_id < 8 AND a.vec_id <> b.vec_id) t) tt
              |  WHERE rnk <= 10),
              |fused AS (SELECT coalesce(dense.query_id, int8.query_id) AS query_id,
              |    coalesce(dense.cand_id, int8.cand_id) AS cand_id,
              |    coalesce(e_dense, 0) + coalesce(e_int8, 0) AS rrf_e6
              |  FROM dense FULL OUTER JOIN int8
              |    ON dense.query_id = int8.query_id AND dense.cand_id = int8.cand_id)
              |SELECT query_id, cand_id, rrf_e6, fused_rnk FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY rrf_e6 DESC, cand_id) AS BIGINT) AS fused_rnk FROM fused)
              |WHERE fused_rnk <= 5""".stripMargin))
  )
}
