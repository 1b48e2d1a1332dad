package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Dedup

/** Structured Streaming surface over vector workloads: ONLINE ANN
  * SERVING — the retrieval half of the batch ANN families applied to an
  * unbounded stream of query vectors (the "embed the live request,
  * fetch its neighbors" loop every retrieval pipeline runs).
  *
  * Reference context: no vector surface in the reference; this is the
  * streaming face of the SURVEY §7.5 similarity-search extension.
  */
object VectorStreams {

  /** Atomic model-pin write: temp file + ATOMIC_MOVE, the CURRENT-swing
    * discipline applied to pin files. A plain in-place write can crash
    * mid-way and leave a TRUNCATED but still-parseable value (e.g.
    * "12" from "12.75") that every later fold silently adopts,
    * producing buckets inconsistent with earlier batches (ADVICE
    * r14). */
  private[streaming] def atomicWritePin(path: java.nio.file.Path, value: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, value)
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Enrich a stream of `(id, embedding)` query vectors with their
    * top-k cosine neighbors from a STATIC multi-table sign-LSH index.
    *
    * Plan shape per micro-batch: bucket assignment is a pure projection
    * on the stream side (same deterministic hyperplane hashes the index
    * was built with — [[graft.operators.Knn.withLshTables]]), the
    * capped index broadcast-joins on (tbl, bucket) — the stream never
    * shuffles before aggregation — and the per-query top-k is a
    * [[graft.functions.TopKDistinctAgg]] bounded-heap aggregation:
    * O(k) state per query key, map-side partials, payload-distinct so
    * the multi-table collision duplicates the batch plan removes with
    * `.distinct()` are dropped in aggregation state instead (a blocking
    * distinct is unavailable on a stream). Tie order (cosine desc,
    * cand_id asc) matches the batch window, so a replay of the same
    * queries equals [[graft.operators.Knn.lshTopKMultiTable]] row for
    * row (equivalence-tested).
    *
    * The index frame should be the PERSISTED output of
    * `withLshTables(...)` — it is read once per micro-batch; the
    * hot-bucket cap is applied here so a degenerate bucket can never
    * blow up a batch join (the MaxBucket discipline).
    *
    * Output per emission: (query_id, rnk, cand_id, cosine) — update
    * mode re-emits a query's rows as better neighbors arrive (only
    * relevant when a query id recurs across batches). */
  def annServe(queryStream: DataFrame, tabledIndex: DataFrame, idCol: String,
      embCol: String, dim: Int, nPlanes: Int, nTables: Int, k: Int,
      maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    graft.functions.GraftFunctions.register(queryStream.sparkSession)
    val cand = Dedup.dropHotBuckets(
        tabledIndex.select(col(idCol), col("tbl"), col("bucket"), col(embCol), col("nrm")),
        Seq("tbl", "bucket"), maxBucket, "annServe")
      .select(col(idCol).as("cand_id"), col("tbl"), col("bucket"),
        col(embCol).as("c_emb"), col("nrm").as("c_norm"))
    val q = queryStream
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
      .withColumn("q_norm", VectorFunctions.norm("q_emb"))
      .withColumn("tbl", explode(expr(s"sequence(0, ${nTables - 1})")))
      .withColumn("bucket",
        expr(VectorFunctions.lshBucketTableSql("q_emb", dim, nPlanes, "tbl")))
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    q.join(broadcast(cand), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(
        VectorFunctions.dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm")), 8))
      .groupBy("query_id")
      .agg(topk(col("cosine"), col("cand_id").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("e._2").as("cand_id"), col("e._1").as("cosine"))
  }

  /** [[graft.operators.Lakehouse.recoverBakSwap]] for a vector store:
    * a restore also discards any half-staged `.rebuild` sibling (a
    * crashed rebuild must be re-run from its entry point, never
    * resumed). Run by every reader/fold entry. */
  private def recoverBakSwap(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): Unit =
    if (graft.operators.Lakehouse.recoverBakSwap(spark, tableDir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tableDir + ".rebuild"))

  // ─────────── candidate attributes (filtered serving) ───────────

  /** Resolve a store's ATTR_COLS metadata pin (r15 verdict #1 —
    * filtered ANN): the attribute layout is a STORE property exactly
    * like PREFIX_DIM — a fold writing batches without the pinned
    * columns would leave the filtered serve dropping (or failing
    * analysis on) those batches' rows, so both directions fail loudly
    * at fold time; and like every model pin it binds only once a fold
    * has COMMITTED. */
  private[streaming] def resolveAttrColsPin(tableDir: String, attrCols: Seq[String],
      what: String): Unit = {
    val f = new java.io.File(s"$tableDir/ATTR_COLS")
    val committed = new java.io.File(s"$tableDir/CURRENT").exists()
    if (f.exists() && committed) {
      val p = java.nio.file.Files.readString(f.toPath).trim
      val want = attrCols.mkString(",")
      require(p == want,
        s"$what: store $tableDir pins attr columns [$p]; fold passed [$want] — " +
          "the attribute layout is a store property (rebuild to change it)")
    } else if (attrCols.nonEmpty) {
      require(!committed,
        s"$what: $tableDir already has attr-less batches; cannot pin attr " +
          s"columns [${attrCols.mkString(",")}] onto them")
      atomicWritePin(f.toPath, attrCols.mkString(","))
    } else if (f.exists()) {
      // retry reverted to the attr-less layout: drop the stale pin
      java.nio.file.Files.delete(f.toPath)
    }
  }

  /** The attr columns a store was folded with (empty for attr-less
    * stores) — what a rebuild must carry through. */
  private def pinnedAttrCols(tableDir: String): Seq[String] = {
    val f = new java.io.File(s"$tableDir/ATTR_COLS")
    if (f.exists())
      java.nio.file.Files.readString(f.toPath).trim
        .split(",").toSeq.filter(_.nonEmpty)
    else Nil
  }

  /** Per-batch attribute-value histogram `attrstats/batch=N` —
    * (attr…, cnt) over the batch's DISTINCT attribute combinations.
    * This is the serve-time SELECTIVITY estimator for the over-fetch
    * post-filter strategy: a predicate over the declared attrs is
    * answered against these metadata-sized rows (sum of matching cnt /
    * n_vecs), never against the corpus. The cardinality cap is the
    * contract that keeps it metadata-sized — attr columns are
    * LOW-cardinality metadata (lang, source, label, date bucket), not
    * ids. Forgotten vectors are NOT subtracted (the histogram is an
    * estimator; the bounded-retry serve corrects any estimate). */
  private[streaming] def writeAttrStats(batch: DataFrame, tableDir: String, id: Long,
      attrCols: Seq[String], what: String): Unit = if (attrCols.nonEmpty) {
    val stats = batch.groupBy(attrCols.map(col): _*)
      .agg(count(lit(1)).as("cnt")).localCheckpoint(true)
    val m = stats.count()
    require(m <= 65536,
      s"$what: batch $id carries $m distinct attribute combinations — attr " +
        "columns must be low-cardinality metadata (<= 65536 combos per batch)")
    stats.write.mode("overwrite").parquet(s"$tableDir/attrstats/batch=$id")
  }

  /** The filtered-serve survivor frame: the pinned `vectors` table
    * under the predicate (evaluated on the scan — Catalyst pushes what
    * parquet can take). Identity when no predicate. */
  private def keepOf(pinned: String => DataFrame,
      predicate: Option[String]): DataFrame =
    predicate.map(p => pinned("vectors").filter(expr(p)))
      .getOrElse(pinned("vectors"))

  /** Left-semi-prune a per-vector index table (posts/codes/buckets)
    * down to the predicate's survivors BELOW the candidate join — the
    * pre-filter strategy's posting prune, shared by every filtered
    * serve. No-op when no predicate. */
  private def pruneToSurvivors(tbl: DataFrame, keep: DataFrame,
      idCol: String, predicate: Option[String]): DataFrame =
    if (predicate.isEmpty) tbl
    else tbl.join(keep.select(col("vec_id").as(idCol)), Seq(idCol), "left_semi")

  /** A fold's once-per-vector `vectors` rows with the declared attr
    * columns joined back from the batch (the rank/encode pipelines
    * drop non-embedding columns). Identity for attr-less folds. */
  private def withBatchAttrs(vecRows: DataFrame, batch: DataFrame,
      attrCols: Seq[String]): DataFrame =
    if (attrCols.isEmpty) vecRows
    else vecRows.join(batch.select(("vec_id" +: attrCols).map(col): _*),
      Seq("vec_id"))

  /** The ONE store-fold commit discipline every vector store shares
    * (LSH, IVF, IVF×PQ): replay guard on CURRENT (a committed batch id
    * is a no-op), the fold's batch-partition writes, optional pre-swing
    * small-file compaction, the accumulated 1-row `n_vecs` stats
    * version, the atomic CURRENT swing, and post-commit vacuum. A
    * crash anywhere before the swing leaves the store on the previous
    * consistent version; redelivery overwrites identical partitions. */
  private def commitVectorFold(batch: DataFrame, tableDir: String, id: Long,
      compactEvery: Int, vacuumKeep: Int, compactTables: Seq[String])
      (writeBatchTables: Option[String] => Unit): Unit = {
    val spark = batch.sparkSession
    recoverBakSwap(spark, tableDir)
    val cur = new java.io.File(s"$tableDir/CURRENT")
    val ver: Option[String] =
      if (cur.exists()) Some(java.nio.file.Files.readString(cur.toPath).trim)
      else None
    if (ver.exists(graft.operators.Lakehouse.sameBatch(_, id))) return
    writeBatchTables(ver)
    if (compactEvery > 0)
      compactTables.foreach(t =>
        graft.operators.Lakehouse.compactDir(spark, s"$tableDir/$t/batch=$id"))
    val batchStats = batch.agg(count(lit(1)).as("n_vecs"))
    val allStats = ver.map(v => spark.read.parquet(s"$tableDir/$v/stats")) match {
      case None => batchStats
      case Some(old) =>
        old.select(col("n_vecs").as("__on")).crossJoin(batchStats)
          .select((col("__on") + col("n_vecs")).as("n_vecs"))
    }
    allStats.write.mode("overwrite").parquet(s"$tableDir/v$id/stats")
    val tmp = new java.io.File(s"$tableDir/CURRENT.tmp")
    java.nio.file.Files.write(tmp.toPath,
      s"v$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, cur.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    if (compactEvery > 0 && (id + 1) % compactEvery == 0)
      graft.operators.Lakehouse.vacuum(spark, tableDir, vacuumKeep)
  }

  /** Resolve the pin ONCE and read every append subtable against it —
    * a serve must never pair subtables from different versions by
    * racing a concurrent fold's swing. */
  private def pinnedReader(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, version: Option[String]): String => DataFrame = {
    recoverBakSwap(spark, tableDir)
    val ver = version.orElse(graft.operators.Lakehouse.currentVersion(spark, tableDir))
      .getOrElse(throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    t => graft.operators.Lakehouse.readCurrentAppend(spark, tableDir, t, Some(ver))
  }

  /** Dense-vector INDEX-at-ingest: fold each micro-batch of
    * `(vec_id, embedding)` rows into a standing multi-table sign-LSH
    * store — the dense twin of [[DocStreams.indexIngest]] (lexical)
    * and [[DocStreams.mediaDedupIngest]] (perceptual), completing the
    * standing-store matrix for all three retrieval families. Layout
    * follows the append-only discipline:
    *
    *   - `buckets/batch=N/` — (vec_id, tbl, bucket): the banded
    *     postings (L rows per vector, 20 bytes each);
    *   - `vectors/batch=N/` — (vec_id, embedding, nrm): the rescore
    *     side, stored ONCE per vector (never ×L — the banded frame's
    *     embedding duplication is a query-time artifact the store
    *     must not pay for);
    *   - `v<N>/stats` — 1-row (n_vecs) copy-on-write under CURRENT:
    *     the snapshot pin.
    *
    * Fold I/O is O(batch) (bucket assignment is a narrow projection,
    * both writes are the batch's own partitions); a reader pinned on
    * `vN` filters `batch <= N` — partition pruning, so a half-appended
    * batch is invisible until CURRENT swings. Vector ids are assumed
    * new (the ingest contract all three stores share). */
  def vectorIndexIngest(vecStream: DataFrame, tableDir: String,
      dim: Int, nPlanes: Int, nTables: Int,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        vectorFoldBatch(batch.toDF(), tableDir, id, dim, nPlanes, nTables,
          compactEvery, vacuumKeep)
        ()
      }
      .start()

  /** One vector-store micro-batch fold (the [[vectorIndexIngest]]
    * body, exposed for direct pipeline composition and replay tests —
    * the [[ivfFoldBatch]] symmetry).
    *
    * `prefixDim > 0` additionally persists the Matryoshka PREFIX as
    * its own columns on the vectors table — `p_emb` (the first
    * prefixDim components) and `p_nrm` (its norm, computed once at
    * fold time) — so [[mrlServeFromStore]]'s cheap pass can COLUMN-
    * PRUNE down to prefixDim/dim of the embedding bytes instead of
    * slicing the full column per query (the round-12 scaladoc's
    * "production layout" note, now real). The prefix width is a STORE
    * property: the first fold pins it in `PREFIX_DIM` and later folds
    * must match (the centroid/codebook/bounds pinning precedent). */
  def vectorFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      dim: Int, nPlanes: Int, nTables: Int,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      prefixDim: Int = 0, attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("buckets", "vectors")) { _ =>
      // layout guard (mirror of mipsAlshFoldBatch's): raw buckets hash
      // the raw floats, an ALSH store's buckets hash the 65-dim lift —
      // same schema, incompatible numbers
      require(!new java.io.File(s"$tableDir/MAX_NORM").exists(),
        s"vectorFoldBatch: $tableDir is an ALSH (lifted) store — use mipsAlshFoldBatch")
      resolveAttrColsPin(tableDir, attrCols, "vectorFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "vectorFoldBatch")
      val tabled = graft.operators.Knn.withLshTables(
          batch.select(("vec_id" +: "embedding" +: attrCols).map(col): _*),
          "embedding", dim, nPlanes, nTables)
        .localCheckpoint(true)
      tabled.select(col("vec_id"), col("tbl"), col("bucket"))
        .write.mode("overwrite").parquet(s"$tableDir/buckets/batch=$id")
      val vecs0 = tabled.filter(col("tbl") === 0)
        .select((Seq("vec_id", "embedding", "nrm") ++ attrCols).map(col): _*)
      // the prefix layout is a STORE property checked UNCONDITIONALLY:
      // a default-argument (prefixDim = 0) fold into a prefix-pinned
      // store would write batches WITHOUT p_emb/p_nrm — the pruned
      // serve would then drop those batches' rows (or fail analysis)
      // while the pin still advertises the layout; and the reverse
      // (pinning prefixDim onto a store with existing raw batches)
      // leaves earlier batches unreadable by the pruned plan. Both
      // directions must fail loudly at fold time.
      val pd = new java.io.File(s"$tableDir/PREFIX_DIM")
      // the pin binds only once a fold COMMITTED (ADVICE r15 — see
      // resolveMaxNormPin): a crashed first fold's PREFIX_DIM may be
      // re-pinned by the retry, never silently enforced against it
      if (pd.exists() && new java.io.File(s"$tableDir/CURRENT").exists()) {
        val pinnedPd = java.nio.file.Files.readString(pd.toPath).trim.toInt
        require(pinnedPd == prefixDim,
          s"store $tableDir pinned prefix dim $pinnedPd; fold asked for $prefixDim")
      } else if (prefixDim > 0) {
        require(!new java.io.File(s"$tableDir/CURRENT").exists(),
          s"store $tableDir already has raw (un-prefixed) batches; " +
            s"cannot pin prefix dim $prefixDim onto them")
        atomicWritePin(pd.toPath, prefixDim.toString)
      } else if (pd.exists()) {
        // retry reverted to the raw layout: drop the stale pin so the
        // committed store doesn't advertise columns its batches lack
        java.nio.file.Files.delete(pd.toPath)
      }
      val vecs =
        if (prefixDim <= 0) vecs0
        else vecs0.withColumn("p_emb", expr(s"slice(embedding, 1, $prefixDim)"))
          .withColumn("p_nrm", VectorFunctions.norm("p_emb"))
      vecs.write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
    }

  /** Right-to-be-forgotten for ANY standing vector store (LSH, IVF,
    * IVF×PQ): the per-vector append tables are DISCOVERED from the
    * store layout — buckets/posts/codes/vectors, whichever exist — so
    * a caller can never silently leave a forgotten vector's derived
    * rows (its PQ codes, say) on disk by forgetting to name a table.
    * Each is a survivor rewrite of only the batch partitions holding
    * doomed ids ([[graft.operators.Lakehouse.deleteFromPartitions]],
    * with its documented reader-retry caveat), then the count
    * correction folds into a new stats version before CURRENT swings.
    * Pinned models (centroids/codebooks) are untouched — they are
    * aggregates over many vectors, not per-vector state (the same
    * reason a trained model unlearns by count subtraction). Returns
    * the number of partitions rewritten. */
  def forgetVectors(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, vecIds: Seq[Long]): Int = {
    val curName = graft.operators.Lakehouse.currentVersion(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    val cond = col("vec_id").isin(vecIds: _*)
    val tables = Seq("buckets", "posts", "codes", "vectors")
      .filter(t => new java.io.File(s"$tableDir/$t").isDirectory)
    require(tables.contains("vectors"),
      s"$tableDir does not look like a vector store (no vectors/ table)")
    val lost = spark.read.parquet(s"$tableDir/vectors").filter(cond)
      .agg(count(lit(1)).as("__n")).localCheckpoint(true)
    val rewritten = tables.map(t =>
      graft.operators.Lakehouse.deleteFromPartitions(spark, s"$tableDir/$t", cond)).sum
    val newStats = graft.operators.Lakehouse
      .readVersion(spark, tableDir, curName, "stats")
      .crossJoin(lost)
      .select((col("n_vecs") - col("__n")).as("n_vecs"))
    graft.operators.Lakehouse.bumpVersion(spark, tableDir) { vdir =>
      newStats.write.mode("overwrite").parquet(s"$vdir/stats")
    }
    rewritten
  }

  /** ANN top-k from a standing [[vectorIndexIngest]] store, pinned to
    * `version` (default CURRENT). `probes` may be a batch frame or a
    * streaming one — the probe side is a pure bucket projection, the
    * capped pinned index joins on (tbl, bucket), embeddings join back
    * from the once-per-vector `vectors` table for the exact cosine,
    * and per-probe top-k is the payload-distinct bounded heap (the
    * [[annServe]] discipline end to end). Ranking ties (cosine desc,
    * cand_id) match [[graft.operators.Knn.lshTopKMultiTable]] row for
    * row over the same corpus (equivalence-tested). */
  def searchVectorStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame,
      dim: Int, nPlanes: Int, nTables: Int, k: Int,
      maxBucket: Int = Dedup.MaxBucket,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val pinned = pinnedReader(spark, tableDir, version)
    // pre-filter (see mipsIvfServeFromStore): survivors prune the
    // postings below the cap and the candidate join — filtered serve ≡
    // serving a survivors-only store
    val keep = keepOf(pinned, predicate)
    val bkts = pruneToSurvivors(pinned("buckets"), keep, "vec_id", predicate)
    val cand = Dedup.dropHotBuckets(bkts,
        Seq("tbl", "bucket"), maxBucket, "searchVectorStore")
      .select(col("vec_id").as("cand_id"), col("tbl"), col("bucket"))
    val vecs = keep
    val q = probes
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_norm", VectorFunctions.norm("q_emb"))
      .withColumn("tbl", explode(expr(s"sequence(0, ${nTables - 1})")))
      .withColumn("bucket",
        expr(VectorFunctions.lshBucketTableSql("q_emb", dim, nPlanes, "tbl")))
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    q.join(cand, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(vecs.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_norm")), Seq("cand_id"))
      .withColumn("cosine", round(
        VectorFunctions.dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm")), 8))
      .groupBy("query_id")
      .agg(topk(col("cosine"), col("cand_id").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("e._2").as("cand_id"), col("e._1").as("cosine"))
  }

  /** Matryoshka serving off the standing vector store: the pinned
    * `vectors` append table (any store [[vectorIndexIngest]] maintains)
    * is the candidate corpus — prefix-`prefixDim` prune, exact
    * full-dim rescore of the `nCand` survivors, top `k`. Version-
    * pinned like every serve: fold ≡ rebuild makes the served ranking
    * equal the batch `sim_mrl_topk` contract over the corpus-so-far
    * (`mrl_store_serve` / `mrl_store_serve_pruned` pin that per round).
    *
    * When the store was folded with a matching pinned prefix
    * (`PREFIX_DIM` == prefixDim — see [[vectorFoldBatch]]), the serve
    * takes the I/O-PRUNED plan:
    *
    *   - the cheap pass scans ONLY (vec_id, p_emb, p_nrm) — parquet
    *     column pruning skips the full-dim embedding bytes entirely
    *     (prefixDim/dim of the vector I/O, the actual point of MRL at
    *     100 TB), and the per-candidate prefix slice + norm are
    *     already materialized;
    *   - the exact rescore scans the full embedding of ONLY the
    *     survivor set: the ≤ |probes|·nCand distinct survivor ids (a
    *     probe-batch-bounded list, a documented bounded collect)
    *     push into the second scan as an IN filter, so
    *     parquet row-group stats skip everything else.
    *
    * Arithmetic is [[graft.operators.Knn.mrlTopK]]'s verbatim (same
    * slices, same fold-time norms, same round-8 + heap tie order), so
    * pruned == unpruned row for row (spec-pinned). Without a matching
    * pinned prefix the serve falls back to mrlTopK over the raw
    * embedding column. */
  /** The pruned serve's CHEAP PASS (exposed for the plan pin — the
    * serve checkpoints its output, which hides this subtree from the
    * returned frame's QueryExecution): scans ONLY
    * (vec_id, p_emb, p_nrm) off the prefix-pinned vectors table and
    * heap-prunes to each probe's top `nCand`. `q` must carry
    * (query_id, q_p, q_pn). */
  private[graft] def mrlPrunedSurvivors(vectors: DataFrame, q: DataFrame,
      nCand: Int): DataFrame = {
    val prune = udaf(graft.functions.TopKAgg.longs(nCand))
    vectors
      .select(col("vec_id").as("cand_id"), col("p_emb"), col("p_nrm"))
      .crossJoin(broadcast(q.select(col("query_id"), col("q_p"), col("q_pn"))))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("pcos", round(
        VectorFunctions.dot("q_p", "p_emb") / (col("q_pn") * col("p_nrm")), 8))
      .groupBy("query_id")
      .agg(prune(col("pcos"), col("cand_id").cast("long")).as("ptk"))
      .select(col("query_id"), explode(expr("transform(ptk, e -> e._2)")).as("cand_id"))
  }

  /** Cap on the survivor-id IN push of [[mrlServeFromStore]]'s pruned
    * path: the id list rides the driver and every task binary, so its
    * size is a CONTRACT, not a convention (round-13 verdict — the
    * `MaxAsofStaticRows` discipline applied here). |Q|·nCand ids is
    * well under this for any sane probe batch; above it the serve
    * falls back to pruning the rescore scan with a LEFT SEMI join on
    * the survivor frame (same rows, no driver round-trip, no pushed
    * IN — row-group pruning is lost but correctness and boundedness
    * are not). 2²⁰ longs ≈ 8 MB of filter literals. */
  val MaxMrlInPush: Int = 1 << 20

  def mrlServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, prefixDim: Int, nCand: Int,
      k: Int, version: Option[String] = None,
      maxInPush: Int = MaxMrlInPush,
      predicate: Option[String] = None): DataFrame = {
    val pinned = pinnedReader(spark, tableDir, version)
    // single-table store: the pre-filter IS a filter on the vectors
    // scan — the cheap pass then prunes among survivors only
    val keep = keepOf(pinned, predicate)
    val pdFile = new java.io.File(s"$tableDir/PREFIX_DIM")
    val storedPd =
      if (pdFile.exists()) java.nio.file.Files.readString(pdFile.toPath).trim.toInt
      else 0
    if (storedPd != prefixDim)
      graft.operators.Knn.mrlTopK(probes,
        keep.select("vec_id", "embedding"),
        "vec_id", "embedding", prefixDim, nCand, k)
    else {
      graft.functions.GraftFunctions.register(spark)
      val q = probes
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        .withColumn("q_p", expr(s"slice(q_emb, 1, $prefixDim)"))
        .withColumn("q_pn", VectorFunctions.norm("q_p"))
        .withColumn("q_fn", VectorFunctions.norm("q_emb"))
        .localCheckpoint(true)
      val surv = mrlPrunedSurvivors(keep, q, nCand)
        .localCheckpoint(true) // |Q|·nCand rows; read by ids + the join
      // probe-batch-bounded survivor ids → IN-pushed rescore scan; the
      // bound is ENFORCED, not assumed: an oversized batch falls back
      // to a left-semi prune (see MaxMrlInPush) instead of hauling an
      // unbounded literal list through the driver
      val ids = surv.select("cand_id").distinct()
        .limit(maxInPush + 1).collect().map(_.getLong(0))
      val topk = udaf(graft.functions.TopKAgg.longs(k))
      val scanned = pinned("vectors")
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      val pruned =
        if (ids.length <= maxInPush)
          scanned.filter(col("cand_id").isin(ids.map(Long.box): _*))
        else scanned.join(surv.select("cand_id").distinct(), Seq("cand_id"),
          "left_semi")
      pruned
        .withColumn("c_fn", VectorFunctions.norm("c_emb"))
        .join(broadcast(surv), Seq("cand_id"))
        .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_fn"))),
          Seq("query_id"))
        .withColumn("cosine", round(
          VectorFunctions.dot("q_emb", "c_emb") / (col("q_fn") * col("c_fn")), 8))
        .groupBy("query_id")
        .agg(topk(col("cosine"), col("cand_id").cast("long")).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("query_id"), col("e._2").as("cand_id"),
          col("e._1").as("cosine"), (col("pos") + 1).as("rnk"))
    }
  }

  /** STREAMING Matryoshka serving — the 4th retrieval family's online
    * twin (dense [[annServe]], perceptual [[fingerprintServe]], lexical
    * bm25Serve being the other three). One stateful operator total,
    * which is what makes it streaming-legal:
    *
    *   - the scored pass is a stream-static join of the probe stream
    *     against the static corpus (prefix slices + norms are narrow
    *     projections on both sides);
    *   - the prefix prune is ONE bounded-heap aggregation
    *     ([[graft.functions.TopKVecAgg]]) whose payload carries the
    *     candidate's id, full-dim norm AND embedding — O(nCand) state
    *     per probe, map-side partials, so only the ≤nCand survivors
    *     keep their vector alive past the heap;
    *   - the exact full-dim rescore is then ROW-LOCAL: a higher-order
    *     `transform` + comparator `array_sort` + `slice` over the
    *     survivor array (same sequential-fold dot, same round-8, same
    *     (cosine desc, cand_id asc) ties) — no join-back, no second
    *     aggregation, no window.
    *
    * Output (query_id, cand_id, cosine, rnk) equals the batch
    * [[graft.operators.Knn.mrlTopK]] row for row over the same corpus
    * (equivalence-tested; `mrl_serve_heap` pins the plan's arithmetic
    * against the sim_mrl_topk oracle per round). `probes` may be a
    * streaming frame (update mode) or a batch one — same plan. */
  def mrlServe(probes: DataFrame, vectors: DataFrame,
      prefixDim: Int, nCand: Int, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(probes.sparkSession)
    val c = Dedup.spread(vectors)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .withColumn("c_p", expr(s"slice(c_emb, 1, $prefixDim)"))
      .withColumn("c_pn", VectorFunctions.norm("c_p"))
      .withColumn("c_fn", VectorFunctions.norm("c_emb"))
    val q = probes
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_p", expr(s"slice(q_emb, 1, $prefixDim)"))
      .withColumn("q_pn", VectorFunctions.norm("q_p"))
      .withColumn("q_fn", VectorFunctions.norm("q_emb"))
    val heap = udaf(graft.functions.TopKVecAgg(nCand))
    q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("pcos", round(
        VectorFunctions.dot("q_p", "c_p") / (col("q_pn") * col("c_pn")), 8))
      .groupBy("query_id")
      .agg(heap(col("pcos"), struct(col("cand_id").cast("long").as("id"),
          col("c_fn").as("fn"), col("c_emb").as("emb"))).as("ptk"),
        first(col("q_emb")).as("q_emb"), first(col("q_fn")).as("q_fn"))
      // comparator reproduces java.lang.Double.compare's total order
      // on the cosine (NaN greatest — a zero-norm survivor ranks FIRST
      // under desc, exactly like the batch heap; ADVICE r12: the old
      // >/< comparator treated NaN as a tie on both branches and fell
      // through to cand_id order, breaking batch==streaming on
      // zero-norm embeddings), then cand_id asc
      .select(col("query_id"), posexplode(expr(
        s"""slice(array_sort(
           |  transform(ptk, e -> struct(
           |    round(graft_dot(q_emb, e._2.emb) / (q_fn * e._2.fn), 8) AS cosine,
           |    e._2.id AS cand_id)),
           |  (a, b) -> CASE
           |    WHEN (isnan(a.cosine) AND isnan(b.cosine)) OR a.cosine = b.cosine THEN
           |      CASE WHEN a.cand_id < b.cand_id THEN -1
           |           WHEN a.cand_id > b.cand_id THEN 1 ELSE 0 END
           |    WHEN isnan(a.cosine) THEN -1
           |    WHEN isnan(b.cosine) THEN 1
           |    WHEN a.cosine > b.cosine THEN -1 ELSE 1 END),
           |1, $k)""".stripMargin)).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.cand_id").as("cand_id"),
        col("e.cosine").as("cosine"), (col("pos") + 1).as("rnk"))
  }

  /** [[mrlServe]] off the pinned standing vector store — the streaming
    * face of [[mrlServeFromStore]] (whose batch plan localCheckpoints
    * and is therefore stream-illegal). */
  def mrlServeStreamFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probeStream: DataFrame, prefixDim: Int, nCand: Int,
      k: Int, version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    val pinned = pinnedReader(spark, tableDir, version)
    mrlServe(probeStream,
      keepOf(pinned, predicate).select("vec_id", "embedding"),
      prefixDim, nCand, k)
  }

  /** STREAMING MIPS serving via the ALSH unit-sphere lift — the
    * maximum-inner-product member of the online-serve family
    * ([[annServe]] cosine, [[fingerprintServe]] hamming, …). The
    * STATIC corpus lifts once per micro-batch plan (x → [x/M ;
    * √(1−‖x/M‖²)], M = max corpus norm read once at plan build — a
    * metadata-sized driver action, the model-pinning precedent) and
    * its capped 65-dim buckets broadcast-join the probe stream; the
    * probe side is a pure projection (zero-slot augmentation + the
    * scale-invariant sign-LSH bucket — no normalization needed), the
    * exact ⟨q, x⟩ rescore joins the once-per-vector corpus row, and
    * ranking is the payload-distinct bounded heap (a candidate
    * colliding in several tables carries one identical dot). Ties
    * (ip_e6 desc, cand_id asc) match the batch `mips_alsh_topk` row
    * for row (equivalence-tested; oracle-pinned by
    * `mips_alsh_serve_stream`).
    *
    * `multiProbe = true` additionally probes every 1-bit-flip bucket
    * per table (the `mips_alsh_probe_topk` chain) — the expansion is
    * a stream-legal projection (explode), so the plan keeps its single
    * stateful aggregation.
    *
    * Output: (query_id, cand_id, ip_e6, rnk); update mode. */
  def mipsAlshServe(probeStream: DataFrame, corpus: DataFrame,
      dim: Int, nPlanes: Int, nTables: Int, k: Int,
      maxBucket: Int = Dedup.MaxBucket,
      multiProbe: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // M (max corpus norm) rides the plan as a broadcast 1-row aggregate
    // (r18): the old `.head()` was a full extra driver action per serve
    // construction just to inline the scale as a literal
    val mRow = broadcast(corpus
      .agg(max(VectorFunctions.norm("embedding")).as("__m")))
    val lifted = corpus
      .crossJoin(mRow)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          v => v.cast("double") / col("__m")).as("sc"))
      .withColumn("s2", expr("graft_dot_d(sc, sc)"))
      .withColumn("ea", expr(
        "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
      .withColumn("tbl", explode(expr(s"sequence(0, ${nTables - 1})")))
      .withColumn("bucket", expr(
        VectorFunctions.lshBucketTableSql("ea", dim + 1, nPlanes, "tbl")))
      .select(col("vec_id"), col("tbl"), col("bucket"))
    val cand = Dedup.dropHotBuckets(lifted, Seq("tbl", "bucket"),
        maxBucket, "mipsAlshServe")
      .select(col("vec_id").as("cand_id"), col("tbl"), col("bucket"))
    val cvec = corpus.select(col("vec_id").as("cand_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("c_emb"))
    val qHome = probeStream
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("q_emb"))
      .withColumn("ea", expr("array_append(q_emb, CAST(0.0 AS DOUBLE))"))
      .withColumn("tbl", explode(expr(s"sequence(0, ${nTables - 1})")))
      .withColumn("bucket", expr(
        VectorFunctions.lshBucketTableSql("ea", dim + 1, nPlanes, "tbl")))
      .drop("ea")
    val q =
      if (!multiProbe) qHome
      else qHome.select(col("query_id"), col("q_emb"), col("tbl"),
        explode(expr(s"array_union(array(bucket), " +
          s"transform(sequence(0, ${nPlanes - 1}), j -> bucket ^ shiftleft(1L, j)))"))
          .as("bucket"))
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    q.join(broadcast(cand), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(cvec, Seq("cand_id"))
      .withColumn("ip_e6",
        expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)"))
      .groupBy("query_id")
      .agg(topk(col("ip_e6").cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        col("e._1").cast("long").as("ip_e6"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  // ─────────────────── ALSH (MIPS) standing store ───────────────────

  /** Resolve a lifted store's MAX_NORM model pin: first caller writes
    * it (atomically), later callers must AGREE — a disagreeing M means
    * the caller retrained the norm model, which is a REBUILD event,
    * not a fold (ADVICE r14; the pqM/pqSub geometry-agreement rule).
    *
    * The pin only BINDS once a fold has committed (CURRENT exists): a
    * MAX_NORM left by a first fold that the drift gate refused (or
    * that crashed pre-swing) is stale evidence, not a model, and is
    * OVERWRITTEN — otherwise a retry with a corrected M would fail the
    * agreement `require` while the prescribed recovery (rebuild) fails
    * on the missing CURRENT, wedging the store with no previous
    * consistent state to fall back to (ADVICE r15). */
  private def resolveMaxNormPin(tableDir: String, maxNorm: Double,
      what: String): Double = {
    val mn = new java.io.File(s"$tableDir/MAX_NORM")
    if (mn.exists() && new java.io.File(s"$tableDir/CURRENT").exists()) {
      val p = java.nio.file.Files.readString(mn.toPath).trim.toDouble
      require(maxNorm == p,
        s"$what: store $tableDir pins MAX_NORM $p; fold passed $maxNorm — a " +
          "disagreeing M means the caller retrained the norm model, which is " +
          "a REBUILD event (rebuildAlshStore), not a fold")
      p
    } else {
      atomicWritePin(mn.toPath, maxNorm.toString)
      maxNorm
    }
  }

  /** Per-vector SIMPLE-LSH lift of a batch under the pinned M —
    * (vec_id, embedding, nrm, sc, s2, ea), eagerly checkpointed so the
    * drift gate, postings and vectors writes all read it once. */
  private def liftedBatch(batch: DataFrame, pinnedM: Double,
      attrCols: Seq[String] = Nil): DataFrame =
    batch.select(("vec_id" +: "embedding" +: attrCols).map(col): _*)
      .withColumn("nrm", VectorFunctions.norm("embedding"))
      .withColumn("sc",
        org.apache.spark.sql.functions.transform(col("embedding"),
          v => v.cast("double") / lit(pinnedM)))
      .withColumn("s2", expr("graft_dot_d(sc, sc)"))
      .withColumn("ea", expr(
        "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
      .localCheckpoint(true)

  /** Fold-side norm drift gate (r14 verdict #4): ONE metadata-sized
    * aggregate over the batch (never the store) with the
    * profile_drift_norm arithmetic, recorded as `drift/batch=N` and
    * REFUSED above `maxDriftPpm` — past that the lift is no longer
    * near-unit and the MIPS-monotonicity argument is void. */
  private def liftNormDriftGate(normed: DataFrame, tableDir: String,
      id: Long, pinnedM: Double, maxDriftPpm: Long, what: String,
      rebuildHint: String = "rebuildAlshStore"): Unit = {
    val drift = normed
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("nrm") > lit(pinnedM), 1L).otherwise(0L)).as("n_oob"))
      .select(col("n_batch"), col("n_oob"),
        when(col("n_batch") === 0L, 0L)
          .otherwise(expr("(2000000 * n_oob + n_batch) div (2 * n_batch)"))
          .as("oob_ppm"),
        (col("n_oob") * lit(20L) > col("n_batch")).as("drifted"))
      .localCheckpoint(true)
    val dRow = drift.head()
    require(dRow.getLong(2) <= maxDriftPpm,
      s"$what: ${dRow.getLong(1)}/${dRow.getLong(0)} batch norms " +
        s"(${dRow.getLong(2)} ppm) exceed the pinned MAX_NORM $pinnedM — above " +
        s"the $maxDriftPpm ppm ceiling the lift is no longer near-unit and the " +
        s"MIPS prune is unsound; re-pin M via $rebuildHint")
    drift.write.mode("overwrite").parquet(s"$tableDir/drift/batch=$id")
  }

  /** One ALSH-store micro-batch fold — the standing-store form of the
    * MIPS family ([[mipsAlshServe]]'s lift persisted): the max corpus
    * norm M is the store's pinned MODEL (written to `MAX_NORM` by the
    * first fold — the PREFIX_DIM/bounds pinning precedent; retraining
    * M is a rebuild event, `profile_drift_norm` is the gate that says
    * when), every batch lifts against the PINNED M and appends:
    *
    *   - `buckets/batch=N/` — (vec_id, tbl, bucket): 65-dim lifted
    *     sign-LSH postings;
    *   - `vectors/batch=N/` — (vec_id, embedding, nrm) once per
    *     vector: the exact-dot rescore side;
    *   - `v<N>/stats` — 1-row n_vecs under the atomic CURRENT pin.
    *
    * A later batch CAN carry norms above the pinned M: the lift clamps
    * the augmented slot to 0, so the item's direction is preserved and
    * serving degrades gracefully (its lifted vector is merely no
    * longer unit — the standard pinned-model drift story). That
    * degradation is now OBSERVED AT THE FOLD, not just by the standing
    * `profile_drift_norm` query nothing consumed (r14 verdict #4):
    * every fold records a 1-row `drift/batch=N` table — (n_batch,
    * n_oob, oob_ppm, drifted) with the profile query's exact
    * round-half-up ppm arithmetic and >5% flag — and REFUSES the batch
    * loudly (the [[graft.operators.Scd2]] loud-precondition precedent)
    * when the out-of-pin share exceeds `maxDriftPpm` (default 20%):
    * past that, so much of the store no longer sits on the unit sphere
    * that the MIPS-monotonicity argument is void and the right move is
    * [[rebuildAlshStore]], which re-pins M and relifts. A later fold
    * must also pass the SAME `maxNorm` the store pinned — a caller
    * holding a recomputed different M must not believe it was honored
    * while buckets hash under the stale pin (ADVICE r14; the
    * pqM/pqSub geometry-agreement rule).
    *
    * Fold ≡ rebuild is exact when M is pinned from the same corpus the
    * oracle computes it on (assignment is per-vector). Same
    * crash/replay contract as every store fold; [[forgetVectors]]
    * spans buckets/vectors already (`drift` is per-batch evidence, not
    * per-vector state — forget leaves it). */
  def mipsAlshFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      maxNorm: Double, dim: Int, nPlanes: Int, nTables: Int,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      maxDriftPpm: Long = 200000L, attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("buckets", "vectors")) { _ =>
      graft.functions.GraftFunctions.register(batch.sparkSession)
      val mn = new java.io.File(s"$tableDir/MAX_NORM")
      // the raw-LSH store pins no norm model; refuse cross-layout folds
      // (raw buckets hash the raw floats, lifted buckets hash the
      // 65-dim double lift — same schema, incompatible numbers)
      require(mn.exists() || !new java.io.File(s"$tableDir/CURRENT").exists(),
        s"mipsAlshFoldBatch: $tableDir already has raw (unlifted) LSH batches — " +
          "use vectorFoldBatch, or rebuild under the ALSH layout")
      require(!new java.io.File(s"$tableDir/posts").exists(),
        s"mipsAlshFoldBatch: $tableDir is a lifted-IVF (posts) store — " +
          "use mipsIvfFoldBatch")
      val pinnedM = resolveMaxNormPin(tableDir, maxNorm, "mipsAlshFoldBatch")
      resolveAttrColsPin(tableDir, attrCols, "mipsAlshFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "mipsAlshFoldBatch")
      // per-vector frame (norm + lift) checkpointed BEFORE the ×nTables
      // explode — drift stats and the vectors table both read it once
      val normed = liftedBatch(batch, pinnedM, attrCols)
      liftNormDriftGate(normed, tableDir, id, pinnedM, maxDriftPpm,
        "mipsAlshFoldBatch")
      val lifted = normed
        .withColumn("tbl", explode(expr(s"sequence(0, ${nTables - 1})")))
        .withColumn("bucket", expr(
          VectorFunctions.lshBucketTableSql("ea", dim + 1, nPlanes, "tbl")))
      lifted.select(col("vec_id"), col("tbl"), col("bucket"))
        .write.mode("overwrite").parquet(s"$tableDir/buckets/batch=$id")
      normed.select((Seq("vec_id", "embedding", "nrm") ++ attrCols).map(col): _*)
        .write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
    }

  /** Re-pin the ALSH store's norm model and relift every vector — the
    * REBUILD event the fold-side drift gate (and `profile_drift_norm`)
    * points at when ingested norms have outgrown the pinned M. Reads
    * the CURRENT-pinned `vectors` table (materialized eagerly before
    * the swap so a crash never strands a half-read source), recomputes
    * M as the store-wide max norm, folds everything as one batch 0
    * into a fresh sibling directory under the new pin, and bak-swaps
    * it into place (the [[graft.sinks.ParquetFhirStore]] copy-on-write
    * swap discipline — readers racing the swap see the old consistent
    * store). Returns the re-pinned M. Serve-after-rebuild equals a
    * from-scratch store built under the same M (spec-pinned). */
  def rebuildAlshStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, dim: Int, nPlanes: Int, nTables: Int): Double = {
    val pinned = pinnedReader(spark, tableDir, None)
    val attrs = pinnedAttrCols(tableDir) // an attr store rebuilds WITH its attrs
    val vecs = pinned("vectors")
      .select(("vec_id" +: "embedding" +: attrs).map(col): _*)
      .localCheckpoint(true) // survives the source dir swap below
    val newM = vecs.agg(max(VectorFunctions.norm("embedding"))).head().getDouble(0)
    val fresh = tableDir + ".rebuild"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fresh))
    mipsAlshFoldBatch(vecs, fresh, 0L, newM, dim, nPlanes, nTables,
      attrCols = attrs)
    graft.operators.Lakehouse.bakSwapInto(spark, tableDir, fresh, "rebuildAlshStore")
    newM
  }

  /** ALSH INDEX-at-ingest — see [[mipsAlshFoldBatch]]. */
  def mipsAlshIngest(vecStream: DataFrame, tableDir: String,
      maxNorm: Double, dim: Int, nPlanes: Int, nTables: Int,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      maxDriftPpm: Long = 200000L,
      attrCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        mipsAlshFoldBatch(batch.toDF(), tableDir, id, maxNorm, dim, nPlanes,
          nTables, compactEvery, vacuumKeep, maxDriftPpm, attrCols)
        ()
      }
      .start()

  /** MIPS top-k from a standing [[mipsAlshIngest]] store, pinned to
    * `version` (default CURRENT). `probes` may be batch or streaming —
    * the probe side is a pure projection (zero-slot augmentation + the
    * scale-invariant 65-dim bucket; M is never needed on the query
    * side), the capped pinned buckets join on (tbl, bucket), exact
    * ⟨q, x⟩ rescores against the once-per-vector `vectors` table, and
    * the payload-distinct bounded heap ranks by (ip_e6 desc, cand_id
    * asc) — the batch `mips_alsh_topk` total order row for row
    * (oracle-pinned by `mips_alsh_store_serve`).
    *
    * `multiProbe = true` additionally probes every 1-bit-flip bucket
    * per table (the round-5 Lv et al. lever on the LIFTED space — the
    * `mips_alsh_probe_topk` chain): probe expansion is a query-side
    * projection (×(nPlanes+1) narrow rows), the pinned postings and
    * the rescore are untouched, and a candidate colliding through
    * several probes carries one identical dot into the payload-
    * distinct heap.
    *
    * Output: (query_id, cand_id, ip_e6, rnk). */
  def mipsAlshServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame,
      dim: Int, nPlanes: Int, nTables: Int, k: Int,
      maxBucket: Int = Dedup.MaxBucket,
      version: Option[String] = None,
      multiProbe: Boolean = false,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    recoverBakSwap(spark, tableDir) // before the layout guards: in the swap
    // crash window every pin lives under .bak, and the guard would
    // misread the store as raw
    require(new java.io.File(s"$tableDir/MAX_NORM").exists(),
      s"mipsAlshServeFromStore: $tableDir carries raw (unlifted) LSH buckets — " +
        "use searchVectorStore")
    require(!new java.io.File(s"$tableDir/posts").exists(),
      s"mipsAlshServeFromStore: $tableDir is a lifted-IVF (posts) store — " +
        "use mipsIvfServeFromStore")
    val pinned = pinnedReader(spark, tableDir, version)
    // pre-filter (see mipsIvfServeFromStore): survivors prune the
    // postings BELOW the hot-bucket cap and the candidate join, so the
    // cap counts SURVIVOR postings — filtered serve ≡ serving a store
    // that holds only the survivors (bucket assignment is per-vector)
    val keep = keepOf(pinned, predicate)
    val bkts = pruneToSurvivors(pinned("buckets"), keep, "vec_id", predicate)
    val cand = Dedup.dropHotBuckets(bkts,
        Seq("tbl", "bucket"), maxBucket, "mipsAlshServeFromStore")
      .select(col("vec_id").as("cand_id"), col("tbl"), col("bucket"))
    val cvec = keep.select(col("vec_id").as("cand_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("c_emb"))
    val qHome = probes
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("q_emb"))
      .withColumn("ea", expr("array_append(q_emb, CAST(0.0 AS DOUBLE))"))
      .withColumn("tbl", explode(expr(s"sequence(0, ${nTables - 1})")))
      .withColumn("bucket", expr(
        VectorFunctions.lshBucketTableSql("ea", dim + 1, nPlanes, "tbl")))
      .drop("ea")
    val q =
      if (!multiProbe) qHome
      else qHome.select(col("query_id"), col("q_emb"), col("tbl"),
        explode(expr(s"array_union(array(bucket), " +
          s"transform(sequence(0, ${nPlanes - 1}), j -> bucket ^ shiftleft(1L, j)))"))
          .as("bucket"))
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    q.join(cand, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(cvec, Seq("cand_id"))
      .withColumn("ip_e6",
        expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)"))
      .groupBy("query_id")
      .agg(topk(col("ip_e6").cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        col("e._1").cast("long").as("ip_e6"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  // ───────────────────── IVF standing store ─────────────────────

  /** One IVF-store micro-batch fold (the [[ivfIndexIngest]] body,
    * exposed for direct pipeline composition and replay tests).
    *
    * The store is the production IVF shape: a coarse quantizer trained
    * ONCE ([[graft.operators.Knn.ivfTrain]], typically on the first
    * corpus sample) and PINNED — `centroids/` is written by the first
    * fold and never touched again. Retraining the quantizer is a
    * rebuild event, not a fold; `profile_drift_cells` is the gate that
    * says when. Layout per batch (append-only, O(batch) fold I/O):
    *
    *   - `posts/batch=N/` — (vec_id, cell) for the vector's top
    *     `nAssign` cells (database-side multi-assignment, the recall
    *     lever that keeps query-side nprobe fixed), repartitioned and
    *     sorted by cell so parquet row-group stats prune unprobed
    *     cells at serve time (a production deployment would
    *     `partitionBy(cell)` for directory-level pruning);
    *   - `vectors/batch=N/` — (vec_id, embedding, nrm) ONCE per
    *     vector (the rescore side never pays the ×nAssign
    *     replication);
    *   - `v<N>/stats` — 1-row n_vecs under the atomic CURRENT pin.
    *
    * Batch ranking costs O(batch·K) through a batch-local window —
    * never the corpus. Replay of a committed id is a no-op; a
    * pre-swing crash overwrites identical content on redelivery (the
    * shared store crash contract). */
  def ivfFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      centroids: DataFrame, nAssign: Int = 1,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("posts", "vectors")) { ver =>
      val spark = batch.sparkSession
      // layout guard (the raw-vs-ALSH discipline): a MAX_NORM pin means
      // the store's postings are LIFTED-space assignments — same schema,
      // incompatible cells
      require(!new java.io.File(s"$tableDir/MAX_NORM").exists(),
        s"ivfFoldBatch: $tableDir is a lifted (MIPS) IVF store — use mipsIvfFoldBatch")
      resolveAttrColsPin(tableDir, attrCols, "ivfFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "ivfFoldBatch")
      val cdir = new java.io.File(s"$tableDir/centroids")
      // centroids bind only once a fold committed (ADVICE r15 — see
      // resolveMaxNormPin): a crashed first fold's quantizer is stale
      // evidence a retry may replace, never a silent pin
      if (!cdir.exists() || ver.isEmpty)
        centroids.write.mode("overwrite").parquet(cdir.getPath)
      val pinned = spark.read.parquet(cdir.getPath) // the store's quantizer, not the caller's frame
      val ranked = graft.operators.Knn
        .ivfRank(batch.select("vec_id", "embedding"), pinned, "vec_id", "embedding")
        .filter(col("rn") <= nAssign)
        .localCheckpoint(true) // feeds posts + vectors
      ranked.select(col("vec_id"), col("cell"))
        .repartition(col("cell")).sortWithinPartitions("cell")
        .write.mode("overwrite").parquet(s"$tableDir/posts/batch=$id")
      withBatchAttrs(ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("nrm")), batch, attrCols)
        .write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
    }

  /** IVF INDEX-at-ingest: fold each micro-batch of `(vec_id,
    * embedding)` rows into the standing IVF store — see
    * [[ivfFoldBatch]] for the layout and crash contract. */
  def ivfIndexIngest(vecStream: DataFrame, tableDir: String,
      centroids: DataFrame, nAssign: Int = 1,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ivfFoldBatch(batch.toDF(), tableDir, id, centroids, nAssign,
          compactEvery, vacuumKeep)
        ()
      }
      .start()

  /** IVF top-k from a standing [[ivfIndexIngest]] store, pinned to
    * `version` (default CURRENT). `probes` may be batch or streaming:
    * the probe side is ROW-LOCAL ([[ivfProbeCellsRowLocal]] ranks the
    * probe's `nprobe` cells against the store's PINNED quantizer in a
    * projection — no window, shuffle or aggregate), the pinned posts
    * table joins on cell — parquet row-group pruning on the
    * cell-sorted layout bounds the scan to ≈nprobe/K of the index —
    * and candidates rescore exactly against the once-per-vector
    * `vectors` table. ONE stateful operator ranks: the payload-distinct
    * bounded heap (a candidate reached through several probed cells
    * carries one identical cosine and collapses in O(k) aggregation
    * state — the [[annServe]] discipline). Ties (cosine desc, cand_id)
    * match the batch `sim_ivf_topk` window row for row (oracle-pinned
    * by `ivf_store_serve`). The pre-filter
    * `predicate` is stream-legal: it and the semi-prune sit on the
    * store side of the join.
    *
    * Output: (query_id, rnk, cand_id, cosine); update mode on a stream. */
  def ivfServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, k: Int, nprobe: Int,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    require(!new java.io.File(s"$tableDir/MAX_NORM").exists(),
      s"ivfServeFromStore: $tableDir is a lifted (MIPS) IVF store — " +
        "use mipsIvfServeFromStore")
    val pinned = pinnedReader(spark, tableDir, version)
    val cent = spark.read.parquet(s"$tableDir/centroids")
    val pc = ivfProbeCellsRowLocal(probes, cent, nprobe)
      .withColumn("cell", explode(col("cells"))).drop("cells")
    // pre-filter: survivors prune the postings below the candidate
    // join; rescore reads only survivors
    val keep = keepOf(pinned, predicate)
    val posts = pruneToSurvivors(
      pinned("posts").select(col("vec_id").as("cand_id"), col("cell")),
      keep, "cand_id", predicate)
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    pc.join(posts, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(keep.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_norm")), Seq("cand_id"))
      .withColumn("cosine", round(
        VectorFunctions.dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm")), 8))
      .groupBy("query_id")
      .agg(topk(col("cosine"), col("cand_id").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("e._2").as("cand_id"), col("e._1").as("cosine"))
  }

  /** Row-local probe-cell ranking — the per-probe form of
    * [[graft.operators.Knn.ivfRank]]'s per-vector window, legal on a
    * stream and on a batch frame alike: the pinned K-row quantizer
    * collapses to ONE broadcastable array row, each probe ranks it
    * INSIDE a higher-order expression (comparator `array_sort` +
    * `slice`), and the top-`nprobe` cells come back as a row-local
    * array — a pure probe-side projection, no window, no aggregation.
    * Arithmetic is ivfRank's verbatim (round-8 cosine of the double
    * casts); the comparator reproduces the window's (csim desc, cell
    * asc) total order including NaN-greatest (a zero-norm probe ranks
    * NaN cells first, exactly like the desc sort). K×dim doubles per
    * probe row — metadata-sized.
    *
    * Output: (query_id, q_emb, q_norm, cells array<bigint>) — callers
    * attach any further per-probe columns, then explode `cells`. */
  private def ivfProbeCellsRowLocal(probes: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(probes.sparkSession)
    val centArr = centroids.groupBy()
      .agg(expr("array_sort(collect_list(struct(cell, cw, cn)))").as("cents"))
    probes
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_d", expr("transform(q_emb, v -> CAST(v AS DOUBLE))"))
      .withColumn("q_norm", VectorFunctions.norm("q_emb"))
      .crossJoin(broadcast(centArr))
      .select(col("query_id"), col("q_emb"), col("q_norm"), expr(
        s"""transform(slice(array_sort(
           |  transform(cents, c -> struct(
           |    round(graft_dot_d(q_d, c.cw) / (q_norm * c.cn), 8) AS csim,
           |    c.cell AS cell)),
           |  (a, b) -> CASE
           |    WHEN (isnan(a.csim) AND isnan(b.csim)) OR a.csim = b.csim THEN
           |      CASE WHEN a.cell < b.cell THEN -1
           |           WHEN a.cell > b.cell THEN 1 ELSE 0 END
           |    WHEN isnan(a.csim) THEN -1
           |    WHEN isnan(b.csim) THEN 1
           |    WHEN a.csim > b.csim THEN -1 ELSE 1 END),
           |1, $nprobe), e -> e.cell)""".stripMargin).as("cells"))
  }

  /** The pinned PQ codebooks as ONE broadcastable row `cws`: a dense
    * (m × ksEff) codeword grid ordered by (m, code) — slot m·ksEff+code
    * carries the codeword, NULL where the Lloyd update dropped the cell
    * (the [[graft.operators.Pq.adcLutFlat]] densification). */
  private def codewordGrid(books: DataFrame, ksEff: Int): DataFrame =
    books.select(col("m")).distinct()
      .withColumn("code", explode(expr(s"sequence(0, ${ksEff - 1})")))
      .join(books.select(col("m"), col("cell").as("code"), col("cw")),
        Seq("m", "code"), "left")
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(m, code, cw))), x -> x.cw)")
        .as("cws"))

  /** The pinned coarse quantizer as ONE broadcastable row `cgrid`: slot
    * cell+1 carries the (×2²⁰-space) centroid, NULL if the Lloyd update
    * dropped the cell (stored homes always name live cells). */
  private def centroidGrid(cent: DataFrame, kCells: Int): DataFrame =
    cent.sparkSession.range(kCells).select(col("id").as("cell"))
      .join(cent.select(col("cell"), col("cw")), Seq("cell"), "left")
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(cell, cw))), x -> x.cw)")
        .as("cgrid"))

  /** Attach each probe row's flat SQ8 LUT `lut` off its `q_emb`, row
    * locally: the pinned bounds collapse to ONE dense (dim·256)-slot
    * broadcast reconstruction row — slot d·256 + code is that code's
    * reconstructed value in dimension d ([[graft.operators.Sq.adcLut]]'s
    * CASE + affine verbatim) — and each probe transforms it into its
    * `floor((v − recon)² · 1e6)` entries. A pure projection, no groupBy
    * on the probe side ([[graft.operators.Sq.adcLutPacked]]'s collect is
    * stream-illegal). dim rides the plan as size(mn_arr) (r18): no
    * driver action per serve construction. */
  private def withSq8Lut(probes: DataFrame, bounds: DataFrame): DataFrame = {
    val recon = graft.operators.Sq.boundsRow(bounds).select(expr(
      s"""transform(sequence(0, size(mn_arr) * 256 - 1), i ->
         |  CASE WHEN mx_arr[i div 256] = mn_arr[i div 256] THEN mn_arr[i div 256]
         |       ELSE mn_arr[i div 256] + (i % 256) / 255.0D
         |              * (mx_arr[i div 256] - mn_arr[i div 256])
         |  END)""".stripMargin).as("recon"))
    probes.crossJoin(broadcast(recon))
      .withColumn("lut", expr(
        """transform(recon, (r, i) ->
          |  CAST(floor((CAST(q_emb[i div 256] AS DOUBLE) - r)
          |    * (CAST(q_emb[i div 256] AS DOUBLE) - r) * 1000000.0D) AS BIGINT))""".stripMargin))
      .drop("recon")
  }

  /** Rank `scored` (query_id, cand_id, `dist` BIGINT) per query by
    * (dist asc, cand_id asc) through ONE bounded heap — payload-distinct
    * when a candidate may arrive through several probed cells (it
    * carries one identical integer sum each time).
    *
    * Output: (query_id, cand_id, `dist`, rnk). */
  private def ascTopK(scored: DataFrame, dist: String, k: Int,
      distinct: Boolean): DataFrame = {
    val topk =
      if (distinct) udaf(graft.functions.TopKDistinctAgg.longs(k))
      else udaf(graft.functions.TopKAgg.longs(k))
    scored.groupBy("query_id")
      .agg(topk((-col(dist)).cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        (-col("e._1")).cast("long").as(dist),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  // ─────────────── lifted-IVF (MIPS) standing store ───────────────

  /** One lifted-IVF-store micro-batch fold — the PARTITION-based MIPS
    * store beside the hash-based [[mipsAlshFoldBatch]] (FAISS IndexIVF
    * + METRIC_INNER_PRODUCT as a standing store): the coarse quantizer
    * is trained ON THE 65-dim LIFT (lifted cosine is monotone in
    * ⟨q,x⟩, so probing nearest lifted cells is a MIPS-sound candidate
    * generator — a huge-norm far-direction winner gets its own
    * equatorial cells instead of hiding in an unprobed raw-space
    * cell). TWO pinned models, both first-fold pins: `MAX_NORM` (the
    * lift — agreement required on later folds, drift-gated per batch,
    * [[rebuildAlshStore]]-class retrain events) and `centroids/` (the
    * 65-dim quantizer). Layout per batch (append-only, O(batch) fold
    * I/O): `posts/batch=N` (vec_id, cell) top-`nAssign` LIFTED cells,
    * cell-sorted for row-group pruning; `vectors/batch=N` (vec_id,
    * embedding RAW, nrm) — the exact-dot rescore side; `drift/batch=N`
    * the norm-gate evidence row. Mutual layout guards with the
    * raw-IVF store (same schema, incompatible cell numbers). */
  def mipsIvfFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      centroids: DataFrame, maxNorm: Double, nAssign: Int = 1,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      maxDriftPpm: Long = 200000L, attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("posts", "vectors")) { ver =>
      val spark = batch.sparkSession
      graft.functions.GraftFunctions.register(spark)
      require(new java.io.File(s"$tableDir/MAX_NORM").exists() ||
          !new java.io.File(s"$tableDir/CURRENT").exists(),
        s"mipsIvfFoldBatch: $tableDir already has raw (unlifted) IVF batches — " +
          "use ivfFoldBatch, or rebuild under the lifted layout")
      require(!new java.io.File(s"$tableDir/buckets").exists(),
        s"mipsIvfFoldBatch: $tableDir is an ALSH (buckets) store — " +
          "use mipsAlshFoldBatch")
      val pinnedM = resolveMaxNormPin(tableDir, maxNorm, "mipsIvfFoldBatch")
      resolveAttrColsPin(tableDir, attrCols, "mipsIvfFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "mipsIvfFoldBatch")
      val cdir = new java.io.File(s"$tableDir/centroids")
      // like MAX_NORM, the quantizer only binds once a fold COMMITTED:
      // centroids left by a refused/crashed first fold are overwritten
      // so a retry with a retrained quantizer isn't silently hashed
      // under the stale one (ADVICE r15)
      if (!cdir.exists() || ver.isEmpty)
        centroids.write.mode("overwrite").parquet(cdir.getPath)
      val cent = spark.read.parquet(cdir.getPath) // the store's quantizer
      val normed = liftedBatch(batch, pinnedM, attrCols)
      liftNormDriftGate(normed, tableDir, id, pinnedM, maxDriftPpm,
        "mipsIvfFoldBatch", rebuildHint = "rebuildMipsIvfStore")
      // batch-local ranking against the pinned lifted centroids:
      // O(batch·K) through a batch-partitioned window, never the corpus
      import org.apache.spark.sql.expressions.Window
      val ranked = normed
        .withColumn("lnrm", expr("sqrt(graft_dot_d(ea, ea))"))
        .crossJoin(broadcast(cent))
        .withColumn("csim",
          round(expr("graft_dot_d(ea, cw)") / (col("lnrm") * col("cn")), 8))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))))
        .filter(col("rn") <= nAssign)
        .localCheckpoint(true)
      ranked.select(col("vec_id"), col("cell"))
        .repartition(col("cell")).sortWithinPartitions("cell")
        .write.mode("overwrite").parquet(s"$tableDir/posts/batch=$id")
      ranked.filter(col("rn") === 1)
        .select((Seq("vec_id", "embedding", "nrm") ++ attrCols).map(col): _*)
        .write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
    }

  /** Lifted-IVF INDEX-at-ingest — see [[mipsIvfFoldBatch]]. */
  def mipsIvfIngest(vecStream: DataFrame, tableDir: String,
      centroids: DataFrame, maxNorm: Double, nAssign: Int = 1,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      maxDriftPpm: Long = 200000L,
      attrCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        mipsIvfFoldBatch(batch.toDF(), tableDir, id, centroids, maxNorm,
          nAssign, compactEvery, vacuumKeep, maxDriftPpm, attrCols)
        ()
      }
      .start()

  /** Re-pin the lifted-IVF store's models and re-index everything —
    * the REBUILD event its fold-side drift gate points at: reads the
    * CURRENT-pinned raw `vectors` (materialized eagerly before the
    * swap), recomputes M as the store-wide max norm, RETRAINS the
    * 65-dim quantizer on the relifted corpus (a drifted M moves every
    * lifted point, so the old cells are stale too — unlike the ALSH
    * rebuild, where the hyperplanes are fixed), folds everything as
    * one batch 0 into a fresh sibling directory, and bak-swaps it into
    * place. Returns the re-pinned M. */
  def rebuildMipsIvfStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, ivfK: Int, iters: Int,
      nAssign: Int = 1): Double = {
    graft.functions.GraftFunctions.register(spark)
    val pinned = pinnedReader(spark, tableDir, None)
    val attrs = pinnedAttrCols(tableDir) // an attr store rebuilds WITH its attrs
    val vecs = pinned("vectors")
      .select(("vec_id" +: "embedding" +: attrs).map(col): _*)
      .localCheckpoint(true) // survives the source dir swap below
    val newM = vecs.agg(max(VectorFunctions.norm("embedding"))).head().getDouble(0)
    val lifted = vecs
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          v => v.cast("double") / lit(newM)).as("sc"))
      .withColumn("s2", expr("graft_dot_d(sc, sc)"))
      .withColumn("ea", expr(
        "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
      .select("vec_id", "ea")
    val cent = graft.operators.Knn.ivfTrain(lifted, "vec_id", "ea", ivfK, iters)
      .localCheckpoint(true)
    val fresh = tableDir + ".rebuild"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fresh))
    mipsIvfFoldBatch(vecs, fresh, 0L, cent, newM, nAssign, attrCols = attrs)
    graft.operators.Lakehouse.bakSwapInto(spark, tableDir, fresh, "rebuildMipsIvfStore")
    newM
  }

  /** MIPS top-k from a standing [[mipsIvfIngest]] store, pinned to
    * `version` (default CURRENT). `probes` may be batch or streaming:
    * the probe side is ROW-LOCAL end to end — zero-slot lift (a pure
    * projection; sign/cosine ranking is scale-invariant so M is never
    * needed on the query side), then the probe's `nprobe` best lifted
    * cells via a comparator array_sort over the broadcast centroid
    * array (the [[ivfProbeCellsRowLocal]] shape at dim 65 — the batch
    * window is stream-illegal) — leaving exactly ONE stateful
    * operator, the payload-distinct bounded heap. Candidates from the
    * pinned posts rescore by exact raw ⟨q,x⟩ (e6-floored BIGINT desc,
    * ties cand_id asc) — the `mips_ivf_lifted_topk` total order row
    * for row when the store pins the same quantizer/M (oracle-pinned
    * by `mips_ivf_store_serve` / `mips_ivf_serve_stream`).
    *
    * `predicate` (a SQL boolean expression over the store's pinned
    * attr columns and/or `vec_id`) turns the serve into FILTERED MIPS
    * by the PRE-FILTER strategy (r15 verdict #1 — the production
    * "top-k WHERE lang='en'" shape): the predicate evaluates on the
    * `vectors` table scan (pushed into parquet where the expression
    * allows), survivor ids left-semi-prune the postings BELOW the
    * probe-cell candidate join, and the rescore side reads only
    * survivors — no full-corpus rescore. Equivalent to serving a store
    * that holds only the predicate's survivors (assignment is
    * per-vector, so postings are unchanged by membership — spec-
    * pinned). The over-fetch POST-FILTER alternative is
    * [[mipsIvfServeOverfetch]].
    *
    * Output: (query_id, cand_id, ip_e6, rnk). */
  def mipsIvfServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, k: Int, nprobe: Int,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    recoverBakSwap(spark, tableDir) // before the layout guard (see
    // mipsAlshServeFromStore)
    require(new java.io.File(s"$tableDir/MAX_NORM").exists(),
      s"mipsIvfServeFromStore: $tableDir carries raw (unlifted) IVF postings — " +
        "use ivfServeFromStore")
    val pinned = pinnedReader(spark, tableDir, version)
    val cent = spark.read.parquet(s"$tableDir/centroids")
    val centArr = cent.groupBy()
      .agg(expr("array_sort(collect_list(struct(cell, cw, cn)))").as("cents"))
    val pc = probes
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("q_emb"))
      .withColumn("ea", expr("array_append(q_emb, CAST(0.0 AS DOUBLE))"))
      .withColumn("q_lnrm", expr("sqrt(graft_dot_d(ea, ea))"))
      .crossJoin(broadcast(centArr))
      .select(col("query_id"), col("q_emb"), expr(
        s"""transform(slice(array_sort(
           |  transform(cents, c -> struct(
           |    round(graft_dot_d(ea, c.cw) / (q_lnrm * c.cn), 8) AS csim,
           |    c.cell AS cell)),
           |  (a, b) -> CASE
           |    WHEN (isnan(a.csim) AND isnan(b.csim)) OR a.csim = b.csim THEN
           |      CASE WHEN a.cell < b.cell THEN -1
           |           WHEN a.cell > b.cell THEN 1 ELSE 0 END
           |    WHEN isnan(a.csim) THEN -1
           |    WHEN isnan(b.csim) THEN 1
           |    WHEN a.csim > b.csim THEN -1 ELSE 1 END),
           |1, $nprobe), e -> e.cell)""".stripMargin).as("cells"))
      .withColumn("cell", explode(col("cells"))).drop("cells")
    // pre-filter: survivor ids prune the postings BELOW the candidate
    // join, so non-matching vectors never reach the probe-cell join or
    // the rescore (the filter itself sits on the vectors scan)
    val keep = keepOf(pinned, predicate)
    val posts = pruneToSurvivors(
      pinned("posts").select(col("vec_id").as("cand_id"), col("cell")),
      keep, "cand_id", predicate)
    val cvec = keep.select(col("vec_id").as("cand_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("c_emb"))
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    pc.join(posts, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(cvec, Seq("cand_id"))
      .withColumn("ip_e6",
        expr("CAST(floor(graft_dot_d(q_emb, c_emb) * 1000000.0D) AS BIGINT)"))
      .groupBy("query_id")
      .agg(topk(col("ip_e6").cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        col("e._1").cast("long").as("ip_e6"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  // ────────── over-fetch POST-FILTER serving (filtered ANN) ──────────

  /** Adaptive over-fetch POST-FILTER strategy for predicate-
    * constrained top-k (r15 verdict #1 — the second standard filtered-
    * ANN strategy beside the pre-filter): serve UNFILTERED with
    * k′ = k/selectivity·safety, apply the predicate to the k′ results,
    * keep the top k survivors; any query whose heap came back FULL
    * (fetched == k′) with fewer than k survivors may be missing
    * matches, so k′ grows `grow`× and the serve retries — bounded: the
    * final retry fetches every candidate (still candidate-bounded by
    * the probed cells, never a full-corpus rescore), so the result
    * EQUALS the pre-filter strategy's (spec- and oracle-pinned).
    *
    * Selectivity comes from the store's STATS frames, never a corpus
    * scan: `attrstats` (per-batch attribute-value histograms, pinned
    * metadata-cardinality) answers the predicate over its distinct
    * value combos, `v<N>/stats` gives n_vecs — both metadata-sized
    * reads. When to prefer which strategy: post-filter wins at HIGH
    * selectivity (≈50%: one cheap unfiltered serve, no semi-join);
    * pre-filter wins at LOW selectivity (≈1%: the postings prune makes
    * every downstream stage 100× smaller, while post-filter would need
    * k′ ≈ 100k). */
  private def serveOverfetchFiltered(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, k: Int, predicate: String, version: Option[String],
      what: String, safety: Double, grow: Int, maxRetries: Int)(
      serveAt: (Int, Option[String]) => DataFrame): DataFrame = {
    recoverBakSwap(spark, tableDir)
    val ver = version.orElse(graft.operators.Lakehouse.currentVersion(spark, tableDir))
      .getOrElse(throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    val pinned = pinnedReader(spark, tableDir, Some(ver))
    require(new java.io.File(s"$tableDir/ATTR_COLS").exists(),
      s"$what: $tableDir pins no attr columns — the over-fetch strategy " +
        "needs the store's attrstats for its selectivity estimate (fold with " +
        "attrCols, or use the pre-filter predicate)")
    // metadata-sized driver reads: 1-row n_vecs + the predicate's mass
    // over the attrstats histogram (never a corpus scan) — ONE job for
    // both scalars (r17: every .head() is a driver barrier; the serves
    // fold their metadata lookups into single actions)
    // stats is aggregated to 1 row by construction (ADVICE r17): if the
    // version's stats table ever accumulated multiple rows, a bare
    // crossJoin would multiply them against the surv row and head()
    // would pick an arbitrary n_vecs
    val nSurv = graft.operators.Lakehouse.readVersion(spark, tableDir, ver, "stats")
      .agg(max(col("n_vecs")).as("n_vecs"))
      .crossJoin(pinned("attrstats").filter(expr(predicate))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("surv")))
      .head()
    val (n, surv) = (nSurv.getLong(0), nSurv.getLong(1))
    require(surv > 0,
      s"$what: predicate '$predicate' matches no attrstats mass in $tableDir — " +
        "an empty result is almost always a predicate typo; use the " +
        "pre-filter path if empty is genuinely expected")
    val nCap = math.min(n, Int.MaxValue.toLong).toInt
    // vec_id stays visible so predicates mixing attrs with vec_id
    // evaluate exactly as on the pre-filter path
    val attrs = pinned("vectors").drop("embedding", "nrm")
      .withColumn("cand_id", col("vec_id"))
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    var kP = math.max(k.toLong,
      math.min(nCap.toLong, math.ceil(k.toDouble * n / surv * safety).toLong)).toInt
    var attempt = 0
    var out: DataFrame = null
    while (out == null) {
      val res = serveAt(kP, Some(ver)).localCheckpoint(true)
      val filt = res.join(attrs, Seq("cand_id")).filter(expr(predicate))
      // a query may be missing matches ONLY if its heap was full: a
      // 1-row adjudication aggregate, not a per-query driver loop
      val short = res.groupBy(col("query_id")).agg(count(lit(1)).as("fetched"))
        .join(filt.groupBy(col("query_id")).agg(count(lit(1)).as("kept")),
          Seq("query_id"), "left")
        .na.fill(0L, Seq("kept"))
        .filter(col("kept") < k && col("fetched") >= kP)
        .agg(count(lit(1))).head().getLong(0)
      if (short == 0L || kP >= nCap || attempt >= maxRetries)
        out = filt
          .groupBy("query_id")
          .agg(topk(col("ip_e6").cast("double"), col("cand_id")).as("tk"))
          .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
          .select(col("query_id"), col("e._2").as("cand_id"),
            col("e._1").cast("long").as("ip_e6"),
            (col("pos") + 1).cast("int").as("rnk"))
      else {
        attempt += 1
        // the LAST retry fetches every candidate — completeness beats
        // another bounded guess once the estimate has missed twice
        kP = if (attempt >= maxRetries) nCap
          else math.min(nCap.toLong, kP.toLong * grow).toInt
      }
    }
    out
  }

  /** Filtered MIPS off a lifted-IVF store by over-fetch post-filter —
    * see [[serveOverfetchFiltered]]; the pre-filter twin is
    * [[mipsIvfServeFromStore]]'s `predicate`. Batch probes only (the
    * adaptive loop is a driver decision; streaming probes take the
    * pre-filter path, which is a pure plan). */
  def mipsIvfServeOverfetch(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, k: Int, nprobe: Int,
      predicate: String, version: Option[String] = None,
      safety: Double = 2.0, grow: Int = 4, maxRetries: Int = 2): DataFrame =
    serveOverfetchFiltered(spark, tableDir, k, predicate, version,
      "mipsIvfServeOverfetch", safety, grow, maxRetries)(
      (kP, ver) => mipsIvfServeFromStore(spark, tableDir, probes, kP, nprobe, ver))

  /** Filtered MIPS off an ALSH store by over-fetch post-filter — see
    * [[serveOverfetchFiltered]]. NOTE the cap asymmetry: the
    * UNFILTERED inner serve caps hot buckets on the full postings, the
    * pre-filter path caps on survivor postings, so under a degenerate
    * (capped) bucket the two strategies may legitimately differ — on
    * cap-free stores they are equal (spec-pinned). */
  def mipsAlshServeOverfetch(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame,
      dim: Int, nPlanes: Int, nTables: Int, k: Int,
      predicate: String, maxBucket: Int = Dedup.MaxBucket,
      version: Option[String] = None, multiProbe: Boolean = false,
      safety: Double = 2.0, grow: Int = 4, maxRetries: Int = 2): DataFrame =
    serveOverfetchFiltered(spark, tableDir, k, predicate, version,
      "mipsAlshServeOverfetch", safety, grow, maxRetries)(
      (kP, ver) => mipsAlshServeFromStore(spark, tableDir, probes, dim,
        nPlanes, nTables, kP, maxBucket, ver, multiProbe))

  // ─────────────────── IVF×PQ standing store ───────────────────

  /** One IVF×PQ-store micro-batch fold — the full production ANN
    * shape as a standing store: the IVF coarse quantizer AND the PQ
    * codebooks train once, land in the store (`centroids/`,
    * `codebooks/`) on the first fold, and stay PINNED; every later
    * batch is assigned and encoded against them, so fold ≡ rebuild is
    * exact (both assignment and encoding are per-vector). Layout per
    * batch (append-only, O(batch) fold I/O):
    *
    *   - `posts/batch=N/`   — (vec_id, cell): coarse postings
    *     (`nAssign`-replicated), cell-sorted for row-group pruning;
    *   - `codes/batch=N/`   — (vec_id, codes array<int>): the PACKED
    *     PQ index — ONE row per vector carrying its m sub-codes, ALL
    *     a serve scan reads beyond the LUT (the 64× compression that
    *     makes a 100 TB corpus scannable). Round 13: the store
    *     previously persisted the row-exploded (vec_id, m, code)
    *     layout — m rows per vector of pure storage tax, and a serve
    *     join that materialized |cand|·m rows where the codegen'd
    *     `graft_adc_sum` kernel touches |cand| (the round-12 verdict's
    *     one scale-weak finding; `Soak sq8_packed_scan`'s packed-vs-exploded ratio is
    *     96× at 500k vectors);
    *   - `vectors/batch=N/` — (vec_id, embedding, nrm) once per
    *     vector: the exact-rerank side (read only for shortlists);
    *   - `v<N>/stats` — 1-row n_vecs under the atomic CURRENT pin.
    *
    * Same crash/replay contract as every store fold. */
  def ivfPqFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      centroids: DataFrame, codebooks: DataFrame,
      nAssign: Int = 1, pqM: Int = 8, pqSub: Int = 8,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("posts", "vectors", "codes")) { ver =>
      val spark = batch.sparkSession
      val cdir = new java.io.File(s"$tableDir/centroids")
      // UNCONDITIONAL (not gated on centroids existing): a residual
      // first fold writes its marker BEFORE the models, so in that
      // crash window the dir carries the marker but no centroids — a
      // raw fold routed here must refuse it rather than hijack the
      // marker-carrying store with raw codes (no-op on a fresh dir)
      requireResidual(tableDir, expect = false, "ivfPqFoldBatch")
      resolveAttrColsPin(tableDir, attrCols, "ivfPqFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "ivfPqFoldBatch")
      // models bind only once a fold committed (ADVICE r15 — see
      // resolveMaxNormPin): a crashed first fold's centroids/codebooks
      // are stale evidence a retry may replace, never a silent pin
      if (!cdir.exists() || ver.isEmpty)
        centroids.write.mode("overwrite").parquet(cdir.getPath)
      val bdir = new java.io.File(s"$tableDir/codebooks")
      if (!bdir.exists() || ver.isEmpty)
        codebooks.write.mode("overwrite").parquet(bdir.getPath)
      val pinnedCent = spark.read.parquet(cdir.getPath)
      val pinnedBooks = spark.read.parquet(bdir.getPath)
      // the PQ geometry is a property of the STORE: once codebooks are
      // pinned, every fold derives (m, subDim) from their shape — and
      // the caller's pqM/pqSub must AGREE with it (ADVICE r13: silently
      // ignoring them would let a caller believe a mismatched geometry
      // was honored), so a later ingest can never encode a batch under
      // a different layout than the index
      val shape = pinnedBooks.agg(max(col("m")).as("mx"),
        max(size(col("cw"))).as("sd")).head()
      val (m, subDim) = (shape.getInt(0) + 1, shape.getInt(1))
      require(pqM == m && pqSub == subDim,
        s"ivfPqFoldBatch: store $tableDir pins PQ geometry (m=$m, subDim=$subDim); " +
          s"fold asked for (pqM=$pqM, pqSub=$pqSub)")
      val ranked = graft.operators.Knn
        .ivfRank(batch.select("vec_id", "embedding"), pinnedCent, "vec_id", "embedding")
        .filter(col("rn") <= nAssign)
        .localCheckpoint(true)
      ranked.select(col("vec_id"), col("cell"))
        .repartition(col("cell")).sortWithinPartitions("cell")
        .write.mode("overwrite").parquet(s"$tableDir/posts/batch=$id")
      withBatchAttrs(ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("nrm")), batch, attrCols)
        .write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
      graft.operators.Pq.encodePacked(
          graft.operators.Pq.subviews(batch.select("vec_id", "embedding"),
            "vec_id", "embedding", m, subDim),
          "vec_id", pinnedBooks)
        .write.mode("overwrite").parquet(s"$tableDir/codes/batch=$id")
    }

  /** IVF×PQ INDEX-at-ingest — see [[ivfPqFoldBatch]]. */
  def ivfPqIngest(vecStream: DataFrame, tableDir: String,
      centroids: DataFrame, codebooks: DataFrame,
      nAssign: Int = 1, pqM: Int = 8, pqSub: Int = 8,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ivfPqFoldBatch(batch.toDF(), tableDir, id, centroids, codebooks,
          nAssign, pqM, pqSub, compactEvery, vacuumKeep)
        ()
      }
      .start()

  /** IVF-ADC top-k from a standing [[ivfPqIngest]] store, pinned to
    * `version` (default CURRENT). `probes` may be batch or streaming:
    * every probe-side stage is row-local, leaving ONE stateful
    * operator:
    *
    *   - probe cells rank against the pinned quantizer
    *     ([[ivfProbeCellsRowLocal]]);
    *   - the flat ADC LUT builds row-locally: each probe row transforms
    *     the broadcast [[codewordGrid]] into its LUT with the exact
    *     [[graft.operators.Pq.adcLut]] arithmetic — no groupBy on the
    *     probe side;
    *   - candidates coarse-prune through the pinned posts — the scan
    *     touches ≈ nprobe·nAssign/K of the code index, the
    *     64×-compressed view of the corpus — and score their PACKED code
    *     row in one codegen'd `graft_adc_sum` kernel call;
    *   - ranking is the payload-distinct bounded heap by (adist_e6 asc,
    *     cand_id asc) — a candidate reached through several probed
    *     cells carries one identical integer sum.
    *
    * Exactly the batch `pq_ivf_adc_topk` total order (oracle-pinned by
    * `ivfpq_store_serve`; integer ADC sums are
    * order-insensitive, so the exploded-form oracle applies verbatim).
    *
    * Output: (query_id, cand_id, adist_e6, rnk); update mode on a stream. */
  def ivfPqServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, k: Int, nprobe: Int,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    requireResidual(tableDir, expect = false, "ivfPqServeFromStore")
    val pinned = pinnedReader(spark, tableDir, version)
    val cent = spark.read.parquet(s"$tableDir/centroids")
    val books = spark.read.parquet(s"$tableDir/codebooks")
    // the PQ geometry is a property of the STORE, not a caller
    // parameter: m, the subspace width, and the effective codebook
    // width all come off the pinned codebook shape (one metadata-sized
    // driver read), so a serve can never silently encode probes under
    // a different layout than the index. ksEff = max surviving cell id
    // + 1 aligns the dense flat LUT with every code the pinned
    // codebooks can possibly emit (a dead top cell only shrinks it).
    val shape = books.agg(max(col("m")).as("mx"),
      max(size(col("cw"))).as("sd"), max(col("cell")).as("mc")).head()
    val (pqM, pqSub) = (shape.getInt(0) + 1, shape.getInt(1))
    val ksEff = shape.getLong(2).toInt + 1
    val pc = ivfProbeCellsRowLocal(probes, cent, nprobe)
      .crossJoin(broadcast(codewordGrid(books, ksEff)))
      // the row-local flat LUT: per slot, the e6-floored exact L2² of
      // the probe's m-th subvector to that codeword — Pq.adcLut's
      // arithmetic verbatim (same slice, same double casts, same fold)
      .withColumn("lut", expr(
        s"""transform(cws, (w, i) ->
           |  CASE WHEN w IS NULL THEN ${graft.operators.Pq.DeadCellSentinel}L
           |       ELSE CAST(floor(graft_l2sq(
           |              transform(slice(q_emb, CAST((i div $ksEff) * $pqSub + 1 AS INT), $pqSub),
           |                        v -> CAST(v AS DOUBLE)),
           |              w) * 1000000.0D) AS BIGINT)
           |  END)""".stripMargin))
      .drop("cws", "q_emb", "q_norm")
      .withColumn("cell", explode(col("cells"))).drop("cells")
    val posts = pruneToSurvivors( // pre-filter below the candidate join
      pinned("posts").select(col("vec_id").as("cand_id"), col("cell")),
      keepOf(pinned, predicate), "cand_id", predicate)
    val codes = pinned("codes").select(col("vec_id").as("cand_id"), col("codes"))
    ascTopK(pc.join(posts, Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .join(codes, Seq("cand_id"))
        .select(col("query_id"), col("cand_id"),
          expr(s"graft_adc_sum(codes, lut, $ksEff)").as("adist_e6")),
      "adist_e6", k, distinct = true)
  }

  // ───────────── residual IVF×PQ standing store (IVFADC) ─────────────

  /** Marker file pinning a store's code LAYOUT to residual encoding —
    * written by the first [[ivfPqResFoldBatch]] fold, required by the
    * residual serves and REFUSED by the raw ones: residual codes and
    * raw codes are numerically incompatible (same schema, different
    * quantization target), so the layout must be a store property a
    * serve checks, never caller memory. */
  private def residualMarker(tableDir: String): java.io.File =
    new java.io.File(s"$tableDir/RESIDUAL_CODES")

  private def requireResidual(tableDir: String, expect: Boolean, fn: String): Unit = {
    val is = residualMarker(tableDir).exists()
    require(is == expect,
      if (expect) s"$fn: $tableDir carries RAW codes — use the ivfPq* functions"
      else s"$fn: $tableDir carries RESIDUAL codes — use the ivfPqRes* functions")
  }

  /** One residual-IVF×PQ-store micro-batch fold — the FAISS IVFADC
    * layout (Jégou et al. 2011 §III) as a standing store. Same
    * pinned-model discipline as [[ivfPqFoldBatch]] (coarse quantizer +
    * codebooks land in the store on the first fold and stay pinned;
    * fold ≡ rebuild because assignment and encoding are per-vector),
    * but `codes/batch=N/` persists (vec_id, cell, codes array<int>)
    * where `codes` quantize the RESIDUAL vec − home-centroid/2²⁰
    * against RESIDUAL-trained codebooks and `cell` is the home
    * (rank-1) cell the residual was taken against — the serve keys
    * its per-(query, home-cell) LUT on it. The caller passes
    * residual-trained codebooks (train [[graft.operators.Pq.train]]
    * on residual subviews); the `RESIDUAL_CODES` marker pins the
    * layout so the raw serve can never silently scan residual codes. */
  def ivfPqResFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      centroids: DataFrame, codebooks: DataFrame,
      nAssign: Int = 1, pqM: Int = 8, pqSub: Int = 8,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("posts", "vectors", "codes")) { _ =>
      val spark = batch.sparkSession
      resolveAttrColsPin(tableDir, attrCols, "ivfPqResFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "ivfPqResFoldBatch")
      val cdir = new java.io.File(s"$tableDir/centroids")
      val mk = residualMarker(tableDir)
      // marker BEFORE models: a first-fold crash between the two must
      // replay as a residual store, while a pre-existing raw store
      // (centroids without marker) is refused
      require(mk.exists() || !cdir.exists(),
        s"ivfPqResFoldBatch: $tableDir carries RAW codes — use ivfPqFoldBatch")
      if (!mk.exists())
        java.nio.file.Files.write(mk.toPath,
          "residual".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // models bind only once a fold committed (ADVICE r15 — see
      // resolveMaxNormPin): a crashed first fold's models may be
      // replaced by the retry, never silently adopted
      val committed = new java.io.File(s"$tableDir/CURRENT").exists()
      if (!cdir.exists() || !committed)
        centroids.write.mode("overwrite").parquet(cdir.getPath)
      val bdir = new java.io.File(s"$tableDir/codebooks")
      if (!bdir.exists() || !committed)
        codebooks.write.mode("overwrite").parquet(bdir.getPath)
      val pinnedCent = spark.read.parquet(cdir.getPath)
      val pinnedBooks = spark.read.parquet(bdir.getPath)
      // geometry off the pinned codebook shape; callers' pqM/pqSub must
      // agree with it (the ivfPqFoldBatch rule)
      val shape = pinnedBooks.agg(max(col("m")).as("mx"),
        max(size(col("cw"))).as("sd")).head()
      val (m, subDim) = (shape.getInt(0) + 1, shape.getInt(1))
      require(pqM == m && pqSub == subDim,
        s"ivfPqResFoldBatch: store $tableDir pins PQ geometry (m=$m, subDim=$subDim); " +
          s"fold asked for (pqM=$pqM, pqSub=$pqSub)")
      val ranked = graft.operators.Knn
        .ivfRank(batch.select("vec_id", "embedding"), pinnedCent, "vec_id", "embedding")
        .filter(col("rn") <= nAssign)
        .localCheckpoint(true)
      ranked.select(col("vec_id"), col("cell"))
        .repartition(col("cell")).sortWithinPartitions("cell")
        .write.mode("overwrite").parquet(s"$tableDir/posts/batch=$id")
      val home = ranked.filter(col("rn") === 1)
      withBatchAttrs(home.select(col("vec_id"), col("embedding"), col("nrm")),
          batch, attrCols)
        .write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
      // residual wrt the home centroid: ivfTrain centroids live in the
      // ×2²⁰ integer-quantized space (cosine is scale-invariant),
      // residual L2 is not — rescale first (one fixed division per
      // component, the pq_ivfres_* spelling)
      val res = home.select(col("vec_id"), col("cell"), col("embedding"))
        .join(broadcast(pinnedCent.select(col("cell"), col("cw"))), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          expr("zip_with(embedding, cw, (a, b) -> CAST(a AS DOUBLE) - b / 1048576.0D)")
            .as("rvec"))
        .localCheckpoint(true)
      graft.operators.Pq.encodePacked(
          graft.operators.Pq.subviews(res, "vec_id", "rvec", m, subDim),
          "vec_id", pinnedBooks)
        .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .write.mode("overwrite").parquet(s"$tableDir/codes/batch=$id")
    }

  /** Residual IVFADC INDEX-at-ingest — see [[ivfPqResFoldBatch]]. */
  def ivfPqResIngest(vecStream: DataFrame, tableDir: String,
      centroids: DataFrame, codebooks: DataFrame,
      nAssign: Int = 1, pqM: Int = 8, pqSub: Int = 8,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ivfPqResFoldBatch(batch.toDF(), tableDir, id, centroids, codebooks,
          nAssign, pqM, pqSub, compactEvery, vacuumKeep)
        ()
      }
      .start()

  /** Residual IVF-ADC top-k from a standing [[ivfPqResIngest]] store,
    * BATCH probes only: coarse-prune through the pinned posts, then
    * score each surviving candidate's PACKED residual code row
    * through `graft_adc_sum` against the per-(query, home-cell) flat
    * LUT. LUTs are built ONLY for the (query, home-cell) pairs that
    * actually occur among candidates — bounded by min(K, |cand|) per
    * query, never the full |Q|·K grid — and keyed by the composite
    * qc = query_id·kCells + cell, where kCells = max(cell)+1 is
    * derived ONCE from the pinned centroid frame and shared by both
    * sides of the qc join (never hardcode the training-time K on one
    * side — the multiplier is a property of the pinned model, and the
    * key is collision-free because cell < kCells by construction).
    * The LUT scoping needs a blocking distinct and a localCheckpoint,
    * so streaming probes go to [[ivfPqResServeStreamFromStore]], which
    * scores each pair directly instead. Oracle-pinned by
    * `ivfres_store_serve` against the one-shot `pq_ivfres_topk` CTE
    * chain (fold ≡ rebuild: both models pinned, assignment and
    * encoding per-vector).
    *
    * Output: (query_id, cand_id, adist_e6, rnk). */
  def ivfPqResServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, k: Int, nprobe: Int,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    require(!probes.isStreaming, "ivfPqResServeFromStore takes batch probes — " +
      "serve a stream with ivfPqResServeStreamFromStore")
    graft.functions.GraftFunctions.register(spark)
    requireResidual(tableDir, expect = true, "ivfPqResServeFromStore")
    val pinned = pinnedReader(spark, tableDir, version)
    val cent = spark.read.parquet(s"$tableDir/centroids")
    val books = spark.read.parquet(s"$tableDir/codebooks")
    val (pqM, pqSub, ksEff, kCells) = residualGeometry(books, cent)
    val probeCells = graft.operators.Knn
      .ivfRank(probes.select("vec_id", "embedding"), cent, "vec_id", "embedding")
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val cand = probeCells
      .join(pruneToSurvivors( // pre-filter below the candidate join
          pinned("posts").select(col("vec_id").as("cand_id"), col("cell")),
          keepOf(pinned, predicate), "cand_id", predicate), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val codes = pinned("codes")
      .select(col("vec_id").as("cand_id"), col("cell"), col("codes"))
    // coarse prune BEFORE the kernel scan. `cand` scales with corpus
    // size (≈ nq·nAssign·n_vecs/K rows), so it is NOT force-broadcast:
    // AQE broadcasts it when small and shuffle-joins on cand_id when
    // not. Checkpointed: the frame feeds BOTH the LUT pair-scoping
    // distinct and the kernel scan, and Catalyst does not dedupe
    // identical subtrees — without the cut, the corpus-side code scan
    // and the probe ranking would execute twice per serve (|cand| rows:
    // the coarse prune bounds it, so the materialization is probe-sized)
    val scored0 = codes.join(cand, Seq("cand_id")).localCheckpoint(true)
    // LUTs only for the (query, home-cell) pairs candidates realize
    val pairs = scored0.select(col("query_id"), col("cell")).distinct()
    val qres = probes.select(col("vec_id").as("query_id"), col("embedding"))
      .join(pairs, Seq("query_id"))
      .join(broadcast(cent.select(col("cell"), col("cw"))), Seq("cell"))
      .select((col("query_id") * lit(kCells) + col("cell")).as("qc"),
        expr("zip_with(embedding, cw, (a, b) -> CAST(a AS DOUBLE) - b / 1048576.0D)")
          .as("rvec"))
    val lut = graft.operators.Pq.adcLutFlat(
      graft.operators.Pq.subviews(qres, "qc", "rvec", pqM, pqSub), "qc", books, ksEff)
    ascTopK(scored0
        .withColumn("qc", col("query_id") * lit(kCells) + col("cell"))
        .join(broadcast(lut), Seq("qc"))
        .select(col("query_id"), col("cand_id"),
          expr(s"graft_adc_sum(codes, lut, $ksEff)").as("adist_e6")),
      "adist_e6", k, distinct = false)
  }

  /** A residual store's geometry off its pinned models in ONE metadata
    * job (r17: each .head() is a driver barrier — fold them):
    * (pqM, pqSub, ksEff, kCells) — the codebook shape, the effective
    * codebook width and the centroid count. */
  private def residualGeometry(books: DataFrame, cent: DataFrame): (Int, Int, Int, Int) = {
    val shape = books.agg(max(col("m")).as("mx"),
        max(size(col("cw"))).as("sd"), max(col("cell")).as("mc"))
      .crossJoin(cent.agg(max(col("cell")).as("kc"))).head()
    (shape.getInt(0) + 1, shape.getInt(1), shape.getLong(2).toInt + 1,
      (shape.getLong(3) + 1).toInt)
  }

  /** The per-pair residual ADC stage both streaming residual serves
    * share: the row-local probe rows `pc` (query_id, q_emb, cells, plus
    * any pass-through columns) join the pinned (pre-filtered) posts on
    * each probed cell and the candidates' home-cell codes, and each
    * (probe, candidate) pair scores its `adist_e6` ROW-LOCALLY against
    * the broadcast [[centroidGrid]] and [[codewordGrid]] rows:
    * Σ_m floor(l2sq((q − c_home/2²⁰)_m, cw[m, code_m])·1e6) —
    * [[graft.operators.Pq.adcLut]]'s fixed single-op sequence per pair
    * instead of per LUT slot, so the integers are identical. */
  private def residualPairs(pinned: String => DataFrame, cent: DataFrame,
      books: DataFrame, pc: DataFrame, predicate: Option[String]): DataFrame = {
    val (pqM, pqSub, ksEff, kCells) = residualGeometry(books, cent)
    val posts = pruneToSurvivors( // batch-side pre-filter: stream-legal
      pinned("posts").select(col("vec_id").as("cand_id"), col("cell")),
      keepOf(pinned, predicate), "cand_id", predicate)
    val codes = pinned("codes")
      .select(col("vec_id").as("cand_id"), col("cell").as("home"), col("codes"))
    pc.withColumn("cell", explode(col("cells"))).drop("cells")
      .join(posts, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(codes, Seq("cand_id"))
      .crossJoin(broadcast(centroidGrid(cent, kCells)))
      .crossJoin(broadcast(codewordGrid(books, ksEff)))
      .withColumn("adist_e6", expr(
        s"""aggregate(sequence(0, ${pqM - 1}), 0L, (acc, mi) ->
           |  acc + CASE
           |    WHEN element_at(cws, mi * $ksEff + element_at(codes, mi + 1) + 1) IS NULL
           |      THEN ${graft.operators.Pq.DeadCellSentinel}L
           |    ELSE CAST(floor(graft_l2sq(
           |      transform(sequence(1, $pqSub), j ->
           |        CAST(element_at(q_emb, mi * $pqSub + j) AS DOUBLE)
           |          - element_at(element_at(cgrid, CAST(home + 1 AS INT)), mi * $pqSub + j) / 1048576.0D),
           |      element_at(cws, mi * $ksEff + element_at(codes, mi + 1) + 1))
           |      * 1000000.0D) AS BIGINT)
           |  END)""".stripMargin))
  }

  /** STREAMING residual IVF-ADC serving off the standing
    * [[ivfPqResIngest]] store. [[ivfPqResServeFromStore]]'s LUT build
    * needs a blocking distinct over realized (query, home-cell) pairs,
    * so this serve drops LUT amortization entirely: each surviving
    * (probe, candidate) pair computes its ADC sum ROW-LOCALLY
    * ([[residualPairs]]) from the broadcast centroid and codeword grids.
    * The integers are identical; the cost is dim multiplies per pair
    * instead of m lookups — the stated streaming tradeoff (probe
    * batches are bounded; the corpus-side scan is still coarse-pruned
    * and packed), measured slower than the LUT serve on batch probes.
    * One stateful op: the payload-distinct bounded heap.
    *
    * Output: (query_id, cand_id, adist_e6, rnk); update mode. */
  def ivfPqResServeStreamFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probeStream: DataFrame, k: Int, nprobe: Int,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    requireResidual(tableDir, expect = true, "ivfPqResServeStreamFromStore")
    val pinned = pinnedReader(spark, tableDir, version)
    val cent = spark.read.parquet(s"$tableDir/centroids")
    ascTopK(residualPairs(pinned, cent, spark.read.parquet(s"$tableDir/codebooks"),
          ivfProbeCellsRowLocal(probeStream, cent, nprobe), predicate)
        .select("query_id", "cand_id", "adist_e6"),
      "adist_e6", k, distinct = true)
  }

  /** REFINE-AT-SERVE off the pinned standing stores (FAISS's
    * IndexRefine as a serve-time composition, round-13 verdict #2),
    * BATCH probes only: the residual store answers the cheap ADC
    * SHORTLIST ([[ivfPqResServeFromStore]], `shortlist` per query), and
    * the SQ8 store's packed codes RERANK just those survivors through
    * the codegen'd `graft_sq8_adc` kernel — the serve never touches a
    * raw vector (8 residual-PQ bytes + dim SQ8 bytes per candidate
    * read, out of 4·dim raw bytes). Streaming probes go to
    * [[ivfResRefineServeStreamFromStore]] (the shortlist's LUT scoping
    * is stream-illegal).
    *
    * Torn-model rule (round 9): each store's version pin resolves
    * ONCE — the residual serve resolves `resVersion` internally, and
    * the rerank reads codes + bounds under ONE `sqVersion` resolution —
    * so a concurrent fold's CURRENT swing can never pair a shortlist
    * from one version with rerank codes from another.
    *
    * Oracle-pinned by `ivfres_refine_store_serve` against the one-shot
    * `pq_ivfres_refine_topk` CTE chain (fold ≡ rebuild on both stores;
    * integer ADC sums are order-insensitive so the exploded SQ8 oracle
    * applies to the packed kernel verbatim).
    *
    * Output: (query_id, cand_id, sq_e6, rnk). */
  def ivfResRefineServeFromStore(spark: org.apache.spark.sql.SparkSession,
      resDir: String, sqDir: String, probes: DataFrame,
      shortlist: Int, k: Int, nprobe: Int,
      resVersion: Option[String] = None,
      sqVersion: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    require(!probes.isStreaming, "ivfResRefineServeFromStore takes batch probes — " +
      "serve a stream with ivfResRefineServeStreamFromStore")
    graft.functions.GraftFunctions.register(spark)
    requireResidual(resDir, expect = true, "ivfResRefineServeFromStore")
    // the shortlist is already predicate-constrained, so the refine
    // pass (an inner join on its cand_ids) inherits the filter
    val short = ivfPqResServeFromStore(spark, resDir, probes, shortlist,
        nprobe, resVersion, predicate)
      .select("query_id", "cand_id")
    val pinnedSq = pinnedReader(spark, sqDir, sqVersion)
    val bounds = spark.read.parquet(s"$sqDir/bounds")
    val lut = graft.operators.Sq.adcLutPacked(probes.select("vec_id", "embedding"),
      "vec_id", "embedding", bounds)
    // shortlist prune BEFORE the code scan: |Q|·shortlist rows,
    // broadcast over the pinned packed index
    ascTopK(pinnedSq("codes").select(col("vec_id").as("cand_id"), col("codes"))
        .join(broadcast(short), Seq("cand_id"))
        .join(broadcast(lut), Seq("query_id"))
        .select(col("query_id"), col("cand_id"),
          expr("graft_sq8_adc(codes, lut)").as("sq_e6")),
      "sq_e6", k, distinct = false)
  }

  /** STREAMING refine-at-serve — [[ivfResRefineServeFromStore]] made
    * streaming-legal with ONE stateful operator, which needs two moves:
    *
    *   - the shortlist heap CARRIES each survivor's SQ8 rerank codes in
    *     its payload ([[graft.functions.TopKCodesAgg]], the
    *     [[mrlServe]] embedding-carrying-heap pattern compressed to
    *     codes): the cheap residual-ADC estimate prunes, and only the
    *     ≤shortlist survivors keep their dim bytes of rerank state
    *     alive past the aggregate;
    *   - the rerank is then ROW-LOCAL: each survivor's codes score in
    *     one `graft_sq8_adc` call against the probe's flat SQ8 LUT
    *     (built row-locally by [[withSq8Lut]] and carried through the
    *     aggregate via first()), followed by a comparator `array_sort`
    *     + `slice` (sq_e6 asc, cand_id asc — BIGINTs, no NaN arm
    *     needed).
    *
    * The shortlist stage is [[ivfPqResServeStreamFromStore]]'s per-pair
    * row-local residual ADC ([[residualPairs]], the stated no-LUT
    * streaming tradeoff), so streamed == batch-refine row for row over
    * the same pinned versions (equivalence-tested; oracle-pinned by
    * `ivfres_refine_serve_stream`).
    *
    * Output: (query_id, cand_id, sq_e6, rnk); update mode. */
  def ivfResRefineServeStreamFromStore(spark: org.apache.spark.sql.SparkSession,
      resDir: String, sqDir: String, probeStream: DataFrame,
      shortlist: Int, k: Int, nprobe: Int,
      resVersion: Option[String] = None,
      sqVersion: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    requireResidual(resDir, expect = true, "ivfResRefineServeStreamFromStore")
    val pinnedRes = pinnedReader(spark, resDir, resVersion)
    val pinnedSq = pinnedReader(spark, sqDir, sqVersion)
    val cent = spark.read.parquet(s"$resDir/centroids")
    val bounds = spark.read.parquet(s"$sqDir/bounds")
    val scodes = pinnedSq("codes")
      .select(col("vec_id").as("cand_id"), col("codes").as("sqcodes"))
    val heap = udaf(graft.functions.TopKCodesAgg(shortlist))
    residualPairs(pinnedRes, cent, spark.read.parquet(s"$resDir/codebooks"),
        withSq8Lut(ivfProbeCellsRowLocal(probeStream, cent, nprobe), bounds), predicate)
      .join(scodes, Seq("cand_id"))
      .groupBy("query_id")
      .agg(heap((-col("adist_e6")).cast("double"),
          struct(col("cand_id").as("id"), col("sqcodes").as("codes"))).as("stk"),
        first(col("lut")).as("lut"))
      // row-local rerank of the ≤shortlist survivors: one kernel call
      // each, then a BIGINT comparator sort — no second stateful op
      .select(col("query_id"), posexplode(expr(
        s"""slice(array_sort(
           |  transform(stk, e -> struct(
           |    graft_sq8_adc(e._2.codes, lut) AS sq_e6,
           |    e._2.id AS cand_id)),
           |  (a, b) -> CASE
           |    WHEN a.sq_e6 < b.sq_e6 THEN -1 WHEN a.sq_e6 > b.sq_e6 THEN 1
           |    WHEN a.cand_id < b.cand_id THEN -1
           |    WHEN a.cand_id > b.cand_id THEN 1 ELSE 0 END),
           |1, $k)""".stripMargin)).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.cand_id").as("cand_id"),
        col("e.sq_e6").as("sq_e6"), (col("pos") + 1).cast("int").as("rnk"))
  }

  // ─────────────────── SQ8 standing store ───────────────────

  /** One SQ8-store micro-batch fold: the per-dimension quantizer
    * bounds train once ([[graft.operators.Sq.train]], typically on
    * the first corpus sample — the caller passes them, the
    * [[ivfPqFoldBatch]] model-pinning precedent), land in `bounds/`
    * on the first fold, and stay PINNED; every batch encodes against
    * the STORE's bounds, so fold ≡ rebuild is exact (encoding is
    * per-vector). Retraining bounds is a rebuild event, not a fold.
    * Layout per batch (append-only, O(batch) fold I/O):
    *
    *   - `codes/batch=N/`   — (vec_id, codes array<int>): the PACKED
    *     SQ8 index — one row per vector, 1 byte of information per
    *     dimension, ALL a serve scan reads beyond the LUT (4× smaller
    *     than float32; the packed layout is what the codegen'd
    *     `graft_sq8_adc` kernel scans — `Soak sq8_packed_scan` measures it 96× the
    *     row-exploded join at 500k vectors);
    *   - `vectors/batch=N/` — (vec_id, embedding, nrm) once per
    *     vector: the exact-rerank side;
    *   - `v<N>/stats` — 1-row n_vecs under the atomic CURRENT pin.
    *
    * Same crash/replay contract as every store fold; right-to-be-
    * forgotten rides [[forgetVectors]] unchanged (its table discovery
    * already spans codes/vectors). */
  def sqFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      bounds: DataFrame,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("codes", "vectors")) { _ =>
      val spark = batch.sparkSession
      resolveAttrColsPin(tableDir, attrCols, "sqFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "sqFoldBatch")
      // layout guard (the PREFIX_DIM discipline): a flat-SQ8 fold into
      // an IVF-SQ8 store would append codes/vectors batches WITHOUT
      // their posts/ partition — the coarse-pruned serve would then
      // silently never surface those vectors. Refuse loudly instead.
      require(!new java.io.File(s"$tableDir/centroids").exists(),
        s"sqFoldBatch: $tableDir carries an IVF coarse quantizer — use sq8IvfFoldBatch")
      val bdir = new java.io.File(s"$tableDir/bounds")
      // bounds bind only once a fold committed (ADVICE r15 — see
      // resolveMaxNormPin)
      if (!bdir.exists() || !new java.io.File(s"$tableDir/CURRENT").exists())
        bounds.write.mode("overwrite").parquet(bdir.getPath)
      // the store's own pinned quantizer, not the caller's frame
      val pinned = spark.read.parquet(bdir.getPath)
      graft.operators.Sq.encodePacked(batch.select("vec_id", "embedding"),
          "vec_id", "embedding", pinned)
        .write.mode("overwrite").parquet(s"$tableDir/codes/batch=$id")
      batch.select(("vec_id" +: "embedding" +: attrCols).map(col): _*)
        .withColumn("nrm", VectorFunctions.norm("embedding"))
        .write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
    }

  /** SQ8 INDEX-at-ingest — see [[sqFoldBatch]]. */
  def sqIngest(vecStream: DataFrame, tableDir: String, bounds: DataFrame,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sqFoldBatch(batch.toDF(), tableDir, id, bounds, compactEvery, vacuumKeep)
        ()
      }
      .start()

  /** SQ8-ADC top-k from a standing [[sqIngest]] store, pinned to
    * `version` (default CURRENT). `probes` may be batch or streaming:
    * each probe row builds its flat LUT row-locally against the PINNED
    * bounds ([[withSq8Lut]] — no groupBy on the probe side), every
    * pinned packed code row scores in one codegen'd `graft_sq8_adc`
    * kernel call (|Q|·N rows, never |Q|·N·dim), and ONE bounded heap
    * ranks by (adist_e6 asc, cand_id asc) — exactly the batch
    * `sq8_adc_topk` total order (oracle-pinned by `sq8_store_serve`;
    * integer ADC sums are order-insensitive so the
    * exploded oracle applies verbatim). The scan is |codes| kernel
    * calls per probe (per micro-batch on a stream) — the flat store's
    * full-scan contract.
    *
    * Output: (query_id, cand_id, adist_e6, rnk); update mode on a stream. */
  def sq8ServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, k: Int,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val pinned = pinnedReader(spark, tableDir, version)
    val bounds = spark.read.parquet(s"$tableDir/bounds")
    val q = withSq8Lut(probes.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), bounds)
      .select("query_id", "lut")
    // flat store: the codes scan IS the candidate set, so the
    // pre-filter prunes it directly (no posts layer to prune below)
    ascTopK(q.join(pruneToSurvivors(
          pinned("codes").select(col("vec_id").as("cand_id"), col("codes")),
          keepOf(pinned, predicate), "cand_id", predicate),
        col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          expr("graft_sq8_adc(codes, lut)").as("adist_e6")),
      "adist_e6", k, distinct = false)
  }

  // ─────────────────── IVF×SQ8 standing store ───────────────────

  /** One IVF×SQ8-store micro-batch fold (FAISS's
    * IndexIVFScalarQuantizer as a standing store) — the last cell of
    * the partition × quantizer store matrix (IVF×PQ and residual-IVF×PQ
    * have fold/serve/stream forms; flat SQ8 has [[sqFoldBatch]]; this
    * is the coarse-pruned SQ8 form). Both models pin on the first
    * fold: the coarse quantizer lands in `centroids/`, the
    * per-dimension quantizer bounds in `bounds/`; every later batch is
    * assigned and encoded against them, so fold ≡ rebuild is exact
    * (assignment and encoding are per-vector). Layout per batch
    * (append-only, O(batch) fold I/O):
    *
    *   - `posts/batch=N/`   — (vec_id, cell): coarse postings
    *     (`nAssign`-replicated), cell-sorted for row-group pruning;
    *   - `codes/batch=N/`   — (vec_id, codes array<int>): the PACKED
    *     SQ8 index, one row per vector (dim 1-byte codes — what the
    *     codegen'd `graft_sq8_adc` kernel scans);
    *   - `vectors/batch=N/` — (vec_id, embedding, nrm) once per
    *     vector: the exact-rerank side;
    *   - `v<N>/stats` — 1-row n_vecs under the atomic CURRENT pin.
    *
    * Same crash/replay contract as every store fold;
    * [[forgetVectors]]'s table discovery already spans
    * posts/codes/vectors. */
  def sq8IvfFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      centroids: DataFrame, bounds: DataFrame, nAssign: Int = 1,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      attrCols: Seq[String] = Nil): Unit =
    commitVectorFold(batch, tableDir, id, compactEvery, vacuumKeep,
        Seq("posts", "vectors", "codes")) { _ =>
      val spark = batch.sparkSession
      resolveAttrColsPin(tableDir, attrCols, "sq8IvfFoldBatch")
      writeAttrStats(batch, tableDir, id, attrCols, "sq8IvfFoldBatch")
      val cdir = new java.io.File(s"$tableDir/centroids")
      // layout guard (mirror of the sqFoldBatch guard): folding the
      // coarse-pruned layout ONTO an existing flat-SQ8 store would
      // leave the earlier batches without posts — the pruned serve
      // would silently drop them while the store looks healthy
      require(cdir.exists() || !new java.io.File(s"$tableDir/CURRENT").exists(),
        s"sq8IvfFoldBatch: $tableDir already has flat (un-posted) SQ8 batches — " +
          "use sqFoldBatch, or rebuild under the coarse-pruned layout")
      // models bind only once a fold committed (ADVICE r15 — see
      // resolveMaxNormPin)
      val committed = new java.io.File(s"$tableDir/CURRENT").exists()
      if (!cdir.exists() || !committed)
        centroids.write.mode("overwrite").parquet(cdir.getPath)
      val bdir = new java.io.File(s"$tableDir/bounds")
      if (!bdir.exists() || !committed)
        bounds.write.mode("overwrite").parquet(bdir.getPath)
      val pinnedCent = spark.read.parquet(cdir.getPath)
      val pinnedBounds = spark.read.parquet(bdir.getPath)
      val ranked = graft.operators.Knn
        .ivfRank(batch.select("vec_id", "embedding"), pinnedCent, "vec_id", "embedding")
        .filter(col("rn") <= nAssign)
        .localCheckpoint(true)
      ranked.select(col("vec_id"), col("cell"))
        .repartition(col("cell")).sortWithinPartitions("cell")
        .write.mode("overwrite").parquet(s"$tableDir/posts/batch=$id")
      withBatchAttrs(ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("nrm")), batch, attrCols)
        .write.mode("overwrite").parquet(s"$tableDir/vectors/batch=$id")
      graft.operators.Sq.encodePacked(batch.select("vec_id", "embedding"),
          "vec_id", "embedding", pinnedBounds)
        .write.mode("overwrite").parquet(s"$tableDir/codes/batch=$id")
    }

  /** IVF×SQ8 INDEX-at-ingest — see [[sq8IvfFoldBatch]]. */
  def sq8IvfIngest(vecStream: DataFrame, tableDir: String,
      centroids: DataFrame, bounds: DataFrame, nAssign: Int = 1,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sq8IvfFoldBatch(batch.toDF(), tableDir, id, centroids, bounds,
          nAssign, compactEvery, vacuumKeep)
        ()
      }
      .start()

  /** IVF-pruned SQ8-ADC top-k from a standing [[sq8IvfIngest]] store,
    * pinned to `version` (default CURRENT). `probes` may be batch or
    * streaming: every probe-side stage is row-local, leaving ONE
    * stateful operator — probe cells rank against the pinned quantizer
    * ([[ivfProbeCellsRowLocal]]), each probe builds its flat SQ8 LUT off
    * the pinned bounds ([[withSq8Lut]]), candidates coarse-prune
    * through the pinned posts (the scan touches ≈ nprobe·nAssign/K of
    * the 4×-compressed code index) and score their packed code row in
    * one `graft_sq8_adc` call, and the payload-distinct bounded heap
    * ranks by (adist_e6 asc, cand_id asc) — a candidate reached
    * through several probed cells carries one identical integer sum.
    * Exactly the batch `sq8_ivf_adc_topk` total order (oracle-pinned
    * by `sq8ivf_store_serve`; integer ADC sums
    * are order-insensitive so the exploded-form oracle applies
    * verbatim).
    *
    * Output: (query_id, cand_id, adist_e6, rnk); update mode on a stream. */
  def sq8IvfServeFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, probes: DataFrame, k: Int, nprobe: Int,
      version: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val pinned = pinnedReader(spark, tableDir, version)
    val cent = spark.read.parquet(s"$tableDir/centroids")
    val bounds = spark.read.parquet(s"$tableDir/bounds")
    val pc = withSq8Lut(ivfProbeCellsRowLocal(probes, cent, nprobe), bounds)
      .drop("q_emb", "q_norm")
      .withColumn("cell", explode(col("cells"))).drop("cells")
    val posts = pruneToSurvivors( // pre-filter below the candidate join
      pinned("posts").select(col("vec_id").as("cand_id"), col("cell")),
      keepOf(pinned, predicate), "cand_id", predicate)
    val codes = pinned("codes").select(col("vec_id").as("cand_id"), col("codes"))
    ascTopK(pc.join(posts, Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .join(codes, Seq("cand_id"))
        .select(col("query_id"), col("cand_id"),
          expr("graft_sq8_adc(codes, lut)").as("adist_e6")),
      "adist_e6", k, distinct = true)
  }

  /** Enrich a stream of `(id, h)` 64-bit perceptual fingerprints (the
    * "did we already crawl this image?" lookup) with their k nearest
    * index entries within hamming radius `maxHamming`, from a STATIC
    * persisted band index (the `bands/` table a
    * [[DocStreams.mediaDedupIngest]] store maintains).
    *
    * Same serving discipline as [[annServe]]: probe banding is a pure
    * projection under the index's radius+1 scheme
    * ([[graft.operators.Fingerprint.bandsOf]]), the capped index
    * broadcast-joins on (pos, band) so the stream never shuffles
    * before aggregation, and per-probe top-k is the payload-distinct
    * bounded heap (a candidate colliding in several bands carries one
    * identical hamming score — the distinct heap collapses it in O(k)
    * aggregation state, standing in for the blocking `.distinct()` the
    * batch [[graft.operators.Fingerprint.searchIndex]] runs). Within
    * the radius the result is EXACT (pigeonhole completeness); ties
    * resolve to the smaller cand_id, matching a batch
    * row_number(hamming asc, cand_id asc) ranking row for row
    * (equivalence-tested).
    *
    * Output per emission: (probe_id, rnk, cand_id, hamming). */
  def fingerprintServe(probeStream: DataFrame, indexBands: DataFrame,
      maxHamming: Int, k: Int,
      maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    val cand = Dedup.dropHotBuckets(indexBands, Seq("pos", "band"),
        maxBucket, "fingerprintServe")
      .select(col("pos"), col("band"), col("id").as("cand_id"), col("h").as("h_c"))
    val q = graft.operators.Fingerprint
      .bandsOf(probeStream, "id", "h", 64, nBands = maxHamming + 1)
      .select(col("id").as("probe_id"), col("pos"), col("band"), col("h").as("h_p"))
    val topk = udaf(graft.functions.TopKDistinctAgg.longs(k))
    q.join(broadcast(cand), Seq("pos", "band"))
      .withColumn("hamming", expr("bit_count(h_p ^ h_c)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      // heap ranks by score DESC; negate so nearer (smaller hamming) wins
      .groupBy("probe_id")
      .agg(topk(-col("hamming").cast("double"), col("cand_id")).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("e._2").as("cand_id"), (-col("e._1")).cast("int").as("hamming"))
  }

  // ───────────── standing embedding-statistics store ─────────────

  /** Fold one batch of labelled vectors into the standing per-class
    * statistics store: the (label, dim) → (n, Σv, Σv²) table is
    * ADDITIVE sufficient statistics, so it rides the shared
    * torn-version-proof count-table fold — fold ≡ recompute is a
    * theorem, replay is a no-op, and unlearning is the negated fold
    * ([[unlearnEmbStatsBatch]]). K×D rows per version regardless of
    * stream volume. */
  def embStatsFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      labelCol: String = "label", embCol: String = "embedding",
      unlearn: Boolean = false, vacuumKeep: Int = 0): Unit =
    graft.streaming.ModelStreams.foldCountTables(
      batch.sparkSession, tableDir, id, Seq(
        graft.streaming.ModelStreams.CountTable("dims", {
          val st = graft.operators.EmbStats.sufficientStats(batch, labelCol, embCol)
          if (!unlearn) st
          else st.select(col("label"), col("dim"),
            (-col("n_vecs")).as("n_vecs"), (-col("s1")).as("s1"),
            (-col("s2")).as("s2"))
        }, Seq("label", "dim"), Seq("n_vecs", "s1", "s2"),
          signedSums = Seq("s1"), countCol = Some("n_vecs"))),
      unlearn = unlearn, vacuumKeep = vacuumKeep)

  /** Per micro-batch fold of `(label, embedding)` rows into the
    * standing statistics store — the embedding-space monitoring loop
    * (centroid drift, class dispersion over time). */
  def embStatsIngest(vecStream: DataFrame, tableDir: String,
      labelCol: String = "label", embCol: String = "embedding",
      vacuumKeep: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        embStatsFoldBatch(batch.toDF(), tableDir, id, labelCol, embCol,
          vacuumKeep = vacuumKeep)
        ()
      }
      .start()

  /** EXACT unlearning: negate the forgotten vectors' (n, s1, s2) and
    * fold — post-unlearn store ≡ recompute on survivors bit-for-bit.
    * s1 is a true signed quantity (embedding components are negative),
    * so it is declared `signedSums` and exempt from the tripwire; a
    * negative n_vecs or s2 still aborts the swing (rows never folded
    * in), which is the corruption signal that matters. */
  def unlearnEmbStatsBatch(vecs: DataFrame, tableDir: String, id: Long,
      labelCol: String = "label", embCol: String = "embedding"): Unit =
    embStatsFoldBatch(vecs, tableDir, id, labelCol, embCol, unlearn = true)

  /** Exact centroids served off one pinned store version. */
  def centroidFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame =
    graft.operators.EmbStats.centroidFromStats(
      graft.operators.Lakehouse.readCurrent(spark, tableDir, "dims"))

  /** Exact per-class dispersion served off one pinned store version. */
  def dispersionFromStore(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame =
    graft.operators.EmbStats.dispersionFromStats(
      graft.operators.Lakehouse.readCurrent(spark, tableDir, "dims"))
}
