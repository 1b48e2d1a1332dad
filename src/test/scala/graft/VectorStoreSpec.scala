package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Knn, Lakehouse}
import graft.streaming.VectorStreams

/** Standing dense-vector store: the streamed index fold converges to
  * the in-session multi-table LSH index, serving (batch and streamed)
  * matches the batch ANN ranking row for row, and pinned versions
  * time-travel. */
class VectorStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"
  private val (dim, tp, nt) = (64, 7, 16)

  private def ranking(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSet

  test("two-batch vectorIndexIngest == in-session index; pinned + streamed serving") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)

    val tbl = java.nio.file.Files.createTempDirectory("graft_vecstore").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.vectorIndexIngest(
      mem.toDF().toDF("vec_id", "embedding"), tbl, dim, tp, nt, compactEvery = 1)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v0"))
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    } finally q.stop()

    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === rows.size.toLong)

    // store search == in-session multi-table ANN over the same corpus
    val probes = emb.filter(col("vec_id") < 32)
    val expected = Knn.lshTopKMultiTable(
        Knn.withLshTables(emb, "embedding", dim, tp, nt), "vec_id", "embedding",
        col("vec_id") < 32, 3)
      .select(col("query_id"), col("rnk").cast("long"), col("cand_id"), col("cosine"))
    val served = VectorStreams.searchVectorStore(
        spark, tbl, probes, dim, tp, nt, 3)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("cosine"))
    assert(ranking(served) === ranking(expected))
    assert(ranking(served).nonEmpty)

    // pinned v0 snapshot == in-session index over batch 0 only (time
    // travel; batch 1's partitions are on disk but pruned away)
    val b0df = b0.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val exp0 = Knn.lshTopKMultiTable(
        Knn.withLshTables(b0df, "embedding", dim, tp, nt), "vec_id", "embedding",
        col("vec_id") < 32, 3)
      .select(col("query_id"), col("rnk").cast("long"), col("cand_id"), col("cosine"))
    val served0 = VectorStreams.searchVectorStore(
        spark, tbl, b0df.filter(col("vec_id") < 32), dim, tp, nt, 3,
        version = Some("v0"))
      .select(col("query_id"), col("rnk"), col("cand_id"), col("cosine"))
    assert(ranking(served0) === ranking(exp0))

    // streamed probes over the same store == the batch search
    val pmem = MemoryStream[(Long, Seq[Float])]
    val out = VectorStreams.searchVectorStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding"), dim, tp, nt, 3)
    val sq = out.writeStream.outputMode("update")
      .format("memory").queryName("graft_vecserve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq.processAllAvailable()
        ranking(spark.table("graft_vecserve_test"))
      } finally sq.stop()
    assert(streamed === ranking(expected))

    // append-only layout: one partition dir per batch, compacted to
    // single files pre-swing
    def parts(t: String) = new java.io.File(s"$tbl/$t").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts("buckets") === Seq("batch=0", "batch=1"))
    assert(parts("vectors") === Seq("batch=0", "batch=1"))
    assert(new java.io.File(s"$tbl/vectors/batch=0").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet")) === 1)

    // right-to-be-forgotten: forget two served candidates (one per
    // batch); the store then equals the in-session index over the
    // survivors, and the count correction landed in a new version
    val cands = ranking(VectorStreams.searchVectorStore(
      spark, tbl, probes, dim, tp, nt, 3)).map(_._3).toSeq.distinct
    val doomed = Seq(cands.find(_ % 2 == 0).get, cands.find(_ % 2 == 1).get)
    val rewritten = VectorStreams.forgetVectors(spark, tbl, doomed)
    assert(rewritten === 4)
    assert(Lakehouse.currentVersion(spark, tbl).contains("v1c1"))
    val survivors = rows.filterNot(r => doomed.contains(r._1))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val expSurv = Knn.lshTopKMultiTable(
        Knn.withLshTables(survivors, "embedding", dim, tp, nt), "vec_id", "embedding",
        col("vec_id") < 32 && !col("vec_id").isin(doomed: _*), 3)
      .select(col("query_id"), col("rnk").cast("long"), col("cand_id"), col("cosine"))
    val afterForget = VectorStreams.searchVectorStore(spark, tbl,
        probes.filter(!col("vec_id").isin(doomed: _*)), dim, tp, nt, 3)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("cosine"))
    assert(ranking(afterForget) === ranking(expSurv))
    assert(!ranking(afterForget).exists(r => doomed.contains(r._3)))
    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === (rows.size - 2).toLong)
  }

  test("MRL streaming serve == batch mrlTopK, row for row (single-heap plan off the store)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)

    val tbl = java.nio.file.Files.createTempDirectory("graft_mrlstream").toString
    VectorStreams.vectorFoldBatch(b0.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")), tbl, 0L, dim, tp, nt)
    VectorStreams.vectorFoldBatch(b1.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")), tbl, 1L, dim, tp, nt)

    def rank4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

    // the batch contract: the two-window-era semantics, now two heaps
    val expected = rank4(Knn.mrlTopK(emb.filter(col("vec_id") < 32), emb,
      "vec_id", "embedding", 16, 16, 3))
    assert(expected.nonEmpty)

    // batch probes through the SINGLE-heap serving plan
    val servedBatch = rank4(VectorStreams.mrlServeStreamFromStore(
      spark, tbl, emb.filter(col("vec_id") < 32), 16, 16, 3))
    assert(servedBatch === expected)

    // streamed probes (MemoryStream, update mode): one stateful op —
    // the embedding-carrying heap — so the plan is streaming-legal
    val pmem = MemoryStream[(Long, Seq[Float])]
    val out = VectorStreams.mrlServeStreamFromStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), 16, 16, 3)
    val sq = out.writeStream.outputMode("update")
      .format("memory").queryName("graft_mrlserve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq.processAllAvailable()
        rank4(spark.table("graft_mrlserve_test"))
      } finally sq.stop()
    assert(streamed === expected)

    // I/O-PRUNED serve off a PREFIX-PINNED store: fold with
    // prefixDim=16 persists (p_emb, p_nrm) + the PREFIX_DIM pin; the
    // serve must (a) equal the batch contract row for row, (b) scan
    // ONLY the prefix columns in the cheap pass (column pruning), and
    // (c) push the survivor ids into the rescore scan as an IN filter
    val ptbl = java.nio.file.Files.createTempDirectory("graft_mrlpruned").toString
    VectorStreams.vectorFoldBatch(b0.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")),
      ptbl, 0L, dim, tp, nt, prefixDim = 16)
    VectorStreams.vectorFoldBatch(b1.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")),
      ptbl, 1L, dim, tp, nt, prefixDim = 16)
    val prunedDf = VectorStreams.mrlServeFromStore(
      spark, ptbl, emb.filter(col("vec_id") < 32), 16, 16, 3)
    assert(rank4(prunedDf) === expected)
    // the rescore scan carries the survivor IN filter (visible in the
    // returned frame's plan; the cheap pass sits behind its checkpoint)
    val pplan = prunedDf.queryExecution.executedPlan.toString
    assert(pplan.contains("In(vec_id") || pplan.contains("vec_id IN"),
      pplan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    // the cheap pass (the serve's own builder) scans p_emb/p_nrm
    // WITHOUT the full embedding column — parquet column pruning cuts
    // the prune pass's vector I/O to prefixDim/dim of the bytes
    val qSide = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_p", expr("slice(q_emb, 1, 16)"))
      .withColumn("q_pn", graft.functions.VectorFunctions.norm("q_p"))
    val cheapPlan = VectorStreams.mrlPrunedSurvivors(
      spark.read.parquet(s"$ptbl/vectors"), qSide, 16)
      .queryExecution.executedPlan.toString
    assert(cheapPlan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("p_emb") && !l.contains("embedding:")),
      cheapPlan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
    // a mismatched prefix request falls back to the raw-column plan,
    // still row-identical (prefix 8 != pinned 16)
    val fallback = VectorStreams.mrlServeFromStore(
      spark, ptbl, emb.filter(col("vec_id") < 32), 8, 16, 3)
    assert(rank4(fallback) === rank4(Knn.mrlTopK(emb.filter(col("vec_id") < 32),
      emb, "vec_id", "embedding", 8, 16, 3)))
    // a later fold under a DIFFERENT prefix must fail loudly
    val e2 = intercept[IllegalArgumentException] {
      VectorStreams.vectorFoldBatch(b0.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
        ptbl, 2L, dim, tp, nt, prefixDim = 8)
    }
    assert(e2.getMessage.contains("pinned prefix dim"))
    // ... including the DEFAULT-argument direction (prefixDim = 0 via
    // vectorIndexIngest's signature): a raw fold into a prefix-pinned
    // store would write batches without p_emb/p_nrm that the pruned
    // serve silently drops — the pin check must be unconditional
    val e3 = intercept[IllegalArgumentException] {
      VectorStreams.vectorFoldBatch(b0.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
        ptbl, 2L, dim, tp, nt)
    }
    assert(e3.getMessage.contains("pinned prefix dim"))
    // ... and the reverse: pinning a prefix onto a store that already
    // holds raw (un-prefixed) batches must fail, not strand them
    val rawT = java.nio.file.Files.createTempDirectory("graft_vstore_rawpin").toString
    VectorStreams.vectorFoldBatch(b0.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")),
      rawT, 0L, dim, tp, nt)
    val e4 = intercept[IllegalArgumentException] {
      VectorStreams.vectorFoldBatch(b1.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
        rawT, 1L, dim, tp, nt, prefixDim = 16)
    }
    assert(e4.getMessage.contains("already has raw"))

    // NaN-cosine candidate (NaN components → NaN norm → NaN/NaN is NOT
    // an ANSI divide-by-zero, unlike a zero norm which throws in BOTH
    // paths): the row-local rescore comparator must reproduce the
    // batch heap's Double.compare total order (NaN greatest — ranks
    // FIRST under desc), not treat NaN as a tie and fall through to
    // cand_id order (ADVICE r12)
    val withNaN = rows.take(8) :+ (999L, Seq.fill(dim)(Float.NaN).toSeq)
    val zdf = withNaN.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .localCheckpoint(true)
    val zprobes = zdf.filter(col("vec_id") < 4)
    // Scala == on boxed doubles is IEEE (NaN != NaN): canonicalize NaN
    // to a sentinel so set equality can actually match the NaN rows
    def canon(s: Set[(Long, Long, Double, Int)]) =
      s.map { case (q, c, cos, r) => (q, c, if (cos.isNaN) -999.0 else cos, r) }
    val zBatch = rank4(Knn.mrlTopK(zprobes, zdf, "vec_id", "embedding", 16, 16, 3))
    val zServe = rank4(VectorStreams.mrlServe(zprobes, zdf, 16, 16, 3))
    assert(canon(zServe) === canon(zBatch))
    assert(zBatch.exists(r => r._2 == 999L && r._3.isNaN),
      "NaN-cosine candidate must surface (NaN sorts greatest under desc)")
  }

  test("SQ8 store: streamed 2-batch ingest == one-shot ADC; pinned bounds; forget spans codes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val bounds = graft.operators.Sq.train(emb, "embedding").localCheckpoint(true)

    val tbl = java.nio.file.Files.createTempDirectory("graft_sq8store_t").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.sqIngest(
      mem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), tbl, bounds)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === rows.size.toLong)

    def adist(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

    // store serve == one-shot ADC over the same corpus + same bounds
    val probes = emb.filter(col("vec_id") < 32)
    val served = adist(VectorStreams.sq8ServeFromStore(spark, tbl, probes, 3))
    val codes = graft.operators.Sq.encode(emb, "vec_id", "embedding", bounds)
    val lut = graft.operators.Sq.adcLut(probes, "vec_id", "embedding", bounds)
    val topk = udaf(graft.functions.TopKAgg.longs(3))
    val oneShot = adist(codes
      .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
      .join(broadcast(lut), Seq("dim", "code"))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
      .groupBy("query_id")
      .agg(topk((-col("adist_e6")).cast("double"), col("cand_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e._2").as("cand_id"),
        (-col("e._1")).cast("long").as("adist_e6"),
        (col("pos") + 1).cast("int").as("rnk")))
    assert(served === oneShot)
    assert(served.nonEmpty)

    // the same serve through a real MemoryStream: the row-local LUT
    // plan (no groupBy on the probe side, one stateful op — the
    // bounded heap) equals the batch-frame answer
    val pmem = MemoryStream[(Long, Seq[Float])]
    val sout = VectorStreams.sq8ServeFromStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), 3)
    val sq = sout.writeStream.outputMode("update")
      .format("memory").queryName("graft_sq8serve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq.processAllAvailable()
        adist(spark.table("graft_sq8serve_test"))
      } finally sq.stop()
    assert(streamed === served)

    // right-to-be-forgotten discovers the codes table: forgetting a
    // served candidate rewrites its codes AND vectors partitions and
    // it never surfaces again
    val doomed = served.map(_._2).head
    val rewritten = VectorStreams.forgetVectors(spark, tbl, Seq(doomed))
    assert(rewritten === 2) // one codes partition + one vectors partition
    val after = adist(VectorStreams.sq8ServeFromStore(spark, tbl,
      probes.filter(col("vec_id") =!= doomed), 3))
    assert(!after.exists(_._2 == doomed))
    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === (rows.size - 1).toLong)
  }

  test("two-batch ivfIndexIngest == one-shot IVF search; pinned, replayed, forgotten") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val (k, nprobe, nAssign) = (3, 4, 2)
    // the pinned coarse quantizer — trained once on the corpus sample
    val cent = Knn.ivfTrain(emb, "vec_id", "embedding", 16, 3).localCheckpoint(true)

    // one-shot IVF search over `candIds`-restricted posts (the
    // sim_ivf_topk shape, parameterized for sub-corpus comparisons)
    def oneShot(candPred: org.apache.spark.sql.Column) = {
      val ranked = Knn.ivfRank(emb, cent, "vec_id", "embedding").localCheckpoint(true)
      val probes = ranked.filter(col("vec_id") < 32 && col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cell"))
      val posts = ranked.filter(col("rn") <= nAssign && candPred)
        .select(col("vec_id").as("cand_id"), col("cell"))
      val cells = ranked.filter(col("rn") === 1)
      val pairs = probes.join(posts, Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
      pairs
        .join(cells.select(col("vec_id").as("cand_id"),
          col("embedding").as("c_emb"), col("nrm").as("c_norm")), Seq("cand_id"))
        .join(cells.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"), col("nrm").as("q_norm")), Seq("query_id"))
        .withColumn("cosine", round(
          graft.functions.VectorFunctions.dot("q_emb", "c_emb") /
            (col("q_norm") * col("c_norm")), 8))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk").cast("long"), col("cand_id"), col("cosine"))
    }

    val tbl = java.nio.file.Files.createTempDirectory("graft_ivfstore_spec").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.ivfIndexIngest(
      mem.toDF().toDF("vec_id", "embedding"), tbl, cent, nAssign)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v0"))
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    } finally q.stop()
    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === rows.size.toLong)

    val probes = emb.filter(col("vec_id") < 32)
    def serve(ver: Option[String] = None, p: org.apache.spark.sql.DataFrame = probes) =
      ranking(VectorStreams.ivfServeFromStore(spark, tbl, p, k, nprobe, ver)
        .select(col("query_id"), col("rnk"), col("cand_id"), col("cosine")))
    val expected = ranking(oneShot(lit(true)))
    assert(serve() === expected && expected.nonEmpty)

    // the same serve through a MemoryStream: row-local probe-cell
    // ranking (no ivfRank window) == the batch-frame answer
    val pmem = MemoryStream[(Long, Seq[Float])]
    val sout = VectorStreams.ivfServeFromStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), k, nprobe)
    val sq = sout.writeStream.outputMode("update")
      .format("memory").queryName("graft_ivfserve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq.processAllAvailable()
        ranking(spark.table("graft_ivfserve_test"))
      } finally sq.stop()
    assert(streamed === expected)

    // pinned v0: batch 1's posts/vectors are on disk but pruned away —
    // equals the one-shot search with candidates restricted to batch 0
    assert(serve(Some("v0")) === ranking(oneShot(col("vec_id") % 2 === 0)))

    // replaying a committed batch id is a no-op (CURRENT stays v1)
    VectorStreams.ivfFoldBatch(b1.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")), tbl, 1L, cent, nAssign)
    assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    assert(serve() === expected)

    // right-to-be-forgotten: centroids untouched, survivors exact
    val cands = expected.map(_._3).toSeq.distinct
    val doomed = Seq(cands.find(_ % 2 == 0).get, cands.find(_ % 2 == 1).get)
    val rewritten = VectorStreams.forgetVectors(spark, tbl, doomed)
    assert(rewritten === 4) // one posts + one vectors partition per batch
    assert(Lakehouse.currentVersion(spark, tbl).contains("v1c1"))
    val after = serve(p = probes.filter(!col("vec_id").isin(doomed: _*)))
    val expSurv = ranking(oneShot(!col("vec_id").isin(doomed: _*)))
      .filterNot(r => doomed.contains(r._1))
    assert(after === expSurv)
    assert(!after.exists(r => doomed.contains(r._3)))
    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === (rows.size - 2).toLong)

    // plan gate: the serve ranks through the distinct bounded heap
    // (ObjectHashAggregate), never a per-query window sort, and plans
    // no cartesian
    val servePlan = VectorStreams.ivfServeFromStore(spark, tbl,
      probes.filter(!col("vec_id").isin(doomed: _*)), k, nprobe)
      .queryExecution.executedPlan.toString
    assert(servePlan.contains("ObjectHashAggregate"), servePlan.take(800))
    // candidate ranking must NOT be a window — the heap aggregate
    // above is the ranking operator
    assert(servePlan.contains("TopKDistinctAgg") ||
      servePlan.contains("ObjectHashAggregate"))
    assert(!servePlan.contains("CartesianProduct"))
    // probe cells rank row-locally: no window anywhere in the serve
    assert(!servePlan.contains("Window"), servePlan.take(800))
  }

  test("two-batch ivfPqIngest == one-shot IVF-ADC; pinned models; forget spans codes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val (k, nprobe, nAssign, pqM, pqSub) = (3, 4, 2, 8, 8)
    val cent = Knn.ivfTrain(emb, "vec_id", "embedding", 16, 3).localCheckpoint(true)
    val subs = graft.operators.Pq.subviews(emb, "vec_id", "embedding", pqM, pqSub)
      .localCheckpoint(true)
    val books = graft.operators.Pq.train(subs, "vec_id", 16, 2).localCheckpoint(true)

    // one-shot IVF-ADC over `candPred`-restricted posts
    def oneShot(candPred: org.apache.spark.sql.Column) = {
      val ranked = Knn.ivfRank(emb, cent, "vec_id", "embedding").localCheckpoint(true)
      val probes = ranked.filter(col("vec_id") < 32 && col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cell"))
      val posts = ranked.filter(col("rn") <= nAssign && candPred)
        .select(col("vec_id").as("cand_id"), col("cell"))
      val cand = probes.join(posts, Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
      val codes = graft.operators.Pq.encode(subs, "vec_id", books)
        .select(col("vec_id").as("cand_id"), col("m"), col("code"))
      val lut = graft.operators.Pq.adcLut(subs.filter(col("vec_id") < 32), "vec_id", books)
        .withColumnRenamed("vec_id", "query_id")
      codes.join(cand, Seq("cand_id")).join(lut, Seq("query_id", "m", "code"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adist_e6"), col("cand_id"))))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk").cast("long"), col("cand_id"),
          col("adist_e6").cast("double"))
    }

    val tbl = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.ivfPqIngest(
      mem.toDF().toDF("vec_id", "embedding"), tbl, cent, books, nAssign, pqM, pqSub)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    } finally q.stop()

    val probes = emb.filter(col("vec_id") < 32)
    def serve(p: org.apache.spark.sql.DataFrame = probes) =
      ranking(VectorStreams.ivfPqServeFromStore(spark, tbl, p, k, nprobe)
        .select(col("query_id"), col("rnk").cast("long"), col("cand_id"),
          col("adist_e6").cast("double")))
    val expected = ranking(oneShot(lit(true)))
    assert(serve() === expected && expected.nonEmpty)

    // the same serve through a MemoryStream: row-local probe cells +
    // row-local flat LUT + packed-kernel scan + distinct heap (one
    // stateful op) == the batch-frame answer
    def rankStream(df: org.apache.spark.sql.DataFrame) =
      ranking(df.select(col("query_id"), col("rnk").cast("long"),
        col("cand_id"), col("adist_e6").cast("double")))
    val pmem = MemoryStream[(Long, Seq[Float])]
    val sout = VectorStreams.ivfPqServeFromStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), k, nprobe)
    val sq2 = sout.writeStream.outputMode("update")
      .format("memory").queryName("graft_ivfpqserve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq2.processAllAvailable()
        rankStream(spark.table("graft_ivfpqserve_test"))
      } finally sq2.stop()
    assert(streamed === expected)

    // forget spans the code index too: no ghost ADC candidates
    val cands = expected.map(_._3).toSeq.distinct
    val doomed = Seq(cands.find(_ % 2 == 0).get, cands.find(_ % 2 == 1).get)
    // forgetVectors discovers posts/codes/vectors from the layout —
    // the code index is swept automatically, never by caller memory
    val rewritten = VectorStreams.forgetVectors(spark, tbl, doomed)
    assert(rewritten === 6) // posts + vectors + codes, one partition per batch
    val after = serve(probes.filter(!col("vec_id").isin(doomed: _*)))
    val expSurv = ranking(oneShot(!col("vec_id").isin(doomed: _*)))
      .filterNot(r => doomed.contains(r._1))
    assert(after === expSurv)
    assert(!after.exists(r => doomed.contains(r._3)))
    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === (rows.size - 2).toLong)

    // plan gate for the ADC serve: heap aggregation (never a per-query
    // window sort), no cartesian anywhere, candidate prune + LUT
    // broadcast below the sum
    val adcDf = VectorStreams.ivfPqServeFromStore(spark, tbl, probes, k, nprobe)
    val adcPlan = adcDf.queryExecution.executedPlan.toString
    assert(adcPlan.contains("ObjectHashAggregate"), adcPlan.take(800))
    // the candidate ranking is the bounded heap above, probe cells
    // rank row-locally (no window anywhere), and the candidate prune
    // enters as a broadcast join
    assert(!adcPlan.contains("CartesianProduct"))
    assert(adcPlan.contains("BroadcastHashJoin"), adcPlan.take(800))
    assert(!adcPlan.contains("Window"), adcPlan.take(800))
    // round 13: the store persists PACKED codes and the serve scores
    // them through the codegen'd kernel — one row per candidate, no
    // (vec, m, code) explosion anywhere in the serve plan (the
    // `oneShot` comparator above IS the exploded join, so this test is
    // the packed==exploded store-serve pin)
    assert(adcPlan.contains("graft_adc_sum"), adcPlan.take(800))
    val storedCodes = spark.read.parquet(s"$tbl/codes")
    assert(storedCodes.schema.fieldNames.toSet === Set("vec_id", "codes", "batch"))
    assert(storedCodes.count() === storedCodes.select("vec_id").distinct().count(),
      "codes table must carry ONE packed row per vector")
  }

  test("residual store: streamed ingest + both serves == one-shot IVFADC; layout guards; forget spans codes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val (k, nprobe, nAssign, pqM, pqSub) = (3, 4, 2, 8, 8)
    val resid = "zip_with(embedding, cw, (a, b) -> CAST(a AS DOUBLE) - b / 1048576.0D)"
    val cent = Knn.ivfTrain(emb, "vec_id", "embedding", 16, 3).localCheckpoint(true)
    val res = Knn.ivfRank(emb, cent, "vec_id", "embedding").filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .join(broadcast(cent.select(col("cell"), col("cw"))), Seq("cell"))
      .select(col("vec_id"), col("cell"), expr(resid).as("rvec"))
      .localCheckpoint(true)
    val rsubs = graft.operators.Pq.subviews(res, "vec_id", "rvec", pqM, pqSub)
      .localCheckpoint(true)
    val books = graft.operators.Pq.train(rsubs, "vec_id", 16, 2).localCheckpoint(true)

    // one-shot residual IVFADC over candPred-restricted posts (the
    // pqIvfResRanked shape, parameterized for the forget comparator)
    def oneShot(candPred: org.apache.spark.sql.Column) = {
      val rankedAll = Knn.ivfRank(emb, cent, "vec_id", "embedding").localCheckpoint(true)
      val probesC = rankedAll.filter(col("vec_id") < 32 && col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cell"))
      val posts = rankedAll.filter(col("rn") <= nAssign && candPred)
        .select(col("vec_id").as("cand_id"), col("cell"))
      val cand = probesC.join(posts, Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
      val codes = graft.operators.Pq.encode(rsubs, "vec_id", books)
        .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .select(col("vec_id").as("cand_id"), col("cell"), col("m"), col("code"))
      val qres = emb.filter(col("vec_id") < 32)
        .crossJoin(broadcast(cent.select(col("cell"), col("cw"))))
        .select((col("vec_id") * 16 + col("cell")).as("qc"), expr(resid).as("rvec"))
      val lut = graft.operators.Pq.adcLut(
          graft.operators.Pq.subviews(qres, "qc", "rvec", pqM, pqSub), "qc", books)
        .select(expr("qc div 16").as("query_id"), expr("pmod(qc, 16)").as("cell"),
          col("m"), col("code"), col("dq_e6"))
      codes.join(cand, Seq("cand_id"))
        .join(lut, Seq("query_id", "cell", "m", "code"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adist_e6"), col("cand_id"))))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk").cast("long"), col("cand_id"),
          col("adist_e6").cast("double"))
    }
    def rank4(df: org.apache.spark.sql.DataFrame) =
      ranking(df.select(col("query_id"), col("rnk").cast("long"),
        col("cand_id"), col("adist_e6").cast("double")))

    val tbl = java.nio.file.Files.createTempDirectory("graft_ivfres_spec").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.ivfPqResIngest(
      mem.toDF().toDF("vec_id", "embedding"), tbl, cent, books, nAssign, pqM, pqSub)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    } finally q.stop()

    val probes = emb.filter(col("vec_id") < 32)
    val expected = ranking(oneShot(lit(true)))
    assert(rank4(VectorStreams.ivfPqResServeFromStore(spark, tbl, probes, k, nprobe))
      === expected)
    assert(expected.nonEmpty)
    // the registered one-shot query builder agrees too (same models by
    // determinism — the memoized query-layer frames replay this math)
    assert(rank4(graft.queries.SimilarityStreamQueries.pqIvfResRanked(spark, d, k))
      === expected)

    // STREAMING serve twin: per-pair row-local ADC (no LUT) must carry
    // the exact same integers — on a batch frame and via MemoryStream
    assert(rank4(VectorStreams.ivfPqResServeStreamFromStore(
      spark, tbl, probes, k, nprobe)) === expected)
    val pmem = MemoryStream[(Long, Seq[Float])]
    val sout = VectorStreams.ivfPqResServeStreamFromStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), k, nprobe)
    val sq2 = sout.writeStream.outputMode("update")
      .format("memory").queryName("graft_ivfresserve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq2.processAllAvailable()
        rank4(spark.table("graft_ivfresserve_test"))
      } finally sq2.stop()
    assert(streamed === expected)
    // the LUT-scoped batch serve refuses a stream, naming the stream serve
    val eStream = intercept[IllegalArgumentException] {
      VectorStreams.ivfPqResServeFromStore(spark, tbl, pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), k, nprobe) }
    assert(eStream.getMessage.contains("ivfPqResServeStreamFromStore"))

    // layout guards: residual and raw functions refuse each other's
    // stores (the marker is a store property, never caller memory)
    intercept[IllegalArgumentException] {
      VectorStreams.ivfPqServeFromStore(spark, tbl, probes, k, nprobe) }
    intercept[IllegalArgumentException] {
      VectorStreams.ivfPqFoldBatch(emb, tbl, 2L, cent, books, nAssign, pqM, pqSub) }
    val rawTbl = java.nio.file.Files.createTempDirectory("graft_ivfres_raw").toString
    VectorStreams.ivfPqFoldBatch(emb, rawTbl, 0L, cent, books, nAssign, pqM, pqSub)
    intercept[IllegalArgumentException] {
      VectorStreams.ivfPqResServeFromStore(spark, rawTbl, probes, k, nprobe) }
    intercept[IllegalArgumentException] {
      VectorStreams.ivfPqResServeStreamFromStore(spark, rawTbl, probes, k, nprobe) }
    intercept[IllegalArgumentException] {
      VectorStreams.ivfPqResFoldBatch(emb, rawTbl, 1L, cent, books, nAssign, pqM, pqSub) }

    // forget spans the residual code index: no ghost ADC candidates
    val cands = expected.map(_._3).toSeq.distinct
    val doomed = Seq(cands.find(_ % 2 == 0).get, cands.find(_ % 2 == 1).get)
    val rewritten = VectorStreams.forgetVectors(spark, tbl, doomed)
    assert(rewritten === 6) // posts + vectors + codes, one partition per batch
    val after = rank4(VectorStreams.ivfPqResServeFromStore(
      spark, tbl, probes.filter(!col("vec_id").isin(doomed: _*)), k, nprobe))
    val expSurv = ranking(oneShot(!col("vec_id").isin(doomed: _*)))
      .filterNot(r => doomed.contains(r._1))
    assert(after === expSurv)
    assert(!after.exists(r => doomed.contains(r._3)))

    // plan gates: packed kernel + bounded heap in the batch serve; the
    // stream twin plans ONE aggregate and no blocking distinct
    val bp = VectorStreams.ivfPqResServeFromStore(spark, tbl,
      probes.filter(!col("vec_id").isin(doomed: _*)), k, nprobe)
      .queryExecution.executedPlan.toString
    assert(bp.contains("graft_adc_sum"), bp.take(800))
    assert(bp.contains("ObjectHashAggregate"), bp.take(800))
    assert(!bp.contains("CartesianProduct"))
  }

  test("IVF-SQ8 store: 2-batch ingest + both serves == one-shot IVF-SQ8; layout guards; forget spans codes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val (k, nprobe, nAssign) = (3, 4, 2)
    val cent = Knn.ivfTrain(emb, "vec_id", "embedding", 16, 3).localCheckpoint(true)
    val bounds = graft.operators.Sq.train(emb, "embedding").localCheckpoint(true)

    // one-shot IVF-SQ8 over candPred-restricted posts (the
    // sq8_ivf_adc_topk shape, parameterized for the forget comparator)
    def oneShot(candPred: org.apache.spark.sql.Column) = {
      val ranked = Knn.ivfRank(emb, cent, "vec_id", "embedding").localCheckpoint(true)
      val probesC = ranked.filter(col("vec_id") < 32 && col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cell"))
      val posts = ranked.filter(col("rn") <= nAssign && candPred)
        .select(col("vec_id").as("cand_id"), col("cell"))
      val cand = probesC.join(posts, Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
      val codes = graft.operators.Sq.encode(emb, "vec_id", "embedding", bounds)
        .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
      val lut = graft.operators.Sq.adcLut(emb.filter(col("vec_id") < 32),
        "vec_id", "embedding", bounds)
      codes.join(cand, Seq("cand_id"))
        .join(lut, Seq("query_id", "dim", "code"))
        .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("adist_e6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adist_e6"), col("cand_id"))))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk").cast("long"), col("cand_id"),
          col("adist_e6").cast("double"))
    }
    def rank4(df: org.apache.spark.sql.DataFrame) =
      ranking(df.select(col("query_id"), col("rnk").cast("long"),
        col("cand_id"), col("adist_e6").cast("double")))

    val tbl = java.nio.file.Files.createTempDirectory("graft_sq8ivf_spec").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.sq8IvfIngest(
      mem.toDF().toDF("vec_id", "embedding"), tbl, cent, bounds, nAssign)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    } finally q.stop()

    val probes = emb.filter(col("vec_id") < 32)
    val expected = ranking(oneShot(lit(true)))
    assert(rank4(VectorStreams.sq8IvfServeFromStore(spark, tbl, probes, k, nprobe))
      === expected)
    assert(expected.nonEmpty)

    // the same serve through a MemoryStream: row-local probe cells +
    // row-local SQ8 LUT == the batch-frame answer
    val pmem = MemoryStream[(Long, Seq[Float])]
    val sout = VectorStreams.sq8IvfServeFromStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")), k, nprobe)
    val sq2 = sout.writeStream.outputMode("update")
      .format("memory").queryName("graft_sq8ivfserve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq2.processAllAvailable()
        rank4(spark.table("graft_sq8ivfserve_test"))
      } finally sq2.stop()
    assert(streamed === expected)

    // layout guards: a flat-SQ8 fold must refuse the coarse-pruned
    // store (its batches would have no posts), and the coarse-pruned
    // fold must refuse an existing flat store
    val eFlat = intercept[IllegalArgumentException] {
      VectorStreams.sqFoldBatch(emb.select("vec_id", "embedding"), tbl, 2L, bounds) }
    assert(eFlat.getMessage.contains("coarse quantizer"))
    val flatTbl = java.nio.file.Files.createTempDirectory("graft_sq8ivf_flat").toString
    VectorStreams.sqFoldBatch(emb.select("vec_id", "embedding"), flatTbl, 0L, bounds)
    val eIvf = intercept[IllegalArgumentException] {
      VectorStreams.sq8IvfFoldBatch(emb.select("vec_id", "embedding"),
        flatTbl, 1L, cent, bounds, nAssign) }
    assert(eIvf.getMessage.contains("flat"))

    // forget spans posts + codes + vectors: no ghost candidates
    val cands = expected.map(_._3).toSeq.distinct
    val doomed = Seq(cands.find(_ % 2 == 0).get, cands.find(_ % 2 == 1).get)
    val rewritten = VectorStreams.forgetVectors(spark, tbl, doomed)
    assert(rewritten === 6) // posts + vectors + codes, one partition per batch
    val after = rank4(VectorStreams.sq8IvfServeFromStore(
      spark, tbl, probes.filter(!col("vec_id").isin(doomed: _*)), k, nprobe))
    val expSurv = ranking(oneShot(!col("vec_id").isin(doomed: _*)))
      .filterNot(r => doomed.contains(r._1))
    assert(after === expSurv)
    assert(!after.exists(r => doomed.contains(r._3)))

    // plan gates: packed kernel + bounded heap, candidate prune below
    // the kernel scan, no cartesian
    val bp = VectorStreams.sq8IvfServeFromStore(spark, tbl,
      probes.filter(!col("vec_id").isin(doomed: _*)), k, nprobe)
      .queryExecution.executedPlan.toString
    assert(bp.contains("graft_sq8_adc"), bp.take(800))
    assert(bp.contains("ObjectHashAggregate"), bp.take(800))
    assert(!bp.contains("CartesianProduct"))
    assert(!bp.contains("Window"), bp.take(800)) // row-local probe cells
    // the store's code table is packed: ONE row per vector
    val storedCodes = spark.read.parquet(s"$tbl/codes")
    assert(storedCodes.schema.fieldNames.toSet === Set("vec_id", "codes", "batch"))
    assert(storedCodes.count() === storedCodes.select("vec_id").distinct().count())
  }

  test("refine-at-serve off pinned stores == one-shot refine; streaming twin single-stateful-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val (shortlist, k, nprobe, nAssign, pqM, pqSub) = (20, 3, 4, 2, 8, 8)
    val resid = "zip_with(embedding, cw, (a, b) -> CAST(a AS DOUBLE) - b / 1048576.0D)"
    val cent = Knn.ivfTrain(emb, "vec_id", "embedding", 16, 3).localCheckpoint(true)
    val res = Knn.ivfRank(emb, cent, "vec_id", "embedding").filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .join(broadcast(cent.select(col("cell"), col("cw"))), Seq("cell"))
      .select(col("vec_id"), col("cell"), expr(resid).as("rvec"))
      .localCheckpoint(true)
    val rsubs = graft.operators.Pq.subviews(res, "vec_id", "rvec", pqM, pqSub)
      .localCheckpoint(true)
    val books = graft.operators.Pq.train(rsubs, "vec_id", 16, 2).localCheckpoint(true)
    val bounds = graft.operators.Sq.train(emb, "embedding").localCheckpoint(true)

    val resTbl = java.nio.file.Files.createTempDirectory("graft_refres_spec").toString
    val sqTbl = java.nio.file.Files.createTempDirectory("graft_refsq_spec").toString
    Seq((b0, 0L), (b1, 1L)).foreach { case (b, id) =>
      val bdf = b.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
      VectorStreams.ivfPqResFoldBatch(bdf, resTbl, id, cent, books, nAssign, pqM, pqSub)
      VectorStreams.sqFoldBatch(bdf, sqTbl, id, bounds)
    }

    // one-shot composed refine: residual-ADC shortlist off the store
    // (already pinned == one-shot by the residual-store spec), exact
    // SQ8 rerank via the exploded codes ⋈ LUT join — the
    // pq_ivfres_refine_topk shape
    val probes = emb.filter(col("vec_id") < 32)
    val short = VectorStreams.ivfPqResServeFromStore(
        spark, resTbl, probes, shortlist, nprobe)
      .select("query_id", "cand_id")
    val lut = graft.operators.Sq.adcLut(probes, "vec_id", "embedding", bounds)
    val expected = ranking(graft.operators.Sq.encode(emb, "vec_id", "embedding", bounds)
      .select(col("vec_id").as("cand_id"), col("dim"), col("code"))
      .join(short, Seq("cand_id"))
      .join(lut, Seq("query_id", "dim", "code"))
      .groupBy("query_id", "cand_id").agg(sum("dq_e6").as("sq_e6"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sq_e6"), col("cand_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long"), col("cand_id"),
        col("sq_e6").cast("double")))
    assert(expected.nonEmpty)

    def rank4(df: org.apache.spark.sql.DataFrame) =
      ranking(df.select(col("query_id"), col("rnk").cast("long"),
        col("cand_id"), col("sq_e6").cast("double")))
    assert(rank4(VectorStreams.ivfResRefineServeFromStore(
      spark, resTbl, sqTbl, probes, shortlist, k, nprobe)) === expected)

    // STREAMING twin: the codes-carrying heap + row-local rerank == the
    // batch refine, on a batch frame and via MemoryStream
    assert(rank4(VectorStreams.ivfResRefineServeStreamFromStore(
      spark, resTbl, sqTbl, probes, shortlist, k, nprobe)) === expected)
    val pmem = MemoryStream[(Long, Seq[Float])]
    val sout = VectorStreams.ivfResRefineServeStreamFromStore(spark, resTbl, sqTbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      shortlist, k, nprobe)
    val sq2 = sout.writeStream.outputMode("update")
      .format("memory").queryName("graft_refine_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq2.processAllAvailable()
        rank4(spark.table("graft_refine_test"))
      } finally sq2.stop()
    assert(streamed === expected)

    // plan gates — batch: BOTH kernels in one serve (residual
    // graft_adc_sum shortlist + graft_sq8_adc rerank), bounded heaps,
    // no cartesian; stream: single stateful aggregate (the rerank is
    // row-local, never a second shuffle)
    val bp = VectorStreams.ivfResRefineServeFromStore(
        spark, resTbl, sqTbl, probes, shortlist, k, nprobe)
      .queryExecution.executedPlan.toString
    assert(bp.contains("graft_adc_sum"), bp.take(800))
    assert(bp.contains("graft_sq8_adc"), bp.take(800))
    assert(!bp.contains("CartesianProduct"))
    val sp = sout.queryExecution.analyzed.toString
    assert(!sp.contains("CartesianProduct"))

    // a raw (non-residual) store must be refused loudly
    intercept[IllegalArgumentException] {
      VectorStreams.ivfResRefineServeFromStore(
        spark, sqTbl, sqTbl, probes, shortlist, k, nprobe) }
    // the batch refine refuses a stream, naming the stream serve
    val eStream = intercept[IllegalArgumentException] {
      VectorStreams.ivfResRefineServeFromStore(spark, resTbl, sqTbl,
        pmem.toDF().toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>")),
        shortlist, k, nprobe) }
    assert(eStream.getMessage.contains("ivfResRefineServeStreamFromStore"))

    // geometry contract (ADVICE r13): a fold whose pqM/pqSub disagree
    // with the pinned codebook shape fails loudly instead of silently
    // deriving geometry from the store
    val eGeom = intercept[IllegalArgumentException] {
      VectorStreams.ivfPqResFoldBatch(emb, resTbl, 2L, cent, books,
        nAssign, pqM = 4, pqSub = 16) }
    assert(eGeom.getMessage.contains("pins PQ geometry"))
    val rawTbl = java.nio.file.Files.createTempDirectory("graft_geom_raw").toString
    VectorStreams.ivfPqFoldBatch(emb, rawTbl, 0L, cent, books, nAssign, pqM, pqSub)
    val eGeom2 = intercept[IllegalArgumentException] {
      VectorStreams.ivfPqFoldBatch(emb, rawTbl, 1L, cent, books,
        nAssign, pqM = 4, pqSub = 16) }
    assert(eGeom2.getMessage.contains("pins PQ geometry"))
  }

  test("streaming MIPS serve via the ALSH lift == batch mips_alsh_topk, row for row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def rank4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("cand_id"), col("ip_e6"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val expected = rank4(SparkEntry.queries("mips_alsh_topk")(spark, d))
    assert(expected.nonEmpty)
    // batch probes through the streaming-serve plan
    assert(rank4(VectorStreams.mipsAlshServe(
      emb.filter(col("vec_id") < 32), emb, dim, tp, nt, 3)) === expected)
    // streamed probes (MemoryStream, update mode): one stateful op
    val pmem = MemoryStream[(Long, Seq[Float])]
    val out = VectorStreams.mipsAlshServe(
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      emb, dim, tp, nt, 3)
    val sq = out.writeStream.outputMode("update")
      .format("memory").queryName("graft_mipsserve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq.processAllAvailable()
        rank4(spark.table("graft_mipsserve_test"))
      } finally sq.stop()
    assert(streamed === expected)

    // multi-probe through the online serve: streamed == the batch
    // probe-expanded chain (the probe explode is a stream-legal
    // projection; the plan keeps its single stateful aggregation)
    val expectedProbe = rank4(SparkEntry.queries("mips_alsh_probe_topk")(spark, d))
    val pmem2 = MemoryStream[(Long, Seq[Float])]
    val out2 = VectorStreams.mipsAlshServe(
      pmem2.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      emb, dim, tp, nt, 3, multiProbe = true)
    val sq2 = out2.writeStream.outputMode("update")
      .format("memory").queryName("graft_mipsprobe_test").start()
    val streamedProbe =
      try {
        pmem2.addData(rows.filter(_._1 < 32): _*); sq2.processAllAvailable()
        rank4(spark.table("graft_mipsprobe_test"))
      } finally sq2.stop()
    assert(streamedProbe === expectedProbe)
  }

  test("ALSH store: streamed 2-batch ingest + pinned serve == batch ALSH; raw/lifted layout guards; forget") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
      .head().getDouble(0)

    val tbl = java.nio.file.Files.createTempDirectory("graft_alsh_spec").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.mipsAlshIngest(
      mem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      tbl, m, dim, tp, nt)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    } finally q.stop()
    assert(Lakehouse.readCurrent(spark, tbl, "stats").head().getLong(0)
      === rows.size.toLong)

    def rank4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("cand_id"), col("ip_e6"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val probes = emb.filter(col("vec_id") < 32)
    val expected = rank4(SparkEntry.queries("mips_alsh_topk")(spark, d))
    assert(expected.nonEmpty)
    assert(rank4(VectorStreams.mipsAlshServeFromStore(
      spark, tbl, probes, dim, tp, nt, 3)) === expected)

    // multi-probe serve off the same pinned store == the batch
    // probe-expanded chain row for row
    val expectedProbe = rank4(SparkEntry.queries("mips_alsh_probe_topk")(spark, d))
    assert(expectedProbe.nonEmpty)
    assert(rank4(VectorStreams.mipsAlshServeFromStore(
      spark, tbl, probes, dim, tp, nt, 3, multiProbe = true)) === expectedProbe)

    // layout guards: raw and lifted stores refuse each other's folds,
    // and the raw search refuses... the MIPS serve refuses a raw store
    val eRaw = intercept[IllegalArgumentException] {
      VectorStreams.vectorFoldBatch(emb, tbl, 2L, dim, tp, nt) }
    assert(eRaw.getMessage.contains("ALSH"))
    val rawTbl = java.nio.file.Files.createTempDirectory("graft_alsh_raw").toString
    VectorStreams.vectorFoldBatch(emb, rawTbl, 0L, dim, tp, nt)
    val eLift = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(emb, rawTbl, 1L, m, dim, tp, nt) }
    assert(eLift.getMessage.contains("unlifted"))
    val eServe = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshServeFromStore(spark, rawTbl, probes, dim, tp, nt, 3) }
    assert(eServe.getMessage.contains("unlifted"))

    // forget spans the lifted buckets: no ghost MIPS candidates
    val doomed = Seq(expected.map(_._2).head)
    val rewritten = VectorStreams.forgetVectors(spark, tbl, doomed)
    assert(rewritten === 2) // one buckets + one vectors partition
    val after = rank4(VectorStreams.mipsAlshServeFromStore(
      spark, tbl, probes.filter(!col("vec_id").isin(doomed: _*)), dim, tp, nt, 3))
    assert(!after.exists(r => doomed.contains(r._2)))
  }

  test("MRL pruned serve IN-push contract: oversized survivor list falls back to left-semi, rows identical") {
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val tbl = java.nio.file.Files.createTempDirectory("graft_mrlinpush").toString
    Seq((b0, 0L), (b1, 1L)).foreach { case (b, id) =>
      VectorStreams.vectorFoldBatch(b.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
        tbl, id, dim, tp, nt, prefixDim = 16)
    }
    def rank4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val probes = emb.filter(col("vec_id") < 32)
    val pushed = VectorStreams.mrlServeFromStore(spark, tbl, probes, 16, 16, 3)
    // maxInPush = 1 forces the fallback: same rows, no IN filter pushed
    val fallback = VectorStreams.mrlServeFromStore(spark, tbl, probes, 16, 16, 3,
      maxInPush = 1)
    assert(rank4(fallback) === rank4(pushed))
    assert(rank4(fallback).nonEmpty)
    val fplan = fallback.queryExecution.executedPlan.toString
    assert(!fplan.contains("In(vec_id") && !fplan.contains("vec_id IN"),
      "fallback path must not carry the IN push")
    assert(fplan.contains("LeftSemi"), fplan.take(800))
  }

  test("embedding-stats store: 2-batch fold == one-shot; unlearn == survivors; signed s1 passes tripwire") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("graft_embstats").toString
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "label", "embedding")

    def centroids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def dispersions(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // two folds == one-shot EmbStats on the union (fold ≡ recompute)
    VectorStreams.embStatsFoldBatch(emb.filter(col("vec_id") % 2 === 0), tbl, 0L)
    VectorStreams.embStatsFoldBatch(emb.filter(col("vec_id") % 2 =!= 0), tbl, 1L)
    assert(centroids(VectorStreams.centroidFromStore(spark, tbl)) ===
      centroids(graft.operators.EmbStats.centroidByLabel(emb)))
    assert(dispersions(VectorStreams.dispersionFromStore(spark, tbl)) ===
      dispersions(graft.operators.EmbStats.dispersionByLabel(emb)))

    // replay of a committed id is a no-op
    VectorStreams.embStatsFoldBatch(emb.filter(col("vec_id") % 2 =!= 0), tbl, 1L)
    assert(Lakehouse.currentVersion(spark, tbl) === Some("v1"))

    // exact unlearning: forget the odd vectors (their s1 contributions
    // are signed — the tripwire must not confuse negative survivor
    // sums with corruption) == recompute on the even survivors
    VectorStreams.unlearnEmbStatsBatch(emb.filter(col("vec_id") % 2 =!= 0), tbl, 2L)
    val survivors = emb.filter(col("vec_id") % 2 === 0)
    assert(centroids(VectorStreams.centroidFromStore(spark, tbl)) ===
      centroids(graft.operators.EmbStats.centroidByLabel(survivors)))
    assert(dispersions(VectorStreams.dispersionFromStore(spark, tbl)) ===
      dispersions(graft.operators.EmbStats.dispersionByLabel(survivors)))

    // unlearning rows never folded must abort before the swing
    val bogus = emb.filter(col("vec_id") % 2 =!= 0) // already forgotten
    intercept[IllegalArgumentException] {
      VectorStreams.unlearnEmbStatsBatch(bogus, tbl, 3L)
    }
    assert(Lakehouse.currentVersion(spark, tbl) === Some("v2"))

    // the cancellation hole: unlearning a DRIFTED twin of a stored
    // vector cancels n_vecs to 0 while s1/s2 residue survives — the
    // countCol tripwire must catch what the negativity check cannot
    import spark.implicits._
    val tbl2 = java.nio.file.Files.createTempDirectory("graft_embstats2").toString
    val one = Seq((1L, 0L, Array(0.25f, -0.5f))).toDF("vec_id", "label", "embedding")
    val twin = Seq((1L, 0L, Array(0.75f, -0.5f))).toDF("vec_id", "label", "embedding")
    VectorStreams.embStatsFoldBatch(one, tbl2, 0L)
    intercept[IllegalArgumentException] {
      VectorStreams.unlearnEmbStatsBatch(twin, tbl2, 1L)
    }
    assert(Lakehouse.currentVersion(spark, tbl2) === Some("v0"))
  }

  test("EmbStats rejects non-numeric label columns instead of NULL-collapsing classes") {
    import spark.implicits._
    val strLabeled = Seq(("en", Seq(1.0f, 2.0f)), ("fr", Seq(3.0f, 4.0f)))
      .toDF("label", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.EmbStats.centroidByLabel(strLabeled)
    }
    assert(e.getMessage.contains("must be numeric"))
  }

  test("lifted-IVF MIPS store: streamed ingest + pinned serve == one-shot; streamed probes; layout guards") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val m = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
      .head().getDouble(0)
    // the same lift + quantizer the query layer trains (IvfK=16, 3 rounds)
    val lifted = emb
      .select(col("vec_id"),
        expr(s"transform(embedding, v -> CAST(v AS DOUBLE) / ${m}D)").as("sc"))
      .withColumn("s2", expr("graft_dot_d(sc, sc)"))
      .withColumn("ea", expr(
        "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
      .select("vec_id", "ea")
    val cent = Knn.ivfTrain(lifted, "vec_id", "ea", 16, 3).localCheckpoint(true)

    val tbl = java.nio.file.Files.createTempDirectory("graft_mipsivf_spec").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStreams.mipsIvfIngest(
      mem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      tbl, cent, m, nAssign = 2)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Lakehouse.currentVersion(spark, tbl).contains("v1"))
    } finally q.stop()

    def rank4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("cand_id"), col("ip_e6"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val probes = emb.filter(col("vec_id") < 32)
    val expected = rank4(SparkEntry.queries("mips_ivf_lifted_topk")(spark, d))
    assert(expected.nonEmpty)
    assert(rank4(VectorStreams.mipsIvfServeFromStore(
      spark, tbl, probes, k = 3, nprobe = 4)) === expected)

    // streamed probes through the SAME serve (row-local probe cells —
    // no window): one stateful heap, == batch
    val pmem = MemoryStream[(Long, Seq[Float])]
    val out = VectorStreams.mipsIvfServeFromStore(spark, tbl,
      pmem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      k = 3, nprobe = 4)
    val sq = out.writeStream.outputMode("update")
      .format("memory").queryName("graft_mipsivf_serve_test").start()
    val streamed =
      try {
        pmem.addData(rows.filter(_._1 < 32): _*); sq.processAllAvailable()
        rank4(spark.table("graft_mipsivf_serve_test"))
      } finally sq.stop()
    assert(streamed === expected)
    assert(!out.queryExecution.analyzed.toString.contains("CartesianProduct"))

    // layout guards: raw IVF fold/serve refuse the lifted store; the
    // lifted fold refuses a raw IVF store; ALSH and lifted-IVF stores
    // refuse each other despite both pinning MAX_NORM
    val eRawFold = intercept[IllegalArgumentException] {
      VectorStreams.ivfFoldBatch(emb, tbl, 2L, cent) }
    assert(eRawFold.getMessage.contains("lifted"))
    val eRawServe = intercept[IllegalArgumentException] {
      VectorStreams.ivfServeFromStore(spark, tbl, probes, 3, 4) }
    assert(eRawServe.getMessage.contains("lifted"))
    val eAlshServe = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshServeFromStore(spark, tbl, probes, dim, tp, nt, 3) }
    assert(eAlshServe.getMessage.contains("lifted-IVF"))
    val eAlshFold = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(emb, tbl, 2L, m, dim, tp, nt) }
    assert(eAlshFold.getMessage.contains("lifted-IVF"))
    val rawTbl = java.nio.file.Files.createTempDirectory("graft_mipsivf_raw").toString
    VectorStreams.ivfFoldBatch(emb, rawTbl, 0L,
      Knn.ivfTrain(emb, "vec_id", "embedding", 16, 3))
    val eLiftFold = intercept[IllegalArgumentException] {
      VectorStreams.mipsIvfFoldBatch(emb, rawTbl, 1L, cent, m) }
    assert(eLiftFold.getMessage.contains("unlifted"))
    val eLiftServe = intercept[IllegalArgumentException] {
      VectorStreams.mipsIvfServeFromStore(spark, rawTbl, probes, 3, 4) }
    assert(eLiftServe.getMessage.contains("unlifted"))

    // forget spans posts + vectors: no ghost MIPS candidates
    val doomed = Seq(expected.map(_._2).head)
    val rewritten = VectorStreams.forgetVectors(spark, tbl, doomed)
    assert(rewritten === 2)
    val after = rank4(VectorStreams.mipsIvfServeFromStore(
      spark, tbl, probes.filter(!col("vec_id").isin(doomed: _*)), k = 3, nprobe = 4))
    assert(!after.exists(r => doomed.contains(r._2)))
  }

  test("ALSH fold drift gate: disagreeing M refused, drifted batch recorded/refused, rebuild re-pins") {
    import spark.implicits._
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    // odd ids scaled ×2: EVERY norm lands above the even-side pin
    val odd2 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(v * 2.0 AS FLOAT))").as("embedding"))
      .localCheckpoint(true)
    val mEven = even.agg(max(graft.functions.VectorFunctions.norm("embedding")))
      .head().getDouble(0)

    val tbl = java.nio.file.Files.createTempDirectory("graft_alsh_drift").toString
    VectorStreams.mipsAlshFoldBatch(even, tbl, 0L, mEven, dim, tp, nt)
    // in-pin fold records a clean drift row
    val d0 = spark.read.parquet(s"$tbl/drift/batch=0").head()
    assert(d0.getLong(1) === 0L && d0.getLong(2) === 0L && !d0.getBoolean(3))

    // ADVICE r14: a fold passing a RECOMPUTED different M must fail
    // loudly, not silently hash under the stale pin
    val eM = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(odd2, tbl, 1L, mEven * 2.0, dim, tp, nt) }
    assert(eM.getMessage.contains("pins MAX_NORM"))

    // 100% out-of-pin batch: above the default 20% ceiling -> refused
    val eDrift = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(odd2, tbl, 1L, mEven, dim, tp, nt) }
    assert(eDrift.getMessage.contains("rebuildAlshStore"))
    assert(Lakehouse.currentVersion(spark, tbl) === Some("v0")) // store untouched

    // ceiling raised: the batch folds (clamped lift), the drift row
    // carries the evidence (1,000,000 ppm, drifted flag set)
    VectorStreams.mipsAlshFoldBatch(odd2, tbl, 1L, mEven, dim, tp, nt,
      maxDriftPpm = 1000000L)
    val d1 = spark.read.parquet(s"$tbl/drift/batch=1").head()
    assert(d1.getLong(1) === d1.getLong(0) && d1.getLong(2) === 1000000L
      && d1.getBoolean(3))

    // rebuild re-pins M to the store-wide max and restores the unit-
    // sphere lift: serve-after-rebuild == a from-scratch store
    val newM = VectorStreams.rebuildAlshStore(spark, tbl, dim, tp, nt)
    val corpus = even.unionByName(odd2).localCheckpoint(true)
    val mAll = corpus.agg(max(graft.functions.VectorFunctions.norm("embedding")))
      .head().getDouble(0)
    assert(newM === mAll)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tbl/MAX_NORM")).trim.toDouble === newM)
    val scratch = java.nio.file.Files.createTempDirectory("graft_alsh_scratch").toString
    VectorStreams.mipsAlshFoldBatch(corpus, scratch, 0L, mAll, dim, tp, nt)
    val probes = emb.filter(col("vec_id") < 32)
    def rank4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("cand_id"), col("ip_e6"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val rebuilt = rank4(VectorStreams.mipsAlshServeFromStore(
      spark, tbl, probes, dim, tp, nt, 3))
    assert(rebuilt.nonEmpty)
    assert(rebuilt === rank4(VectorStreams.mipsAlshServeFromStore(
      spark, scratch, probes, dim, tp, nt, 3)))

    // lifted-IVF twin: drift refusal names ITS rebuild helper; the
    // rebuild re-pins M AND retrains the quantizer (a drifted M moves
    // every lifted point), serve-after-rebuild == from-scratch
    def liftUnder(df: org.apache.spark.sql.DataFrame, mm: Double) = df
      .select(col("vec_id"),
        expr(s"transform(embedding, v -> CAST(v AS DOUBLE) / ${mm}D)").as("sc"))
      .withColumn("s2", expr("graft_dot_d(sc, sc)"))
      .withColumn("ea", expr(
        "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
      .select("vec_id", "ea")
    graft.functions.GraftFunctions.register(spark)
    val centEven = Knn.ivfTrain(liftUnder(even, mEven), "vec_id", "ea", 16, 3)
      .localCheckpoint(true)
    val ivfTbl = java.nio.file.Files.createTempDirectory("graft_mipsivf_drift").toString
    VectorStreams.mipsIvfFoldBatch(even, ivfTbl, 0L, centEven, mEven, nAssign = 2)
    val eIvfDrift = intercept[IllegalArgumentException] {
      VectorStreams.mipsIvfFoldBatch(odd2, ivfTbl, 1L, centEven, mEven, nAssign = 2) }
    assert(eIvfDrift.getMessage.contains("rebuildMipsIvfStore"))
    VectorStreams.mipsIvfFoldBatch(odd2, ivfTbl, 1L, centEven, mEven, nAssign = 2,
      maxDriftPpm = 1000000L)
    val newM2 = VectorStreams.rebuildMipsIvfStore(spark, ivfTbl, 16, 3, nAssign = 2)
    assert(newM2 === mAll)
    val ivfScratch = java.nio.file.Files.createTempDirectory("graft_mipsivf_scr").toString
    VectorStreams.mipsIvfFoldBatch(corpus, ivfScratch, 0L,
      Knn.ivfTrain(liftUnder(corpus, mAll), "vec_id", "ea", 16, 3), mAll, nAssign = 2)
    val ivfRebuilt = rank4(VectorStreams.mipsIvfServeFromStore(
      spark, ivfTbl, probes, k = 3, nprobe = 4))
    assert(ivfRebuilt.nonEmpty)
    assert(ivfRebuilt === rank4(VectorStreams.mipsIvfServeFromStore(
      spark, ivfScratch, probes, k = 3, nprobe = 4)))
  }

  test("filtered serving: pre-filter == survivors-only store; over-fetch == pre-filter; attr pins guard") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding", "label")
      .withColumn("b2", pmod(col("vec_id"), lit(2)).cast("int"))
      .localCheckpoint(true)
    val mAll = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
      .head().getDouble(0)
    val surv = emb.filter(col("label") < 5).localCheckpoint(true)
    val probes = emb.filter(col("vec_id") < 8).select("vec_id", "embedding")
    def rank4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("cand_id"), col("ip_e6"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

    // ALSH attr store vs a store holding ONLY the survivors: the
    // pre-filter serve (filter below the hot-bucket cap and the
    // candidate join) must be indistinguishable from the smaller store
    val attrs = Seq("label", "b2")
    val tbl = java.nio.file.Files.createTempDirectory("graft_alsh_attr").toString
    VectorStreams.mipsAlshFoldBatch(emb, tbl, 0L, mAll, dim, tp, nt, attrCols = attrs)
    val tblS = java.nio.file.Files.createTempDirectory("graft_alsh_surv").toString
    VectorStreams.mipsAlshFoldBatch(surv, tblS, 0L, mAll, dim, tp, nt, attrCols = attrs)
    val fPre = rank4(VectorStreams.mipsAlshServeFromStore(
      spark, tbl, probes, dim, tp, nt, 3, predicate = Some("label < 5")))
    assert(fPre.nonEmpty)
    assert(fPre === rank4(VectorStreams.mipsAlshServeFromStore(
      spark, tblS, probes, dim, tp, nt, 3)))
    // over-fetch post-filter == pre-filter (cap-free: the documented
    // asymmetry is that the unfiltered inner serve caps FULL postings)
    val big = 1 << 20
    assert(rank4(VectorStreams.mipsAlshServeFromStore(spark, tbl, probes,
        dim, tp, nt, 3, maxBucket = big, predicate = Some("label < 5"))) ===
      rank4(VectorStreams.mipsAlshServeOverfetch(spark, tbl, probes,
        dim, tp, nt, 3, "label < 5", maxBucket = big)))
    // a predicate over BOTH attrs exercises the attrstats estimator's
    // multi-column histogram
    assert(rank4(VectorStreams.mipsAlshServeFromStore(spark, tbl, probes,
        dim, tp, nt, 3, maxBucket = big,
        predicate = Some("label < 5 AND b2 = 0"))) ===
      rank4(VectorStreams.mipsAlshServeOverfetch(spark, tbl, probes,
        dim, tp, nt, 3, "label < 5 AND b2 = 0", maxBucket = big)))

    // cosine (raw LSH) store: same survivors-only equivalence
    val ctbl = java.nio.file.Files.createTempDirectory("graft_cos_attr").toString
    VectorStreams.vectorFoldBatch(emb, ctbl, 0L, dim, tp, nt, attrCols = Seq("label"))
    val ctblS = java.nio.file.Files.createTempDirectory("graft_cos_surv").toString
    VectorStreams.vectorFoldBatch(surv.drop("b2"), ctblS, 0L, dim, tp, nt,
      attrCols = Seq("label"))
    def rankC(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val cPre = rankC(VectorStreams.searchVectorStore(
      spark, ctbl, probes, dim, tp, nt, 3, predicate = Some("label < 5")))
    assert(cPre.nonEmpty)
    assert(cPre === rankC(VectorStreams.searchVectorStore(
      spark, ctblS, probes, dim, tp, nt, 3)))

    // attr pins guard the layout both ways once a fold committed
    val eA = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(emb, tbl, 1L, mAll, dim, tp, nt,
        attrCols = Seq("label")) }
    assert(eA.getMessage.contains("pins attr columns"))
    val eB = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(emb, tbl, 1L, mAll, dim, tp, nt) }
    assert(eB.getMessage.contains("pins attr columns"))
    // over-fetch refuses an attr-less store (no attrstats to estimate from)
    val noAttr = java.nio.file.Files.createTempDirectory("graft_alsh_noattr").toString
    VectorStreams.mipsAlshFoldBatch(emb.drop("label", "b2"), noAttr, 0L, mAll, dim, tp, nt)
    val eC = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshServeOverfetch(spark, noAttr, probes,
        dim, tp, nt, 3, "label < 5") }
    assert(eC.getMessage.contains("pins no attr columns"))
    // ... and a no-mass predicate loudly instead of returning empty
    val eD = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshServeOverfetch(spark, tbl, probes,
        dim, tp, nt, 3, "label = 99") }
    assert(eD.getMessage.contains("matches no attrstats mass"))

    // rebuild carries the attr layout through (pin + columns + stats)
    VectorStreams.rebuildAlshStore(spark, tbl, dim, tp, nt)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tbl/ATTR_COLS")).trim === "label,b2")
    assert(rank4(VectorStreams.mipsAlshServeFromStore(
      spark, tbl, probes, dim, tp, nt, 3, predicate = Some("label < 5"))) === fPre)
    assert(rank4(VectorStreams.mipsAlshServeOverfetch(spark, tbl, probes,
      dim, tp, nt, 3, "label < 5", maxBucket = big)).nonEmpty)
  }

  test("filtered serving across every store family == serving a survivors-only store") {
    // the ONE uniform contract of the pre-filter strategy: because
    // assignment/encoding is per-vector, filtering a store's serve by
    // a predicate must be indistinguishable from serving a store that
    // was only ever fed the predicate's survivors — for EVERY family
    // (raw IVF, IVF×PQ, residual, refine, flat SQ8, IVF×SQ8, MRL),
    // with the same pinned models on both sides.
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding", "label").localCheckpoint(true)
    val surv = emb.filter(col("label") < 5).localCheckpoint(true)
    val probes = emb.filter(col("vec_id") < 8).select("vec_id", "embedding")
    val pred = Some("label < 5")
    val attrs = Seq("label")
    val (k, nprobe, nAssign, pqM, pqSub) = (3, 4, 2, 8, 8)
    val cent = Knn.ivfTrain(emb, "vec_id", "embedding", 16, 3).localCheckpoint(true)
    val books = graft.operators.Pq.train(
      graft.operators.Pq.subviews(emb, "vec_id", "embedding", pqM, pqSub),
      "vec_id", 16, 2).localCheckpoint(true)
    val bounds = graft.operators.Sq.train(emb, "embedding").localCheckpoint(true)
    def dir(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).map(_.toList).toSet

    // raw IVF
    val (ivfF, ivfS) = (dir("graft_fivf"), dir("graft_fivf_s"))
    VectorStreams.ivfFoldBatch(emb, ivfF, 0L, cent, nAssign, attrCols = attrs)
    VectorStreams.ivfFoldBatch(surv, ivfS, 0L, cent, nAssign, attrCols = attrs)
    val ivfFiltered = rows(VectorStreams.ivfServeFromStore(
      spark, ivfF, probes, k, nprobe, predicate = pred))
    assert(ivfFiltered.nonEmpty)
    assert(ivfFiltered === rows(VectorStreams.ivfServeFromStore(
      spark, ivfS, probes, k, nprobe)))

    // IVF×PQ
    val (pqF, pqS) = (dir("graft_fpq"), dir("graft_fpq_s"))
    VectorStreams.ivfPqFoldBatch(emb, pqF, 0L, cent, books, nAssign, pqM, pqSub,
      attrCols = attrs)
    VectorStreams.ivfPqFoldBatch(surv, pqS, 0L, cent, books, nAssign, pqM, pqSub,
      attrCols = attrs)
    val pqFiltered = rows(VectorStreams.ivfPqServeFromStore(
      spark, pqF, probes, k, nprobe, predicate = pred))
    assert(pqFiltered.nonEmpty)
    assert(pqFiltered === rows(VectorStreams.ivfPqServeFromStore(
      spark, pqS, probes, k, nprobe)))

    // residual IVFADC + refine-at-serve (res shortlist → SQ8 rerank)
    val (resF, resS) = (dir("graft_fres"), dir("graft_fres_s"))
    VectorStreams.ivfPqResFoldBatch(emb, resF, 0L, cent, books, nAssign, pqM, pqSub,
      attrCols = attrs)
    VectorStreams.ivfPqResFoldBatch(surv, resS, 0L, cent, books, nAssign, pqM, pqSub,
      attrCols = attrs)
    val resFiltered = rows(VectorStreams.ivfPqResServeFromStore(
      spark, resF, probes, k, nprobe, predicate = pred))
    assert(resFiltered.nonEmpty)
    assert(resFiltered === rows(VectorStreams.ivfPqResServeFromStore(
      spark, resS, probes, k, nprobe)))

    // flat SQ8 + IVF×SQ8
    val (sqF, sqS) = (dir("graft_fsq"), dir("graft_fsq_s"))
    VectorStreams.sqFoldBatch(emb, sqF, 0L, bounds, attrCols = attrs)
    VectorStreams.sqFoldBatch(surv, sqS, 0L, bounds, attrCols = attrs)
    val sqFiltered = rows(VectorStreams.sq8ServeFromStore(
      spark, sqF, probes, k, predicate = pred))
    assert(sqFiltered.nonEmpty)
    assert(sqFiltered === rows(VectorStreams.sq8ServeFromStore(
      spark, sqS, probes, k)))
    val (sivF, sivS) = (dir("graft_fsqi"), dir("graft_fsqi_s"))
    VectorStreams.sq8IvfFoldBatch(emb, sivF, 0L, cent, bounds, nAssign,
      attrCols = attrs)
    VectorStreams.sq8IvfFoldBatch(surv, sivS, 0L, cent, bounds, nAssign,
      attrCols = attrs)
    val sivFiltered = rows(VectorStreams.sq8IvfServeFromStore(
      spark, sivF, probes, k, nprobe, predicate = pred))
    assert(sivFiltered.nonEmpty)
    assert(sivFiltered === rows(VectorStreams.sq8IvfServeFromStore(
      spark, sivS, probes, k, nprobe)))

    // refine: filtered res-shortlist reranked over the filtered SQ8 dir
    val refFiltered = rows(VectorStreams.ivfResRefineServeFromStore(
      spark, resF, sqF, probes, shortlist = 8, k, nprobe, predicate = pred))
    assert(refFiltered.nonEmpty)
    assert(refFiltered === rows(VectorStreams.ivfResRefineServeFromStore(
      spark, resS, sqS, probes, shortlist = 8, k, nprobe)))

    // MRL prefix store (pruned path) — single-table, filter-on-scan
    val (mrlF, mrlS) = (dir("graft_fmrl"), dir("graft_fmrl_s"))
    VectorStreams.vectorFoldBatch(emb, mrlF, 0L, dim, tp, nt,
      prefixDim = 16, attrCols = attrs)
    VectorStreams.vectorFoldBatch(surv, mrlS, 0L, dim, tp, nt,
      prefixDim = 16, attrCols = attrs)
    val mrlFiltered = rows(VectorStreams.mrlServeFromStore(
      spark, mrlF, probes, prefixDim = 16, nCand = 12, k, predicate = pred))
    assert(mrlFiltered.nonEmpty)
    assert(mrlFiltered === rows(VectorStreams.mrlServeFromStore(
      spark, mrlS, probes, prefixDim = 16, nCand = 12, k)))
  }

  test("a refused first fold never wedges the store; .bak swap crash recovers on next touch") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables(spark, d, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val mAll = emb.agg(max(graft.functions.VectorFunctions.norm("embedding")))
      .head().getDouble(0)

    // ALSH: the first fold under an absurd M writes the pin, then the
    // drift gate refuses the batch — the retry with the corrected M
    // must REBIND the pin (ADVICE r15: pre-fix, the agreement require
    // failed and the prescribed rebuild threw 'no CURRENT pointer',
    // wedging the store)
    val tbl = java.nio.file.Files.createTempDirectory("graft_alsh_ff").toString
    intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(emb, tbl, 0L, 0.001, dim, tp, nt) }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tbl/MAX_NORM")))
    assert(Lakehouse.currentVersion(spark, tbl).isEmpty) // nothing committed
    VectorStreams.mipsAlshFoldBatch(emb, tbl, 0L, mAll, dim, tp, nt)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tbl/MAX_NORM")).trim.toDouble === mAll)
    assert(Lakehouse.currentVersion(spark, tbl) === Some("v0"))
    // once a fold COMMITTED the pin binds again
    val e = intercept[IllegalArgumentException] {
      VectorStreams.mipsAlshFoldBatch(emb, tbl, 1L, mAll * 2.0, dim, tp, nt) }
    assert(e.getMessage.contains("pins MAX_NORM"))

    // lifted-IVF twin: the retry's RETRAINED quantizer replaces the
    // refused attempt's centroids instead of silently hashing under
    // the stale ones
    def lift(mm: Double) = emb
      .select(col("vec_id"),
        expr(s"transform(embedding, v -> CAST(v AS DOUBLE) / ${mm}D)").as("sc"))
      .withColumn("s2", expr("graft_dot_d(sc, sc)"))
      .withColumn("ea", expr(
        "array_append(sc, CASE WHEN s2 >= 1.0D THEN CAST(0.0 AS DOUBLE) ELSE sqrt(1.0D - s2) END)"))
      .select("vec_id", "ea")
    val ivfTbl = java.nio.file.Files.createTempDirectory("graft_mipsivf_ff").toString
    val cent16 = Knn.ivfTrain(lift(0.001), "vec_id", "ea", 16, 3).localCheckpoint(true)
    intercept[IllegalArgumentException] {
      VectorStreams.mipsIvfFoldBatch(emb, ivfTbl, 0L, cent16, 0.001, nAssign = 2) }
    val cent8 = Knn.ivfTrain(lift(mAll), "vec_id", "ea", 8, 3).localCheckpoint(true)
    VectorStreams.mipsIvfFoldBatch(emb, ivfTbl, 0L, cent8, mAll, nAssign = 2)
    assert(spark.read.parquet(s"$ivfTbl/centroids").count() === 8L)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$ivfTbl/MAX_NORM")).trim.toDouble === mAll)

    // bak-swap crash window (ADVICE r15): tableDir missing, .bak holds
    // the old consistent store, a half-staged .rebuild lingers — the
    // next reader restores the store and discards the half-rebuild
    val dirF = new java.io.File(tbl)
    val bakF = new java.io.File(tbl + ".bak")
    assert(dirF.renameTo(bakF))
    new java.io.File(tbl + ".rebuild").mkdirs()
    val probes = emb.filter(col("vec_id") < 8)
    val served = VectorStreams.mipsAlshServeFromStore(
      spark, tbl, probes, dim, tp, nt, 3)
    assert(served.count() > 0)
    assert(dirF.exists() && !bakF.exists()
      && !new java.io.File(tbl + ".rebuild").exists())
  }
}
