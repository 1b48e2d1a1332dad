package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup, Fingerprint, Lakehouse, Multimodal}

/** Structured Streaming surface over the `documents` shape: the full
  * DEDUP-AT-INGEST pipeline as a standing, incrementally maintained
  * index — the production loop where yesterday's corpus is stored
  * state and today's crawl batch deduplicates against it, instead of
  * re-deduping the world per batch.
  *
  * Reference context: no document surface in the reference; this
  * composes the SURVEY §7.5 dedup extension (MinHash/LSH banding,
  * exact-Jaccard rescore, duplicate-cluster components) with the
  * streaming maintenance discipline of [[EventStreams.scd2Maintain]].
  */
object DocStreams {

  /** Fold each micro-batch of `(doc_id, text)` documents into the
    * standing dedup store under `tableDir` — the APPEND-ONLY I/O
    * discipline of [[indexIngest]]:
    *
    *   - `bands/batch=N`  — the MinHash-LSH band index (doc_id, band,
    *                        band_hash) as append-only batch partitions:
    *                        each fold WRITES ONLY ITS OWN partition
    *                        (O(batch) I/O; the previous copy-on-write
    *                        union rewrite was corpus-proportional —
    *                        the difference between an ingest that
    *                        stays O(batch) at 100 TB and one that
    *                        does not);
    *   - `hashes/batch=N` — per-doc distinct shingle hashes (doc_id,
    *                        hs), the exact-Jaccard rescore side, same
    *                        append layout;
    *   - `v<N>/clusters`  — duplicate-cluster labels (id, component)
    *                        under the atomic CURRENT pointer,
    *                        maintained via
    *                        [[Components.mergeIncremental]] — CC runs
    *                        on the batch-sized contracted graph only.
    *                        Labels of OLD vertices can change when a
    *                        batch bridges clusters, so this table
    *                        stays copy-on-write (it is the smallest of
    *                        the three: 16 bytes per doc).
    *
    * Snapshot consistency across the split (the [[indexIngest]]
    * contract): a reader pinned on `vN` filters the append tables to
    * `batch <= N` (planning-time partition pruning), so a
    * half-appended next batch is invisible until CURRENT swings.
    *
    * Per batch: new docs are banded (narrow codegen'd signature pass),
    * candidates are the union of batch-vs-store band-bucket collisions
    * and within-batch pairs (per-side hot-bucket caps — the MaxBucket
    * discipline; caps apply to the CURRENT state like the batch
    * `dedup_incremental`, so a bucket that only becomes degenerate
    * across many ingests is capped from the ingest that tips it),
    * verified by exact Jaccard ≥ `threshold` on the stored hash sets,
    * and folded into the cluster table by contraction. On a corpus
    * where no cap engages, an N-batch replay converges to EXACTLY the
    * one-shot `dedup_components` clustering of the full corpus
    * (equivalence-tested in ExtensionSpec).
    *
    * Crash/replay: batch partitions land first, the version dir
    * second, CURRENT swings last. A replay after any prefix of that
    * sequence overwrites the same `batch=N` partitions with identical
    * (deterministic) content; a replay after the swing is skipped. */
  def dedupIngest(docStream: DataFrame, tableDir: String,
      threshold: Double = 0.8,
      maxBucket: Int = Dedup.MaxBucket,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        dedupFoldBatch(batch.toDF(), tableDir, id, threshold, maxBucket,
          compactEvery, vacuumKeep)
        ()
      }
      .start()

  /** One dedup-store micro-batch fold (the [[dedupIngest]] body,
    * exposed so composed pipelines — [[curationIngest]] — and replay
    * tests can drive it directly). Returns this fold's VERIFIED
    * near-dup pair frame (batch-vs-store ∪ within-batch, J ≥
    * `threshold`, locally checkpointed so it survives the store
    * swing), or None when the batch id was already committed (the
    * idempotent replay skip). */
  def dedupFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      threshold: Double = 0.8,
      maxBucket: Int = Dedup.MaxBucket,
      compactEvery: Int = 0, vacuumKeep: Int = 2): Option[DataFrame] = {
        val spark = batch.sparkSession
        graft.functions.GraftFunctions.register(spark)
        val cur = new java.io.File(s"$tableDir/CURRENT")
        val ver: Option[String] =
          if (cur.exists()) Some(java.nio.file.Files.readString(cur.toPath).trim)
          else None
        // Idempotent replay: a failure between the atomic CURRENT swing
        // and the streaming commit re-delivers this batch id. CURRENT
        // already naming this batch's state (v$id, or a compacted
        // rewrite v${id}cN of it — Lakehouse.compactCurrent keeps the
        // batch id) means the fold committed; partitions written by a
        // pre-swing crash are overwritten with identical content on
        // the next delivery, so only the post-swing case skips.
        if (ver.exists(graft.operators.Lakehouse.sameBatch(_, id))) None
        else {

        // pinned append reads: ONLY batches the previous version covers
        // (the new batch=N partitions written below stay invisible)
        val pinId: Option[Long] = ver.flatMap(Lakehouse.versionKey).map(_._1)
        def appendPinned(t: String): Option[DataFrame] =
          pinId.map(vid => spark.read.parquet(s"$tableDir/$t")
            .filter(col("batch") <= vid).drop("batch"))
        def storedClusters: Option[DataFrame] =
          ver.map(v => spark.read.parquet(s"$tableDir/$v/clusters"))

        val hashed = Dedup.withShingleHashes(batch.select("doc_id", "text"), "text")
          .localCheckpoint(true) // feeds bands + rescore side
        val newBands = Dedup.minhashBandsFromHashes(hashed, "doc_id")
          .localCheckpoint(true) // probed twice (cross + within) and written
        val newHs = hashed
          .select(col("doc_id"), array_distinct(col("shingle_hashes")).as("hs"))
          .localCheckpoint(true) // rescore side and written
        // append-only fold I/O: this batch's partitions, nothing else
        newBands.write.mode("overwrite").parquet(s"$tableDir/bands/batch=$id")
        newHs.write.mode("overwrite").parquet(s"$tableDir/hashes/batch=$id")
        if (compactEvery > 0) {
          // small-file control while batch=N is invisible to readers
          Lakehouse.compactDir(spark, s"$tableDir/bands/batch=$id")
          Lakehouse.compactDir(spark, s"$tableDir/hashes/batch=$id")
        }
        val newCapped = Dedup.dropHotBuckets(newBands, Seq("band", "band_hash"),
          maxBucket, s"dedupIngest_new_b$id")

        val within = Dedup.lshCandidatePairs(newCapped, "doc_id", maxBucket)
        val cands = appendPinned("bands") match {
          case None => within
          case Some(sb) =>
            val oldCapped = Dedup.dropHotBuckets(sb, Seq("band", "band_hash"),
              maxBucket, s"dedupIngest_old_b$id")
            val cross = newCapped.select(col("doc_id").as("id_a"), col("band"), col("band_hash"))
              .join(oldCapped.select(col("doc_id").as("id_b"), col("band"), col("band_hash")),
                Seq("band", "band_hash"))
              // a doc can't near-dup itself: guards an out-of-contract
              // refold of an old batch against self-pairs (the pinned
              // store then already contains the batch's own ids)
              .filter(col("id_a") =!= col("id_b"))
              .select("id_a", "id_b").distinct()
            within.unionByName(cross)
        }
        val allHs = appendPinned("hashes").map(_.unionByName(newHs)).getOrElse(newHs)
        // checkpointed: evaluated ONCE, shared by the cluster fold and
        // the caller (a composed pipeline reads it after the swing,
        // when lazy lineage over the pre-swing pin would be stale)
        val pairs = cands
          .join(allHs.select(col("doc_id").as("id_a"), col("hs").as("sh_a")), Seq("id_a"))
          .join(allHs.select(col("doc_id").as("id_b"), col("hs").as("sh_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"), Dedup.jaccardCol.as("jaccard"))
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b")
          .localCheckpoint(true)
        val clusters = storedClusters match {
          case Some(st) => Components.mergeIncremental(st, pairs, "id_a", "id_b")
          case None => Components.connectedComponents(pairs, "id_a", "id_b", edgesDistinct = true)
        }

        val vdir = s"$tableDir/v$id"
        clusters.write.mode("overwrite").parquet(s"$vdir/clusters")
        val tmp = new java.io.File(s"$tableDir/CURRENT.tmp")
        java.nio.file.Files.write(tmp.toPath,
          s"v$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp.toPath, cur.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        maybeMaintain(spark, tableDir, id, compactEvery, vacuumKeep)
        Some(pairs)
        }
      }

  /** Right-to-be-forgotten for the dedup store that is EXACT on the
    * cluster table: deleting a doc's band/hash rows is not enough —
    * a doc can be the BRIDGE holding a cluster together (A~X, X~B,
    * A!~B), and naive row deletion leaves A and B merged forever. This
    * recomputes the affected components from the surviving evidence:
    *
    *   1. clusters containing a forgotten doc are marked affected;
    *   2. their surviving members' pairs are re-derived from the
    *      stored bands (member-scoped band join, capped) and
    *      re-verified by exact Jaccard on the stored hashes;
    *   3. affected labels are replaced by a fresh CC over those pairs
    *      (members with no surviving pair leave the table, matching a
    *      from-scratch clustering of the survivors — tested);
    *   4. band/hash rows delete via [[Lakehouse.deleteFromPartitions]]
    *      (partition-scoped rewrite) and the cluster table lands as a
    *      new copy-on-write version.
    *
    * Cost: the band/hash tables are each scanned ONCE (the member
    * semi-joins bound every downstream join and the CC input, but not
    * the scans themselves — at a partitioned 100 TB store you would
    * additionally bucket the band table by doc_id to prune them);
    * everything after the scans follows the AFFECTED clusters only.
    * Crash contract: the new cluster labelling is
    * materialized BEFORE the physical deletes, and the cluster swing
    * is last — a crash in between leaves the store readable on the
    * old version with band/hash rows already gone; re-running the same
    * forget completes it (the affected set is derived from the cluster
    * table, which still holds the forgotten ids until the swing).
    * Returns the new version name. */
  def forgetDocsDedup(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, ids: Seq[Long], threshold: Double = 0.8,
      maxBucket: Int = Dedup.MaxBucket): String = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val idDf = ids.toDF("doc_id")
    val clusters = Lakehouse.readCurrent(spark, tableDir, "clusters")
    val affected = clusters
      .join(broadcast(idDf.withColumnRenamed("doc_id", "id")), Seq("id"), "left_semi")
      .select("component").distinct()
    val members = clusters
      .join(broadcast(affected), Seq("component"), "left_semi")
      .join(broadcast(idDf.withColumnRenamed("doc_id", "id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"))
    val mBands = Lakehouse.readCurrentAppend(spark, tableDir, "bands")
      .join(members, Seq("doc_id"), "left_semi")
    val mCapped = Dedup.dropHotBuckets(mBands, Seq("band", "band_hash"),
      maxBucket, "forgetDedup")
    val mHs = Lakehouse.readCurrentAppend(spark, tableDir, "hashes")
      .join(members, Seq("doc_id"), "left_semi")
    val pairs = Dedup.lshCandidatePairs(mCapped, "doc_id", maxBucket)
      .join(mHs.select(col("doc_id").as("id_a"), col("hs").as("sh_a")), Seq("id_a"))
      .join(mHs.select(col("doc_id").as("id_b"), col("hs").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Dedup.jaccardCol.as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b")
    val recomputed = Components.connectedComponents(pairs, "id_a", "id_b",
      edgesDistinct = true)
    val newClusters = clusters
      .join(broadcast(affected), Seq("component"), "left_anti")
      // the key-first join reordered columns; restore the store layout
      .select(col("id"), col("component"))
      .unionByName(recomputed)
      // materialized BEFORE the physical deletes below: its lineage
      // reads the very partitions deleteFromPartitions rewrites
      .localCheckpoint(true)
    Lakehouse.deleteFromPartitions(spark, s"$tableDir/bands",
      col("doc_id").isin(ids: _*))
    Lakehouse.deleteFromPartitions(spark, s"$tableDir/hashes",
      col("doc_id").isin(ids: _*))
    Lakehouse.bumpVersion(spark, tableDir) { vdir =>
      newClusters.write.mode("overwrite").parquet(s"$vdir/clusters")
    }
  }

  /** Leakage-free split assignment SERVED OFF THE STANDING STORE: the
    * incremental twin of the batch `split_by_cluster` query. The split
    * is a pure function of (current cluster table, doc ids) — a doc
    * draws on its cluster's CC representative when clustered, on its
    * own id otherwise — so no new state is maintained: one pinned read
    * of the CURRENT cluster table, one left join, one integer hash.
    * The consistency contract falls out of `mergeIncremental`'s
    * fold ≡ rebuild guarantee: after any number of folds, assignments
    * equal the batch query on the corpus-so-far, INCLUDING the splits
    * that flipped when a bridging doc merged two clusters (the flip is
    * the correctness: both halves must land in one split from then
    * on). Exercised in ExtensionSpec against the 3-batch ingest. */
  def splitFromStore(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val clusters = Lakehouse.readCurrent(spark, tableDir, "clusters")
      .select(col("id").as(idCol), col("component"))
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("rep"))
      .withColumn("__h",
        (((col("rep") % 2147483647L + 2147483647L) % 2147483647L)
          * 2654435761L + 97L) % 100L)
      .select(col(idCol), col("rep"),
        when(col("__h") < 80, "train")
          .when(col("__h") < 90, "val").otherwise("test").as("split"))
  }

  /** CURATION-AT-INGEST: the complete crawl-day decision loop as one
    * streaming pipeline. Per micro-batch of `(doc_id, text)`:
    *
    *   1. fold the batch into the standing dedup store
    *      ([[dedupFoldBatch]] — bands/hashes/clusters, replay-safe);
    *   2. flag each doc against the POST-FOLD store and the standing
    *      model stores: `drop_dup` (a verified J≥`threshold` partner
    *      with a SMALLER doc_id exists in the corpus seen so far — the
    *      deterministic first-id-wins rule, recomputable from store
    *      state alone so crash recovery needs no batch provenance),
    *      `drop_quality` (bigram-LM avg_nll ≥ `nllCut` from `lmDir`),
    *      and `pred_lang` (NB classification from `nbDir`);
    *   3. append the decision record to `manifestDir/batch=N`
    *      (append-only partitions — the indexIngest I/O discipline;
    *      an existing partition makes replay a no-op).
    *
    * With doc_id-ordered feeds the accumulated manifest equals the
    * batch `corpus_curation_manifest` dup/quality rules over the same
    * corpus (equivalence-tested in ExtensionSpec/ModelStreamsSpec);
    * under arbitrary arrival order the decisions are as-of ingest
    * time — a later smaller-id partner does not retro-flag an already
    * admitted doc (reprocess via the batch manifest when that
    * matters).
    *
    * Cost per batch: model serving is model-table-sized; the dup
    * probe's joins are batch-keyed but its store-side inputs are one
    * scan of the standing band/hash tables each (`Soak curation_ingest`: 13.8 s
    * for a 5 000-doc batch at a 240 000-doc store) — the same
    * batch-vs-history lookup the fold itself performs; a cluster
    * deployment would bucket the band table to turn that scan into
    * pruned lookups. */
  def curationIngest(docStream: DataFrame, dedupDir: String,
      lmDir: String, nbDir: String, manifestDir: String,
      threshold: Double = 0.8, nllCut: Double = 3.5,
      maxBucket: Int = Dedup.MaxBucket,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch0.sparkSession
        graft.functions.GraftFunctions.register(spark)
        val batch = batch0.toDF().select("doc_id", "text").localCheckpoint(true)
        dedupFoldBatch(batch, dedupDir, id, threshold, maxBucket,
          compactEvery, vacuumKeep)
        val mdir = new java.io.File(s"$manifestDir/batch=$id")
        if (!mdir.exists()) {
          // probe the post-fold store: the batch's own bands/hashes are
          // in it, so one (band, band_hash)-keyed join against CURRENT
          // finds every partner seen so far (self-pairs excluded).
          // The probe side READS the bands/batch=$id partition the fold
          // just persisted (deterministic content, present even on a
          // replay whose fold was skipped) instead of re-running the
          // shingle+minhash pass — the most expensive narrow pass over
          // the batch runs once per micro-batch, not twice.
          val probeBands = Dedup.dropHotBuckets(
            spark.read.parquet(s"$dedupDir/bands/batch=$id"),
            Seq("band", "band_hash"), maxBucket, s"curation_probe_b$id")
          val storeBands = Dedup.dropHotBuckets(
            Lakehouse.readCurrentAppend(spark, dedupDir, "bands"),
            Seq("band", "band_hash"), maxBucket, s"curation_store_b$id")
          val storeHs = Lakehouse.readCurrentAppend(spark, dedupDir, "hashes")
          val partners = probeBands
            .select(col("doc_id").as("id_a"), col("band"), col("band_hash"))
            .join(storeBands.select(col("doc_id").as("id_b"), col("band"), col("band_hash")),
              Seq("band", "band_hash"))
            .filter(col("id_a") =!= col("id_b"))
            .select("id_a", "id_b").distinct()
            .join(storeHs.select(col("doc_id").as("id_a"), col("hs").as("sh_a")), Seq("id_a"))
            .join(storeHs.select(col("doc_id").as("id_b"), col("hs").as("sh_b")), Seq("id_b"))
            .select(col("id_a"), col("id_b"), Dedup.jaccardCol.as("jaccard"))
            .filter(col("jaccard") >= threshold)
          val dupFlags = partners
            .groupBy(col("id_a").as("doc_id"))
            .agg(max(when(col("id_b") < col("id_a"), true).otherwise(false))
              .as("__dup"))
          val lq = graft.streaming.ModelStreams
            .lmScoreFromStore(batch, lmDir)
            .select(col("doc_id"), col("avg_nll"),
              (col("avg_nll") >= nllCut).as("__lowq"))
          val pred = graft.streaming.ModelStreams
            .nbServeFromStore(batch, nbDir)
            .select(col("doc_id"), col("pred_label").as("pred_lang"))
          // tmp + atomic rename: a crash mid-write must NOT leave a
          // partial batch=N dir, because the replay guard above would
          // then skip the re-emit (dot-prefixed dirs are invisible to
          // Spark's partition discovery)
          val tmpDir = new java.io.File(s"$manifestDir/.batch=$id.tmp")
          batch.select("doc_id")
            .join(dupFlags, Seq("doc_id"), "left")
            .join(lq, Seq("doc_id"), "left")
            .join(pred, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("__dup"), lit(false)).as("drop_dup"),
              col("avg_nll"),
              coalesce(col("__lowq"), lit(false)).as("drop_quality"),
              col("pred_lang"))
            .withColumn("keep", !(col("drop_dup") || col("drop_quality")))
            .write.mode("overwrite").parquet(tmpDir.getPath)
          java.nio.file.Files.move(tmpDir.toPath, mdir.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        ()
      }
      .start()

  /** Post-commit auto-maintenance for the standing stores: every
    * `compactEvery` batches, compact the just-committed version
    * copy-on-write ([[Lakehouse.compactCurrent]] — lands as
    * `v<id>c<n>`, so a replayed batch is still recognized by
    * [[Lakehouse.sameBatch]]) and retire versions past `vacuumKeep`.
    * Runs AFTER the CURRENT swing: a crash mid-maintenance loses only
    * maintenance, never the fold. `compactEvery = 0` disables. */
  private def maybeMaintain(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, batchId: Long, compactEvery: Int, vacuumKeep: Int): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      Lakehouse.compactCurrent(spark, tableDir)
      Lakehouse.vacuum(spark, tableDir, vacuumKeep)
    }

  /** Lexical INDEX-at-ingest: fold each micro-batch of `(doc_id,
    * text)` documents into the four BM25 index tables
    * ([[graft.operators.Lexical]]) — the searchable-corpus twin of
    * [[dedupIngest]], with the layout split by update pattern:
    *
    *   - `postings/batch=N/`, `doclens/batch=N/` — APPEND-ONLY batch
    *     partitions. A fold writes exactly its batch's rows; the
    *     standing corpus is never rewritten, so fold I/O is
    *     batch-proportional at any store size (where a unioned
    *     copy-on-write rewrite would be corpus-proportional — the
    *     difference between an ingest that stays O(batch) at 100 TB
    *     and one that does not).
    *   - `v<N>/termstats`, `v<N>/stats` — copy-on-write versions
    *     under the atomic CURRENT pointer: the vocabulary-sized df
    *     merge (one term-keyed full-outer join vs the stored table)
    *     and the 1-row corpus totals.
    *
    * Snapshot consistency across the split: a reader pinned on `vN`
    * filters the append tables to `batch <= N` (planning-time
    * partition pruning), so a half-appended next batch is invisible
    * until CURRENT swings — [[graft.operators.Lexical.searchStore]].
    *
    * Crash/replay: partitions land first, the version dir second,
    * CURRENT swings last. A replay after any prefix of that sequence
    * overwrites the same `batch=N` partitions with identical content
    * and re-derives termstats/stats from the still-pinned previous
    * version; a replay after the swing is skipped (CURRENT already
    * names `vN`). Doc ids are assumed new (the [[dedupIngest]] ingest
    * contract); an N-batch fold therefore equals the batch-built
    * index exactly — equivalence-tested in LexicalSpec. */
  def indexIngest(docStream: DataFrame, tableDir: String,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      attrCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        indexFoldBatch(batch.toDF(), tableDir, id, compactEvery, vacuumKeep,
          attrCols)
        ()
      }
      .start()

  /** One lexical-index micro-batch fold (the [[indexIngest]] body,
    * exposed for direct pipeline composition — the
    * [[VectorStreams.vectorFoldBatch]] symmetry).
    *
    * `attrCols` (r16 filtered retrieval): declared document-metadata
    * columns ride the per-doc `doclens` table under the same
    * ATTR_COLS first-fold pin and per-batch `attrstats` histogram as
    * the vector stores, so
    * [[graft.operators.Lexical.searchStore]]'s `predicate` has a
    * store-side scan to evaluate on. */
  def indexFoldBatch(batch: DataFrame, tableDir: String, id: Long,
      compactEvery: Int = 0, vacuumKeep: Int = 2,
      attrCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val cur = new java.io.File(s"$tableDir/CURRENT")
    val ver: Option[String] =
      if (cur.exists()) Some(java.nio.file.Files.readString(cur.toPath).trim)
      else None
    // Idempotent replay (the dedupIngest discipline): CURRENT
    // already carrying this batch id means the fold committed.
    if (!ver.exists(Lakehouse.sameBatch(_, id))) {
      def stored(t: String): Option[DataFrame] =
        ver.map(v => spark.read.parquet(s"$tableDir/$v/$t"))
      VectorStreams.resolveAttrColsPin(tableDir, attrCols, "indexFoldBatch")
      VectorStreams.writeAttrStats(batch, tableDir, id, attrCols,
        "indexFoldBatch")
      val docs = batch.select("doc_id", "text")
      val post = graft.operators.Lexical.postings(docs).localCheckpoint(true)
      val dl0 = graft.operators.Lexical.doclens(docs)
      val dl = (if (attrCols.isEmpty) dl0
        else dl0.join(batch.select(("doc_id" +: attrCols).map(col): _*),
          Seq("doc_id"))).localCheckpoint(true)
      post.write.mode("overwrite").parquet(s"$tableDir/postings/batch=$id")
      dl.write.mode("overwrite").parquet(s"$tableDir/doclens/batch=$id")
      // Small-file control for the append layout: each fold leaves
      // up to shuffle-partitions files in its batch dir, and batch
      // dirs accumulate forever. Compact HERE — before the CURRENT
      // swing — while batch=N is still invisible to every reader
      // (they filter batch <= N-1), so the rewrite needs none of
      // the copy-on-write machinery the version tables need.
      if (compactEvery > 0) {
        Lakehouse.compactDir(spark, s"$tableDir/postings/batch=$id")
        Lakehouse.compactDir(spark, s"$tableDir/doclens/batch=$id")
      }
      val batchTs = graft.operators.Lexical.termstats(post)
      val allTs = stored("termstats") match {
        case None => batchTs
        case Some(old) =>
          old.select(col("term"), col("df_cnt").as("__old"))
            .join(batchTs.select(col("term"), col("df_cnt").as("__new")),
              Seq("term"), "full_outer")
            .select(col("term"),
              (coalesce(col("__old"), lit(0L)) + coalesce(col("__new"), lit(0L)))
                .as("df_cnt"))
      }
      val batchStats = graft.operators.Lexical.corpusStats(dl0)
      val allStats = stored("stats") match {
        case None => batchStats
        case Some(old) =>
          old.select(col("n_docs").as("__on"), col("total_len").as("__ot"))
            .crossJoin(batchStats)
            .select((col("__on") + col("n_docs")).as("n_docs"),
              (col("__ot") + col("total_len")).as("total_len"))
      }
      val vdir = s"$tableDir/v$id"
      allTs.write.mode("overwrite").parquet(s"$vdir/termstats")
      allStats.write.mode("overwrite").parquet(s"$vdir/stats")
      val tmp = new java.io.File(s"$tableDir/CURRENT.tmp")
      java.nio.file.Files.write(tmp.toPath,
        s"v$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp.toPath, cur.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      maybeMaintain(spark, tableDir, id, compactEvery, vacuumKeep)
    }
  }

  /** Perceptual dedup-at-ingest for MEDIA streams — the image/audio
    * twin of [[dedupIngest]]: each micro-batch of
    * `(doc_id, payload, mime)` rows is fingerprinted by `hasher`
    * (default [[Fingerprint.dHash64]]; pass
    * [[Fingerprint.audioFingerprint64]] for audio), candidate pairs
    * are band-bucket collisions of the pigeonhole-complete 8-band
    * split ([[Fingerprint.bandsOf]]) — batch-vs-store plus
    * within-batch, per-side hot-band caps — rescored by exact
    * `bit_count(xor)` ≤ `maxHamming`, and verified pairs fold into the
    * cluster store via [[Components.mergeIncremental]]. Two
    * copy-on-write tables under the atomic CURRENT pointer:
    *
    *   - `bands/` — (id, h, pos, band): the persisted band index new
    *     batches probe (the hash rides along, so rescoring needs no
    *     second store);
    *   - `clusters/` — (id, component) duplicate-cluster labels.
    *
    * Per-batch work scales with the batch (band join + one map-side
    * cap scan of the store), never with pair history; an N-batch
    * replay equals the one-shot [[Fingerprint.hammingNearDupPairs]] →
    * connected components clustering of the full corpus
    * (equivalence-tested in FingerprintSpec). Same idempotent-replay
    * and auto-maintenance contract as [[dedupIngest]]. */
  def mediaDedupIngest(mediaStream: DataFrame, tableDir: String,
      hasher: (org.apache.spark.sql.SparkSession,
        org.apache.spark.sql.Dataset[Multimodal.MediaRow]) => DataFrame =
        Fingerprint.dHash64,
      maxHamming: Int = 6,
      maxBucket: Int = Dedup.MaxBucket,
      compactEvery: Int = 0, vacuumKeep: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    mediaStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ver = Lakehouse.currentVersion(spark, tableDir)
        if (!ver.exists(Lakehouse.sameBatch(_, id))) {
          // pinned append reads (the dedupFoldBatch discipline): only
          // batches the previous version covers
          val pinId: Option[Long] = ver.flatMap(Lakehouse.versionKey).map(_._1)
          def appendPinned(t: String): Option[DataFrame] =
            pinId.map(vid => spark.read.parquet(s"$tableDir/$t")
              .filter(col("batch") <= vid).drop("batch"))
          def storedClusters: Option[DataFrame] =
            ver.map(v => spark.read.parquet(s"$tableDir/$v/clusters"))
          val media = batch
            .select(col("doc_id").cast("long"), col("payload").cast("binary"),
              col("mime").cast("string"))
            .as[Multimodal.MediaRow]
          val newBands = Fingerprint
            .bandsOf(hasher(spark, media).toDF("id", "h"), "id", "h",
              nBands = maxHamming + 1) // fixed per store: the on-disk band scheme
            .localCheckpoint(true) // probed twice (cross + within) and written
          // append-only fold I/O: this batch's partition only
          newBands.write.mode("overwrite").parquet(s"$tableDir/bands/batch=$id")
          if (compactEvery > 0)
            Lakehouse.compactDir(spark, s"$tableDir/bands/batch=$id")
          val newCapped = Dedup.dropHotBuckets(newBands, Seq("pos", "band"),
            maxBucket, s"mediaIngest_new_b$id")
          def side(df: DataFrame, suf: String) = df.select(
            col("pos"), col("band"), col("id").as(s"id_$suf"), col("h").as(s"h_$suf"))
          val within = side(newCapped, "a").join(side(newCapped, "b"), Seq("pos", "band"))
            .filter(col("id_a") < col("id_b"))
          val cands = appendPinned("bands") match {
            case None => within
            case Some(sb) =>
              val oldCapped = Dedup.dropHotBuckets(sb, Seq("pos", "band"),
                maxBucket, s"mediaIngest_old_b$id")
              within.unionByName(
                side(newCapped, "a").join(side(oldCapped, "b"), Seq("pos", "band"))
                  // self-pair guard for out-of-contract refolds
                  .filter(col("id_a") =!= col("id_b")))
          }
          val pairs = cands
            .select(col("id_a"), col("id_b"), col("h_a"), col("h_b")).distinct()
            .select(col("id_a"), col("id_b"),
              expr("bit_count(h_a ^ h_b)").cast("int").as("hamming"))
            .filter(col("hamming") <= maxHamming)
            .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"))
          val clusters = storedClusters match {
            case Some(st) => Components.mergeIncremental(st, pairs, "id_a", "id_b")
            case None => Components.connectedComponents(pairs, "id_a", "id_b",
              edgesDistinct = true)
          }
          val vdir = s"$tableDir/v$id"
          clusters.write.mode("overwrite").parquet(s"$vdir/clusters")
          val f = new java.io.File(s"$tableDir/CURRENT.tmp")
          java.nio.file.Files.write(f.toPath,
            s"v$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          java.nio.file.Files.move(f.toPath,
            new java.io.File(s"$tableDir/CURRENT").toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          maybeMaintain(spark, tableDir, id, compactEvery, vacuumKeep)
        }
        ()
      }
      .start()
}
