package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Maintenance for the copy-on-write versioned stores the streaming
  * operators maintain ([[graft.streaming.DocStreams.dedupIngest]],
  * [[graft.streaming.EventStreams.scd2Maintain]]) and for plain
  * parquet table dirs ([[graft.sinks.ParquetFhirStore]]).
  *
  * A standing ingest writes one full version dir per micro-batch under
  * an atomic CURRENT pointer — correct (readers never see half-written
  * state) but unbounded: version dirs accumulate forever, and each
  * version's file count tracks the writing job's parallelism, not the
  * data (the small-file problem — at 100 TB a day of 1-minute batches
  * is 1440 versions × shuffle-partitions files, and a scan pays an
  * object-store round trip per file). The two standard lakehouse
  * maintenance jobs close both:
  *
  *  - [[vacuum]]: delete version dirs past a retention count. CURRENT
  *    is never deleted regardless of age, so an in-flight reader
  *    pinned on it cannot lose its files; older pinned readers are
  *    protected by the retention window, exactly the contract Delta
  *    and Iceberg document for their vacuum/expire-snapshots.
  *  - [[compactCurrent]] / [[compactDir]]: rewrite a table's files to
  *    a target size. Versioned stores compact copy-on-write — the
  *    rewrite lands as a NEW version (`v<id>c<n>`, same batch id) and
  *    CURRENT swings only after the write completes, so compaction is
  *    invisible to readers and crash-safe like any other fold; the
  *    old version stays behind for vacuum. Flat dirs (the FhirStore
  *    lakehouse target) rewrite through a tmp dir + swap with a
  *    row-count guard before the swap.
  *
  * All paths go through the Hadoop [[FileSystem]] API, so the same
  * code runs against local disk (tests), HDFS, or an object store —
  * with the documented caveat that dir renames are atomic only where
  * the store makes them so; on S3-like stores the CURRENT pointer
  * file remains the real commit point, which is why every mutation
  * here completes its writes before touching CURRENT.
  *
  * No counterpart in the reference (it writes row-at-a-time to a FHIR
  * server); this is the operational half of the §7 lakehouse sink
  * extension.
  */
object Lakehouse {

  /** Version dir names: `v<batchId>` as written by the streaming
    * folds, or `v<batchId>c<gen>` for the gen-th compacted rewrite of
    * that batch's state. Ordering is (batchId, gen): a compacted
    * rewrite is strictly newer than its source but older than the
    * next batch. */
  private val VerName = "^v(\\d+)(?:c(\\d+))?$".r

  /** (batchId, compactionGen) for a well-formed version name. */
  def versionKey(name: String): Option[(Long, Long)] = name match {
    case VerName(id, gen) =>
      Some((id.toLong, if (gen == null) 0L else gen.toLong))
    case _ => None
  }

  /** Does `verName` carry the state of batch `batchId` (directly or as
    * a compacted rewrite)? The idempotent-replay check in
    * `dedupIngest` uses this so a replayed batch is still skipped when
    * a compaction ran between the CURRENT swing and the crash. */
  def sameBatch(verName: String, batchId: Long): Boolean =
    versionKey(verName).exists(_._1 == batchId)

  private[graft] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      // local runs: the checksummed view would reject CURRENT pointers
      // written by the streaming folds' java.nio fast path (no .crc
      // sidecar); the raw view matches what Spark's committers use.
      // HDFS/object stores pass through untouched.
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
      case other => other
    }

  def currentVersion(spark: SparkSession, tableDir: String): Option[String] = {
    val f = fs(spark, tableDir)
    val cur = new Path(tableDir, "CURRENT")
    if (!f.exists(cur)) None
    else {
      val in = f.open(cur)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Read a subtable of the CURRENT version (or the whole version dir
    * for flat stores): one pointer read pins a consistent version for
    * the reader's whole lifetime — concurrent folds, compactions, and
    * vacuums (within the retention window) never change the files
    * under it. This is the read path every consumer of a versioned
    * store should use instead of resolving CURRENT per access. */
  def readCurrent(spark: SparkSession, tableDir: String,
      subtable: String = ""): org.apache.spark.sql.DataFrame = {
    val cur = currentVersion(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    val p = if (subtable.isEmpty) s"$tableDir/$cur" else s"$tableDir/$cur/$subtable"
    spark.read.parquet(p)
  }

  /** Pinned read of an APPEND-partitioned subtable (`sub/batch=N`
    * layout beside the version dirs — the indexIngest discipline):
    * resolve `version` (default CURRENT), keep only the batches it
    * covers (planning-time partition pruning), drop the partition
    * column. The shared reader for the lexical, vector, and dedup
    * stores' append tables. */
  def readCurrentAppend(spark: SparkSession, tableDir: String,
      sub: String, version: Option[String] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val ver = version.orElse(currentVersion(spark, tableDir)).getOrElse(
      throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    val maxBatch = versionKey(ver).map(_._1).getOrElse(
      throw new IllegalStateException(s"unparseable version '$ver'"))
    // a crashed deleteFromPartitions swap leaves its partition hidden
    // behind dot-prefixed bak/tmp dirs — INVISIBLE to partition
    // discovery, so without this check a pinned read would silently
    // serve the table minus one batch until some later delete healed
    // it. Detection is one listStatus (metadata-cheap); healing only
    // runs when a crash actually left debris.
    healPartitionSwaps(spark, s"$tableDir/$sub")
    spark.read.parquet(s"$tableDir/$sub")
      .filter(col("batch") <= maxBatch).drop("batch")
  }

  /** Time-travel read: a subtable of one PINNED version (audits,
    * reproducing a run against the exact corpus it trained on, and the
    * inputs of [[diffVersions]]). The version must still be within
    * [[vacuum]]'s retention window. */
  def readVersion(spark: SparkSession, tableDir: String, version: String,
      subtable: String = ""): org.apache.spark.sql.DataFrame = {
    val p = if (subtable.isEmpty) s"$tableDir/$version" else s"$tableDir/$version/$subtable"
    spark.read.parquet(p)
  }

  /** Version-to-version CHANGE FEED: diff one subtable between two
    * pinned versions on `keyCols`. Returns the key columns plus
    * `change` ∈ insert/delete/update; unchanged rows are dropped. An
    * incremental consumer (cache invalidation, a downstream index, an
    * audit) reads what a fold, rewrite, compaction, or [[deleteWhere]]
    * did to the store without replaying the operation — compaction
    * correctly diffs as empty.
    *
    * Non-key columns are compared through ONE xxhash64 over their
    * name-sorted struct, so each side is a column-pruned scan producing
    * (key, 8-byte hash) and the whole diff is a single key-keyed
    * full-outer join, whatever the row width — at 100 TB the join
    * carries 16-byte rows, never documents. Keys are assumed unique per
    * version (the store invariant the folds maintain). */
  def diffVersions(spark: SparkSession, tableDir: String,
      oldVersion: String, newVersion: String, keyCols: Seq[String],
      subtable: String = ""): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val o = readVersion(spark, tableDir, oldVersion, subtable)
    val n = readVersion(spark, tableDir, newVersion, subtable)
    // names AND types: a silent type drift would hash every row
    // differently and report the whole table as updated
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    require(sig(o) == sig(n),
      s"schema mismatch between $oldVersion and $newVersion: " +
        s"${sig(o).mkString(",")} vs ${sig(n).mkString(",")}")
    val nonKey = o.columns.filterNot(keyCols.contains).sorted.toSeq
    def hashed(df: org.apache.spark.sql.DataFrame, hName: String) =
      df.select(keyCols.map(col) :+
        (if (nonKey.isEmpty) lit(0L)
         else xxhash64(struct(nonKey.map(col): _*))).as(hName): _*)
    hashed(o, "__h_old")
      .join(hashed(n, "__h_new"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__h_old").isNull, lit("insert"))
          .when(col("__h_new").isNull, lit("delete"))
          .when(col("__h_old") =!= col("__h_new"), lit("update")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** Survivor rewrite of an APPEND table's batch partitions (the
    * deletion primitive for `batch=N`-partitioned stores): every
    * partition holding a row matching `cond` is rewritten in place —
    * survivors land in a dot-prefixed tmp dir (invisible to readers),
    * then an atomic-rename swap. Readers pinned mid-scan during the
    * swap may fail and must retry (right-to-be-forgotten beats reader
    * isolation — the Delta/Iceberg compliance-vacuum trade). Partition
    * values are preserved, so `batch <= N` snapshot cuts keep working.
    * Returns the number of partitions rewritten. */
  def deleteFromPartitions(spark: SparkSession, tableDir: String,
      cond: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, tableDir)
    healPartitionSwaps(spark, tableDir)
    val affected = spark.read.parquet(tableDir).filter(cond)
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    affected.foreach { b =>
      val dir = new Path(s"$tableDir/batch=$b")
      val tmp = new Path(s"$tableDir/.batch=$b.delete.tmp")
      val bak = new Path(s"$tableDir/.batch=$b.bak")
      spark.read.parquet(dir.toString).filter(!cond)
        .write.mode("overwrite").parquet(tmp.toString)
      // bak-swap, never delete-then-rename: at every instant either the
      // old partition (live or recoverable .bak) or the rewritten one
      // is on disk, and a crash anywhere is healed by
      // healPartitionSwaps — run here AND by every pinned append read
      // (readCurrentAppend), so "re-running the same forget completes
      // it" and no reader ever serves a table minus a hidden batch.
      if (!f.rename(dir, bak))
        throw new IllegalStateException(s"deleteFromPartitions: bak rename failed for $dir")
      if (!f.rename(tmp, dir))
        throw new IllegalStateException(s"deleteFromPartitions: swap rename failed for $dir")
      f.delete(bak, true)
    }
    affected.length
  }

  /** Heal interrupted [[deleteFromPartitions]] swaps. The bak/tmp dirs
    * are dot-prefixed (invisible to partition discovery), so a crash
    * mid-swap hides the partition from readers AND from a naive re-run
    * — the condemned rows no longer match `cond` because they are not
    * scanned at all. This pass restores every partition to a readable
    * state; it runs at the top of [[deleteFromPartitions]] AND on
    * every pinned append read ([[readCurrentAppend]] — one listStatus
    * when the table is clean, which is the always case outside a
    * crash window):
    *  - live + bak → swap finished, bak cleanup missed: drop bak;
    *  - bak + complete tmp (`_SUCCESS`) → crash between the two
    *    renames: promote the finished survivor rewrite, drop bak;
    *  - bak only (or torn tmp) → crash mid-rewrite: restore bak;
    *  - stray tmp with live intact → drop tmp (it will be rewritten).
    * Concurrent healers race benignly: a rename that fails because
    * another healer already promoted/restored the partition is
    * re-checked against the live dir before giving up. */
  def healPartitionSwaps(spark: SparkSession, tableDir: String): Unit = {
    val f = fs(spark, tableDir)
    val root = new Path(tableDir)
    if (!f.exists(root)) return
    val Bak = """\.batch=(\d+)\.bak""".r
    val Tmp = """\.batch=(\d+)\.delete\.tmp""".r
    val names = f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    def renameOrRaced(from: Path, to: Path, what: String): Unit =
      if (!f.rename(from, to) && !f.exists(to))
        throw new IllegalStateException(s"healPartitionSwaps: $what failed for $to")
    names.foreach {
      case Bak(b) =>
        val live = new Path(s"$tableDir/batch=$b")
        val bak = new Path(s"$tableDir/.batch=$b.bak")
        val tmp = new Path(s"$tableDir/.batch=$b.delete.tmp")
        if (f.exists(live)) f.delete(bak, true)
        else if (f.exists(new Path(tmp, "_SUCCESS"))) {
          renameOrRaced(tmp, live, "promote")
          f.delete(bak, true)
        } else {
          f.delete(tmp, true)
          renameOrRaced(bak, live, "restore")
        }
      case _ => ()
    }
    names.foreach {
      case Tmp(b) =>
        val tmp = new Path(s"$tableDir/.batch=$b.delete.tmp")
        if (f.exists(new Path(s"$tableDir/batch=$b")) && f.exists(tmp))
          f.delete(tmp, true)
      case _ => ()
    }
  }

  /** Open the next copy-on-write version (`v<id>c<gen+1>`): `write`
    * receives the new version dir to populate its subtables, then
    * CURRENT swings — the crash contract of every versioned store op
    * (a failure inside `write` leaves CURRENT, and the store, on the
    * old version). Returns the new version name. */
  def bumpVersion(spark: SparkSession, tableDir: String)
      (write: String => Unit): String = {
    val curName = currentVersion(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    val (id, gen) = versionKey(curName).getOrElse(
      throw new IllegalStateException(s"unparseable CURRENT version '$curName'"))
    val nextName = s"v${id}c${gen + 1}"
    write(s"$tableDir/$nextName")
    swingCurrent(fs(spark, tableDir), tableDir, nextName)
    nextName
  }

  /** Well-formed version dirs under `tableDir`, oldest first. */
  def listVersions(spark: SparkSession, tableDir: String): Seq[String] = {
    val f = fs(spark, tableDir)
    val root = new Path(tableDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(n => versionKey(n).map(k => (k, n)))
      .sortBy(_._1)
      .map(_._2)
  }

  /** Delete version dirs beyond the newest `keep`, never CURRENT.
    * Returns the deleted names. `keep` is clamped to ≥ 1 — a store
    * with no versions is not a store. */
  def vacuum(spark: SparkSession, tableDir: String, keep: Int): Seq[String] = {
    val f = fs(spark, tableDir)
    val all = listVersions(spark, tableDir)
    val cur = currentVersion(spark, tableDir)
    val retained = all.takeRight(math.max(keep, 1)).toSet ++ cur.toSet
    val doomed = all.filterNot(retained)
    doomed.foreach(n => f.delete(new Path(tableDir, n), true))
    doomed
  }

  final case class CompactStats(path: String, filesBefore: Int,
      filesAfter: Int, bytes: Long)

  private def parquetFiles(f: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    f.listStatus(dir).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Target file count for `bytes` of data currently in `files` files:
    * merge-only (never split a table into MORE files than it has). */
  private def targetFiles(bytes: Long, files: Int, targetBytes: Long): Int =
    math.max(1, math.min(files.toLong, (bytes + targetBytes - 1) / targetBytes)).toInt

  /** Rewrite the parquet dir at `src` into `dst` with ~`targetBytes`
    * files. `coalesce` (not `repartition`) — compaction must not pay a
    * shuffle: each output task concatenates whole input splits. */
  private def rewrite(spark: SparkSession, src: String, dst: String,
      targetBytes: Long): CompactStats = {
    val f = fs(spark, src)
    val before = parquetFiles(f, new Path(src))
    val bytes = before.map(_.getLen).sum
    val n = targetFiles(bytes, before.size, targetBytes)
    spark.read.parquet(src).coalesce(n).write.mode("overwrite").parquet(dst)
    CompactStats(src, before.size, parquetFiles(f, new Path(dst)).size, bytes)
  }

  /** Compact a flat parquet table dir in place: rewrite through a tmp
    * dir, guard on row count, then swap (old dir kept as `.bak` until
    * the swap lands). Returns the stats; a no-op (already ≤ target
    * count) returns stats with filesAfter == filesBefore and touches
    * nothing. */
  def compactDir(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): CompactStats = {
    val f = fs(spark, dir)
    val before = parquetFiles(f, new Path(dir))
    val bytes = before.map(_.getLen).sum
    val n = targetFiles(bytes, before.size, targetBytes)
    if (n >= before.size)
      return CompactStats(dir, before.size, before.size, bytes)
    val tmp = dir + ".compact"
    val rowsBefore = spark.read.parquet(dir).count()
    val stats = rewrite(spark, dir, tmp, targetBytes)
    val rowsAfter = spark.read.parquet(tmp).count()
    require(rowsAfter == rowsBefore,
      s"compaction row-count mismatch at $dir: $rowsBefore -> $rowsAfter")
    bakSwapInto(spark, dir, tmp, "compactDir")
    stats
  }

  /** Swap the fully written dir `fresh` into place at `live` via two
    * checked renames, staging the old dir (if any) aside at `bak`.
    * NOT atomic: a crash between the renames leaves `live` missing with
    * the old consistent dir stranded at `bak` — [[recoverBakSwap]], run
    * here first and by every reader/writer entry of a bak-swapped
    * store, restores it on next touch, so the durable contract is "old
    * consistent dir until the swap completes". A failed rename throws
    * before anything is deleted. A reader RACING the two-rename window
    * on a live JVM can still observe the missing dir (or restore it
    * under the writer, which then fails loudly): swaps are
    * single-writer events, never run against a store being served. */
  def bakSwapInto(spark: SparkSession, live: String, fresh: String, what: String,
      bak: Option[String] = None): Unit = {
    val f = fs(spark, live)
    val (l, b) = (new Path(live), new Path(bak.getOrElse(live + ".bak")))
    recoverBakSwap(spark, live, bak)
    f.delete(b, true) // a completed swap's missed cleanup
    if (f.exists(l) && !f.rename(l, b))
      throw new IllegalStateException(s"$what: cannot stage $live aside")
    if (!f.rename(new Path(fresh), l))
      throw new IllegalStateException(s"$what: cannot swap $fresh into $live")
    f.delete(b, true)
    ()
  }

  /** Heal a [[bakSwapInto]] crash window: if `live` is missing but its
    * `bak` exists, the process died between the two swap renames —
    * restore the old consistent dir. Returns whether it restored;
    * no-op in every healthy state ({live present} or {nothing}). */
  def recoverBakSwap(spark: SparkSession, live: String,
      bak: Option[String] = None): Boolean = {
    val f = fs(spark, live)
    val (l, b) = (new Path(live), new Path(bak.getOrElse(live + ".bak")))
    val crashed = !f.exists(l) && f.exists(b)
    if (crashed && !f.rename(b, l) && !f.exists(l))
      throw new IllegalStateException(s"recoverBakSwap: cannot restore $live from $b")
    crashed
  }

  /** General copy-on-write REWRITE of a versioned store's CURRENT
    * version: every parquet subtable (or the flat version dir) passes
    * through `f(subtableName, df)` and the results land as a NEW
    * version dir before CURRENT swings — the same crash/reader safety
    * as a fold or a compaction. The new version keeps the batch id
    * (`v<id>c<n>`): a replayed batch id must still be recognized as
    * committed (the rewrite SUPERSEDES the fold — re-folding it would
    * resurrect what the rewrite removed). Flat stores pass subtable
    * name "".
    *
    * This is the primitive behind targeted deletion ([[deleteWhere]]):
    * at 100 TB, removing a user's rows is a rewrite of survivors into
    * a fresh version, never an in-place mutation — readers pinned on
    * the old version keep a consistent view until vacuum retires it
    * (retention = the compliance window). */
  def rewriteCurrent(spark: SparkSession, tableDir: String)
      (f: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): String = {
    val curName = currentVersion(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    val (id, gen) = versionKey(curName).getOrElse(
      throw new IllegalStateException(s"unparseable CURRENT version '$curName'"))
    val nextName = s"v${id}c${gen + 1}"
    val fsys = fs(spark, tableDir)
    val curDir = new Path(tableDir, curName)
    val subtables = fsys.listStatus(curDir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    if (subtables.isEmpty)
      f("", spark.read.parquet(curDir.toString))
        .write.mode("overwrite").parquet(new Path(tableDir, nextName).toString)
    else subtables.foreach { t =>
      f(t, spark.read.parquet(new Path(curDir, t).toString))
        .write.mode("overwrite").parquet(new Path(tableDir, s"$nextName/$t").toString)
    }
    swingCurrent(fsys, tableDir, nextName)
    nextName
  }

  /** Targeted deletion (the right-to-be-forgotten path): rewrite the
    * CURRENT version keeping only rows where `cond` is FALSE in every
    * subtable that carries the predicate's columns (subtables without
    * them pass through unchanged). Returns the new version name; the
    * doomed rows remain readable only in pre-rewrite versions, which
    * [[vacuum]] retires within the retention window. */
  def deleteWhere(spark: SparkSession, tableDir: String,
      cond: org.apache.spark.sql.Column): String =
    rewriteCurrent(spark, tableDir) { (_, df) =>
      // a subtable that doesn't carry the predicate's columns passes
      // through unchanged (decided by analysis, not name matching)
      try {
        val out = df.filter(!cond)
        out.queryExecution.assertAnalyzed()
        out
      } catch { case _: org.apache.spark.sql.AnalysisException => df }
    }

  private def swingCurrent(f: FileSystem, tableDir: String, nextName: String): Unit = {
    val tmp = new Path(tableDir, "CURRENT.tmp")
    val out = f.create(tmp, true)
    try out.write(nextName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, new Path(tableDir, "CURRENT"))) {
      // local/HDFS rename refuses to clobber; replace explicitly
      f.delete(new Path(tableDir, "CURRENT"), false)
      f.rename(tmp, new Path(tableDir, "CURRENT"))
    }
  }

  /** Copy-on-write compaction of a versioned store's CURRENT version:
    * every parquet subtable (or the version dir itself when it is a
    * flat table, as `scd2Maintain` writes) is rewritten to ~
    * `targetBytes` files inside a NEW version dir `v<id>c<gen+1>`,
    * and CURRENT swings only after all subtables land. Readers pinned
    * on the old version keep their files (vacuum owns their
    * retirement); a crash before the swing leaves CURRENT — and the
    * store — untouched. */
  def compactCurrent(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L << 20): (String, Seq[CompactStats]) = {
    val curName = currentVersion(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no CURRENT pointer under $tableDir"))
    val (id, gen) = versionKey(curName).getOrElse(
      throw new IllegalStateException(s"unparseable CURRENT version '$curName'"))
    val nextName = s"v${id}c${gen + 1}"
    val f = fs(spark, tableDir)
    val curDir = new Path(tableDir, curName)
    val subtables = f.listStatus(curDir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    val stats =
      if (subtables.isEmpty)
        Seq(rewrite(spark, new Path(tableDir, curName).toString,
          new Path(tableDir, nextName).toString, targetBytes))
      else subtables.map { t =>
        rewrite(spark, new Path(curDir, t).toString,
          new Path(tableDir, s"$nextName/$t").toString, targetBytes)
      }
    swingCurrent(f, tableDir, nextName)
    (nextName, stats)
  }
}
