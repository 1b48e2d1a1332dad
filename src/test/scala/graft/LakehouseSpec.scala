package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Lakehouse

/** Maintenance jobs for the versioned copy-on-write stores: vacuum
  * retention (CURRENT never deleted), merge-only small-file
  * compaction (content-preserving, shuffle-free), and copy-on-write
  * compaction of a live dedup-ingest store that keeps the
  * idempotent-replay contract intact. */
class LakehouseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("version names parse and order; compacted rewrites keep the batch id") {
    assert(Lakehouse.versionKey("v0") === Some((0L, 0L)))
    assert(Lakehouse.versionKey("v12") === Some((12L, 0L)))
    assert(Lakehouse.versionKey("v12c3") === Some((12L, 3L)))
    assert(Lakehouse.versionKey("CURRENT") === None)
    assert(Lakehouse.versionKey("v1.parquet") === None)
    assert(Lakehouse.sameBatch("v7", 7L))
    assert(Lakehouse.sameBatch("v7c2", 7L))
    assert(!Lakehouse.sameBatch("v7c2", 2L))
    assert(!Lakehouse.sameBatch("v70", 7L))
  }

  private def mkStore(versions: Seq[String], current: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lake").toString
    versions.foreach { v =>
      Seq((1L, v)).toDF("id", "ver").write.parquet(s"$dir/$v/t")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/CURRENT"),
      current.getBytes("UTF-8"))
    dir
  }

  test("vacuum keeps the newest N versions and never deletes CURRENT") {
    val dir = mkStore(Seq("v0", "v1", "v2", "v2c1", "v3"), "v3")
    val deleted = Lakehouse.vacuum(spark, dir, keep = 2)
    assert(deleted === Seq("v0", "v1", "v2"))
    assert(Lakehouse.listVersions(spark, dir) === Seq("v2c1", "v3"))
    // CURRENT pinned on an OLD version survives keep=1
    val dir2 = mkStore(Seq("v0", "v1", "v2"), "v0")
    val deleted2 = Lakehouse.vacuum(spark, dir2, keep = 1)
    assert(deleted2 === Seq("v1"))
    assert(Lakehouse.listVersions(spark, dir2) === Seq("v0", "v2"))
    // keep clamps to >= 1
    val dir3 = mkStore(Seq("v0", "v1"), "v1")
    Lakehouse.vacuum(spark, dir3, keep = 0)
    assert(Lakehouse.listVersions(spark, dir3) === Seq("v1"))
  }

  test("compactDir merges small files, preserves content, and no-ops below target") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    (1L to 1000L).toDF("id").withColumn("payload", col("id") * 7)
      .repartition(16).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files() == 16)
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stats = Lakehouse.compactDir(spark, dir, targetBytes = 1L << 30)
    assert(stats.filesBefore == 16 && stats.filesAfter == 1)
    assert(files() == 1)
    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === before)
    // already compact: second run touches nothing
    val again = Lakehouse.compactDir(spark, dir, targetBytes = 1L << 30)
    assert(again.filesBefore == 1 && again.filesAfter == 1)
  }

  test("compactDir is merge-only: a tiny target never splits into more files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact2").toString + "/t"
    (1L to 100L).toDF("id").repartition(4).write.parquet(dir)
    val stats = Lakehouse.compactDir(spark, dir, targetBytes = 1L)
    assert(stats.filesAfter == stats.filesBefore) // no-op, never a split
  }

  test("bakSwapInto: a failed swap rename throws and leaves the old dir recoverable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_bakswap").toString
    val live = s"$root/t"
    (1L to 10L).toDF("id").write.parquet(live)
    // the fresh dir never landed: the swap rename fails loudly, and the
    // staged old dir is NOT deleted
    intercept[Exception] {
      Lakehouse.bakSwapInto(spark, live, s"$root/t.missing", "spec") }
    assert(!new java.io.File(live).exists() && new java.io.File(s"$live.bak").exists())
    // the heal restores it; healthy states are a no-op
    assert(Lakehouse.recoverBakSwap(spark, live))
    assert(!Lakehouse.recoverBakSwap(spark, live))
    assert(spark.read.parquet(live).count() === 10L)
    assert(!new java.io.File(s"$live.bak").exists())
    // a completed swap replaces the dir and drops the stage
    (1L to 3L).toDF("id").write.parquet(s"$root/t.fresh")
    Lakehouse.bakSwapInto(spark, live, s"$root/t.fresh", "spec")
    assert(spark.read.parquet(live).count() === 3L)
    assert(!new java.io.File(s"$live.bak").exists())
  }

  test("compaction + vacuum of a live dedup-ingest store under the append layout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_ingest").toString
    val b0 = Seq(
      (1L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (2L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (3L, "zzz yyy xxx www vvv uuu ttt sss"))
    val b1 = Seq((4L, "mmm nnn ooo ppp qqq rrr sss ttt"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.dedupIngest(mem.toDF().toDF("doc_id", "text"), tbl)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def current() = Lakehouse.currentVersion(spark, tbl).get
    assert(current() == "v1")
    // append layout: each fold wrote ONLY its own batch partition
    def parts(t: String) = new java.io.File(s"$tbl/$t").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts("bands") == Seq("batch=0", "batch=1"), parts("bands"))
    assert(parts("hashes") == Seq("batch=0", "batch=1"), parts("hashes"))
    val bandsBefore = Lakehouse.readCurrentAppend(spark, tbl, "bands")
      .collect().map(_.toSeq).toSet
    def clusters() = Lakehouse.readCurrent(spark, tbl, "clusters")
      .collect().map(_.toSeq).toSet
    val clustersBefore = clusters()

    // compactCurrent compacts the version tables (clusters only now)
    val (next, stats) = Lakehouse.compactCurrent(spark, tbl, targetBytes = 1L << 30)
    assert(next == "v1c1" && current() == "v1c1")
    assert(stats.map(_.path).size == 1) // clusters — bands/hashes are append tables
    assert(clusters() === clustersBefore)
    // the pinned append read resolves the compacted CURRENT (same batches)
    assert(Lakehouse.readCurrentAppend(spark, tbl, "bands")
      .collect().map(_.toSeq).toSet === bandsBefore)
    // pre-compaction version retained for pinned readers, then vacuumed
    assert(Lakehouse.listVersions(spark, tbl) === Seq("v0", "v1", "v1c1"))
    assert(Lakehouse.vacuum(spark, tbl, keep = 1) === Seq("v0", "v1"))

    // idempotent replay survives compaction: the LAST batch id (the
    // one a crash between swing and commit re-delivers) is recognized
    // as already-committed state even though CURRENT is now v1c1
    assert(graft.streaming.DocStreams.dedupFoldBatch(
      b1.toDF("doc_id", "text"), tbl, 1L).isEmpty)
    assert(current() == "v1c1")
    assert(clusters() === clustersBefore)
    assert(parts("bands") == Seq("batch=0", "batch=1"))
  }

  test("compactCurrent semantics on a multi-subtable copy-on-write store") {
    import spark.implicits._
    // hand-built 3-subtable COW store (the shape dedup had before its
    // append conversion; models still use it): compaction must rewrite
    // every subtable content-preserving and land as v0c1
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_cow").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "a").repartition(4)
      .write.parquet(s"$tbl/v0/ta")
    Seq((1L, "x"), (3L, "y")).toDF("k", "b").repartition(4)
      .write.parquet(s"$tbl/v0/tb")
    Seq((9L, 1L)).toDF("k", "c").repartition(2).write.parquet(s"$tbl/v0/tc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tbl/CURRENT"), "v0")
    def table(t: String) = Lakehouse.readCurrent(spark, tbl, t)
      .collect().map(_.toSeq).toSet
    val before = Seq("ta", "tb", "tc").map(t => t -> table(t)).toMap
    val (next, stats) = Lakehouse.compactCurrent(spark, tbl, targetBytes = 1L << 30)
    assert(next == "v0c1" && Lakehouse.currentVersion(spark, tbl).contains("v0c1"))
    assert(stats.map(_.path).size == 3)
    assert(stats.forall(_.filesAfter <= 1))
    Seq("ta", "tb", "tc").foreach(t => assert(table(t) === before(t), t))
    assert(Lakehouse.listVersions(spark, tbl) === Seq("v0", "v0c1"))
    assert(Lakehouse.vacuum(spark, tbl, keep = 1) === Seq("v0"))
  }

  test("deleteFromPartitions: interrupted swaps heal to a readable state (crash contract)") {
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_heal").toString + "/t"
    def writeBatch(b: Long, rows: Seq[Long], dir: String = ""): Unit =
      rows.map(i => (i, b)).toDF("doc_id", "grp").write.mode("overwrite")
        .parquet(if (dir.isEmpty) s"$tbl/batch=$b" else dir)
    def mv(from: String, to: String): Unit =
      assert(new java.io.File(s"$tbl/$from").renameTo(new java.io.File(s"$tbl/$to")))
    (0L to 3L).foreach(b => writeBatch(b, Seq(b * 10, b * 10 + 1)))

    // batch=0 — crash BETWEEN the two renames, survivor rewrite done:
    // live gone, .bak holds old rows, tmp holds survivors + _SUCCESS
    writeBatch(0L, Seq(1L), s"$tbl/.batch=0.delete.tmp")
    mv("batch=0", ".batch=0.bak")
    // batch=1 — crash MID-rewrite: live gone to .bak, tmp torn (no _SUCCESS)
    mv("batch=1", ".batch=1.bak")
    assert(new java.io.File(s"$tbl/.batch=1.delete.tmp").mkdirs())
    // batch=2 — crash AFTER the swap, .bak cleanup missed
    writeBatch(99L, Seq(99L), s"$tbl/.batch=2.bak")
    // batch=3 — stray complete tmp next to an intact live partition
    writeBatch(3L, Seq(31L), s"$tbl/.batch=3.delete.tmp")

    // a no-match delete still heals everything first
    assert(Lakehouse.deleteFromPartitions(spark, tbl, col("doc_id") === -1L) === 0)
    val got = spark.read.parquet(tbl)
      .select(col("batch").cast("long"), col("doc_id")).collect()
      .groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSet }
    assert(got === Map(
      0L -> Set(1L),          // finished rewrite promoted
      1L -> Set(10L, 11L),    // torn rewrite rolled back to the old rows
      2L -> Set(20L, 21L),    // live untouched, stale .bak dropped
      3L -> Set(30L, 31L)))   // live untouched, stray tmp dropped
    val leftovers = new java.io.File(tbl).list().filter(_.startsWith("."))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    // and the healed table deletes normally
    assert(Lakehouse.deleteFromPartitions(spark, tbl, col("doc_id") === 10L) === 1)
    assert(spark.read.parquet(tbl).filter(col("batch") === 1).collect()
      .map(_.getAs[Long]("doc_id")).toSet === Set(11L))
  }

  test("right-to-be-forgotten across the dedup store: append tables + versioned clusters") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_gdpr").toString
    val docs = Seq(
      (1L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (2L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (3L, "zzz yyy xxx www vvv uuu ttt sss"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.dedupIngest(mem.toDF().toDF("doc_id", "text"), tbl)
    try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    // forget doc 2 (present in bands, hashes, and — as a duplicate of
    // doc 1 — in clusters): append tables rewrite ONLY the partitions
    // holding doomed rows; the versioned clusters table goes through
    // the copy-on-write deleteWhere
    val before = Lakehouse.readCurrent(spark, tbl, "clusters")
      .collect().map(r => r.getLong(0)).toSet
    assert(before.contains(2L))
    assert(Lakehouse.deleteFromPartitions(spark, s"$tbl/bands",
      col("doc_id") === 2L) === 1)
    assert(Lakehouse.deleteFromPartitions(spark, s"$tbl/hashes",
      col("doc_id") === 2L) === 1)
    assert(Lakehouse.readCurrentAppend(spark, tbl, "bands")
      .filter(col("doc_id") === 2L).count() === 0)
    assert(Lakehouse.readCurrentAppend(spark, tbl, "hashes")
      .filter(col("doc_id") === 2L).count() === 0)
    val next = Lakehouse.deleteWhere(spark, tbl, col("id") === 2L)
    assert(next == "v0c1" && Lakehouse.currentVersion(spark, tbl).contains("v0c1"))
    val after = Lakehouse.readCurrent(spark, tbl, "clusters")
      .collect().map(r => r.getLong(0)).toSet
    assert(after === (before - 2L))
    // surviving rows intact everywhere
    assert(Lakehouse.readCurrentAppend(spark, tbl, "hashes")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // clusters' doomed rows live in the pre-rewrite version till vacuum
    assert(Lakehouse.listVersions(spark, tbl) === Seq("v0", "v0c1"))
    assert(Lakehouse.vacuum(spark, tbl, keep = 1) === Seq("v0"))
  }

  test("dedup fold: pre-swing crash leftovers are overwritten on redelivery") {
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("graft_crash_fold").toString
    val b0 = Seq((1L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (2L, "zzz yyy xxx www vvv uuu ttt sss"))
    val b1 = Seq((3L, "aaa bbb ccc ddd eee fff ggg hhh"))
    graft.streaming.DocStreams.dedupFoldBatch(b0.toDF("doc_id", "text"), tbl, 0L)
    // simulate a crash that wrote a PARTIAL batch=1 partition (wrong
    // content, right schema) but died before the CURRENT swing
    Seq((999L, 7, 123456789L)).toDF("doc_id", "band", "band_hash")
      .write.parquet(s"$tbl/bands/batch=1")
    assert(Lakehouse.currentVersion(spark, tbl) === Some("v0"))
    // redelivery of batch 1 must overwrite the leftovers and complete
    assert(graft.streaming.DocStreams.dedupFoldBatch(
      b1.toDF("doc_id", "text"), tbl, 1L).isDefined)
    assert(Lakehouse.currentVersion(spark, tbl) === Some("v1"))
    // the garbage row is gone and the store equals a clean two-batch run
    assert(Lakehouse.readCurrentAppend(spark, tbl, "bands")
      .filter(col("doc_id") === 999L).count() === 0)
    val tbl2 = java.nio.file.Files.createTempDirectory("graft_crash_clean").toString
    graft.streaming.DocStreams.dedupFoldBatch(b0.toDF("doc_id", "text"), tbl2, 0L)
    graft.streaming.DocStreams.dedupFoldBatch(b1.toDF("doc_id", "text"), tbl2, 1L)
    def clusters(t: String) = Lakehouse.readCurrent(spark, t, "clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters(tbl) === clusters(tbl2))
  }

  test("forgetDocsDedup splits bridged clusters exactly — equals one-shot clustering of survivors") {
    import spark.implicits._
    // chain corpus: A ~ X and X ~ B (J >= 0.8 on token 3-shingles) but
    // A !~ B (J ~ 0.71) — X is the BRIDGE; plus an unrelated exact-dup
    // pair (C, D) whose cluster must survive untouched
    val toks = (1 to 44).map(i => s"tok$i")
    val a = toks.take(40).mkString(" ")
    val x = toks.mkString(" ")
    val b = toks.drop(8).mkString(" ")
    val c = (1 to 10).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, a), (2L, x), (3L, b), (10L, c), (11L, c))
    val tbl = java.nio.file.Files.createTempDirectory("graft_forget_dedup").toString
    graft.streaming.DocStreams.dedupFoldBatch(docs.toDF("doc_id", "text"), tbl, 0L)
    def clusters(t: String) = Lakehouse.readCurrent(spark, t, "clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val before = clusters(tbl)
    // precondition: the bridge really merged A, X, B into one cluster
    assert(before(1L) === before(2L) && before(2L) === before(3L), before)
    assert(before(10L) === before(11L) && before(10L) != before(1L), before)

    val next = graft.streaming.DocStreams.forgetDocsDedup(spark, tbl, Seq(2L))
    assert(next == "v0c1" && Lakehouse.currentVersion(spark, tbl).contains("v0c1"))
    // physical rows of the forgotten doc are gone
    assert(Lakehouse.readCurrentAppend(spark, tbl, "bands")
      .filter(col("doc_id") === 2L).count() === 0)
    assert(Lakehouse.readCurrentAppend(spark, tbl, "hashes")
      .filter(col("doc_id") === 2L).count() === 0)

    // the exactness contract: post-forget clusters == a from-scratch
    // clustering of the survivors
    val tbl2 = java.nio.file.Files.createTempDirectory("graft_forget_oneshot").toString
    graft.streaming.DocStreams.dedupFoldBatch(
      docs.filter(_._1 != 2L).toDF("doc_id", "text"), tbl2, 0L)
    assert(clusters(tbl) === clusters(tbl2))
    // ...which means the bridged pair actually split (A and B carry no
    // surviving pair, so they leave the table) and (C, D) survived
    val after = clusters(tbl)
    assert(!after.contains(1L) && !after.contains(3L), after)
    assert(after(10L) === after(11L), after)
  }

  test("diffVersions: change feed between pinned versions; compaction diffs empty") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_diff").toString
    // v1: ids 1..5, payload = id*7; v2: ids 2..6, id 3's payload edited
    (1L to 5L).toDF("id").withColumn("payload", col("id") * 7)
      .write.parquet(s"$dir/v1/t")
    (2L to 6L).toDF("id")
      .withColumn("payload", when(col("id") === 3L, 999L).otherwise(col("id") * 7))
      .write.parquet(s"$dir/v2/t")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/CURRENT"),
      "v2".getBytes("UTF-8"))
    val feed = Lakehouse.diffVersions(spark, dir, "v1", "v2", Seq("id"), "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((1L, "delete"), (3L, "update"), (6L, "insert")))
    // time-travel read sees the pinned (pre-edit) payload
    assert(Lakehouse.readVersion(spark, dir, "v1", "t")
      .filter(col("id") === 3L).head().getLong(1) === 21L)
    // self-diff and a content-preserving compaction both feed nothing
    assert(Lakehouse.diffVersions(spark, dir, "v2", "v2", Seq("id"), "t").count() === 0)
    val (next, _) = Lakehouse.compactCurrent(spark, dir, targetBytes = 1L << 30)
    assert(Lakehouse.diffVersions(spark, dir, "v2", next, Seq("id"), "t").count() === 0)
    // a live deleteWhere shows up as exactly its deletions
    val v3 = Lakehouse.deleteWhere(spark, dir, col("id") >= 5L)
    val feed2 = Lakehouse.diffVersions(spark, dir, next, v3, Seq("id"), "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed2 === Set((5L, "delete"), (6L, "delete")))
    // schema drift between versions is rejected loudly
    (1L to 3L).toDF("id").write.parquet(s"$dir/v9/t")
    intercept[IllegalArgumentException] {
      Lakehouse.diffVersions(spark, dir, "v2", "v9", Seq("id"), "t")
    }
  }

  test("flat versioned store (no subtables) compacts through a whole-version rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_flat").toString
    (1L to 500L).toDF("id").repartition(8).write.parquet(s"$dir/v4")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/CURRENT"),
      "v4".getBytes("UTF-8"))
    val before = spark.read.parquet(s"$dir/v4").collect().map(_.getLong(0)).toSet
    val (next, stats) = Lakehouse.compactCurrent(spark, dir, targetBytes = 1L << 30)
    assert(next == "v4c1")
    assert(stats.size == 1 && stats.head.filesBefore == 8 && stats.head.filesAfter == 1)
    val after = spark.read.parquet(s"$dir/v4c1").collect().map(_.getLong(0)).toSet
    assert(after === before)
    // a second compaction stacks the generation, same batch id
    val (next2, _) = Lakehouse.compactCurrent(spark, dir, targetBytes = 1L << 30)
    assert(next2 == "v4c2" && Lakehouse.sameBatch(next2, 4L))
  }
}
