package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift tripwire: the driver regenerates the parquet corpus
  * between rounds, and an encoding change (like `events.ts` moving from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS)) must fail HERE, in seconds,
  * naming the drifted column — not as a silent 15% shrink of the
  * CORRECTNESS registry. Every table is opened through [[graft.sources.Tables]],
  * so what is asserted is the post-normalization contract the queries
  * actually consume. */
class FixtureSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** name → (column, loaded Spark type) in engine contract form. */
  private val expected: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    // post-normalizeEvents contract: real µs timestamp + epoch-ns long
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string", "ts_ns" -> "bigint"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  test("every fixture table loads through Tables with the expected columns and types") {
    graft.sources.Tables.names.foreach { name =>
      val df = graft.sources.Tables(spark, dir, name)
      val got = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val want = expected(name)
      val drift = want.flatMap { case (c, t) =>
        got.get(c) match {
          case None => Some(s"$name.$c MISSING (expected $t)")
          case Some(g) if g != t => Some(s"$name.$c is $g, expected $t")
          case _ => None
        }
      } ++ got.keySet.diff(want.map(_._1).toSet).map(c => s"$name.$c UNEXPECTED")
      assert(drift.isEmpty, s"fixture schema drift:\n  ${drift.mkString("\n  ")}")
    }
  }

  test("normalizeEvents: legacy ns-long and micros-timestamp encodings produce identical frames") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same five events under both historical fixture encodings
    val ns = Seq(
      (1L, 1700000000000000000L, 10L, "click", 1.5, "{}"),
      (2L, 1700000000500000000L, 10L, "view", 2.0, "{}"),
      (3L, 1700003600000001000L, 11L, "click", 0.5, "{}"),
      (4L, 1700003600999999000L, 11L, "purchase", 9.9, "{}"),
      (5L, 1700007200123456000L, 12L, "view", 3.3, "{}"))
    val legacyDir = java.nio.file.Files.createTempDirectory("graft_evlegacy").toString
    val microsDir = java.nio.file.Files.createTempDirectory("graft_evmicros").toString
    ns.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$legacyDir/events.parquet")
    ns.map { case (id, t, u, e, v, p) =>
      (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0L, t)), u, e, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")
    def load(dir: String) = graft.sources.Tables(spark, dir, "events")
      .select(col("event_id"), col("ts_ns"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(load(legacyDir) === load(microsDir))
    assert(load(legacyDir).map(_._2) === ns.map(_._2).toSet)
  }

  test("every registered query analyzes against the sf0.001 fixture") {
    // Analysis only (`.schema` forces resolution, runs no job for pure
    // plans) — this is the in-round tripwire for the failure mode where a
    // fixture change makes whole query families unresolvable and they
    // silently drop out of the driver's CORRECTNESS compare. Builders
    // that train models (BPE, IVF/PQ) do run small local jobs here;
    // sf0.001 keeps that to seconds.
    // `a5_codelist_stats` reads no fixture table, only the reference's
    // code-list CSVs; it is left out only while those are not readable.
    val absent = CnicsSourcesSpec.absentCodeLists
    if (absent.nonEmpty)
      info(s"a5_codelist_stats not analyzed: ${absent.mkString(", ")} not readable")
    val queries = SparkEntry.queries.toSeq
      .filterNot { case (name, _) => absent.nonEmpty && name == "a5_codelist_stats" }
      .sortBy(_._1)
    info(s"${queries.size} queries analyzed")
    val failures = queries.flatMap { case (name, fn) =>
      try { fn(spark, dir).schema; None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries failed analysis:\n  ${failures.mkString("\n  ")}")
  }
}
