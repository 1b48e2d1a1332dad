package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Merge

/** F12 merge-classifier properties (SURVEY.md §5.2):
  * insert ∪ update ≡ source; delete ≡ store ∖ source; re-run idempotence.
  */
class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(sourceKeys: Seq[String], storeKeys: Seq[String]) = {
    val source = sourceKeys.toDF("k").withColumn("payload", concat(lit("p-"), col("k")))
    val store = storeKeys.toDF("k").withColumn("id", concat(lit("id-"), col("k")))
    Merge.classify(source, store, Seq("k"))
  }

  test("action partition matches set algebra") {
    val src = Seq("a", "b", "c", "d")
    val sto = Seq("c", "d", "e", "f")
    val actions = run(src, sto).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String](Merge.ActionCol)).toMap
    assert(actions === Map(
      "a" -> "insert", "b" -> "insert", "c" -> "update",
      "d" -> "update", "e" -> "delete", "f" -> "delete"))
  }

  test("updates and deletes carry store id; inserts do not") {
    val rows = run(Seq("a", "c"), Seq("c", "e")).collect()
      .map(r => r.getAs[String]("k") ->
        (r.getAs[String](Merge.ActionCol), Option(r.getAs[String](Merge.StoreIdCol)))).toMap
    assert(rows("a") === (("insert", None)))
    assert(rows("c") === (("update", Some("id-c"))))
    assert(rows("e") === (("delete", Some("id-e"))))
  }

  test("property: randomized sets obey the merge contract") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val universe = (0 until 60).map(i => s"k$i")
      val src = universe.filter(_ => rnd.nextBoolean())
      val sto = universe.filter(_ => rnd.nextBoolean())
      val acts = run(src, sto)
      val ins = Merge.inserts(acts).select("k").as[String].collect().toSet
      val upd = Merge.updates(acts).select("k").as[String].collect().toSet
      val del = Merge.deletes(acts).select("k").as[String].collect().toSet
      assert(ins ++ upd === src.toSet)
      assert(del === sto.toSet -- src.toSet)
      assert((ins & upd).isEmpty && (ins & del).isEmpty && (upd & del).isEmpty)
    }
  }

  test("idempotence: applying actions then re-classifying yields no inserts/deletes") {
    val src = Seq("a", "b", "c")
    val sto = Seq("b", "x")
    val actions = run(src, sto)
    // apply: store' = source rows with ids (updates keep id, inserts minted)
    val newStore = actions.filter(col(Merge.ActionCol) =!= "delete")
      .select(col("k"), coalesce(col(Merge.StoreIdCol), concat(lit("new-"), col("k"))).as("id"))
    val source2 = src.toDF("k").withColumn("payload", concat(lit("p-"), col("k")))
    val again = Merge.classify(source2, newStore, Seq("k"))
    assert(Merge.inserts(again).count() === 0)
    assert(Merge.deletes(again).count() === 0)
    assert(Merge.updates(again).count() === src.size)
  }

  test("E5: a store key held twice classifies error once, in the source or not") {
    val source = Seq("a", "b").toDF("k").withColumn("payload", concat(lit("p-"), col("k")))
    val store = Seq(("a", "id-a2"), ("a", "id-a1"), ("b", "id-b"), ("c", "id-c1"), ("c", "id-c2"))
      .toDF("k", "id")
    val rows = Merge.classify(source, store, Seq("k")).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String](Merge.ActionCol))
    assert(rows.toMap === Map("a" -> "error", "b" -> "update", "c" -> "error"))
    assert(rows.length === 3) // one row per key, not one per stored copy
  }

  test("audit summary counts per action (E1)") {
    val acts = run(Seq("a", "b", "c"), Seq("c", "d"))
    val m = Merge.auditSummary(acts, lit("Patient")).collect()
      .map(r => r.getAs[String](Merge.ActionCol) -> r.getAs[Long]("n")).toMap
    assert(m === Map("insert" -> 2L, "update" -> 1L, "delete" -> 1L))
  }
}
