package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F12/D4/D5 — the reconciliation MERGE at the heart of the reference
  * (cnics_to_fhir.py:548-584, 645-678, 728-763): classify source rows
  * vs current store contents by business key into insert / update /
  * delete actions.
  *
  * The reference does this as an O(n·m) nested Python loop per
  * patient; here it is a single full-outer hash join keyed on the
  * business identifier — shuffle-partitioned on the key, so at 100 TB
  * it scales horizontally and AQE handles key skew. When one side is
  * dimension-sized the optimizer (or an explicit hint by the caller)
  * turns it into a broadcast join.
  */
object Merge {

  val ActionCol = "merge_action"
  val StoreIdCol = "store_id"

  /** Classify `source` against `store` on equality of `keys`.
    *
    * `store` must carry the key columns plus an `id` column (the
    * store-assigned resource id, carried into updates — reference
    * lines 608/696/788). Result: all source columns + `merge_action`
    * ("insert" | "update" | "delete" | "error") + `store_id` (null for
    * inserts).
    *
    * E5 — a key the store holds more than once classifies `error`,
    * whether or not the source has it: the reference aborts that row
    * ("Multiple patient resources", cnics_to_fhir.py:359, 906-908), so
    * it is neither written nor deleted, only counted. The store side is
    * one `groupBy(keys)` keeping the smallest id and the row count; the
    * join reuses that aggregate's key partitioning, so the check costs
    * no exchange or job of its own.
    *
    * Contracts (property-tested):
    *  - insert ∪ update rows ≡ source rows (store keys held once)
    *  - delete rows ≡ store ∖ source (by key)
    *  - one row per source row plus one per store-only key
    *  - re-running with store' = apply(actions) yields 0 inserts and
    *    0 deletes (idempotent re-run, the reference's steady state)
    */
  def classify(source: DataFrame, store: DataFrame, keys: Seq[String]): DataFrame = {
    val srcFlag = "__graft_src"
    val nCol = "__graft_n"
    val s = source.withColumn(srcFlag, lit(true))
    val t = store.groupBy(keys.map(col): _*)
      .agg(min(col("id")).as(StoreIdCol), count(lit(1)).as(nCol))
    s.join(t, keys, "full_outer")
      .withColumn(ActionCol,
        when(col(nCol) > 1, "error")
          .when(col(srcFlag).isNotNull && col(nCol).isNotNull, "update")
          .when(col(nCol).isNotNull, "delete")
          .otherwise("insert"))
      .drop(srcFlag, nCol)
  }

  /** Split a classified actions frame. */
  def inserts(actions: DataFrame): DataFrame = actions.filter(col(ActionCol) === "insert")
  def updates(actions: DataFrame): DataFrame = actions.filter(col(ActionCol) === "update")
  def deletes(actions: DataFrame): DataFrame = actions.filter(col(ActionCol) === "delete")

  /** E1 — audit counters: action counts per resource type, the
    * reference's 12-counter summary (cnics_to_fhir.py:914-925). */
  def auditSummary(actions: DataFrame, resourceType: Column): DataFrame =
    actions.groupBy(resourceType.as("resource_type"), col(ActionCol))
      .agg(count(lit(1)).as("n"))

  /** Incremental-sync planner (extension — the reference re-PUTs its
    * whole cohort every run, cnics_to_fhir.py:548-584): diff the
    * freshly assembled source against the previous run's
    * `(key, content-hash)` manifest, so a re-sync touches the store
    * wire only for keys whose content actually changed.
    *
    * `carry` names further columns of `cur` that the manifest keeps
    * beside the hash (the CNICS sync keeps each resource's subject), so
    * a key that left the source is still known by them next run.
    *
    * Returns `(dirty, manifest)`:
    *  - `dirty` — `key` plus the `carry` columns: keys new in `cur`,
    *    keys whose hash changed, and keys present only in `prev` (they
    *    left the source and must DELETE). A key present in `cur`
    *    carries its `cur` values; a key that left the source carries
    *    its `prev` values (null when `prev` lacks the column).
    *    Unchanged keys are absent, which is the whole point: downstream
    *    scopes both the source and the store snapshot to `dirty`, and
    *    O(changed) rows — not O(cohort) — reach the store.
    *  - `manifest` — the next run's `(key, __h, carry…)` frame (write
    *    it only AFTER the store apply succeeds: a crash before the
    *    swing leaves the old manifest, and the next run re-finds the
    *    same dirty keys — PUT/DELETE are idempotent, so replay is safe).
    *
    * One hash join on `key`; the manifest is 16 bytes/row plus the
    * carried columns, so at a 10⁸-patient site this is a
    * dimension-sized shuffle, not a data one. */
  def manifestDiff(cur: DataFrame, keyCol: String, contentCol: String,
      prev: DataFrame, carry: Seq[String]): (DataFrame, DataFrame) = {
    val manifest = cur.select(Seq(col(keyCol).as("key"),
      xxhash64(col(contentCol)).as("__h")) ++ carry.map(col): _*)
    def side(df: DataFrame, tag: String) = df.select(Seq(col("key"), col("__h").as(s"__h_$tag")) ++
      carry.map(c => col(c).as(s"__${tag}_$c")): _*)
    val dirty = side(manifest, "cur").join(side(prev, "prev"), Seq("key"), "full_outer")
      .filter(col("__h_cur").isNull || col("__h_prev").isNull ||
        col("__h_cur") =!= col("__h_prev"))
      .select(col("key") +: carry.map(c => when(col("__h_cur").isNull, col(s"__prev_$c"))
        .otherwise(col(s"__cur_$c")).as(c)): _*)
    (dirty, manifest)
  }
}
