package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.FhirResources
import graft.operators.Merge
import graft.sinks.FhirStore

/** The reference's job, re-expressed as one declarative DAG per
  * (site, resourceType) — SURVEY.md §3.
  *
  * Where the reference loops patient-by-patient issuing 6 SQL queries
  * and ≥4 HTTP round-trips each (N+1), this pipeline:
  *  - assembles the cohort with joins (fan-out join D3);
  *  - takes the first demographic row per patient with a window (E2);
  *  - aggregates session ids / PRO identifiers per patient (E3/D9,
  *    deterministic first-seen order by sorted SessionId);
  *  - builds resources as nested structs (one narrow projection);
  *  - reconciles against the store snapshot with a full-outer merge
  *    keyed on the business identifier (D4/F12);
  *  - hands insert/update/delete sets to the sink (B1/B2).
  *
  * Ids are deterministic client-assigned (`cnics-<site>-<key>`), which
  * removes the reference's store-assigned-id sequential barrier
  * (SURVEY.md §3.2): children derive subject references without
  * waiting for write-backs.
  */
final case class CnicsInputs(
    patient: DataFrame,
    demographic: DataFrame,
    diagnosis: DataFrame,
    medication: DataFrame,
    lab: DataFrame,
    pro: DataFrame,       // ProAltered: (PatientId, SessionId)
    proDb: DataFrame,     // PRO db join: (SessionID, PatientID, MRN)
    crosswalk: DataFrame, // (hmrn, umrn, SitePatientId, __order) — last wins
    conditionsFilter: String,
    medicationsFilter: String,
    observationsFilter: String,
    standardDiagnoses: Seq[String])

/** What one [[CnicsPipeline.sync]] reconciles against, and how it
  * writes (see `sync` for each case's store read). */
sealed trait Scope
object Scope {
  sealed trait Write
  /** Each type's actions go to its own `applyActions` call. */
  case object PerType extends Write
  /** Every type's actions go to one `applyActionsMixed` call. */
  case object OneJob extends Write

  /** The site's whole cohort. */
  final case class Full(write: Write = PerType) extends Scope
  /** A dirty set of site-patient ids: a one-column frame. */
  final case class Keys(keys: DataFrame) extends Scope
  /** Manifest-diffed: per-type manifests at `<root>/<Type>/manifest`. */
  final case class Manifest(root: String) extends Scope
}

/** @param debugDir when set, every reconcile dumps its full action
  *   frame — (key, id, merge_action, json) per resource — to
  *   `<debugDir>/<resourceType>` parquet before the sink applies it.
  *   This is the distributed form of the reference's per-resource
  *   debug logging (`debug_logger.debug(...)`, cnics_to_fhir.py:527,
  *   627, 710, 895): at scale a driver log line per row is the
  *   bottleneck, a partitioned parquet audit trail is not, and it is
  *   queryable afterwards (which the log never was). */
class CnicsPipeline(spark: SparkSession, in: CnicsInputs, store: FhirStore, site: String,
    debugDir: Option[String] = None) {

  private val siteLower = site.toLowerCase
  private def emptyStrArr = array().cast("array<string>")

  /** C1 — (Historical <> 'Yes' OR Historical IS NULL), cnics:121/138/154. */
  private def historicalFilter: Column =
    coalesce(col("Historical") =!= "Yes", lit(true))

  /** Cohort: Patient ⋈ Demographic restricted to site (A2), distinct
    * on the patient key (the reference may enqueue duplicates when a
    * patient has several demographic rows — idempotent either way). */
  def cohort(limit: Int = Int.MaxValue): DataFrame =
    in.patient
      .filter(col("Site") === site)
      .join(in.demographic.select("PatientId").distinct(), Seq("PatientId"))
      .select(col("PatientId"), col("SitePatientId").cast("string").as("site_pat_id"))
      .distinct()
      .limit(limit)

  /** G3 — the reference's commented `order by rand()` cohort sampling
    * (cnics_to_fhir.py:264), seeded for reproducibility: a random-but-
    * deterministic n-patient cohort. rand(seed) is stable for a fixed
    * partitioning, which cohort() pins via its distinct() shuffle. */
  def cohortSample(n: Int, seed: Long = 42L): DataFrame =
    cohort().orderBy(rand(seed), col("site_pat_id")).limit(n)

  /** E2 — first demographic row per patient by DemographicId. */
  def demoFirst: DataFrame =
    in.demographic
      .withColumn("__rn", row_number().over(
        Window.partitionBy("PatientId").orderBy(col("DemographicId"))))
      .filter(col("__rn") === 1)
      .select(col("PatientId"), col("Race"), col("Hispanic"), col("Sex"))

  /** STRICT first-seen mode (D9/E4): when the `pro` / `proDb` inputs
    * carry an `__arrival` column (the row order of the source extract),
    * identifier order reproduces the reference's cursor order
    * byte-for-byte (`cnics_to_fhir.py:410-420`). Without it, order is
    * pinned to sorted SessionId — deterministic, documented divergence
    * (the reference itself inherits undefined DB order, G4). */
  private def strictPro: Boolean = in.pro.columns.contains("__arrival")

  /** Distinct sessions per patient with their first-seen order key. */
  private def sessionsOrdered: DataFrame =
    if (strictPro)
      in.pro.groupBy("PatientId", "SessionId")
        .agg(lpad(min(col("__arrival")).cast("string"), 19, "0").as("__sess_ord"))
    else
      in.pro.select("PatientId", "SessionId").distinct()
        .withColumn("__sess_ord", col("SessionId"))

  /** A4/E3 — distinct session ids per patient, deterministic order. */
  def sessionsPerPatient: DataFrame =
    sessionsOrdered
      .groupBy("PatientId")
      .agg(expr("transform(array_sort(collect_list(struct(__sess_ord, SessionId)))," +
        " s -> s.SessionId)").as("session_ids"))

  /** D9/E4 — PRO-db fallback identifiers: first-seen-order distinct
    * PatientIDs and MRNs across the patient's sessions. */
  def proFallback: DataFrame = {
    val db0 = in.proDb
      .withColumnRenamed("SessionID", "SessionId")
      .withColumnRenamed("PatientID", "pro_pat_id") // avoid case-insensitive clash
    val db = if (db0.columns.contains("__arrival"))
      db0.withColumn("__db_ord", lpad(col("__arrival").cast("string"), 19, "0"))
        .drop("__arrival")
    else db0.withColumn("__db_ord", lit(""))
    sessionsOrdered
      .join(db, Seq("SessionId"))
      .groupBy("PatientId")
      .agg(
        expr("array_distinct(transform(array_sort(" +
          "collect_list(IF(pro_pat_id IS NOT NULL, struct(__sess_ord, __db_ord, pro_pat_id), NULL))" +
          "), s -> s.pro_pat_id))").as("pro_pat_ids"),
        expr("array_distinct(transform(array_sort(" +
          "collect_list(IF(MRN IS NOT NULL, struct(__sess_ord, __db_ord, MRN), NULL))" +
          "), s -> s.MRN))").as("pro_mrns"))
  }

  /** A6 — crosswalk with PER-FIELD last-wins merge on SitePatientId
    * (cnics_to_fhir.py:296-304): hmrn is overwritten by every duplicate
    * row, umrn only by rows whose umrn is present — so a later
    * duplicate with a NULL umrn keeps the earlier umrn. One map-side
    * combinable aggregation (max_by ignores null ordering keys). */
  def crosswalkLastWins: DataFrame = CnicsPipeline.crosswalkLastWins(in.crosswalk)

  /** Assembled patient resources: (PatientId, key, id, json). */
  def patientResources(limit: Int = Int.MaxValue): DataFrame = {
    val base = cohort(limit)
      .join(demoFirst, Seq("PatientId"), "left")
      .join(sessionsPerPatient, Seq("PatientId"), "left")
      .join(broadcast(crosswalkLastWins), Seq("site_pat_id"), "left")
      .join(proFallback, Seq("PatientId"), "left")
      .withColumn("session_ids", coalesce(col("session_ids"), emptyStrArr))
      .withColumn("in_crosswalk", coalesce(col("in_crosswalk"), lit(false)))
      .withColumn("pro_pat_ids",
        coalesce(col("pro_pat_ids"), array().cast("array<long>")))
      .withColumn("pro_mrns", coalesce(col("pro_mrns"), emptyStrArr))
    base.select(
      col("PatientId"),
      col("site_pat_id").as("key"),
      concat(lit(s"cnics-$siteLower-"), col("site_pat_id")).as("id"),
      to_json(FhirResources.patient(
        lit(siteLower), col("site_pat_id"), col("session_ids"),
        col("in_crosswalk"), col("hmrn"), col("umrn"),
        col("pro_pat_ids"), col("pro_mrns"),
        col("Race"), col("Hispanic"), col("Sex"))).as("json"))
  }

  /** Reconcile + write of one resource type: classify `source0`
    * against the store `snapshot` with a full-outer merge on `key`,
    * hand the actions to `write`, and return its counts plus the E5
    * dup-key values (error-channel-sized; [[manifestPass]] must keep
    * those keys OUT of its manifest or the error would be masked
    * forever). With a `keyScope` the source is semi-joined to it too,
    * so keys outside the scope are neither writable nor deletable;
    * semi joins keep the scope frame un-duplicated, and Catalyst
    * broadcasts it when dimension-sized. */
  private def reconcile(resourceType: String, source0: DataFrame,
      keyScope: Option[DataFrame], snapshot: => DataFrame,
      write: (String, DataFrame) => Map[String, Long]): (Map[String, Long], Seq[String]) = {
    val source = keyScope
      .map(ks => source0.join(ks, Seq("key"), "left_semi"))
      .getOrElse(source0)
    // persisted: the dup-key scan below and the merge both read it, and
    // for HTTP stores recomputing means re-fetching the whole snapshot
    val snapAll = snapshot.filter(col("key").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // E5 — multiple store resources sharing one business key: the
      // reference aborts that row ("Multiple patient resources",
      // cnics_to_fhir.py:359, 906-908). Route the key out of the merge
      // entirely (no write, no delete) and surface an `error` counter.
      val dupKeys = snapAll.groupBy("key").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select("key")
      // error-channel-sized by construction (only keys the store holds
      // twice); collected once so the manifest can exclude them and
      // callers can count them without a second job. CAPPED: a
      // misconfigured store that duplicates a large fraction of its
      // keys would otherwise turn this into an unbounded driver
      // collect feeding a huge isin() literal tree — past the cap the
      // run fails loudly (the store needs repair, not a bigger merge).
      val dupKeyRows = dupKeys.limit(CnicsPipeline.MaxDupKeys + 1).collect()
      require(dupKeyRows.length <= CnicsPipeline.MaxDupKeys,
        s"$resourceType store holds > ${CnicsPipeline.MaxDupKeys} duplicated business keys — " +
          "this is store corruption at scale, not an error channel; repair " +
          "the store before syncing")
      val dupKeyValues = dupKeyRows.map(_.getString(0)).toSeq
      val nDup = dupKeyValues.size.toLong
      val (snap, src) =
        if (nDup == 0) (snapAll, source)
        else (snapAll.join(broadcast(dupKeys), Seq("key"), "left_anti"),
          source.join(broadcast(dupKeys), Seq("key"), "left_anti"))
      val classified = Merge.classify(src, snap, Seq("key"))
        .withColumn("id", coalesce(col(Merge.StoreIdCol), col("id")))
        .withColumnRenamed(Merge.ActionCol, "merge_action")
      // B-side debug channel (reference parity, see class doc): the
      // exact frame handed to the sink, persisted for inspection.
      // When the dump runs, the classify join is materialized ONCE
      // (localCheckpoint) so the sink pass doesn't recompute the
      // source scan + snapshot join a second time.
      val actions = debugDir match {
        case None => classified
        case Some(dir) =>
          val pinned = classified.localCheckpoint(true)
          pinned.select("key", "id", "merge_action", "json")
            .write.mode("overwrite").parquet(s"$dir/$resourceType")
          pinned
      }
      val counts = write(resourceType, actions.select("key", "id", "json", "merge_action"))
      (if (nDup > 0) counts + ("error" -> nDup) else counts, dupKeyValues)
    } finally { snapAll.unpersist(); () }
  }

  /** Subject resource ids of the cohort (the `Patient/<id>` targets). */
  private def cohortSubjects(ids: DataFrame): DataFrame =
    ids.select(concat(lit(s"cnics-$siteLower-"), col("site_pat_id")).as("subject_id"))

  private def childSource(detail: DataFrame, nameCol: String, iniFilter: String,
      cohortIds: DataFrame): DataFrame =
    detail
      .filter(historicalFilter && length(col(nameCol)) > 0 && expr(iniFilter))
      .join(cohortIds, Seq("PatientId"))

  /** This site's site-patient-id identifier system — the Patient
    * snapshot scope (cnics_to_fhir.py:322: one site's reconcile may
    * only see, and therefore only delete, its OWN patients on a
    * shared multi-site store). */
  def sitePatientIdSystem: String =
    s"https://cnics.cirg.washington.edu/site-patient-id/$siteLower"

  /** A child type's site-scoped record-id identifier system
    * (`.../{diagnosis,medication,lab}/site-record-id/<site>`). */
  private def recordIdSystem(kind: String): String =
    s"https://cnics.cirg.washington.edu/$kind/site-record-id/$siteLower"

  /** The sync entry point. Reconciles the requested `types`
    * (resource-list names, [[CnicsPipeline.AllTypes]]) Patient first
    * and returns the reference's zero-filled 12-counter audit (E1:
    * {Patient, Condition, MedicationRequest, Observation} × {insert,
    * update, delete}), plus a (type, `error`) counter when the store
    * holds duplicated business keys (E5). `limit` caps the cohort.
    *
    * `scope` picks the store read and the write:
    *  - [[Scope.Full]] — the site's cohort. Patient reads the
    *    site-scoped snapshot; children read the distributed
    *    per-subject snapshot of the cohort (A7), so store∖source
    *    deletes stay within this cohort's subjects. `OneJob` runs the
    *    same reads and classifies but defers every write into one
    *    [[graft.sinks.FhirStore.applyActionsMixed]] call — on
    *    [[graft.sinks.HttpFhirStore]] one job of mixed-type Bundles,
    *    with no parent→child stage barrier. Legal because ids are
    *    client-assigned; the end state equals `PerType`'s (pinned by
    *    `cnics_http_tx_audit` against a strict-reference server).
    *  - [[Scope.Keys]] — a caller-known dirty set of site-patient ids
    *    (a CDC feed, [[graft.streaming.CnicsStreams.sync]]). The
    *    inputs are semi-join-scoped first, so assembly and wire are
    *    both O(batch). Patient reads `snapshotForKeys` and is
    *    key-scoped: a key whose cohort row vanished still DELETEs.
    *    Children read the scoped cohort's subject snapshot; children of
    *    a departed patient go with the Patient DELETE's
    *    `?_cascade=delete` (cnics_to_fhir.py:333).
    *  - [[Scope.Manifest]] — every type through its own (key, hash)
    *    manifest at `<root>/<Type>/manifest` ([[manifestPass]]). The
    *    source is assembled in full, but only keys whose JSON changed
    *    reach the merge, and the store read is the key-targeted
    *    `snapshotForKeys` under the type's site-scoped identifier
    *    system: a K-row delta costs O(K) reads and writes. A key that
    *    left the source is remembered and deletes explicitly, which
    *    converges to the same end state as the Patient cascade. This
    *    replaces the reference's PUT-always steady state
    *    (cnics_to_fhir.py:548-584); clean keys are never read, so run a
    *    `Full` sync periodically as the integrity sweep. */
  def sync(types: Set[String] = CnicsPipeline.AllTypes, scope: Scope = Scope.Full(),
      limit: Int = Int.MaxValue): Map[(String, String), Long] = {
    val (pipe, patientKeys) = scope match {
      case Scope.Keys(keys) =>
        val ks = keys.select(col(keys.columns.head).cast("string").as("site_pat_id"))
          .distinct()
        (scopedTo(ks), Some(ks.select(col("site_pat_id").as("key"))))
      case _ => (this, None)
    }
    lazy val ids = pipe.cohortIds(limit)
    val table = Seq(
      ("Patient", "patients", sitePatientIdSystem, () => pipe.patientResources(limit)),
      ("Condition", "conditions", recordIdSystem("diagnosis"),
        () => pipe.conditionResources(ids)),
      ("MedicationRequest", "medicationrequests", recordIdSystem("medication"),
        () => pipe.medicationResources(ids)),
      ("Observation", "observations", recordIdSystem("lab"),
        () => pipe.observationResources(ids)))
    val deferred = scala.collection.mutable.ListBuffer.empty[(String, DataFrame)]
    val write: (String, DataFrame) => Map[String, Long] = scope match {
      // materialized NOW (eager checkpoint): reconcile unpersists its
      // snapshot when it returns, and the deferred frame must survive that
      case Scope.Full(Scope.OneJob) => (rt, df) => {
        deferred += ((rt, df.localCheckpoint(true))); Map.empty
      }
      case _ => store.applyActions
    }
    val counts = table.filter(t => types(t._2)).map { case (rt, _, system, source) =>
      def systemRead(keys: Option[DataFrame]): DataFrame =
        keys.fold(store.snapshot(spark, rt, Some(system)))(
          store.snapshotForKeys(spark, rt, _, Some(system)))
      rt -> (scope match {
        case Scope.Manifest(root) =>
          manifestPass(s"$root/$rt", source()) { (cur, dirty) =>
            reconcile(rt, cur, Some(dirty), systemRead(Some(dirty)), write)
          }
        case _ if rt == "Patient" =>
          reconcile(rt, source(), patientKeys, systemRead(patientKeys), write)._1
        case _ =>
          reconcile(rt, source(), None,
            store.snapshotForSubjects(spark, rt, cohortSubjects(ids)), write)._1
      })
    }
    val written =
      if (deferred.isEmpty) Map.empty[(String, String), Long]
      else store.applyActionsMixed(deferred.map { case (rt, df) =>
        df.select(lit(rt).as("resource_type"),
          col("key"), col("id"), col("json"), col("merge_action"))
      }.reduce(_.unionByName(_)))
    counts.foldLeft(Map.empty[(String, String), Long]) { case (audit, (rt, c)) =>
      val all = c ++ written.collect { case ((`rt`, a), n) => a -> n }
      val filled = Seq("insert", "update", "delete")
        .foldLeft(audit)((m, a) => m + ((rt, a) -> all.getOrElse(a, 0L)))
      all.get("error").fold(filled)(n => filled + ((rt, "error") -> n))
    }
  }

  /** A pipeline whose INPUTS are semi-join-scoped to the dirty keys —
    * the patient table first, then every per-patient table by the
    * scoped PatientIds — so assembly cost is O(batch). The detail
    * tables (diagnosis/medication/lab) are left as-is: their child
    * sources already start from the scoped cohort join
    * ([[childSource]]), which prunes them to the scoped patients. */
  private def scopedTo(ks: DataFrame): CnicsPipeline = {
    val pat = in.patient.join(ks.withColumnRenamed("site_pat_id", "__k"),
      col("SitePatientId").cast("string") === col("__k"), "left_semi")
    val ids = pat.select("PatientId").distinct()
    new CnicsPipeline(spark, in.copy(
        patient = pat,
        demographic = in.demographic.join(ids, Seq("PatientId"), "left_semi"),
        pro = in.pro.join(ids, Seq("PatientId"), "left_semi"),
        crosswalk = in.crosswalk.join(
          ks.withColumnRenamed("site_pat_id", "SitePatientId"),
          Seq("SitePatientId"), "left_semi")),
      store, site, debugDir)
  }

  /** One manifest-diffed reconcile (extension; see
    * [[Merge.manifestDiff]]): diff `cur0` against the previous run's
    * `(key, hash)` manifest under `dir`, reconcile the dirty keys, and
    * swing the manifest (tmp write + bak swap) only after the store
    * apply returns — a crash mid-apply leaves the previous manifest
    * and the next run re-finds the same dirty keys (PUT-with-id
    * upserts and DELETEs replay idempotently). */
  private def manifestPass(dir: String, cur0: DataFrame)(
      reconcileDirty: (DataFrame, DataFrame) => (Map[String, Long], Seq[String]))
      : Map[String, Long] = {
    val cur = cur0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val live = s"$dir/manifest"
      val fsys = new org.apache.hadoop.fs.Path(live)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // heal a swap crashed between its two renames (live gone, bak
      // holds the previous manifest): restore bak rather than letting
      // an empty prev force a full re-sync
      val bak = new org.apache.hadoop.fs.Path(s"$dir/.manifest.bak")
      val livePath = new org.apache.hadoop.fs.Path(live)
      if (!fsys.exists(livePath) && fsys.exists(bak)) {
        fsys.rename(bak, livePath); ()
      }
      val prev =
        if (fsys.exists(livePath)) spark.read.parquet(live)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("key",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("__h",
              org.apache.spark.sql.types.LongType))))
      val (dirty, manifest0) = Merge.manifestDiff(cur, "key", "json", prev)
      val (counts, dupKeys) = reconcileDirty(cur, dirty)
      // E5 dup keys were routed OUT of the merge unapplied: advancing
      // their manifest hash would mask the error forever (the key would
      // read clean next run while the store keeps the duplicate data).
      // Keep them out of the manifest so they stay dirty and the error
      // re-surfaces every run until fixed — same steady-state behavior
      // as the full PUT-always run.
      val manifest = if (dupKeys.isEmpty) manifest0
        else manifest0.filter(!col("key").isin(dupKeys: _*))
      // apply succeeded -> swing the manifest (write fully, then swap)
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/.manifest.tmp")
      manifest.write.mode("overwrite").parquet(tmp.toString)
      if (fsys.exists(livePath) && !fsys.rename(livePath, bak))
        throw new IllegalStateException(s"manifest bak rename failed: $live")
      if (!fsys.rename(tmp, livePath))
        throw new IllegalStateException(s"manifest swap failed: $live")
      fsys.delete(bak, true)
      counts
    } finally { cur.unpersist(); () }
  }

  /** The cohort-id frame every child type joins against, materialized
    * (localCheckpoint) once per [[sync]], and only when a child type
    * is requested: it feeds both the fan-out join and the subject
    * scope, so the cut halves the cohort assembly work — and,
    * critically for skew, it puts a REAL shuffle boundary under the
    * fan-out join. Without it the cohort side arrives pre-partitioned
    * by PatientId from its own upstream join, the whole right side
    * fuses into the join stage, and AQE's OptimizeSkewedJoin (which
    * requires BOTH join children to be ENSURE_REQUIREMENTS shuffle
    * stages) can never split a hot patient's partition — the
    * one-patient-many-labs skew would serialize on one task at scale
    * (CnicsSkewSoak pins both the fused-plan refusal and the
    * checkpointed plan's skew=true split). Cohort-sized storage, the
    * N+1-removal frame — bounded and small next to the detail side;
    * blocks are reclaimed by the ContextCleaner with the frame. */
  private def cohortIds(limit: Int): DataFrame =
    cohort(limit).select("PatientId", "site_pat_id").localCheckpoint(true)

  private def conditionResources(ids: DataFrame): DataFrame =
    childSource(in.diagnosis, "DiagnosisName", in.conditionsFilter, ids)
      .withColumn("key", col("DiagnosisId").cast("string"))
      .select(col("key"),
        concat(lit(s"cnics-dx-$siteLower-"), col("key")).as("id"),
        to_json(FhirResources.condition(
          lit(siteLower),
          concat(lit(s"cnics-$siteLower-"), col("site_pat_id")),
          col("DiagnosisId").cast("string"), col("DiagnosisDate"),
          col("DiagnosisSource"), col("DiagnosisName"),
          col("DiagnosisName").isin(in.standardDiagnoses: _*))).as("json"))

  private def medicationResources(ids: DataFrame): DataFrame =
    childSource(in.medication, "MedicationName", in.medicationsFilter, ids)
      .withColumn("key", col("MedicationId").cast("string"))
      .select(col("key"),
        concat(lit(s"cnics-med-$siteLower-"), col("key")).as("id"),
        to_json(FhirResources.medicationRequest(
          lit(siteLower),
          concat(lit(s"cnics-$siteLower-"), col("site_pat_id")),
          col("MedicationId").cast("string"), col("MedicationName"),
          col("StartDate"), col("EndDate"), col("EndType"))).as("json"))

  private def observationResources(ids: DataFrame): DataFrame =
    childSource(in.lab, "TestName", in.observationsFilter, ids)
      .withColumn("key", col("LabId")) // LabId is already a string (§1.4)
      .select(col("key"),
        concat(lit(s"cnics-lab-$siteLower-"), col("key")).as("id"),
        to_json(FhirResources.observation(
          lit(siteLower),
          concat(lit(s"cnics-$siteLower-"), col("site_pat_id")),
          col("LabId"), col("TestName"), col("TestDate"),
          col("Result"), col("Units"), col("ReferenceLow"), col("ReferenceHigh"))).as("json"))
}

object CnicsPipeline {
  /** Every resource list a [[CnicsPipeline.sync]] can reconcile — the
    * reference's `resource_list` names (cnics_to_fhir.py:249-257). */
  val AllTypes: Set[String] =
    Set("patients", "conditions", "medicationrequests", "observations")

  /** E5 dup-key error-channel bound: above this the duplicate set is
    * store corruption, not an error channel (see reconcile). */
  val MaxDupKeys: Int = 10000

  /** A6 — the per-field last-wins crosswalk merge on SitePatientId
    * (cnics_to_fhir.py:296-304): hmrn is overwritten by every
    * duplicate row, umrn only by rows whose umrn is present — so a
    * later duplicate with a NULL umrn keeps the earlier umrn. One
    * map-side combinable aggregation (max_by ignores null ordering
    * keys). Static so the driver-visible `a6_crosswalk_lastwins` row
    * gates THIS code, not a copy. */
  def crosswalkLastWins(crosswalk: DataFrame): DataFrame =
    crosswalk
      .groupBy(col("SitePatientId").as("site_pat_id"))
      .agg(
        max_by(col("hmrn"), col("__order")).as("hmrn"),
        max_by(col("umrn"), when(col("umrn").isNotNull, col("__order"))).as("umrn"))
      .withColumn("in_crosswalk", lit(true))
}
