package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.FhirResources
import graft.operators.{Checkpoints, Lakehouse, Merge}
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

/** What one [[CnicsPipeline.sync]] reconciles against (see `sync`
  * for each case's store read). */
sealed trait Scope
object Scope {
  /** The site's whole cohort. */
  case object Full extends Scope
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

  /** Cohort: site patients (A2) that have a demographic row, distinct
    * on the patient key (the reference may enqueue duplicates when a
    * patient has several demographic rows — idempotent either way). A
    * semi join: no `distinct()` exchange on the demographic side. */
  def cohort(limit: Int = Int.MaxValue): DataFrame =
    in.patient
      .filter(col("Site") === site)
      .join(in.demographic, Seq("PatientId"), "left_semi")
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

  /** Assembled patient resources: (PatientId, key, id, subject, json),
    * where `subject` is the patient's own key (see [[sync]]). */
  def patientResources(limit: Int = Int.MaxValue): DataFrame = patientsOf(cohort(limit))

  /** The Patient resources of a (PatientId, site_pat_id) cohort frame. */
  private def patientsOf(ids: DataFrame): DataFrame = {
    val base = ids
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
      col("site_pat_id").as("subject"),
      to_json(FhirResources.patient(
        lit(siteLower), col("site_pat_id"), col("session_ids"),
        col("in_crosswalk"), col("hmrn"), col("umrn"),
        col("pro_pat_ids"), col("pro_mrns"),
        col("Race"), col("Hispanic"), col("Sex"))).as("json"))
  }

  /** The action frame of one resource type: `source0` classified
    * against the store `snapshot` with a full-outer merge on `key`, as
    * (key, id, json, merge_action). A key the store holds more than
    * once classifies `error` (E5, see [[Merge.classify]]): the store
    * counts it and never applies it. With a `keyScope` the source is
    * semi-joined to it too, so keys outside the scope are neither
    * writable nor deletable; semi joins keep the scope frame
    * un-duplicated, and Catalyst broadcasts it when dimension-sized. */
  private def reconcile(source0: DataFrame, keyScope: Option[DataFrame],
      snapshot: DataFrame): DataFrame = {
    val source = keyScope
      .map(ks => source0.join(ks, Seq("key"), "left_semi"))
      .getOrElse(source0)
    Merge.classify(source, snapshot.filter(col("key").isNotNull), Seq("key"))
      .withColumn("id", coalesce(col(Merge.StoreIdCol), col("id")))
      .select("key", "id", "json", "merge_action")
  }

  /** B-side debug channel (reference parity, see class doc): the exact
    * action frame handed to the sink, dumped for inspection. */
  private def dump(resourceType: String, actions: DataFrame): Unit =
    debugDir.foreach(dir => actions.select("key", "id", "merge_action", "json")
      .write.mode("overwrite").parquet(s"$dir/$resourceType"))

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
    * holds duplicated business keys (E5: such a key classifies `error`
    * and is never applied). `limit` caps the cohort.
    *
    * One write rule: every scope defers all types' actions into one
    * [[graft.sinks.FhirStore.applyActionsMixed]] call — on
    * [[graft.sinks.HttpFhirStore]] one job of mixed-type Bundles, with
    * no parent→child stage barrier; on [[graft.sinks.ParquetFhirStore]]
    * one rewrite per type directory, the Patient-delete cascade
    * included. Legal because ids are client-assigned; the end state
    * equals the reference's per-type, parent-first writes (pinned by
    * `cnics_http_tx_audit`: a strict-reference server against the
    * [[graft.sinks.InMemoryFhirStore]] double, whose default
    * `applyActionsMixed` writes that way). Children
    * of a deleted Patient go with the Patient DELETE's
    * `?_cascade=delete` (cnics_to_fhir.py:333), so no scope reads or
    * deletes them itself.
    *
    * `scope` picks the store read:
    *  - [[Scope.Full]] — the site's cohort. Patient reads the
    *    site-scoped snapshot; children read the distributed
    *    per-subject snapshot of the cohort (A7), so store∖source
    *    deletes stay within this cohort's subjects. When a child type
    *    is requested, Patient and every child type sync one cohort,
    *    the [[cohortIds]] frame, so a `limit` cuts them alike.
    *  - [[Scope.Keys]] — a caller-known dirty set of site-patient ids
    *    (a CDC feed, [[graft.streaming.CnicsStreams.sync]]). The
    *    inputs are semi-join-scoped first, so assembly and wire are
    *    both O(batch). Patient reads `snapshotForKeys` and is
    *    key-scoped: a key whose cohort row vanished still DELETEs.
    *    Children read the scoped cohort's subject snapshot, which a
    *    departed patient is no longer in.
    *  - [[Scope.Manifest]] — every type through its own (key, hash,
    *    subject) manifest at `<root>/<Type>/manifest` ([[manifestPass]]),
    *    `subject` being the site patient key a resource belongs to. The
    *    source is assembled in full, but only keys whose JSON changed
    *    reach the merge, and the store read is the key-targeted
    *    `snapshotForKeys` under the type's site-scoped identifier
    *    system: a K-row delta costs O(K) reads and writes. Each dirty
    *    child key carries a subject — its current one, or its previous
    *    one when it left the source — and the pinned Patient action
    *    frame decides whether it is looked up:
    *     - under a Patient this sync deletes, it is dropped before its
    *       lookup (the cascade removes it); any other key that left the
    *       source deletes explicitly;
    *     - under a Patient this sync inserts, it is not looked up and
    *       classifies `insert`: the Patient's site-identifier lookup
    *       found no such patient, and parent-first bundles plus the
    *       cascade mean a store with referential integrity holds no
    *       child of it. So an arriving patient's history, and all of a
    *       Manifest sync into an empty store, costs only the Patient
    *       lookup. A record that moved to an arriving patient from a
    *       stored one counts as an insert, and its PUT-with-id
    *       overwrites the copy under its old subject;
    *     - under an `update` or E5 `error` Patient, or a Patient that is
    *       not dirty, it is looked up.
    *    A manifest written without `subject` keeps every departed key,
    *    which costs one sync explicit child deletes and ends in the
    *    same store. This replaces the reference's PUT-always steady
    *    state (cnics_to_fhir.py:548-584); clean keys are never read, so
    *    run a `Full` sync periodically as the integrity sweep.
    *
    *    A `Manifest` sync runs in three phases. First every synced
    *    type is *prepared* at once, one driver thread per type
    *    ([[CnicsPipeline.concurrently]], after the [[cohortIds]]
    *    checkpoint is taken on the calling thread): its source is
    *    assembled and pinned, [[manifestPass]] diffs it, and the dirty
    *    frame is pinned. A pin runs its plan's shuffle stages when it
    *    is taken, so each type's assembly and diff are concurrent Spark
    *    queries, and only the children's lookup waits for the Patient
    *    actions. Then, on the calling thread, Patient first, each type
    *    is looked up, classified and pinned, and all types go out in
    *    the one mixed write: no store call leaves the calling thread.
    *    Last, each type's manifest swings, concurrently, since each
    *    writes its own directory. If any prepare fails, `sync` waits
    *    for the others, releases every pin and rethrows the first
    *    failed type's error: no request is sent and no manifest swings,
    *    as when the write throws. */
  def sync(types: Set[String] = CnicsPipeline.AllTypes, scope: Scope = Scope.Full,
      limit: Int = Int.MaxValue): Map[(String, String), Long] = {
    val (pipe, patientKeys) = scope match {
      case Scope.Keys(keys) =>
        val ks = keys.select(col(keys.columns.head).cast("string").as("site_pat_id"))
          .distinct()
        (scopedTo(ks), Some(ks.select(col("site_pat_id").as("key"))))
      case _ => (this, None)
    }
    // a patients-only sync skips the cohortIds checkpoint job
    val withChildren = (CnicsPipeline.AllTypes - "patients").exists(types)
    lazy val ids = pipe.cohortIds(limit)
    val table = Seq(
      ("Patient", "patients", sitePatientIdSystem, () =>
        if (withChildren) pipe.patientsOf(ids) else pipe.patientResources(limit)),
      ("Condition", "conditions", recordIdSystem("diagnosis"),
        () => pipe.conditionResources(ids)),
      ("MedicationRequest", "medicationrequests", recordIdSystem("medication"),
        () => pipe.medicationResources(ids)),
      ("Observation", "observations", recordIdSystem("lab"),
        () => pipe.observationResources(ids)))
    // pinned frames, released on return; prepare threads pin too
    val release = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def held(df: DataFrame): DataFrame = {
      val p = Checkpoints.pin(df)
      release.synchronized(release += p)
      p
    }
    try {
      val synced = table.filter(t => types(t._2))
      val prepared = scope match {
        case Scope.Manifest(root) =>
          if (withChildren) ids // checkpointed once, before the threads share it
          CnicsPipeline.concurrently(synced.map { case (rt, _, _, source) => () =>
            val cur = held(source())
            val (dirty, swing) = manifestPass(s"$root/$rt", cur)
            rt -> ((cur, held(dirty), swing))
          }).toMap
        case _ => Map.empty[String, Nothing]
      }
      val deferred = scala.collection.mutable.ListBuffer.empty[(String, DataFrame)]
      val swings = scala.collection.mutable.ListBuffer.empty[(String, Map[String, Long] => Unit)]
      synced.foreach { case (rt, _, system, source) =>
        def systemRead(keys: Option[DataFrame]): DataFrame =
          keys.fold(store.snapshot(spark, rt, Some(system)))(
            store.snapshotForKeys(spark, rt, _, Some(system)))
        val actions = prepared.get(rt) match {
          case Some((cur, dirty, swing)) =>
            // never looked up: a child that left the source under a
            // Patient this sync deletes (the cascade takes it), and a
            // child of a Patient this sync inserts (the store cannot
            // hold it, so it classifies insert)
            val lookup = deferred.collectFirst { case ("Patient", pa) =>
              dirty.join(pa.filter(col("merge_action").isin("delete", "insert"))
                .select(col("key").as("subject")), Seq("subject"), "left_anti")
            }.getOrElse(dirty)
            // pinned: the Patient frame feeds the children's lookup
            // filter, the write and the swing, and its lookup is sent once
            val pinned = held(reconcile(cur, Some(dirty.select("key")),
              systemRead(Some(lookup.select("key")))))
            swings += rt -> (swing(_, pinned))
            pinned
          case None if rt == "Patient" =>
            reconcile(source(), patientKeys, systemRead(patientKeys))
          case None =>
            reconcile(source(), None, store.snapshotForSubjects(spark, rt, cohortSubjects(ids)))
        }
        dump(rt, actions)
        deferred += rt -> actions
      }
      val written =
        if (deferred.isEmpty) Map.empty[(String, String), Long]
        else store.applyActionsMixed(deferred.map { case (rt, df) =>
          df.select(lit(rt).as("resource_type"),
            col("key"), col("id"), col("json"), col("merge_action"))
        }.reduce(_.unionByName(_)))
      def countsOf(rt: String): Map[String, Long] =
        written.collect { case ((`rt`, a), n) => a -> n }
      // each swing writes its own type's directory
      CnicsPipeline.concurrently(swings.toSeq.map { case (rt, swing) => () => swing(countsOf(rt)) })
      synced.foldLeft(Map.empty[(String, String), Long]) { case (audit, (rt, _, _, _)) =>
        val all = countsOf(rt)
        val filled = Seq("insert", "update", "delete")
          .foldLeft(audit)((m, a) => m + ((rt, a) -> all.getOrElse(a, 0L)))
        all.get("error").fold(filled)(n => filled + ((rt, "error") -> n))
      }
    } finally release.foreach(Checkpoints.unpin)
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

  /** The manifest half of a [[Scope.Manifest]] sync for one type
    * (extension; see [[Merge.manifestDiff]]): diffs the assembled
    * `cur` against the previous run's (key, hash, subject) manifest
    * under `dir`. It is the middle of a type's prepare step, which
    * [[sync]] runs for every synced type at once on threads of its own,
    * so it reads only the file system and never the store. Returns the
    * dirty keys, each with its subject (the
    * current one, or the previous one when the key left the source),
    * which [[sync]] matches against the Patient actions to pick the
    * keys it looks up, and the swing (tmp write + bak
    * swap), which [[sync]] runs with the type's counts and action frame
    * only after the store write returns — a crash mid-write leaves the
    * previous manifest and the next run re-finds the same dirty keys
    * (PUT-with-id upserts and DELETEs replay idempotently). */
  private def manifestPass(dir: String, cur: DataFrame)
      : (DataFrame, (Map[String, Long], DataFrame) => Unit) = {
    val live = s"$dir/manifest"
    val bak = Some(s"$dir/.manifest.bak")
    // heal a swap crashed between its two renames (live gone, bak
    // holds the previous manifest): restore bak rather than letting
    // an empty prev force a full re-sync
    Lakehouse.recoverBakSwap(spark, live, bak)
    val prev =
      if (Lakehouse.fs(spark, live).exists(new org.apache.hadoop.fs.Path(live)))
        spark.read.schema(CnicsPipeline.manifestSchema).parquet(live)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], CnicsPipeline.manifestSchema)
    val (dirty, manifest0) = Merge.manifestDiff(cur, "key", "json", prev, Seq("subject"))
    (dirty, { (counts, actions) =>
      // E5 `error` keys were never applied: advancing their manifest
      // hash would mask the error forever (the key would read clean
      // next run while the store keeps the duplicate data). Keep them
      // out of the manifest so they stay dirty and the error
      // re-surfaces every run until fixed — same steady-state
      // behavior as the full PUT-always run.
      val manifest = if (!counts.contains("error")) manifest0
        else manifest0.join(actions.filter(col("merge_action") === "error").select("key"),
          Seq("key"), "left_anti")
      // apply succeeded -> swing the manifest (write fully, then swap)
      val tmp = s"$dir/.manifest.tmp"
      manifest.write.mode("overwrite").parquet(tmp)
      Lakehouse.bakSwapInto(spark, live, tmp, "manifestPass", bak)
    })
  }

  /** The cohort-id frame Patient assembly and every child type join
    * against, materialized (localCheckpoint) once per [[sync]], and
    * only when a child type is requested: it feeds the Patient
    * assembly, the fan-out join and the subject scope, so the cohort
    * is assembled once — and,
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
        col("site_pat_id").as("subject"),
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
        col("site_pat_id").as("subject"),
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
        col("site_pat_id").as("subject"),
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

  /** A [[CnicsPipeline.sync]] manifest row: (key, xxhash64 of the
    * json, subject — the site patient key the resource belongs to). A
    * manifest written without `subject` reads it as null. */
  private val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__h", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("subject", org.apache.spark.sql.types.StringType)))

  /** The name prefix of [[concurrently]]'s threads. */
  private[graft] val SyncThread = "cnics-sync"

  /** Runs each task on a driver thread of its own and, once every
    * thread has ended, returns the results in task order or rethrows
    * the first failed task's error (in task order). The threads are
    * started here, so they inherit the caller's Spark local properties
    * (job group, scheduler pool, description) and active session; the
    * pooled threads of `ExecutionContext.global` keep those of
    * whichever thread first created them. An interrupt of the caller
    * is passed on to every thread and rethrown once all have ended. */
  private def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val out = Array.fill[Either[Throwable, A]](tasks.size)(null)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      new Thread(() => out(i) = try Right(task()) catch { case e: Throwable => Left(e) },
        s"$SyncThread-$i")
    }
    threads.foreach(_.start())
    var interrupt: Option[InterruptedException] = None
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case e: InterruptedException =>
        if (interrupt.isEmpty) threads.foreach(_.interrupt())
        interrupt = interrupt.orElse(Some(e))
      }
    }
    interrupt.foreach { e => Thread.currentThread.interrupt(); throw e }
    out.toSeq.map(_.fold(e => throw e, identity))
  }

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
