package graft.queries

import org.apache.spark.sql.functions._
import graft.model.CnicsFixtures
import graft.pipeline.{CnicsPipeline, Scope}
import graft.sinks.InMemoryFhirStore

/** Driver-visible end-to-end gate for the CNICS reference pipeline:
  * runs the full job (cohort → resources → merge → sink → audit) on
  * the deterministic demo fixtures. The audit oracle is a literal —
  * the pipeline's 12 counters are fully determined by the fixtures
  * (and independently pinned by the golden-JSON ScalaTests). */
object CnicsQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "cnics_e2e_audit",
      "full reference pipeline on demo fixtures → 12-counter audit (E1)",
      (s, _) => {
        import s.implicits._
        val store = new InMemoryFhirStore
        val audit = new CnicsPipeline(s, CnicsFixtures.demo(s), store, "uw").sync()
        audit.toSeq.map { case ((rt, a), n) => (rt, a, n) }
          .toDF("resource_type", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('Patient', 'insert', CAST(2 AS BIGINT)), ('Patient', 'update', CAST(0 AS BIGINT)), ('Patient', 'delete', CAST(0 AS BIGINT)),
             | ('Condition', 'insert', CAST(2 AS BIGINT)), ('Condition', 'update', CAST(0 AS BIGINT)), ('Condition', 'delete', CAST(0 AS BIGINT)),
             | ('MedicationRequest', 'insert', CAST(1 AS BIGINT)), ('MedicationRequest', 'update', CAST(0 AS BIGINT)), ('MedicationRequest', 'delete', CAST(0 AS BIGINT)),
             | ('Observation', 'insert', CAST(3 AS BIGINT)), ('Observation', 'update', CAST(0 AS BIGINT)), ('Observation', 'delete', CAST(0 AS BIGINT))
             |) t(resource_type, action, n)""".stripMargin)),

    // ── The lakehouse-store twin of the e2e gate: the SAME pipeline
    //    run TWICE against the copy-on-write ParquetFhirStore. Run 1
    //    reconciles against an empty store (pure inserts, the e2e
    //    counters); run 2 snapshots what run 1 wrote — including the
    //    get_json_object subject fan-out for per-patient children —
    //    and must classify every stored row as an UPDATE (the
    //    reference's PUT-always exists→update semantics, E6 — no
    //    content diffing), zero inserts, zero deletes. This pins the
    //    store's snapshot round-trip, the reconcile against stored
    //    state, and the versioned-directory rewrite in one
    //    driver-visible CORRECTNESS row (round-8 verdict #8). ──
    QueryDef(
      "cnics_e2e_audit_parquet",
      "pipeline twice against the copy-on-write parquet store: insert run, then all-update reconcile",
      (s, _) => {
        import s.implicits._
        val base = QueryDef.tempStoreDir("graft_pqstore")
        val store = new graft.sinks.ParquetFhirStore(base)
        val first = new CnicsPipeline(s, CnicsFixtures.demo(s), store, "uw").sync()
        val second = new CnicsPipeline(s, CnicsFixtures.demo(s), store, "uw").sync()
        (first.toSeq.map { case ((rt, a), n) => (1L, rt, a, n) } ++
          second.toSeq.map { case ((rt, a), n) => (2L, rt, a, n) })
          .toDF("run", "resource_type", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), 'Patient', 'insert', CAST(2 AS BIGINT)), (1, 'Patient', 'update', 0), (1, 'Patient', 'delete', 0),
             | (1, 'Condition', 'insert', 2), (1, 'Condition', 'update', 0), (1, 'Condition', 'delete', 0),
             | (1, 'MedicationRequest', 'insert', 1), (1, 'MedicationRequest', 'update', 0), (1, 'MedicationRequest', 'delete', 0),
             | (1, 'Observation', 'insert', 3), (1, 'Observation', 'update', 0), (1, 'Observation', 'delete', 0),
             | (2, 'Patient', 'insert', 0), (2, 'Patient', 'update', 2), (2, 'Patient', 'delete', 0),
             | (2, 'Condition', 'insert', 0), (2, 'Condition', 'update', 2), (2, 'Condition', 'delete', 0),
             | (2, 'MedicationRequest', 'insert', 0), (2, 'MedicationRequest', 'update', 1), (2, 'MedicationRequest', 'delete', 0),
             | (2, 'Observation', 'insert', 0), (2, 'Observation', 'update', 3), (2, 'Observation', 'delete', 0)
             |) t(run, resource_type, action, n)""".stripMargin)),

    // ── Multi-site isolation on ONE shared store — the reference's
    //    actual deployment shape (10 sites, one FHIR store,
    //    settings.ini:20): the JobRunner loop runs site uw then site
    //    sea against the SAME InMemoryFhirStore, then site uw runs its
    //    Patient reconcile AGAIN. Because the Patient snapshot is
    //    identifier-system-scoped (cnics_to_fhir.py:322-326:
    //    `?identifier=<system>|`), neither site may ever classify the
    //    other site's patients as deletable orphans: sea's run (into a
    //    store already holding uw's 2 patients) must delete 0, and
    //    uw's re-run (store holding sea-9) must delete 0 and update
    //    its own 2. The final row counts the Patient survivors — all
    //    3 sites' patients alive. An unscoped snapshot turns this row
    //    red with cross-site deletes. ──
    QueryDef(
      "cnics_multisite_audit",
      "two sites through JobRunner on one shared store + uw re-run: site-scoped reconcile deletes nothing cross-site",
      (s, _) => {
        import s.implicits._
        val store = new InMemoryFhirStore
        val cfg = """[JobList]
                    |Job_1 = "uw,sea:cnics:"
                    |""".stripMargin
        val results = graft.pipeline.JobRunner.run(s, cfg,
          (_, _) => CnicsFixtures.demo(s), (_, _) => store)
        val rerun = new CnicsPipeline(s, CnicsFixtures.demo(s), store, "uw")
          .sync(Set("patients"))
        val rows =
          results.flatMap(r => r.audit.toSeq.map { case ((rt, a), n) =>
            (s"job:${r.site}", rt, a, n) }) ++
          rerun.toSeq.map { case ((rt, a), n) => ("rerun:uw", rt, a, n) } :+
          (("store", "Patient", "count",
            store.data.keys.count(_._1 == "Patient").toLong))
        rows.toDF("phase", "resource_type", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('job:uw', 'Patient', 'insert', CAST(2 AS BIGINT)), ('job:uw', 'Patient', 'update', 0), ('job:uw', 'Patient', 'delete', 0),
             | ('job:uw', 'Condition', 'insert', 2), ('job:uw', 'Condition', 'update', 0), ('job:uw', 'Condition', 'delete', 0),
             | ('job:uw', 'MedicationRequest', 'insert', 1), ('job:uw', 'MedicationRequest', 'update', 0), ('job:uw', 'MedicationRequest', 'delete', 0),
             | ('job:uw', 'Observation', 'insert', 3), ('job:uw', 'Observation', 'update', 0), ('job:uw', 'Observation', 'delete', 0),
             | ('job:sea', 'Patient', 'insert', 1), ('job:sea', 'Patient', 'update', 0), ('job:sea', 'Patient', 'delete', 0),
             | ('job:sea', 'Condition', 'insert', 0), ('job:sea', 'Condition', 'update', 0), ('job:sea', 'Condition', 'delete', 0),
             | ('job:sea', 'MedicationRequest', 'insert', 0), ('job:sea', 'MedicationRequest', 'update', 0), ('job:sea', 'MedicationRequest', 'delete', 0),
             | ('job:sea', 'Observation', 'insert', 0), ('job:sea', 'Observation', 'update', 0), ('job:sea', 'Observation', 'delete', 0),
             | ('rerun:uw', 'Patient', 'insert', 0), ('rerun:uw', 'Patient', 'update', 2), ('rerun:uw', 'Patient', 'delete', 0),
             | ('store', 'Patient', 'count', 3)
             |) t(phase, resource_type, action, n)""".stripMargin)),

    // ── Incremental sync (extension; Merge.manifestDiff +
    //    CnicsPipeline.sync with Scope.Manifest): where the reference —
    //    and this pipeline's own PUT-always mode — re-writes every
    //    patient every run, the incremental run diffs the assembled
    //    JSON against the previous run's (key, hash) manifest and
    //    touches the store only for dirty keys. Three runs against one
    //    store: (1) cold manifest → both patients insert; (2) unchanged
    //    inputs → ZERO actions (the steady-state win; the PUT-always
    //    twin `cnics_e2e_audit_parquet` run 2 re-updates everything);
    //    (3) uw-001's demographics edited + uw-002 dropped from the
    //    cohort → exactly 1 update + 1 delete, and the store + manifest
    //    both end at 1 surviving patient. ──
    QueryDef(
      "cnics_incremental_audit",
      "manifest-diff incremental Patient sync: insert run, zero-action steady state, then 1 update + 1 delete",
      (s, _) => {
        import s.implicits._
        val store = new InMemoryFhirStore
        val mdir = QueryDef.tempStoreDir("graft_incmanifest")
        val base = CnicsFixtures.demo(s)
        def inc(in: graft.pipeline.CnicsInputs) =
          new CnicsPipeline(s, in, store, "uw").sync(Set("patients"), Scope.Manifest(mdir))
        val r1 = inc(base)
        val r2 = inc(base)
        val changed = base.copy(
          patient = base.patient.filter(col("PatientId") =!= 2L),
          demographic = Seq(
            (10L, 1L, Some("Male"), Some("Asian"), Some("Yes")),
            (11L, 1L, Some("Male"), Some("White"), Some("No")),
            (13L, 3L, Some("Male"), Some("Black"), Some("No"))
          ).toDF("DemographicId", "PatientId", "Sex", "Race", "Hispanic"))
        val r3 = inc(changed)
        def rows(phase: String, m: Map[(String, String), Long]) =
          Seq("insert", "update", "delete")
            .map(a => (phase, a, m.getOrElse(("Patient", a), 0L)))
        val out = rows("inc1", r1) ++ rows("inc2", r2) ++ rows("inc3", r3) ++
          Seq(("store", "patient_count",
              store.data.keys.count(_._1 == "Patient").toLong),
            ("manifest", "rows",
              s.read.parquet(s"$mdir/Patient/manifest").count()))
        out.toDF("phase", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('inc1', 'insert', CAST(2 AS BIGINT)), ('inc1', 'update', 0), ('inc1', 'delete', 0),
             | ('inc2', 'insert', 0), ('inc2', 'update', 0), ('inc2', 'delete', 0),
             | ('inc3', 'insert', 0), ('inc3', 'update', 1), ('inc3', 'delete', 1),
             | ('store', 'patient_count', 1),
             | ('manifest', 'rows', 1)
             |) t(phase, action, n)""".stripMargin)),

    // ── The streaming twin of the targeted sync (CnicsStreams.sync
    //    of patients, Scope.Keys per batch): a MemoryStream of dirty
    //    site-patient keys drives a standing micro-batch sync whose
    //    per-batch assembly AND store wire are O(batch). Batch 1
    //    streams uw-001 (insert); batch 2 streams both keys after
    //    uw-001's demographics changed (uw-001 update + uw-002
    //    insert); batch 3 streams uw-002 after its cohort row vanished
    //    (delete via the key-scoped reconcile). Final store: 1 row. ──
    QueryDef(
      "cnics_stream_audit",
      "CDC-key streaming Patient sync: per-batch insert/update/delete audits over three micro-batches",
      (s, _) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val store = new InMemoryFhirStore
        var inputs = CnicsFixtures.demo(s)
        val audits =
          new java.util.concurrent.ConcurrentHashMap[Long, Map[(String, String), Long]]()
        val mem = MemoryStream[String]
        val q = graft.streaming.CnicsStreams.sync(
          mem.toDF().toDF("site_pat_id"), inputs, store, "uw", Set("patients"),
          (id, a) => { audits.put(id, a); () })
        try {
          mem.addData("uw-001"); q.processAllAvailable()
          inputs = inputs.copy(demographic = Seq(
            (10L, 1L, Some("Male"), Some("Asian"), Some("Yes")),
            (11L, 1L, Some("Male"), Some("White"), Some("No")),
            (12L, 2L, None: Option[String], None: Option[String], None: Option[String]),
            (13L, 3L, Some("Male"), Some("Black"), Some("No"))
          ).toDF("DemographicId", "PatientId", "Sex", "Race", "Hispanic"))
          mem.addData("uw-001", "uw-002"); q.processAllAvailable()
          inputs = inputs.copy(
            patient = inputs.patient.filter(col("PatientId") =!= 2L))
          mem.addData("uw-002"); q.processAllAvailable()
        } finally q.stop()
        val rows = (0L to 2L).flatMap { id =>
          val a = audits.getOrDefault(id, Map.empty)
          Seq("insert", "update", "delete").map(act =>
            (s"batch$id", act, a.getOrElse(("Patient", act), 0L)))
        } :+ (("store", "patient_count",
          store.data.keys.count(_._1 == "Patient").toLong))
        rows.toDF("phase", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('batch0', 'insert', CAST(1 AS BIGINT)), ('batch0', 'update', 0), ('batch0', 'delete', 0),
             | ('batch1', 'insert', 1), ('batch1', 'update', 1), ('batch1', 'delete', 0),
             | ('batch2', 'insert', 0), ('batch2', 'update', 0), ('batch2', 'delete', 1),
             | ('store', 'patient_count', 1)
             |) t(phase, action, n)""".stripMargin)),

    // ── The FULL incremental job (Scope.Manifest): every resource
    //    type through its own (key, hash) manifest. Phase 1 cold-syncs
    //    everything; phase 2 re-runs unchanged inputs — ZERO actions
    //    across all four types (the wire is completely idle in steady
    //    state); phase 3 drops patient uw-002 from the cohort, removes
    //    diagnosis dx-1 from the source, and edits lab-1's result:
    //    exactly 1 patient delete (whose cascade takes dx-3 + lab-3),
    //    1 explicit child delete (dx-1 — the key-targeted manifest
    //    path, its patient still alive), and 1 observation update.
    //    Child reads go through snapshotForKeys with the site-scoped
    //    child identifier systems, so a K-row delta costs O(K) store
    //    reads and writes. ──
    QueryDef(
      "cnics_incremental_full_audit",
      "all-type manifest-diff incremental job: cold sync, idle steady state, then targeted 3-way delta",
      (s, _) => {
        import s.implicits._
        val store = new InMemoryFhirStore
        val mdir = QueryDef.tempStoreDir("graft_incfull")
        val base = CnicsFixtures.demo(s)
        def inc(in: graft.pipeline.CnicsInputs) =
          new CnicsPipeline(s, in, store, "uw").sync(scope = Scope.Manifest(mdir))
        val r1 = inc(base)
        val r2 = inc(base)
        val changed = base.copy(
          patient = base.patient.filter(col("PatientId") =!= 2L),
          diagnosis = base.diagnosis
            .filter(col("DiagnosisId").cast("string") =!= "dx-1"),
          lab = Seq(
            (1L, "lab-1", "Hemoglobin A1C", "6.1", None: Option[String],
              Some(java.sql.Date.valueOf("2020-02-03")), Some("4"), Some("6"),
              None: Option[String]),
            (1L, "lab-2", "CD4", "<7.0", Some("cells/uL"),
              Some(java.sql.Date.valueOf("2020-03-04")), Some("junk"), None,
              None: Option[String]),
            (2L, "lab-3", "Rapid HIV", "positive", None: Option[String],
              None: Option[java.sql.Date], None: Option[String],
              None: Option[String], None: Option[String])
          ).toDF("PatientId", "LabId", "TestName", "Result", "Units",
            "TestDate", "ReferenceLow", "ReferenceHigh", "Historical"))
        val r3 = inc(changed)
        def rows(phase: String, m: Map[(String, String), Long]) =
          m.toSeq.sortBy { case ((rt, a), _) => (rt, a) }
            .map { case ((rt, a), n) => (phase, rt, a, n) }
        val out = rows("inc1", r1) ++ rows("inc2", r2) ++ rows("inc3", r3) ++
          Seq("Patient", "Condition", "MedicationRequest", "Observation")
            .map(rt => ("store", rt, "count",
              store.data.keys.count(_._1 == rt).toLong))
        out.toDF("phase", "resource_type", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('inc1', 'Patient', 'insert', CAST(2 AS BIGINT)), ('inc1', 'Patient', 'update', 0), ('inc1', 'Patient', 'delete', 0),
             | ('inc1', 'Condition', 'insert', 2), ('inc1', 'Condition', 'update', 0), ('inc1', 'Condition', 'delete', 0),
             | ('inc1', 'MedicationRequest', 'insert', 1), ('inc1', 'MedicationRequest', 'update', 0), ('inc1', 'MedicationRequest', 'delete', 0),
             | ('inc1', 'Observation', 'insert', 3), ('inc1', 'Observation', 'update', 0), ('inc1', 'Observation', 'delete', 0),
             | ('inc2', 'Patient', 'insert', 0), ('inc2', 'Patient', 'update', 0), ('inc2', 'Patient', 'delete', 0),
             | ('inc2', 'Condition', 'insert', 0), ('inc2', 'Condition', 'update', 0), ('inc2', 'Condition', 'delete', 0),
             | ('inc2', 'MedicationRequest', 'insert', 0), ('inc2', 'MedicationRequest', 'update', 0), ('inc2', 'MedicationRequest', 'delete', 0),
             | ('inc2', 'Observation', 'insert', 0), ('inc2', 'Observation', 'update', 0), ('inc2', 'Observation', 'delete', 0),
             | ('inc3', 'Patient', 'insert', 0), ('inc3', 'Patient', 'update', 0), ('inc3', 'Patient', 'delete', 1),
             | ('inc3', 'Condition', 'insert', 0), ('inc3', 'Condition', 'update', 0), ('inc3', 'Condition', 'delete', 1),
             | ('inc3', 'MedicationRequest', 'insert', 0), ('inc3', 'MedicationRequest', 'update', 0), ('inc3', 'MedicationRequest', 'delete', 0),
             | ('inc3', 'Observation', 'insert', 0), ('inc3', 'Observation', 'update', 1), ('inc3', 'Observation', 'delete', 0),
             | ('store', 'Patient', 'count', 1),
             | ('store', 'Condition', 'count', 0),
             | ('store', 'MedicationRequest', 'count', 1),
             | ('store', 'Observation', 'count', 2)
             |) t(phase, resource_type, action, n)""".stripMargin)),

    // ── Multi-site INCREMENTAL sync on one shared store (round-10
    //    verdict #5 — composing the multisite isolation proof with the
    //    manifest diff): JobRunner.runIncremental drives sites uw and
    //    sea against the SAME InMemoryFhirStore with per-(site, db)
    //    manifest roots. sea gets its own child resources (dx-9,
    //    lab-9) so cross-site interference would be visible in bytes,
    //    not just counts. Run 1 cold-syncs both sites; run 2 re-runs
    //    unchanged — ZERO actions for BOTH sites (per-site manifests
    //    and identifier-scoped snapshots never alias each other on the
    //    shared store); run 3 drops uw-002 from uw's cohort — exactly
    //    one uw Patient delete whose cascade takes dx-3 + lab-3, zero
    //    uw child actions (the cascade beat the child passes to the
    //    store), zero sea actions, and sea's stored bytes are
    //    IDENTICAL before and after (the bytes_unchanged row). ──
    QueryDef(
      "cnics_multisite_incremental_audit",
      "two-site incremental sync, shared store, per-site manifests: idle steady state + cascade isolation",
      (s, _) => {
        import s.implicits._
        def d(x: String) = java.sql.Date.valueOf(x)
        def b(x: String) = x.getBytes("UTF-8")
        val store = new InMemoryFhirStore
        val mroot = QueryDef.tempStoreDir("graft_incmulti")
        val demo = CnicsFixtures.demo(s)
        val base = demo.copy(
          diagnosis = demo.diagnosis.union(Seq(
            (3L, b("dx-9"), Some(d("2022-05-06")),
              "Verified clinical diagnosis", "J44.1", None: Option[String])
          ).toDF("PatientId", "DiagnosisId", "DiagnosisDate",
            "DiagnosisSource", "DiagnosisName", "Historical")),
          lab = demo.lab.union(Seq(
            (3L, "lab-9", "CD4", "350", Some("cells/uL"),
              Some(d("2022-05-06")), Some("200"), Some("1500"),
              None: Option[String])
          ).toDF("PatientId", "LabId", "TestName", "Result", "Units",
            "TestDate", "ReferenceLow", "ReferenceHigh", "Historical")))
        val cfg = """[JobList]
                    |Job_1 = "uw,sea:cnics:"
                    |""".stripMargin
        def sync(in: graft.pipeline.CnicsInputs) =
          graft.pipeline.JobRunner.runIncremental(s, cfg,
            (_, _) => in, (_, _) => store,
            (site, db) => s"$mroot/$site/$db")
        val r1 = sync(base)
        val r2 = sync(base)
        def seaBytes: Map[(String, String), (String, String)] =
          store.data.filter { case (_, (id, _)) => id.contains("-sea-") }.toMap
        val before = seaBytes
        val r3 = sync(base.copy(
          patient = base.patient.filter(col("PatientId") =!= 2L)))
        val untouched = if (seaBytes == before) 1L else 0L
        def rows(phase: String, rs: Seq[graft.pipeline.JobRunner.JobResult]) =
          rs.flatMap(r => r.audit.toSeq
            .sortBy { case ((rt, a), _) => (rt, a) }
            .map { case ((rt, a), n) => (s"$phase:${r.site}", rt, a, n) })
        val out = rows("run1", r1) ++ rows("run2", r2) ++ rows("run3", r3) ++
          Seq("Patient", "Condition", "MedicationRequest", "Observation")
            .map(rt => ("store", rt, "count",
              store.data.keys.count(_._1 == rt).toLong)) :+
          (("final", "sea", "bytes_unchanged", untouched))
        out.toDF("phase", "resource_type", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('run1:uw', 'Patient', 'insert', CAST(2 AS BIGINT)), ('run1:uw', 'Patient', 'update', 0), ('run1:uw', 'Patient', 'delete', 0),
             | ('run1:uw', 'Condition', 'insert', 2), ('run1:uw', 'Condition', 'update', 0), ('run1:uw', 'Condition', 'delete', 0),
             | ('run1:uw', 'MedicationRequest', 'insert', 1), ('run1:uw', 'MedicationRequest', 'update', 0), ('run1:uw', 'MedicationRequest', 'delete', 0),
             | ('run1:uw', 'Observation', 'insert', 3), ('run1:uw', 'Observation', 'update', 0), ('run1:uw', 'Observation', 'delete', 0),
             | ('run1:sea', 'Patient', 'insert', 1), ('run1:sea', 'Patient', 'update', 0), ('run1:sea', 'Patient', 'delete', 0),
             | ('run1:sea', 'Condition', 'insert', 1), ('run1:sea', 'Condition', 'update', 0), ('run1:sea', 'Condition', 'delete', 0),
             | ('run1:sea', 'MedicationRequest', 'insert', 0), ('run1:sea', 'MedicationRequest', 'update', 0), ('run1:sea', 'MedicationRequest', 'delete', 0),
             | ('run1:sea', 'Observation', 'insert', 1), ('run1:sea', 'Observation', 'update', 0), ('run1:sea', 'Observation', 'delete', 0),
             | ('run2:uw', 'Patient', 'insert', 0), ('run2:uw', 'Patient', 'update', 0), ('run2:uw', 'Patient', 'delete', 0),
             | ('run2:uw', 'Condition', 'insert', 0), ('run2:uw', 'Condition', 'update', 0), ('run2:uw', 'Condition', 'delete', 0),
             | ('run2:uw', 'MedicationRequest', 'insert', 0), ('run2:uw', 'MedicationRequest', 'update', 0), ('run2:uw', 'MedicationRequest', 'delete', 0),
             | ('run2:uw', 'Observation', 'insert', 0), ('run2:uw', 'Observation', 'update', 0), ('run2:uw', 'Observation', 'delete', 0),
             | ('run2:sea', 'Patient', 'insert', 0), ('run2:sea', 'Patient', 'update', 0), ('run2:sea', 'Patient', 'delete', 0),
             | ('run2:sea', 'Condition', 'insert', 0), ('run2:sea', 'Condition', 'update', 0), ('run2:sea', 'Condition', 'delete', 0),
             | ('run2:sea', 'MedicationRequest', 'insert', 0), ('run2:sea', 'MedicationRequest', 'update', 0), ('run2:sea', 'MedicationRequest', 'delete', 0),
             | ('run2:sea', 'Observation', 'insert', 0), ('run2:sea', 'Observation', 'update', 0), ('run2:sea', 'Observation', 'delete', 0),
             | ('run3:uw', 'Patient', 'insert', 0), ('run3:uw', 'Patient', 'update', 0), ('run3:uw', 'Patient', 'delete', 1),
             | ('run3:uw', 'Condition', 'insert', 0), ('run3:uw', 'Condition', 'update', 0), ('run3:uw', 'Condition', 'delete', 0),
             | ('run3:uw', 'MedicationRequest', 'insert', 0), ('run3:uw', 'MedicationRequest', 'update', 0), ('run3:uw', 'MedicationRequest', 'delete', 0),
             | ('run3:uw', 'Observation', 'insert', 0), ('run3:uw', 'Observation', 'update', 0), ('run3:uw', 'Observation', 'delete', 0),
             | ('run3:sea', 'Patient', 'insert', 0), ('run3:sea', 'Patient', 'update', 0), ('run3:sea', 'Patient', 'delete', 0),
             | ('run3:sea', 'Condition', 'insert', 0), ('run3:sea', 'Condition', 'update', 0), ('run3:sea', 'Condition', 'delete', 0),
             | ('run3:sea', 'MedicationRequest', 'insert', 0), ('run3:sea', 'MedicationRequest', 'update', 0), ('run3:sea', 'MedicationRequest', 'delete', 0),
             | ('run3:sea', 'Observation', 'insert', 0), ('run3:sea', 'Observation', 'update', 0), ('run3:sea', 'Observation', 'delete', 0),
             | ('store', 'Patient', 'count', 2),
             | ('store', 'Condition', 'count', 2),
             | ('store', 'MedicationRequest', 'count', 1),
             | ('store', 'Observation', 'count', 3),
             | ('final', 'sea', 'bytes_unchanged', 1)
             |) t(phase, resource_type, action, n)""".stripMargin)),

    // ── The FULL-JOB streaming sync (CnicsStreams.sync, Scope.Keys
    //    per batch): every resource type per micro-batch — patients
    //    key-scoped, children through the scoped cohort's
    //    subject-scoped reconcile, and a departed patient's children
    //    removed by the Patient DELETE's cascade (HAPI parity, honored
    //    by all three store implementations). Batch 0 syncs uw-001
    //    (patient + its 1 condition, 1 medication, 2 observations);
    //    batch 1 syncs both keys (uw-002's resources insert, uw-001's
    //    re-PUT as updates); batch 2 streams uw-002 after its cohort
    //    row vanished — ONE patient delete, zero child actions, and
    //    the final counts prove the cascade took dx-3 and lab-3. ──
    QueryDef(
      "cnics_stream_full_audit",
      "full-job streaming sync over 3 micro-batches: per-type audits + cascaded end-state counts",
      (s, _) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val store = new InMemoryFhirStore
        var inputs = CnicsFixtures.demo(s)
        val audits =
          new java.util.concurrent.ConcurrentHashMap[Long, Map[(String, String), Long]]()
        val mem = MemoryStream[String]
        val q = graft.streaming.CnicsStreams.sync(
          mem.toDF().toDF("site_pat_id"), inputs, store, "uw",
          onBatch = (id, a) => { audits.put(id, a); () })
        try {
          mem.addData("uw-001"); q.processAllAvailable()
          mem.addData("uw-001", "uw-002"); q.processAllAvailable()
          inputs = inputs.copy(
            patient = inputs.patient.filter(col("PatientId") =!= 2L))
          mem.addData("uw-002"); q.processAllAvailable()
        } finally q.stop()
        val rows = (0L to 2L).flatMap { id =>
          val a = audits.getOrDefault(id, Map.empty)
          a.toSeq.sortBy { case ((rt, act), _) => (rt, act) }
            .map { case ((rt, act), n) => (s"batch$id", rt, act, n) }
        } ++ Seq("Patient", "Condition", "MedicationRequest", "Observation")
          .map(rt => ("store", rt, "count",
            store.data.keys.count(_._1 == rt).toLong))
        rows.toDF("phase", "resource_type", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('batch0', 'Patient', 'insert', CAST(1 AS BIGINT)), ('batch0', 'Patient', 'update', 0), ('batch0', 'Patient', 'delete', 0),
             | ('batch0', 'Condition', 'insert', 1), ('batch0', 'Condition', 'update', 0), ('batch0', 'Condition', 'delete', 0),
             | ('batch0', 'MedicationRequest', 'insert', 1), ('batch0', 'MedicationRequest', 'update', 0), ('batch0', 'MedicationRequest', 'delete', 0),
             | ('batch0', 'Observation', 'insert', 2), ('batch0', 'Observation', 'update', 0), ('batch0', 'Observation', 'delete', 0),
             | ('batch1', 'Patient', 'insert', 1), ('batch1', 'Patient', 'update', 1), ('batch1', 'Patient', 'delete', 0),
             | ('batch1', 'Condition', 'insert', 1), ('batch1', 'Condition', 'update', 1), ('batch1', 'Condition', 'delete', 0),
             | ('batch1', 'MedicationRequest', 'insert', 0), ('batch1', 'MedicationRequest', 'update', 1), ('batch1', 'MedicationRequest', 'delete', 0),
             | ('batch1', 'Observation', 'insert', 1), ('batch1', 'Observation', 'update', 2), ('batch1', 'Observation', 'delete', 0),
             | ('batch2', 'Patient', 'insert', 0), ('batch2', 'Patient', 'update', 0), ('batch2', 'Patient', 'delete', 1),
             | ('batch2', 'Condition', 'insert', 0), ('batch2', 'Condition', 'update', 0), ('batch2', 'Condition', 'delete', 0),
             | ('batch2', 'MedicationRequest', 'insert', 0), ('batch2', 'MedicationRequest', 'update', 0), ('batch2', 'MedicationRequest', 'delete', 0),
             | ('batch2', 'Observation', 'insert', 0), ('batch2', 'Observation', 'update', 0), ('batch2', 'Observation', 'delete', 0),
             | ('store', 'Patient', 'count', 1),
             | ('store', 'Condition', 'count', 1),
             | ('store', 'MedicationRequest', 'count', 1),
             | ('store', 'Observation', 'count', 2)
             |) t(phase, resource_type, action, n)""".stripMargin)),

    // ── The e2e job with A1 in JDBC MODE: the reference's actual
    //    source is a live database (cnics_to_fhir.py:259-266), and
    //    until this row every e2e oracle read parquet fixtures. The
    //    five clinical tables load into an embedded Derby instance and
    //    the SAME pipeline (cohort → assembly → merge → audit) runs
    //    over JdbcSource reads with V2 pushdown on. Besides the
    //    12-counter audit, the row pins PLAN EVIDENCE as data: the
    //    cohort's site predicate and the condition pass's C3 IN filter
    //    must appear in the JDBC scan's PushedFilters (starred =
    //    fully handled at the source) — if a Spark upgrade silently
    //    stops pushing either, the row turns red, not just slow. ──
    QueryDef(
      "cnics_jdbc_e2e_audit",
      "full pipeline with A1 in JDBC mode (embedded Derby fixture DB): audit + pushdown evidence",
      (s, _) => {
        import s.implicits._
        val in = graft.sources.CnicsDerbyFixture.inputs(s)
        val store = new InMemoryFhirStore
        val pipe = new CnicsPipeline(s, in, store, "uw")
        val audit = pipe.sync()
        def pushed(df: org.apache.spark.sql.DataFrame, token: String): Long = {
          val plan = df.queryExecution.executedPlan.toString
          if (plan.contains("PushedFilters:") && plan.contains(token)) 1L else 0L
        }
        val rows = audit.toSeq.map { case ((rt, a), n) => (rt, a, n) } ++ Seq(
          ("plan", "site_eq_pushed",
            pushed(pipe.cohort(), "*EqualTo(Site,uw)")),
          ("plan", "dx_in_pushed",
            pushed(in.diagnosis.filter(
              expr(in.conditionsFilter)), "*In(DiagnosisName")))
        rows.toDF("resource_type", "action", "n")
      },
      Some("""SELECT * FROM (VALUES
             | ('Patient', 'insert', CAST(2 AS BIGINT)), ('Patient', 'update', CAST(0 AS BIGINT)), ('Patient', 'delete', CAST(0 AS BIGINT)),
             | ('Condition', 'insert', CAST(2 AS BIGINT)), ('Condition', 'update', CAST(0 AS BIGINT)), ('Condition', 'delete', CAST(0 AS BIGINT)),
             | ('MedicationRequest', 'insert', CAST(1 AS BIGINT)), ('MedicationRequest', 'update', CAST(0 AS BIGINT)), ('MedicationRequest', 'delete', CAST(0 AS BIGINT)),
             | ('Observation', 'insert', CAST(3 AS BIGINT)), ('Observation', 'update', CAST(0 AS BIGINT)), ('Observation', 'delete', CAST(0 AS BIGINT)),
             | ('plan', 'site_eq_pushed', CAST(1 AS BIGINT)),
             | ('plan', 'dx_in_pushed', CAST(1 AS BIGINT))
             |) t(resource_type, action, n)""".stripMargin)),

    // ── The emitted FHIR JSON itself, pinned by content hash: each
    //    resource is canonicalized (sorted keys, no whitespace —
    //    JsonCanon) and SHA-256'd; the oracle is the committed golden
    //    hashes, which CnicsPipelineSpec independently derives from
    //    the golden JSON documents. A serialization regression turns
    //    this row red in the driver gate; previously it was a
    //    rows-only check because raw nested JSON can't be replayed by
    //    an oracle engine. ──
    QueryDef(
      "cnics_patient_resources",
      "assembled Patient resources: key, id, sha256(canonical json) vs committed goldens",
      (s, _) => {
        import s.implicits._
        new CnicsPipeline(s, CnicsFixtures.demo(s), new InMemoryFhirStore, "uw")
          .patientResources().select("key", "id", "json")
          .as[(String, String, String)]
          .map { case (k, i, j) => (k, i, graft.model.JsonCanon.sha256Canonical(j)) }
          .toDF("key", "id", "json_sha256")
      },
      Some(s"""SELECT * FROM (VALUES
             | ('uw-001', 'cnics-uw-uw-001', '${CnicsGoldens.patientSha("uw-001")}'),
             | ('uw-002', 'cnics-uw-uw-002', '${CnicsGoldens.patientSha("uw-002")}')
             |) t(key, id, json_sha256)""".stripMargin))
  )
}

/** Committed golden canonical-JSON hashes for the demo fixtures —
  * derived from (and cross-checked against) the golden JSON documents
  * in CnicsPipelineSpec. */
object CnicsGoldens {
  val patientSha: Map[String, String] = Map(
    "uw-001" -> "ba36cb9308165e953a58faa2f4bf6d1134a98da681b4b8b1d04d0bbb98815ec8",
    "uw-002" -> "38593c864842e1b5b02dd7b9b887ca64fd4c9f5405d41ef95e04a79e4dd82936")
}
