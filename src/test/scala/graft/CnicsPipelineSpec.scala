package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.{CnicsInputs, CnicsPipeline}
import graft.sinks.InMemoryFhirStore

/** End-to-end reference parity: CNICS-shaped fixtures → pipeline →
  * in-memory store, compared against hand-derived golden JSON from the
  * reference's templates (cnics_to_fhir.py:367-893), plus idempotence
  * and delete-propagation (the MERGE semantics, SURVEY.md §5). */
class CnicsPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private def d(s: String) = java.sql.Date.valueOf(s)
  private def b(s: String) = s.getBytes("UTF-8")

  private def inputs: CnicsInputs = graft.model.CnicsFixtures.demo(spark)

  private def run(store: InMemoryFhirStore): Map[(String, String), Long] =
    new CnicsPipeline(spark, inputs, store, "uw").sync()

  test("golden: Patient resource for uw-001 (crosswalk hit, full demographics)") {
    val store = new InMemoryFhirStore
    run(store)
    val got = mapper.readTree(store.data(("Patient", "uw-001"))._2)
    val expected = mapper.readTree(
      """{"resourceType":"Patient",
        |"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient"]},
        |"text":{"status":"generated","div":"<div xmlns=\"http://www.w3.org/1999/xhtml\">Generated by CIRG's CNICS to FHIR. Version identifier: 0.1</div>"},
        |"extension":[
        | {"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race","extension":[
        |   {"url":"ombCategory","valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238","code":"2028-9","display":"Asian"}},
        |   {"url":"text","valueString":"Asian"}]},
        | {"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity","extension":[
        |   {"url":"ombCategory","valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238","code":"2135-2","display":"Hispanic or Latino"}},
        |   {"url":"text","valueString":"Hispanic or Latino"}]},
        | {"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex","valueCode":"F"}],
        |"identifier":[
        | {"system":"https://cnics.cirg.washington.edu/site-patient-id/uw","value":"uw-001"},
        | {"system":"https://cnics-pro.cirg.washington.edu/session-id/uw","value":"s1"},
        | {"system":"https://cnics-pro.cirg.washington.edu/session-id/uw","value":"s2"},
        | {"system":"https://cnics-pro.cirg.washington.edu/institution-mrn/uw","value":"H2"},
        | {"system":"https://cnics-pro.cirg.washington.edu/institution-mrn/uw","value":"U2"}],
        |"gender":"female"}""".stripMargin)
    assert(got === expected)
  }

  test("golden: Patient uw-002 (no demographics, no sessions, no crosswalk)") {
    val store = new InMemoryFhirStore
    run(store)
    val got = mapper.readTree(store.data(("Patient", "uw-002"))._2)
    val expected = mapper.readTree(
      """{"resourceType":"Patient",
        |"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient"]},
        |"text":{"status":"generated","div":"<div xmlns=\"http://www.w3.org/1999/xhtml\">Generated by CIRG's CNICS to FHIR. Version identifier: 0.1</div>"},
        |"extension":[],
        |"identifier":[{"system":"https://cnics.cirg.washington.edu/site-patient-id/uw","value":"uw-002"}]}""".stripMargin)
    assert(got === expected)
  }

  test("golden hashes: CnicsGoldens pins the canonical sha256 of emitted Patients") {
    // the driver-gate oracle for cnics_patient_resources is these
    // constants; the two golden-JSON tests above pin the same bytes
    // structurally, so the chain golden JSON ⇔ emitted resource ⇔
    // committed hash is closed
    val store = new InMemoryFhirStore
    run(store)
    Seq("uw-001", "uw-002").foreach { k =>
      assert(graft.model.JsonCanon.sha256Canonical(store.data(("Patient", k))._2)
        === graft.queries.CnicsGoldens.patientSha(k), k)
    }
  }

  test("golden: Condition (ICD-10), MedicationRequest, Observations") {
    val store = new InMemoryFhirStore
    run(store)
    assert(mapper.readTree(store.data(("Condition", "dx-1"))._2) === mapper.readTree(
      """{"resourceType":"Condition",
        |"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-condition"]},
        |"verificationStatus":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/condition-ver-status","code":"confirmed"}]},
        |"category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/condition-category","code":"problem-list-item","display":"Problem List Item"}]}],
        |"code":{"coding":[{"system":"http://hl7.org/fhir/sid/icd-10-cm","code":"J44.1","display":"J44.1"}],"text":"J44.1"},
        |"subject":{"reference":"Patient/cnics-uw-uw-001"},
        |"identifier":[{"system":"https://cnics.cirg.washington.edu/diagnosis/site-record-id/uw","value":"dx-1"}],
        |"recordedDate":"2020-01-02"}""".stripMargin))
    assert(mapper.readTree(store.data(("MedicationRequest", "med-1"))._2) === mapper.readTree(
      """{"resourceType":"MedicationRequest",
        |"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-medicationrequest"]},
        |"intent":"order",
        |"medicationCodeableConcept":{"coding":[{"system":"https://cnics.cirg.washington.edu/medication-name","code":"Aspirin 81mg","display":"Aspirin  81mg"}],"text":"Aspirin  81mg"},
        |"subject":{"reference":"Patient/cnics-uw-uw-001"},
        |"identifier":[{"system":"https://cnics.cirg.washington.edu/medication/site-record-id/uw","value":"med-1"}],
        |"status":"active"}""".stripMargin))
    // quantity with defaulted % unit + referenceRange without units
    assert(mapper.readTree(store.data(("Observation", "lab-1"))._2) === mapper.readTree(
      """{"resourceType":"Observation",
        |"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-observation-lab"]},
        |"status":"final",
        |"category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"laboratory","display":"laboratory"}]}],
        |"code":{"coding":[{"system":"https://cnics.cirg.washington.edu/test-name","code":"Hemoglobin A1C","display":"Hemoglobin A1C"}],"text":"Hemoglobin A1C"},
        |"subject":{"reference":"Patient/cnics-uw-uw-001"},
        |"identifier":[{"system":"https://cnics.cirg.washington.edu/lab/site-record-id/uw","value":"lab-1"}],
        |"effectiveDateTime":"2020-02-03",
        |"valueQuantity":{"value":5.4,"unit":"%","system":"http://unitsofmeasure.org","code":"%"},
        |"referenceRange":[{"type":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/referencerange-meaning","code":"normal","display":"Normal Range"}],"text":"Normal Range"},"low":{"value":4.0},"high":{"value":6.0}}]}""".stripMargin))
    // comparator quantity with explicit unit; junk reference bound dropped
    assert(mapper.readTree(store.data(("Observation", "lab-2"))._2) === mapper.readTree(
      """{"resourceType":"Observation",
        |"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-observation-lab"]},
        |"status":"final",
        |"category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"laboratory","display":"laboratory"}]}],
        |"code":{"coding":[{"system":"https://cnics.cirg.washington.edu/test-name","code":"CD4","display":"CD4"}],"text":"CD4"},
        |"subject":{"reference":"Patient/cnics-uw-uw-001"},
        |"identifier":[{"system":"https://cnics.cirg.washington.edu/lab/site-record-id/uw","value":"lab-2"}],
        |"effectiveDateTime":"2020-03-04",
        |"valueQuantity":{"value":7.0,"unit":"cells/uL","system":"http://unitsofmeasure.org","code":"cells/uL","comparator":"<"}}""".stripMargin))
    // valueString fallback, no effective date
    assert(mapper.readTree(store.data(("Observation", "lab-3"))._2) === mapper.readTree(
      """{"resourceType":"Observation",
        |"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-observation-lab"]},
        |"status":"final",
        |"category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"laboratory","display":"laboratory"}]}],
        |"code":{"coding":[{"system":"https://cnics.cirg.washington.edu/test-name","code":"Rapid HIV","display":"Rapid HIV"}],"text":"Rapid HIV"},
        |"subject":{"reference":"Patient/cnics-uw-uw-002"},
        |"identifier":[{"system":"https://cnics.cirg.washington.edu/lab/site-record-id/uw","value":"lab-3"}],
        |"valueString":"positive"}""".stripMargin))
  }

  test("audit counters, idempotent re-run, delete propagation") {
    val store = new InMemoryFhirStore
    val audit1 = run(store)
    assert(audit1(("Patient", "insert")) === 2L)       // uw-001, uw-002 (site filter drops sea)
    assert(audit1(("Condition", "insert")) === 2L)     // dx-1, dx-3 (historical+filter drop 2)
    assert(audit1(("MedicationRequest", "insert")) === 1L)
    assert(audit1(("Observation", "insert")) === 3L)
    assert(audit1.collect { case ((_, "delete"), n) => n }.sum === 0L)

    val audit2 = run(store)
    assert(audit2.collect { case ((_, "insert"), n) => n }.sum === 0L)
    assert(audit2.collect { case ((_, "delete"), n) => n }.sum === 0L)
    assert(audit2(("Patient", "update")) === 2L)

    // drop dx-1 from the source → exactly one Condition delete
    val in2 = inputs.copy(diagnosis = inputs.diagnosis.filter("PatientId <> 1 OR CAST(DiagnosisId AS STRING) <> 'dx-1'"))
    val audit3 = new CnicsPipeline(spark, in2, store, "uw").sync(Set("conditions"))
    assert(audit3(("Condition", "delete")) === 1L)
    assert(!store.data.contains(("Condition", "dx-1")))
    assert(store.data.contains(("Condition", "dx-3")))
  }

  test("strict arrival-order mode reproduces first-seen identifier order (D9/E4)") {
    // arrival order s2-before-s1 (OPPOSITE of sorted order); proDb rows
    // carry their own cursor order too
    val pro = Seq((1L, "s2", 0L), (1L, "s1", 1L), (1L, "s1", 2L))
      .toDF("PatientId", "SessionId", "__arrival")
    val proDb = Seq(
      ("s1", Some(900L), Some("MRN-A"), 0L),
      ("s2", Some(900L), Some("MRN-B"), 1L),
      ("s2", Some(901L), None: Option[String], 2L)
    ).toDF("SessionID", "PatientID", "MRN", "__arrival")
    val p = new CnicsPipeline(spark, inputs.copy(pro = pro, proDb = proDb),
      new InMemoryFhirStore, "uw")
    val sess = p.sessionsPerPatient.collect().head.getSeq[String](1)
    assert(sess === Seq("s2", "s1")) // arrival order, not sorted order
    val fb = p.proFallback.collect().head
    assert(fb.getSeq[Long](1) === Seq(900L, 901L))
    assert(fb.getSeq[String](2) === Seq("MRN-B", "MRN-A")) // s2's MRN first
    // default (no __arrival) stays sorted-SessionId order
    val d = new CnicsPipeline(spark, inputs, new InMemoryFhirStore, "uw")
    assert(d.sessionsPerPatient.collect().head.getSeq[String](1) === Seq("s1", "s2"))
  }

  test("G3: seeded cohort sample is deterministic and bounded") {
    val p = new CnicsPipeline(spark, inputs, new InMemoryFhirStore, "uw")
    val s1 = p.cohortSample(1, seed = 7L).collect().map(_.getString(1)).toSeq
    val s2 = p.cohortSample(1, seed = 7L).collect().map(_.getString(1)).toSeq
    assert(s1 === s2)
    assert(s1.length === 1)
    assert(p.cohortSample(100).count() === p.cohort().count()) // n > cohort ⇒ whole cohort
  }

  test("crosswalk merges per-field: later NULL-umrn duplicate keeps earlier umrn") {
    // mirrors cnics_to_fhir.py:296-304 — hmrn always overwritten, umrn
    // only when present; plus literal-'NULL' hmrn is kept verbatim
    val xwalk = Seq(
      ("H1", "U1", "uw-001", 0L),   // first row: both set
      ("H2", null, "uw-001", 1L),   // later dup: umrn NULL → U1 must survive
      ("NULL", null, "uw-002", 2L)  // hmrn literal 'NULL' kept verbatim
    ).toDF("hmrn", "umrn", "SitePatientId", "__order")
    val p = new CnicsPipeline(spark, inputs.copy(crosswalk = xwalk), new InMemoryFhirStore, "uw")
    val got = p.crosswalkLastWins.collect()
      .map(r => r.getAs[String]("site_pat_id") ->
        ((r.getAs[String]("hmrn"), r.getAs[String]("umrn")))).toMap
    assert(got === Map("uw-001" -> (("H2", "U1")), "uw-002" -> (("NULL", null))))
  }

  test("JobRunner: numbered-job loop, per-site runs, gap hides later jobs") {
    val cfg = """[JobList]
                |Job_1 = "uw:cnics_uw:patients,conditions"
                |Job_3 = "sea:cnics_sea:patients"
                |""".stripMargin // Job_2 missing → Job_3 invisible (py:253 semantics)
    val store = new InMemoryFhirStore
    val results = graft.pipeline.JobRunner.run(spark, cfg,
      (_, _) => inputs, (_, _) => store)
    assert(results.map(r => (r.site, r.dbName)) === Seq(("uw", "cnics_uw")))
    assert(results.head.audit(("Patient", "insert")) === 2L)
    assert(results.head.audit(("Condition", "insert")) === 2L)
    assert(!results.head.audit.contains(("Observation", "insert"))) // not in resource list
  }

  test("E5: duplicate store resources per key are routed out, not merged (abort channel)") {
    // a store whose snapshot reports TWO resources for key uw-001 —
    // the reference's 'Multiple patient resources' abort (py:359)
    val store = new InMemoryFhirStore {
      override def snapshot(sp: org.apache.spark.sql.SparkSession, rt: String,
          identifierSystem: Option[String]) = {
        import sp.implicits._
        if (rt == "Patient")
          Seq(("uw-001", "dup-a"), ("uw-001", "dup-b")).toDF("key", "id")
        else super.snapshot(sp, rt, identifierSystem)
      }
    }
    val audit = new CnicsPipeline(spark, inputs, store, "uw").sync(Set("patients"))
    assert(audit(("Patient", "error")) === 1L)   // one key aborted
    assert(audit(("Patient", "insert")) === 1L)  // uw-002 unaffected
    assert(audit(("Patient", "delete")) === 0L)  // dup rows NOT deleted
    assert(!store.data.contains(("Patient", "uw-001"))) // aborted key never written
  }

  test("E5 on the parquet store: a key stored twice is counted, both its rows survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqdup").toString
    val pq = new graft.sinks.ParquetFhirStore(base)
    new CnicsPipeline(spark, inputs, pq, "uw").sync()
    def rows(rt: String): Set[(String, String, String)] =
      spark.read.parquet(s"$base/$rt").select("key", "id", "json")
        .as[(String, String, String)].collect().toSet
    // a second stored resource for uw-001: the same body under another id
    val dupDir = java.nio.file.Files.createTempDirectory("graft_pqdupsrc").toString
    spark.read.parquet(s"$base/Patient").filter(col("key") === "uw-001")
      .withColumn("id", lit("dup-uw-001")).coalesce(1)
      .write.mode("overwrite").parquet(dupDir)
    val part = new java.io.File(dupDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(s"$base/Patient/part-dup.parquet").toPath)
    val dup = rows("Patient").filter(_._1 == "uw-001")
    assert(dup.map(_._2) === Set("cnics-uw-uw-001", "dup-uw-001"))

    // uw-001 changes too, but only the other keys may move: uw-002's
    // body changes and dx-1 leaves the source
    val changed = inputs.copy(
      demographic = inputs.demographic.withColumn("Sex", lit("Male")),
      diagnosis = inputs.diagnosis
        .filter("PatientId <> 1 OR CAST(DiagnosisId AS STRING) <> 'dx-1'"))
    val audit = new CnicsPipeline(spark, changed, pq, "uw").sync()
    assert(audit(("Patient", "error")) === 1L)
    assert(audit(("Patient", "update")) === 1L)
    assert(audit(("Patient", "insert")) === 0L && audit(("Patient", "delete")) === 0L)
    assert(audit(("Condition", "delete")) === 1L)
    assert(rows("Patient").filter(_._1 == "uw-001") === dup) // both rows, bodies unchanged
    // every other key ends where a clean store's sync of the same input ends
    val mem = new InMemoryFhirStore
    new CnicsPipeline(spark, changed, mem, "uw").sync()
    Seq("Patient", "Condition", "MedicationRequest", "Observation").foreach { rt =>
      val want = mem.data.collect { case ((`rt`, k), (id, json)) if k != "uw-001" => (k, id, json) }
      assert(rows(rt).filter(_._1 != "uw-001") === want.toSet, rt)
    }
  }

  test("no-total snapshot: sharded id-cursor fallback fans the fetch out") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    val all = (1 to 5).map(i => s"c-$i" -> s"ck-$i")
    val idPages = new java.util.concurrent.atomic.AtomicInteger(0)
    val idFetches = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        def reply(body: String): Unit = {
          val b = body.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
        }
        def entries(rs: Seq[(String, String)]): String = rs.map { case (id, key) =>
          s"""{"resource":{"id":"$id","identifier":[{"value":"$key"}]}}"""
        }.mkString("[", ",", "]")
        // no `total` ever (a server without _summary=count support)
        if (q.contains("_summary=count")) reply("""{"resourceType":"Bundle"}""")
        else if (q.contains("_id=")) {
          // phase 2: standard token-OR fetch of an executor's shard —
          // but this server CAPS every page at ONE entry regardless of
          // the requested _count (the spec allows that), so the shard
          // fetch must follow link:next or silently lose rows
          idFetches.incrementAndGet()
          val want = q.split("&").find(_.startsWith("_id=")).get.drop(4).split(",").toSet
          val matched = all.filter(p => want(p._1))
          val port = server.getAddress.getPort
          if (q.contains("idpage=2"))
            reply(s"""{"resourceType":"Bundle","entry":${entries(matched.drop(1))}}""")
          else {
            val link =
              if (matched.size <= 1) "[]"
              else s"""[{"relation":"next","url":"http://localhost:$port/Patient?_id=${
                matched.map(_._1).mkString(",")}&idpage=2"}]"""
            reply(s"""{"resourceType":"Bundle","entry":${entries(matched.take(1))},"link":$link}""")
          }
        } else {
          // phase 1: slim id-index cursor, two resources per page
          idPages.incrementAndGet()
          val page = q.split("&").find(_.startsWith("page=")).map(_.drop(5).toInt).getOrElse(1)
          val slice = all.slice((page - 1) * 2, page * 2).map { case (id, _) => (id, "") }
          val slim = slice.map { case (id, _) => s"""{"resource":{"id":"$id"}}""" }
            .mkString("[", ",", "]")
          val port = server.getAddress.getPort
          val link =
            if (page * 2 >= all.size) "[]"
            else s"""[{"relation":"next","url":"http://localhost:$port/Patient?page=${page + 1}"}]"""
          reply(s"""{"resourceType":"Bundle","entry":$slim,"link":$link}""")
        }
      }
    })
    server.start()
    try {
      // idBatch=2 over 5 ids → 3 shard batches across >1 partition
      val store = new graft.sinks.HttpFhirStore(
        s"http://localhost:${server.getAddress.getPort}", maxRetries = 2, idBatch = 2)
      val snapDf = store.snapshot(spark, "Patient")
      assert(snapDf.rdd.getNumPartitions > 1,
        "sharded fallback must fan the resource fetch over >1 partition")
      val snap = snapDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(snap === all.map { case (id, key) => key -> id }.toMap)
      assert(idPages.get() === 3, "id cursor must have walked all three slim pages")
      assert(idFetches.get() >= 2, "resource fetch must have run as multiple shard batches")
    } finally server.stop(0)
  }

  test("parquet lakehouse store: full pipeline parity with the in-memory store") {
    val pq = new graft.sinks.ParquetFhirStore(
      java.nio.file.Files.createTempDirectory("graft_pqstore").toString)
    val auditPq = new CnicsPipeline(spark, inputs, pq, "uw").sync()
    val mem = new InMemoryFhirStore
    val auditMem = run(mem)
    assert(auditPq === auditMem) // identical classification on both sinks
    // stored keys match the in-memory store per resource type
    Seq("Patient", "Condition", "MedicationRequest", "Observation").foreach { rt =>
      val got = pq.snapshot(spark, rt).collect().map(_.getString(0)).toSet
      val want = mem.data.keys.collect { case (`rt`, k) => k }.toSet
      assert(got === want, rt)
    }
    // idempotent re-run: updates only — copy-on-write rewrite is stable
    val audit2 = new CnicsPipeline(spark, inputs, pq, "uw").sync()
    assert(audit2.collect { case ((_, "insert"), n) => n }.sum === 0L)
    assert(audit2.collect { case ((_, "delete"), n) => n }.sum === 0L)
    // subject-scoped child snapshot off the stored JSON covers exactly
    // the cohort's conditions
    val pids = pq.snapshot(spark, "Patient")
      .select(org.apache.spark.sql.functions.col("id").as("subject_id"))
    val scoped = pq.snapshotForSubjects(spark, "Condition", pids)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val full = pq.snapshot(spark, "Condition")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(scoped === full && scoped.nonEmpty)
  }

  test("parquet store crash between cascade and Patient swap re-converges on the next run") {
    import org.apache.spark.sql.functions._
    // applyActions rewrites CHILD dirs before swapping the Patient dir
    // (round-10 advice): this pins the recovery contract for a crash in
    // that window — children already cascaded, Patient dir untouched.
    // The next full run must re-classify the Patient delete (its row is
    // still stored), re-fire the cascade as a no-op, and end with zero
    // orphans. The REVERSE crash ordering would strand uw-002's
    // children forever (departed patient: no cohort subject, no
    // re-delete).
    val base = java.nio.file.Files.createTempDirectory("graft_pqcrash").toString
    val pq = new graft.sinks.ParquetFhirStore(base)
    new CnicsPipeline(spark, inputs, pq, "uw").sync()
    // simulate the crash window: uw-002's children removed from every
    // child dir (the cascade half), Patient dir left as-is
    Seq("Condition", "Observation", "MedicationRequest").foreach { rt =>
      val kept = spark.read.parquet(s"$base/$rt")
        .withColumn("__subj", get_json_object(col("json"), "$.subject.reference"))
        .filter(col("__subj").isNull || col("__subj") =!= "Patient/cnics-uw-uw-002")
        .select("key", "id", "json")
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/$rt"))
      kept.write.parquet(s"$base/$rt")
    }
    assert(pq.snapshot(spark, "Patient").collect().map(_.getString(0)).toSet
      === Set("uw-001", "uw-002")) // patient row survived the "crash"
    assert(pq.snapshot(spark, "Condition").collect().map(_.getString(0)).toSet
      === Set("dx-1")) // dx-3 already cascaded
    // recovery: the next nightly run, uw-002 now gone from the cohort
    val changed = inputs.copy(
      patient = inputs.patient.filter(col("PatientId") =!= 2L))
    val audit = new CnicsPipeline(spark, changed, pq, "uw").sync()
    assert(audit(("Patient", "delete")) === 1L) // the delete re-fired
    assert(audit(("Condition", "delete")) === 0L) // cascade no-op
    assert(audit(("Observation", "delete")) === 0L)
    assert(pq.snapshot(spark, "Patient").collect().map(_.getString(0)).toSet
      === Set("uw-001"))
    assert(pq.snapshot(spark, "Condition").collect().map(_.getString(0)).toSet
      === Set("dx-1"))
    assert(pq.snapshot(spark, "Observation").collect().map(_.getString(0)).toSet
      === Set("lab-1", "lab-2"))
    assert(pq.snapshot(spark, "MedicationRequest").collect().map(_.getString(0)).toSet
      === Set("med-1"))
  }

  test("parquet store swap crashed between its two renames heals on the next run") {
    // the copy-on-write swap's crash window: the old Patient dir staged
    // aside as Patient.bak, the rewrite never renamed in. Read as an
    // empty store, every source patient would re-classify as an insert
    // (and the next swap would delete the .bak holding the only copy)
    val base = java.nio.file.Files.createTempDirectory("graft_pqswap").toString
    val pq = new graft.sinks.ParquetFhirStore(base)
    new CnicsPipeline(spark, inputs, pq, "uw").sync()
    val live = new java.io.File(s"$base/Patient")
    val bak = new java.io.File(s"$base/Patient.bak")
    assert(live.renameTo(bak))
    val audit = new CnicsPipeline(spark, inputs, pq, "uw").sync()
    assert(audit(("Patient", "insert")) === 0L)
    assert(audit(("Patient", "update")) === 2L)
    assert(audit(("Patient", "delete")) === 0L)
    assert(live.exists() && !bak.exists())
  }

  test("parquet store: a mixed write dying before the Patient swap re-converges on the next run") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the real write path's crash window: applyActionsMixed swaps every
    // child dir, then dies rewriting the Patient dir — a stray part file
    // whose json column is an INT fails any read of the Patient json
    val base = java.nio.file.Files.createTempDirectory("graft_pqmixcrash").toString
    val pq = new graft.sinks.ParquetFhirStore(base)
    new CnicsPipeline(spark, inputs, pq, "uw").sync()
    val strayDir = java.nio.file.Files.createTempDirectory("graft_pqstray").toString
    Seq(("uw-999", "cnics-uw-uw-999", 1)).toDF("key", "id", "json")
      .coalesce(1).write.mode("overwrite").parquet(strayDir)
    val part = new java.io.File(strayDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val stray = new java.io.File(s"$base/Patient/part-stray.parquet")
    java.nio.file.Files.copy(part.toPath, stray.toPath)
    val acts = Seq(("Patient", "uw-002", "cnics-uw-uw-002", null: String, "delete"))
      .toDF("resource_type", "key", "id", "json", "merge_action")
    intercept[Exception](pq.applyActionsMixed(acts))
    assert(stray.delete())
    assert(pq.snapshot(spark, "Patient").collect().map(_.getString(0)).toSet
      === Set("uw-001", "uw-002")) // the Patient dir never swapped
    assert(pq.snapshot(spark, "Condition").collect().map(_.getString(0)).toSet
      === Set("dx-1")) // the children did
    val changed = inputs.copy(
      patient = inputs.patient.filter(col("PatientId") =!= 2L))
    val audit = new CnicsPipeline(spark, changed, pq, "uw").sync()
    assert(audit(("Patient", "delete")) === 1L)
    assert(audit(("Condition", "delete")) === 0L)
    assert(audit(("Observation", "delete")) === 0L)
    assert(pq.snapshot(spark, "Patient").collect().map(_.getString(0)).toSet
      === Set("uw-001"))
    assert(pq.snapshot(spark, "Observation").collect().map(_.getString(0)).toSet
      === Set("lab-1", "lab-2"))
  }

  test("parquet store: one mixed write ends where per-type writes end, cascade included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def seeded(): String = {
      val base = java.nio.file.Files.createTempDirectory("graft_pqmixed").toString
      new CnicsPipeline(spark, inputs, new graft.sinks.ParquetFhirStore(base), "uw").sync()
      base
    }
    val (mixedBase, perTypeBase) = (seeded(), seeded())
    // uw-002's children sit in two child dirs: dx-3 and lab-3
    val acts = Seq(
      ("Patient", "uw-002", "cnics-uw-uw-002", null: String, "delete"),
      ("Patient", "uw-001", "cnics-uw-uw-001",
        """{"resourceType":"Patient","id":"cnics-uw-uw-001"}""", "update"),
      ("Condition", "dx-9", "cnics-dx-uw-dx-9",
        """{"resourceType":"Condition","subject":{"reference":"Patient/cnics-uw-uw-001"}}""",
        "insert"),
      ("Observation", "lab-1", "cnics-lab-uw-lab-1", null: String, "delete"))
      .toDF("resource_type", "key", "id", "json", "merge_action")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val counts = new graft.sinks.ParquetFhirStore(mixedBase).applyActionsMixed(acts)
    // the write's action checkpoint is released when it returns
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached)
    assert(counts ===Map(("Patient", "delete") -> 1L, ("Patient", "update") -> 1L,
      ("Condition", "insert") -> 1L, ("Observation", "delete") -> 1L))
    val perType = new graft.sinks.ParquetFhirStore(perTypeBase)
    Seq("Patient", "Condition", "Observation").foreach { rt =>
      perType.applyActions(rt, acts.filter(col("resource_type") === rt).drop("resource_type"))
    }
    def contents(base: String, rt: String): Set[(String, String, String)] =
      spark.read.parquet(s"$base/$rt").as[(String, String, String)].collect().toSet
    Seq("Patient", "Condition", "MedicationRequest", "Observation").foreach { rt =>
      assert(contents(mixedBase, rt) === contents(perTypeBase, rt), rt)
    }
    assert(contents(mixedBase, "Condition").map(_._1) === Set("dx-1", "dx-9"))
    assert(contents(mixedBase, "Observation").map(_._1) === Set("lab-2"))
  }

  test("parquet store: a parquet Full sync ends where an InMemoryFhirStore Full sync does") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val changed = inputs.copy(
      patient = inputs.patient.filter(col("PatientId") =!= 2L))
    val types = Seq("Patient", "Condition", "MedicationRequest", "Observation")
    val base = java.nio.file.Files.createTempDirectory("graft_pqwrite").toString
    val pq = new graft.sinks.ParquetFhirStore(base)
    new CnicsPipeline(spark, inputs, pq, "uw").sync()
    val pqAudit = new CnicsPipeline(spark, changed, pq, "uw").sync()
    val mem = new graft.sinks.InMemoryFhirStore
    new CnicsPipeline(spark, inputs, mem, "uw").sync()
    val memAudit = new CnicsPipeline(spark, changed, mem, "uw").sync()
    assert(pqAudit(("Patient", "delete")) === 1L)
    assert(pqAudit === memAudit)
    types.foreach { rt =>
      val pqRows = spark.read.parquet(s"$base/$rt").as[(String, String, String)].collect().toSet
      val memRows = mem.data.collect { case ((`rt`, key), (id, json)) => (key, id, json) }.toSet
      assert(pqRows === memRows, rt)
    }
  }

  test("parquet store: a Full sync with a departed patient writes each type dir once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val base = java.nio.file.Files.createTempDirectory("graft_pqonce").toString
    val pq = new graft.sinks.ParquetFhirStore(base)
    new CnicsPipeline(spark, inputs, pq, "uw").sync()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
            plans.add(s.physicalPlanDescription); ()
          case _ =>
        }
    }
    val changed = inputs.copy(
      patient = inputs.patient.filter(col("PatientId") =!= 2L))
    spark.sparkContext.addSparkListener(listener)
    val audit =
      try {
        val a = new CnicsPipeline(spark, changed, pq, "uw").sync()
        org.apache.spark.TestListenerBus.drain(spark.sparkContext)
        a
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(audit(("Patient", "delete")) === 1L)
    import scala.jdk.CollectionConverters._
    Seq("Patient", "Condition", "MedicationRequest", "Observation").foreach { rt =>
      assert(plans.asScala.count(_.contains(s"$base/$rt.v")) === 1, rt)
    }
    assert(pq.snapshot(spark, "Condition").collect().map(_.getString(0)).toSet
      === Set("dx-1")) // the cascade rode the one Condition rewrite
    assert(pq.snapshot(spark, "Observation").collect().map(_.getString(0)).toSet
      === Set("lab-1", "lab-2"))
  }

  test("parquet store under a file: URI base reads back what it wrote") {
    // every existence check and listing goes through Hadoop FS: read
    // through java.io.File, a `file:` base looked empty, so the second
    // sync classified every row as an insert
    val base = java.nio.file.Files.createTempDirectory("graft_pquri").toString
    val pq = new graft.sinks.ParquetFhirStore("file://" + base)
    val audit1 = new CnicsPipeline(spark, inputs, pq, "uw").sync()
    assert(audit1(("Patient", "insert")) === 2L)
    val audit2 = new CnicsPipeline(spark, inputs, pq, "uw").sync()
    assert(audit2.collect { case ((_, "insert"), n) => n }.sum === 0L)
    assert(audit2.collect { case ((_, "delete"), n) => n }.sum === 0L)
    assert(audit2(("Patient", "update")) === 2L)
    assert(audit2(("Observation", "update")) === 3L)
  }

  test("HttpFhirStore round-trip against a live HTTP server") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val served = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val posts = new java.util.concurrent.atomic.AtomicInteger(0)
    // page faults by `_offset`: (status to reply, replies left)
    val pageFaults = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        def reply(code: Int, body: String): Unit = {
          val bytes = body.getBytes("UTF-8")
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes); ex.close()
        }
        ex.getRequestMethod match {
          case "POST" => // FHIR transaction Bundle
            posts.incrementAndGet()
            val m = new ObjectMapper()
            val bundle = m.readTree(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
            assert(bundle.path("type").asText() === "transaction")
            bundle.path("entry").forEach { e =>
              val req = e.path("request")
              // entry urls may carry search-ish params (Patient deletes
              // append ?_cascade=delete); the path identifies the target
              val target = "/" + req.path("url").asText().split("\\?")(0)
              req.path("method").asText() match {
                case "PUT" => served.put(target, e.path("resource").toString)
                case "DELETE" => served.remove(target)
              }
            }
            reply(200, """{"resourceType":"Bundle","type":"transaction-response"}""")
          case "PUT" =>
            served.put(path, new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
            reply(200, "{}")
          case "DELETE" =>
            served.remove(path); reply(200, "{}")
          case "GET" =>
            val m = new ObjectMapper()
            val params = Option(ex.getRequestURI.getQuery).toSeq
              .flatMap(_.split("&")).map(_.split("=", 2))
              .collect { case Array(k, v) => k -> v }.toMap
            val subject = params.get("subject")
            // deterministic id-sorted matches, so offset paging is stable
            val matches = scala.collection.mutable.ArrayBuffer[(String, String)]()
            served.forEach { (p, body) =>
              if (p.startsWith(path.split("\\?")(0))) {
                val node = m.readTree(body).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                val subjRef = node.path("subject").path("reference").asText("")
                if (subject.forall(_ == subjRef)) {
                  val id = p.split("/").last
                  node.put("id", id)
                  matches += ((id, node.toString))
                }
              }
            }
            val sorted = matches.sortBy(_._1)
            val fault = params.get("_offset").flatMap(o => Option(pageFaults.get(o)))
              .filter(_._2 > 0)
            if (fault.isDefined) {
              val (status, left) = fault.get
              pageFaults.put(params("_offset"), (status, left - 1))
              reply(status, """{"resourceType":"OperationOutcome"}""")
            } else if (params.get("_summary").contains("count"))
              reply(200, s"""{"resourceType":"Bundle","total":${sorted.size}}""")
            else {
              val off = params.get("_offset").map(_.toInt).getOrElse(0)
              val cnt = params.get("_count").map(_.toInt).getOrElse(1000)
              val entries = sorted.slice(off, off + cnt)
                .map { case (_, body) => "{\"resource\":" + body + "}" }.mkString(",")
              reply(200, s"""{"resourceType":"Bundle","entry":[${entries}],"link":[]}""")
            }
          case _ => reply(405, "{}")
        }
      }
    })
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val store = new graft.sinks.HttpFhirStore(base, maxRetries = 2)
      val actions = Seq(
        ("k1", "id-1", """{"identifier":[{"value":"k1"}],"x":1}""", "insert"),
        ("k2", "id-2", """{"identifier":[{"value":"k2"}],"x":2}""", "insert")
      ).toDF("key", "id", "json", "merge_action")
      val counts = store.applyActions("Patient", actions)
      assert(counts === Map("insert" -> 2L))
      assert(served.containsKey("/Patient/id-1") && served.containsKey("/Patient/id-2"))

      val snap = store.snapshot(spark, "Patient").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(snap === Map("k1" -> "id-1", "k2" -> "id-2"))

      val del = Seq(("k2", "id-2", null: String, "delete")).toDF("key", "id", "json", "merge_action")
      assert(store.applyActions("Patient", del) === Map("delete" -> 1L))
      assert(!served.containsKey("/Patient/id-2"))

      // distributed per-subject child snapshot (A7): conditions for two
      // subjects plus one foreign subject; subject ids spread over >1
      // partition so the fan-out genuinely runs per executor partition
      val conds = Seq(
        ("dx-1", "cid-1", """{"identifier":[{"value":"dx-1"}],"subject":{"reference":"Patient/p1"}}""", "insert"),
        ("dx-2", "cid-2", """{"identifier":[{"value":"dx-2"}],"subject":{"reference":"Patient/p1"}}""", "insert"),
        ("dx-3", "cid-3", """{"identifier":[{"value":"dx-3"}],"subject":{"reference":"Patient/p2"}}""", "insert"),
        ("dx-4", "cid-4", """{"identifier":[{"value":"dx-4"}],"subject":{"reference":"Patient/other"}}""", "insert")
      ).toDF("key", "id", "json", "merge_action")
      // Bundle batching: 4 rows in one partition → ONE transaction POST
      val before = posts.get()
      assert(store.applyActions("Condition", conds.coalesce(1)) === Map("insert" -> 4L))
      assert(posts.get() - before === 1, "4 rows must batch into a single Bundle POST")
      val subjects = Seq("p1", "p2").toDF("subject_id").repartition(3)
      val scoped = store.snapshotForSubjects(spark, "Condition", subjects)
      assert(scoped.rdd.getNumPartitions > 1)
      val got = scoped.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === Map("dx-1" -> "cid-1", "dx-2" -> "cid-2", "dx-3" -> "cid-3"))

      // distributed full-store snapshot: 23 resources at page size 5 →
      // 5 offset pages fanned out across >1 partition, all rows seen once
      val many = (1 to 23).map { i =>
        val k = f"mk-$i%03d"
        (k, f"mid-$i%03d", s"""{"identifier":[{"value":"$k"}]}""", "insert")
      }.toDF("key", "id", "json", "merge_action")
      val pagedStore = new graft.sinks.HttpFhirStore(base, maxRetries = 2, pageSize = 5)
      assert(pagedStore.applyActions("Group", many) === Map("insert" -> 23L))
      val paged = pagedStore.snapshot(spark, "Group")
      assert(paged.rdd.getNumPartitions > 1,
        "offset pages must fan out over more than one partition")
      val pm = paged.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(pm.size === 23 && pm("mk-007") === "mid-007")

      // a 429 on one page is retried, not read as an empty page
      pageFaults.put("10", (429, 1))
      assert(pagedStore.snapshot(spark, "Group").count() === 23L)
      assert(pageFaults.get("10") === ((429, 0)))
      // any other 4xx fails the snapshot instead of dropping its rows
      pageFaults.put("15", (404, Int.MaxValue))
      val lost = intercept[Exception](pagedStore.snapshot(spark, "Group").count())
      assert(lost.getMessage.contains("HTTP 404"), lost.getMessage)
    } finally server.stop(0)
  }

  test("HttpFhirStore waits out a 429's Retry-After before it re-posts") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val served = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // arrival times (ms) of every bundle POST; the first is refused
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        arrivals.add(System.currentTimeMillis())
        val (code, reply) =
          if (arrivals.size == 1) {
            ex.getResponseHeaders.add("Retry-After", "1")
            (429, """{"resourceType":"OperationOutcome"}""")
          } else {
            new ObjectMapper().readTree(body).path("entry").forEach { e =>
              served.put(e.path("request").path("url").asText(), e.path("resource").toString)
            }
            (200, """{"resourceType":"Bundle","type":"transaction-response"}""")
          }
        val bytes = reply.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.start()
    try {
      val store = new graft.sinks.HttpFhirStore(
        s"http://localhost:${server.getAddress.getPort}", maxRetries = 3)
      val rows = (1 to 3).map(i =>
        (s"k$i", s"id-$i", s"""{"identifier":[{"value":"k$i"}]}""", "insert"))
        .toDF("key", "id", "json", "merge_action").coalesce(1)
      assert(store.applyActions("Patient", rows) === Map("insert" -> 3L))
      val times = arrivals.toArray.map(_.asInstanceOf[Long])
      assert(times.length === 2)
      assert(times(1) - times(0) >= 1000L, s"re-posted after ${times(1) - times(0)} ms")
      assert(served.keySet.toArray.toSet === Set("Patient/id-1", "Patient/id-2", "Patient/id-3"))
    } finally server.stop(0)
  }

  test("a bundle POST refused with 400 throws naming the bundle's size and first and last type/id") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val posts = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        posts.incrementAndGet()
        val bytes = """{"resourceType":"OperationOutcome"}""".getBytes("UTF-8")
        ex.sendResponseHeaders(400, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.start()
    try {
      val store = new graft.sinks.HttpFhirStore(
        s"http://localhost:${server.getAddress.getPort}", maxRetries = 3)
      val rows = (1 to 3).map(i =>
        (s"k$i", s"id-$i", s"""{"identifier":[{"value":"body-of-k$i"}]}""", "insert"))
        .toDF("key", "id", "json", "merge_action").coalesce(1)
      val e = intercept[Exception](store.applyActions("Patient", rows))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(m => m.contains("bundle of 3 entries (Patient/id-1 .. Patient/id-3)") &&
        m.contains("HTTP 400")), messages)
      assert(!messages.exists(_.contains("body-of-")), messages) // never a resource body
      assert(posts.get() === 1) // a 400 is terminal: no retry
    } finally server.stop(0)
  }

  test("debug channel: reconcile action frames land as queryable parquet (py:527 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_debug").toString
    val store = new InMemoryFhirStore
    new CnicsPipeline(spark, inputs, store, "uw", debugDir = Some(dir)).sync()
    val pats = spark.read.parquet(s"$dir/Patient").collect()
    assert(pats.length === 2)
    assert(pats.forall(_.getAs[String]("merge_action") === "insert"))
    // the dumped json IS the resource the sink received
    val byKey = pats.map(r => r.getAs[String]("key") -> r.getAs[String]("json")).toMap
    assert(byKey("uw-001") === store.data(("Patient", "uw-001"))._2)
    Seq("Condition", "MedicationRequest", "Observation").foreach { rt =>
      assert(new java.io.File(s"$dir/$rt").isDirectory, rt)
    }
    // a delete run records the delete action with its null json
    val in2 = inputs.copy(diagnosis = inputs.diagnosis
      .filter("PatientId <> 1 OR CAST(DiagnosisId AS STRING) <> 'dx-1'"))
    new CnicsPipeline(spark, in2, store, "uw", debugDir = Some(dir)).sync(Set("conditions"))
    val dels = spark.read.parquet(s"$dir/Condition")
      .filter(org.apache.spark.sql.functions.col("merge_action") === "delete").collect()
    assert(dels.map(_.getAs[String]("key")).toSeq === Seq("dx-1"))
    assert(dels.head.getAs[String]("json") === null)
  }

  test("multi-site shared store: site-scoped Patient reconcile never deletes cross-site") {
    // the reference's deployment shape — many sites, ONE FHIR store —
    // with the identifier-system-scoped snapshot (cnics_to_fhir.py:322)
    val mem = new InMemoryFhirStore
    new CnicsPipeline(spark, inputs, mem, "uw").sync()
    // sea runs into a store already holding uw's patients: the scoped
    // snapshot hides them, so store∖source must be EMPTY, not uw's rows
    val sea = new CnicsPipeline(spark, inputs, mem, "sea").sync()
    assert(sea(("Patient", "insert")) === 1L)
    assert(sea(("Patient", "delete")) === 0L)
    assert(mem.data.contains(("Patient", "uw-001")) && mem.data.contains(("Patient", "uw-002")))
    // uw re-runs on the store now holding sea-9: updates its own 2,
    // deletes nothing of sea's
    val uw2 = new CnicsPipeline(spark, inputs, mem, "uw").sync(Set("patients"))
    assert(uw2(("Patient", "update")) === 2L && uw2(("Patient", "delete")) === 0L)
    assert(mem.data.contains(("Patient", "sea-9")))
    // the scoped snapshot itself returns exactly the site's patients
    val uwSys = new CnicsPipeline(spark, inputs, mem, "uw").sitePatientIdSystem
    assert(mem.snapshot(spark, "Patient", Some(uwSys))
      .collect().map(_.getString(0)).toSet === Set("uw-001", "uw-002"))

    // parquet-store twin: same isolation through the JSON-parsed scope
    val pq = new graft.sinks.ParquetFhirStore(
      java.nio.file.Files.createTempDirectory("graft_pq2site").toString)
    new CnicsPipeline(spark, inputs, pq, "uw").sync(Set("patients"))
    val seaPq = new CnicsPipeline(spark, inputs, pq, "sea").sync(Set("patients"))
    assert(seaPq(("Patient", "delete")) === 0L)
    val uwPq2 = new CnicsPipeline(spark, inputs, pq, "uw").sync(Set("patients"))
    assert(uwPq2(("Patient", "delete")) === 0L && uwPq2(("Patient", "update")) === 2L)
    assert(pq.snapshot(spark, "Patient").collect().map(_.getString(0)).toSet
      === Set("uw-001", "uw-002", "sea-9"))
    assert(pq.snapshot(spark, "Patient",
        Some("https://cnics.cirg.washington.edu/site-patient-id/sea"))
      .collect().map(_.getString(0)).toSet === Set("sea-9"))
  }

  test("HTTP store e2e: two sites through the full pipeline on one live server") {
    // the production composition: CnicsPipeline → HttpFhirStore →
    // HAPI-ish server shared by two sites. The server filters
    // `identifier=<system>|` by PARSING the stored resources (like a
    // real FHIR store), so this proves the emitted Patient JSON, the
    // scoped snapshot URL, and the reconcile compose end-to-end.
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val served = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    val m = new ObjectMapper()
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        def reply(body: String): Unit = {
          val b = body.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
        }
        ex.getRequestMethod match {
          case "POST" =>
            val bundle = m.readTree(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
            bundle.path("entry").forEach { e =>
              val req = e.path("request")
              val target = "/" + req.path("url").asText().split("\\?")(0)
              req.path("method").asText() match {
                case "PUT" => served.put(target, e.path("resource").toString); ()
                case "DELETE" => served.remove(target); ()
              }
            }
            reply("""{"resourceType":"Bundle","type":"transaction-response"}""")
          case "GET" =>
            val params = Option(ex.getRequestURI.getQuery).toSeq
              .flatMap(_.split("&")).map(_.split("=", 2))
              .collect { case Array(k, v) =>
                k -> java.net.URLDecoder.decode(v, "UTF-8") }.toMap
            val sysFilter = params.get("identifier").map(_.stripSuffix("|"))
            val subject = params.get("subject")
            val matches = scala.collection.mutable.ArrayBuffer[(String, String)]()
            served.forEach { (p, body) =>
              if (p.startsWith(path.split("\\?")(0))) {
                val node = m.readTree(body).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                var sysOk = sysFilter.isEmpty
                node.path("identifier").forEach(i =>
                  if (sysFilter.contains(i.path("system").asText(""))) sysOk = true)
                val subjOk = subject.forall(_ == node.path("subject").path("reference").asText(""))
                if (sysOk && subjOk) {
                  val id = p.split("/").last
                  node.put("id", id)
                  matches += ((id, node.toString))
                }
              }
            }
            val sorted = matches.sortBy(_._1)
            if (params.get("_summary").contains("count"))
              reply(s"""{"resourceType":"Bundle","total":${sorted.size}}""")
            else {
              val off = params.get("_offset").map(_.toInt).getOrElse(0)
              val cnt = params.get("_count").map(_.toInt).getOrElse(1000)
              val entries = sorted.slice(off, off + cnt)
                .map { case (_, body) => "{\"resource\":" + body + "}" }.mkString(",")
              reply(s"""{"resourceType":"Bundle","entry":[$entries],"link":[]}""")
            }
          case _ => reply("{}")
        }
      }
    })
    server.start()
    try {
      val store = new graft.sinks.HttpFhirStore(
        s"http://localhost:${server.getAddress.getPort}", maxRetries = 2)
      val uw1 = new CnicsPipeline(spark, inputs, store, "uw").sync()
      assert(uw1(("Patient", "insert")) === 2L)
      val sea = new CnicsPipeline(spark, inputs, store, "sea").sync()
      assert(sea(("Patient", "insert")) === 1L)
      assert(sea(("Patient", "delete")) === 0L)
      // uw's patients survived sea's reconcile on the SHARED server
      assert(served.containsKey("/Patient/cnics-uw-uw-001"))
      assert(served.containsKey("/Patient/cnics-uw-uw-002"))
      val uw2 = new CnicsPipeline(spark, inputs, store, "uw").sync(Set("patients"))
      assert(uw2(("Patient", "update")) === 2L && uw2(("Patient", "delete")) === 0L)
      assert(served.containsKey("/Patient/cnics-sea-sea-9"))
      // and a real source-side drop arrives as a delete of ONLY that row
      val in2 = inputs.copy(patient = inputs.patient.filter("PatientId <> 2"))
      val uw3 = new CnicsPipeline(spark, in2, store, "uw").sync(Set("patients"))
      assert(uw3(("Patient", "delete")) === 1L)
      assert(!served.containsKey("/Patient/cnics-uw-uw-002"))
      assert(served.containsKey("/Patient/cnics-uw-uw-001"))
      assert(served.containsKey("/Patient/cnics-sea-sea-9"))
    } finally server.stop(0)
  }

  test("HTTP store: identifier-scoped snapshot + Patient ?_cascade=delete parity") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val sysUw = "https://cnics.cirg.washington.edu/site-patient-id/uw"
    val sysSea = "https://cnics.cirg.washington.edu/site-patient-id/sea"
    val pats = Seq(
      ("p-uw-1", "uw-001", sysUw),
      ("p-uw-2", "uw-002", sysUw),
      ("p-sea-1", "sea-9", sysSea))
    val deleteUrls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val identifierParams = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        def reply(body: String): Unit = {
          val b = body.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
        }
        ex.getRequestMethod match {
          case "POST" =>
            val m = new ObjectMapper()
            val bundle = m.readTree(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
            bundle.path("entry").forEach { e =>
              val req = e.path("request")
              if (req.path("method").asText() == "DELETE")
                deleteUrls.add(req.path("url").asText())
              ()
            }
            reply("""{"resourceType":"Bundle","type":"transaction-response"}""")
          case "GET" =>
            val params = Option(ex.getRequestURI.getQuery).toSeq
              .flatMap(_.split("&")).map(_.split("=", 2))
              .collect { case Array(k, v) =>
                k -> java.net.URLDecoder.decode(v, "UTF-8") }.toMap
            // FHIR token search: identifier=<system>| → any value under
            // the system; the server-side filter IS the scope
            val sysFilter = params.get("identifier").map { v =>
              identifierParams.add(v); v.stripSuffix("|")
            }
            val matched = pats.filter(p => sysFilter.forall(_ == p._3)).sortBy(_._1)
            if (params.get("_summary").contains("count"))
              reply(s"""{"resourceType":"Bundle","total":${matched.size}}""")
            else {
              val off = params.get("_offset").map(_.toInt).getOrElse(0)
              val cnt = params.get("_count").map(_.toInt).getOrElse(1000)
              val entries = matched.slice(off, off + cnt).map { case (id, key, sys) =>
                s"""{"resource":{"id":"$id","identifier":[{"system":"$sys","value":"$key"}]}}"""
              }.mkString(",")
              reply(s"""{"resourceType":"Bundle","entry":[$entries],"link":[]}""")
            }
          case _ => reply("{}")
        }
      }
    })
    server.start()
    try {
      val store = new graft.sinks.HttpFhirStore(
        s"http://localhost:${server.getAddress.getPort}", maxRetries = 2)
      val scoped = store.snapshot(spark, "Patient", Some(sysUw))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(scoped === Map("uw-001" -> "p-uw-1", "uw-002" -> "p-uw-2"))
      // every search round-trip (the count sizing AND the pages)
      // carried the system|-scoped token param
      assert(identifierParams.size() >= 2)
      identifierParams.forEach(v => assert(v === sysUw + "|"))
      assert(store.snapshot(spark, "Patient")
        .collect().length === 3) // unscoped still sees everything

      val del = Seq(("uw-002", "p-uw-2", null: String, "delete"))
        .toDF("key", "id", "json", "merge_action")
      assert(store.applyActions("Patient", del) === Map("delete" -> 1L))
      val delC = Seq(("dx-1", "cid-1", null: String, "delete"))
        .toDF("key", "id", "json", "merge_action")
      assert(store.applyActions("Condition", delC) === Map("delete" -> 1L))
      val urls = deleteUrls.toArray.map(_.toString).toSet
      assert(urls("Patient/p-uw-2?_cascade=delete"),
        "Patient deletes must cascade (cnics_to_fhir.py:333)")
      assert(urls("Condition/cid-1"), "child deletes must NOT cascade")
    } finally server.stop(0)
  }
}
