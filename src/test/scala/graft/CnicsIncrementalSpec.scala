package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.CnicsFixtures
import graft.pipeline.{CnicsInputs, CnicsPipeline, Scope}
import graft.sinks.InMemoryFhirStore

/** Contracts of the incremental Patient sync that the registry row
  * (`cnics_incremental_audit`) cannot see: end-state equivalence with a
  * from-scratch full run, byte-level zero-touch in the steady state,
  * and the manifest swap's crash heal. */
class CnicsIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mdir() =
    java.nio.file.Files.createTempDirectory("graft_inc").toString

  /** The Patient counters of a manifest-scoped Patient sync. */
  private def patientsIncremental(in: CnicsInputs, store: InMemoryFhirStore,
      dir: String): Map[String, Long] =
    new CnicsPipeline(spark, in, store, "uw").sync(Set("patients"), Scope.Manifest(dir))
      .collect { case (("Patient", a), n) => a -> n }

  private def changedInputs = {
    import spark.implicits._
    val base = CnicsFixtures.demo(spark)
    base.copy(
      patient = base.patient.filter(col("PatientId") =!= 2L),
      demographic = Seq(
        (10L, 1L, Some("Male"), Some("Asian"), Some("Yes")),
        (11L, 1L, Some("Male"), Some("White"), Some("No")),
        (13L, 3L, Some("Male"), Some("Black"), Some("No"))
      ).toDF("DemographicId", "PatientId", "Sex", "Race", "Hispanic"))
  }

  test("incremental end state equals a from-scratch full run, bodies included") {
    val dir = mdir()
    val incStore = new InMemoryFhirStore
    patientsIncremental(CnicsFixtures.demo(spark), incStore, dir)
    patientsIncremental(changedInputs, incStore, dir)

    val fullStore = new InMemoryFhirStore
    new CnicsPipeline(spark, changedInputs, fullStore, "uw").sync(Set("patients"))

    val incPatients = incStore.data.filter(_._1._1 == "Patient")
    val fullPatients = fullStore.data.filter(_._1._1 == "Patient")
    assert(incPatients == fullPatients) // same keys AND same JSON bodies
  }

  test("steady state: second incremental run writes nothing at all") {
    val dir = mdir()
    val store = new InMemoryFhirStore
    patientsIncremental(CnicsFixtures.demo(spark), store, dir)
    val before = store.data.toMap
    val r2 = patientsIncremental(CnicsFixtures.demo(spark), store, dir)
    assert(r2.values.sum === 0L)
    assert(store.data.toMap === before) // not even a no-op re-PUT
  }

  test("all-type incremental end state equals a from-scratch full run, bodies included") {
    val dir = mdir()
    val incStore = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), incStore, "uw")
      .sync(scope = Scope.Manifest(dir))
    new CnicsPipeline(spark, changedInputs, incStore, "uw")
      .sync(scope = Scope.Manifest(dir))

    // the same two syncs targeted at every key of the first cohort
    val keyStore = new InMemoryFhirStore
    val keys = new CnicsPipeline(spark, CnicsFixtures.demo(spark), keyStore, "uw")
      .cohort().select("site_pat_id")
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), keyStore, "uw")
      .sync(scope = Scope.Keys(keys))
    new CnicsPipeline(spark, changedInputs, keyStore, "uw")
      .sync(scope = Scope.Keys(keys))

    val fullStore = new InMemoryFhirStore
    new CnicsPipeline(spark, changedInputs, fullStore, "uw").sync()
    assert(incStore.data.toMap === fullStore.data.toMap) // every type, every body
    assert(keyStore.data.toMap === fullStore.data.toMap)
  }

  test("streaming key-sync end state equals the batch full run, bodies included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = new InMemoryFhirStore
    val mem = MemoryStream[String]
    val q = graft.streaming.CnicsStreams.sync(
      mem.toDF().toDF("site_pat_id"), CnicsFixtures.demo(spark), store, "uw", Set("patients"))
    try {
      mem.addData("uw-001"); q.processAllAvailable()
      mem.addData("uw-002", "no-such-key"); q.processAllAvailable()
    } finally q.stop()

    val full = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), full, "uw").sync(Set("patients"))
    assert(store.data.filter(_._1._1 == "Patient")
      === full.data.filter(_._1._1 == "Patient"))
  }

  test("parquet store cascades Patient deletes to children, matching the in-memory double") {
    import spark.implicits._
    val pq = new graft.sinks.ParquetFhirStore(
      java.nio.file.Files.createTempDirectory("graft_pqcascade").toString)
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), pq, "uw").sync()
    assert(pq.snapshot(spark, "Condition").count() === 2L)
    assert(pq.snapshot(spark, "Observation").count() === 3L)

    // uw-002 leaves the cohort; the targeted run deletes the patient and
    // the cascade must take dx-3 and lab-3 with it
    val dropped = CnicsFixtures.demo(spark)
    val changed = dropped.copy(
      patient = dropped.patient.filter(col("PatientId") =!= 2L))
    val audit = new CnicsPipeline(spark, changed, pq, "uw")
      .sync(scope = Scope.Keys(Seq("uw-002").toDF("site_pat_id")))
    assert(audit(("Patient", "delete")) === 1L)

    assert(pq.snapshot(spark, "Patient").count() === 1L)
    val condKeys = pq.snapshot(spark, "Condition")
      .collect().map(_.getString(0)).toSet
    assert(condKeys === Set("dx-1"))
    val obsKeys = pq.snapshot(spark, "Observation")
      .collect().map(_.getString(0)).toSet
    assert(obsKeys === Set("lab-1", "lab-2"))
  }

  test("E5 dup keys stay dirty: the manifest must not advance an errored key") {
    // a store whose Patient snapshot duplicates uw-001 (the E5 shape:
    // two store resources sharing one business key)
    val store = new InMemoryFhirStore {
      override def snapshot(spark: org.apache.spark.sql.SparkSession,
          resourceType: String,
          identifierSystem: Option[String] = None): org.apache.spark.sql.DataFrame = {
        val s = super.snapshot(spark, resourceType, identifierSystem)
        if (resourceType == "Patient")
          s.union(s.filter(col("key") === "uw-001"))
        else s
      }
    }
    val dir = mdir()
    val base = CnicsFixtures.demo(spark)
    val r1 = patientsIncremental(base, store, dir) // empty store: clean insert run
    assert(r1.get("error").isEmpty && r1("insert") === 2L)

    // uw-001's content changes -> dirty -> the dup'd snapshot aborts it
    import spark.implicits._
    val changed = base.copy(demographic = Seq(
      (10L, 1L, Some("Male"), Some("Asian"), Some("Yes")),
      (11L, 1L, Some("Male"), Some("White"), Some("No")),
      (12L, 2L, None: Option[String], None: Option[String], None: Option[String]),
      (13L, 3L, Some("Male"), Some("Black"), Some("No"))
    ).toDF("DemographicId", "PatientId", "Sex", "Race", "Hispanic"))
    val r2 = patientsIncremental(changed, store, dir)
    assert(r2("error") === 1L && r2.getOrElse("update", 0L) === 0L)

    // SAME inputs again: the errored key must still be dirty — a
    // manifest that advanced its hash would report 0 and mask the
    // store corruption forever
    val r3 = patientsIncremental(changed, store, dir)
    assert(r3.get("error").contains(1L),
      s"errored key was masked by the manifest: $r3")
  }

  test("E5 over HTTP: a key the server holds twice is never posted and stays dirty") {
    val srv = new graft.sinks.FhirFixtureServer()
    val port = srv.start()
    try {
      val store = new graft.sinks.HttpFhirStore(s"http://localhost:$port", maxRetries = 2)
      val dir = mdir()
      def patients(in: CnicsInputs): Map[String, Long] =
        new CnicsPipeline(spark, in, store, "uw").sync(Set("patients"), Scope.Manifest(dir))
          .collect { case (("Patient", a), n) => a -> n }
      val base = CnicsFixtures.demo(spark)
      assert(patients(base)("insert") === 2L)
      // a second server resource carrying uw-001's identifier
      srv.data.put("/Patient/dup-uw-001", srv.data.get("/Patient/cnics-uw-uw-001"))
      val before = new java.util.HashMap[String, String](srv.data)
      val posts = srv.posts.get()

      // uw-001's body changes: it is the one dirty key, and it errors
      val changed = base.copy(demographic = base.demographic
        .withColumn("Sex", when(col("PatientId") === 1L, lit("Male")).otherwise(col("Sex"))))
      val r2 = patients(changed)
      assert(r2 === Map("insert" -> 0L, "update" -> 0L, "delete" -> 0L, "error" -> 1L))
      assert(srv.posts.get() === posts) // no bundle names the key: none was sent
      assert(srv.data === before)
      // the manifest kept the key dirty, so the error re-surfaces
      assert(patients(changed)("error") === 1L)
      assert(srv.posts.get() === posts)
    } finally srv.stop()
  }

  test("a Manifest delta over HTTP costs one GET per synced type at any shuffle width") {
    // the key lookups must coalesce with the delta, not fan out per
    // shuffle partition: at most idBatch dirty keys per type is one
    // token-OR GET per type
    val width = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(width)
    spark.conf.set(width, "16")
    val srv = new graft.sinks.FhirFixtureServer()
    val port = srv.start()
    try {
      val store = new graft.sinks.HttpFhirStore(s"http://localhost:$port", maxRetries = 2)
      val dir = mdir()
      def synced(in: CnicsInputs): (Map[(String, String), Long], Int) = {
        val gets = srv.gets.get()
        val audit = new CnicsPipeline(spark, in, store, "uw").sync(scope = Scope.Manifest(dir))
        (audit, srv.gets.get() - gets)
      }
      // first run: every key is dirty, and each type has a few
      val (first, firstGets) = synced(CnicsFixtures.demo(spark))
      assert(first(("Patient", "insert")) === 2L && first(("Observation", "insert")) === 3L)
      // the server starts empty, so both Patients insert and their
      // children are not looked up: the Patient lookup is the one GET
      assert(firstGets === 1)
      val posts = srv.posts.get()
      // a nightly delta touching every type, no cascade: both Patients
      // change, and one record of uw-001 leaves each child table
      val demo = CnicsFixtures.demo(spark)
      val (second, secondGets) = synced(demo.copy(
        demographic = demo.demographic.withColumn("Sex", lit("Male")),
        diagnosis = demo.diagnosis.filter("CAST(DiagnosisId AS STRING) <> 'dx-1'"),
        medication = demo.medication.filter("CAST(MedicationId AS STRING) <> 'med-1'"),
        lab = demo.lab.filter("LabId <> 'lab-1'")))
      assert(second(("Patient", "update")) === 2L)
      Seq("Condition", "MedicationRequest", "Observation")
        .foreach(rt => assert(second((rt, "delete")) === 1L, rt))
      assert(secondGets === 4)
      // every type's actions go out in one mixed bundle
      assert(srv.posts.get() - posts === 1)
    } finally { srv.stop(); spark.conf.set(width, saved) }
  }

  test("a departure-only Manifest delta sends one GET and one POST: the cascade takes the children") {
    val srv = new graft.sinks.FhirFixtureServer()
    val port = srv.start()
    try {
      val store = new graft.sinks.HttpFhirStore(s"http://localhost:$port", maxRetries = 2)
      val dir = mdir()
      val demo = CnicsFixtures.demo(spark)
      new CnicsPipeline(spark, demo, store, "uw").sync(scope = Scope.Manifest(dir))
      val (gets, posts) = (srv.gets.get(), srv.posts.get())
      // uw-002 leaves the cohort: its dx-3 and lab-3 leave the source
      // with it, and are neither looked up nor deleted on their own
      val audit = new CnicsPipeline(spark,
        demo.copy(patient = demo.patient.filter(col("PatientId") =!= 2L)), store, "uw")
        .sync(scope = Scope.Manifest(dir))
      assert(srv.gets.get() - gets === 1) // the Patient lookup only
      assert(srv.posts.get() - posts === 1)
      assert(audit(("Patient", "delete")) === 1L)
      Seq("Condition", "MedicationRequest", "Observation")
        .foreach(rt => assert(audit((rt, "delete")) === 0L, rt))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val subjects = srv.data.values.toArray.map(j =>
        mapper.readTree(j.toString).path("subject").path("reference").asText(""))
      assert(!subjects.contains("Patient/cnics-uw-uw-002"))
      assert(srv.count("Patient") === 1L && srv.count("Condition") === 1L &&
        srv.count("Observation") === 2L)
    } finally srv.stop()
  }

  /** Runs `f` against a fresh fixture server and an HTTP store on it. */
  private def overHttp[A](strict: Boolean = false)(
      f: (graft.sinks.FhirFixtureServer, graft.sinks.HttpFhirStore) => A): A = {
    val srv = new graft.sinks.FhirFixtureServer(strictReferences = strict)
    val port = srv.start()
    try f(srv, new graft.sinks.HttpFhirStore(s"http://localhost:$port", maxRetries = 2))
    finally srv.stop()
  }

  /** The zero-filled audit of a sync whose only counts are `nonZero`. */
  private def auditOf(nonZero: ((String, String), Long)*): Map[(String, String), Long] =
    (for (rt <- Seq("Patient", "Condition", "MedicationRequest", "Observation");
          a <- Seq("insert", "update", "delete")) yield (rt, a) -> 0L).toMap ++ nonZero

  /** uw-001 arrives, with dx-1, med-1, lab-1 and lab-2, in a Manifest
    * sync after one without it; returns the delta's audit and the
    * server's state, both checked against a `Full` sync of the demo. */
  private def arrival(strict: Boolean) = {
    val demo = CnicsFixtures.demo(spark)
    val full = overHttp(strict) { (srv, store) =>
      new CnicsPipeline(spark, demo, store, "uw").sync()
      new java.util.HashMap[String, String](srv.data)
    }
    overHttp(strict) { (srv, store) =>
      val dir = mdir()
      new CnicsPipeline(spark, demo.copy(patient = demo.patient.filter(col("PatientId") =!= 1L)),
        store, "uw").sync(scope = Scope.Manifest(dir))
      val (gets, posts) = (srv.gets.get(), srv.posts.get())
      val audit = new CnicsPipeline(spark, demo, store, "uw").sync(scope = Scope.Manifest(dir))
      assert(srv.gets.get() - gets === 1) // the Patient lookup only
      assert(srv.posts.get() - posts === 1)
      assert(audit === auditOf(("Patient", "insert") -> 1L, ("Condition", "insert") -> 1L,
        ("MedicationRequest", "insert") -> 1L, ("Observation", "insert") -> 2L))
      assert(srv.data === full)
      srv.refRejects.get()
    }
  }

  test("an arriving patient's children insert unlooked-up: one GET and one POST") {
    arrival(strict = false)
  }

  test("an arriving patient's unlooked-up children still post after it on a strict-reference server") {
    assert(arrival(strict = true) === 0)
  }

  test("a first Manifest sync after a Full seed looks up children of stored and E5 patients") {
    // uw-001 is held twice once stored (E5), so it classifies `error`;
    // uw-002 updates. Neither is an insert, so every child is looked up
    // and updates, exactly as a Full sync of the same store classifies it
    val demo = CnicsFixtures.demo(spark)
    val expected = auditOf(("Patient", "update") -> 1L, ("Patient", "error") -> 1L,
      ("Condition", "update") -> 2L, ("MedicationRequest", "update") -> 1L,
      ("Observation", "update") -> 3L)
    def inMemory(scope: Scope) = {
      val store = new InMemoryFhirStore {
        override def snapshot(spark: org.apache.spark.sql.SparkSession, resourceType: String,
            identifierSystem: Option[String] = None): org.apache.spark.sql.DataFrame = {
          val s = super.snapshot(spark, resourceType, identifierSystem)
          if (resourceType == "Patient") s.union(s.filter(col("key") === "uw-001")) else s
        }
      }
      new CnicsPipeline(spark, demo, store, "uw").sync()
      (new CnicsPipeline(spark, demo, store, "uw").sync(scope = scope), store.data.toMap)
    }
    val (mAudit, mData) = inMemory(Scope.Manifest(mdir()))
    assert(mAudit === expected)
    assert((mAudit, mData) === inMemory(Scope.Full))

    def http(scope: Scope) = overHttp() { (srv, store) =>
      new CnicsPipeline(spark, demo, store, "uw").sync()
      srv.data.put("/Patient/dup-uw-001", srv.data.get("/Patient/cnics-uw-uw-001"))
      val gets = srv.gets.get()
      val audit = new CnicsPipeline(spark, demo, store, "uw").sync(scope = scope)
      (audit, new java.util.HashMap[String, String](srv.data), srv.gets.get() - gets)
    }
    val (hAudit, hData, hGets) = http(Scope.Manifest(mdir()))
    assert(hAudit === expected)
    assert(hGets === 4) // Patient, then every child type's lookup
    val (fAudit, fData, _) = http(Scope.Full)
    assert(hAudit === fAudit && hData === fData)
  }

  test("a mixed write that throws swings no manifest, and the next sync finds the same dirty keys") {
    var down = false
    val store = new InMemoryFhirStore {
      override def applyActionsMixed(
          actions: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
        if (down) throw new IllegalStateException("store down")
        else super.applyActionsMixed(actions)
    }
    val dir = mdir()
    def inc(in: CnicsInputs) =
      new CnicsPipeline(spark, in, store, "uw").sync(scope = Scope.Manifest(dir))
    inc(CnicsFixtures.demo(spark))
    def manifests = Seq("Patient", "Condition", "MedicationRequest", "Observation")
      .map(rt => rt -> spark.read.parquet(s"$dir/$rt/manifest").collect().toSet).toMap
    val (before, stored) = (manifests, store.data.toMap)
    down = true
    intercept[IllegalStateException](inc(changedInputs))
    assert(manifests === before)
    assert(store.data.toMap === stored)

    // the same two syncs on a store that never failed
    val okDir = mdir()
    val okStore = new InMemoryFhirStore
    def ok(in: CnicsInputs) =
      new CnicsPipeline(spark, in, okStore, "uw").sync(scope = Scope.Manifest(okDir))
    ok(CnicsFixtures.demo(spark))
    val expected = ok(changedInputs)
    down = false
    assert(inc(changedInputs) === expected)
    assert(store.data.toMap === okStore.data.toMap)
  }

  test("a failing prepare costs nothing on the wire, swings no manifest and leaves nothing running") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val demo = CnicsFixtures.demo(spark)
    val changed = demo.copy(demographic = demo.demographic
      .withColumn("Sex", when(col("PatientId") === 1L, lit("Male")).otherwise(col("Sex"))))
    def files(dir: String): Map[String, Seq[Byte]] = {
      val root = Paths.get(dir)
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    }
    def syncs(fail: Boolean) = overHttp() { (srv, store) =>
      val dir = mdir()
      def inc(in: CnicsInputs) =
        new CnicsPipeline(spark, in, store, "uw").sync(scope = Scope.Manifest(dir))
      inc(demo)
      if (fail) {
        val obs = Paths.get(s"$dir/Observation/manifest")
        val saved = Paths.get(mdir(), "manifest")
        Files.move(obs, saved)
        Files.write(obs, "not parquet".getBytes("UTF-8"))
        val patient = files(s"$dir/Patient/manifest")
        val (gets, posts) = (srv.gets.get(), srv.posts.get())
        intercept[Exception](inc(changed))
        assert(srv.gets.get() === gets && srv.posts.get() === posts)
        assert(files(s"$dir/Patient/manifest") === patient)
        assert(!Thread.getAllStackTraces.keySet.asScala
          .exists(_.getName.startsWith(CnicsPipeline.SyncThread)))
        // job ends reach the status tracker through the async listener bus
        val deadline = System.nanoTime() + 10000000000L
        while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty &&
            System.nanoTime() < deadline) Thread.sleep(50)
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
        Files.delete(obs)
        Files.move(saved, obs)
      }
      (inc(changed), new java.util.HashMap[String, String](srv.data))
    }
    assert(syncs(fail = true) === syncs(fail = false))
  }

  test("a child manifest without the subject column still converges to the Full end state") {
    val dir = mdir()
    val incStore = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), incStore, "uw")
      .sync(scope = Scope.Manifest(dir))
    // rewrite every child manifest in the (key, __h) layout that had no subject
    Seq("Condition", "MedicationRequest", "Observation").foreach { rt =>
      val live = s"$dir/$rt/manifest"
      val old = spark.read.parquet(live).select("key", "__h").localCheckpoint(true)
      old.write.mode("overwrite").parquet(live)
      assert(spark.read.parquet(live).columns.toSeq === Seq("key", "__h"))
    }
    val audit = new CnicsPipeline(spark, changedInputs, incStore, "uw")
      .sync(scope = Scope.Manifest(dir))
    // the departed uw-002's dx-3 and lab-3 carry no subject, so they are
    // looked up and deleted explicitly beside the Patient's cascade
    assert(audit(("Patient", "delete")) === 1L)
    assert(audit(("Condition", "delete")) === 1L && audit(("Observation", "delete")) === 1L)

    val fullStore = new InMemoryFhirStore
    new CnicsPipeline(spark, changedInputs, fullStore, "uw").sync()
    assert(incStore.data.toMap === fullStore.data.toMap) // every type, every body
  }

  test("JobRunner.runIncremental: two-site shared store, second pass is all-zero") {
    val store = new InMemoryFhirStore
    val roots = scala.collection.mutable.Map[String, String]()
    def manifestFor(site: String, db: String) =
      roots.getOrElseUpdate(s"$site/$db", mdir())
    val cfg = "[JobList]\nJob_1 = \"uw,sea:cnics:\"\n"
    def once() = graft.pipeline.JobRunner.runIncremental(spark, cfg,
      (_, _) => CnicsFixtures.demo(spark), (_, _) => store, manifestFor)
    val first = once()
    assert(first.map(_.site) === Seq("uw", "sea"))
    assert(first.find(_.site == "uw").get.audit(("Patient", "insert")) === 2L)
    assert(first.find(_.site == "sea").get.audit(("Patient", "insert")) === 1L)
    // neither site deleted the other's patients (site-scoped snapshots)
    assert(store.data.keys.count(_._1 == "Patient") === 3)
    val second = once()
    assert(second.flatMap(_.audit.values).sum === 0L)
  }

  test("a swap crashed between renames heals from the bak manifest") {
    val dir = mdir()
    val store = new InMemoryFhirStore
    patientsIncremental(CnicsFixtures.demo(spark), store, dir)
    // simulate the crash window: live renamed to bak, new tmp never landed
    val live = new java.io.File(s"$dir/Patient/manifest")
    val bak = new java.io.File(s"$dir/Patient/.manifest.bak")
    assert(live.renameTo(bak))
    val r = patientsIncremental(CnicsFixtures.demo(spark), store, dir)
    // healed prev manifest -> still a zero-action steady state, not a
    // full re-sync of every key
    assert(r.values.sum === 0L)
    assert(live.exists() && !bak.exists())
  }

  import CnicsIncrementalSpec.Extract

  /** One generated extract of the demo's site `uw`: uw-001 is always in
    * the cohort, uw-002 and the arriving uw-004 when `present`; each
    * patient's demographics are generated, and each child record goes
    * to its generated owner, so records move between patients and
    * leave the source with a departed owner. */

  private val extractGen: org.scalacheck.Gen[Extract] = {
    import org.scalacheck.Gen
    val uw = Seq(1L, 2L, 4L)
    val records = Seq("dx-1", "dx-2", "dx-3", "dx-4", "med-1", "lab-1", "lab-2", "lab-3")
    for {
      present <- Gen.someOf(Seq(2L, 4L))
      sex <- Gen.sequence[Seq[String], String](uw.map(_ => Gen.oneOf("Female", "Male")))
      race <- Gen.sequence[Seq[String], String](uw.map(_ => Gen.oneOf("Asian", "White")))
      owner <- Gen.sequence[Seq[Long], Long](records.map(_ => Gen.oneOf(uw)))
      a1c <- Gen.oneOf("5.4", "6.1")
    } yield Extract(present.toSet + 1L, uw.zip(sex).toMap, uw.zip(race).toMap,
      records.zip(owner).toMap, a1c)
  }

  private def inputsOf(e: Extract): CnicsInputs = {
    import spark.implicits._
    val demo = CnicsFixtures.demo(spark)
    val uw = e.present.toSeq.sorted
    def moved(df: org.apache.spark.sql.DataFrame, idCol: String) =
      df.withColumn("PatientId", element_at(typedLit(e.owner), col(idCol).cast("string")))
    demo.copy(
      patient = demo.patient.filter(col("Site") =!= "uw")
        .unionByName(uw.map(p => (p, f"uw-$p%03d".getBytes("UTF-8"), "uw"))
          .toDF("PatientId", "SitePatientId", "Site")),
      demographic = demo.demographic.filter(col("PatientId") === 3L)
        .unionByName(uw.map(p => (10L * p, p, Option(e.sex(p)), Option(e.race(p)), Option("No")))
          .toDF("DemographicId", "PatientId", "Sex", "Race", "Hispanic")),
      diagnosis = moved(demo.diagnosis, "DiagnosisId"),
      medication = moved(demo.medication, "MedicationId"),
      lab = moved(demo.lab.withColumn("Result",
        when(col("LabId") === "lab-1", lit(e.a1c)).otherwise(col("Result"))), "LabId"))
  }

  test("property: a Manifest chain ends where a Full sync of its last extract does") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    // the store holds uw-001 twice (E5) before the chain starts: a stray
    // copy stays as it is, and uw-001 classifies `error` on every sync
    def planted(): InMemoryFhirStore = {
      val store = new InMemoryFhirStore {
        override def snapshot(spark: org.apache.spark.sql.SparkSession, resourceType: String,
            identifierSystem: Option[String] = None): org.apache.spark.sql.DataFrame = {
          val s = super.snapshot(spark, resourceType, identifierSystem)
          if (resourceType == "Patient") s.union(s.filter(col("key") === "uw-001")) else s
        }
      }
      store.data(("Patient", "uw-001")) = ("stray-uw-001",
        """{"resourceType":"Patient","id":"stray-uw-001","identifier":[{"system":""" +
          """"https://cnics.cirg.washington.edu/site-patient-id/uw","value":"uw-001"}]}""")
      store
    }
    def errors(audit: Map[(String, String), Long]) =
      audit.collect { case ((rt, "error"), n) => rt -> n }
    val prop = Prop.forAllNoShrink(Gen.choose(1, 3).flatMap(Gen.listOfN(_, extractGen))) {
      chain =>
        val (inc, dir) = (planted(), mdir())
        val audits = chain.map(e =>
          new CnicsPipeline(spark, inputsOf(e), inc, "uw").sync(scope = Scope.Manifest(dir)))
        val full = planted()
        val fullAudit = new CnicsPipeline(spark, inputsOf(chain.last), full, "uw").sync()
        assert(inc.data.toMap === full.data.toMap, chain) // every type, every body
        assert(errors(audits.last) === errors(fullAudit), chain)
        true
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(20261020L), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}

object CnicsIncrementalSpec {
  final case class Extract(present: Set[Long], sex: Map[Long, String],
      race: Map[Long, String], owner: Map[String, Long], a1c: String)
}
