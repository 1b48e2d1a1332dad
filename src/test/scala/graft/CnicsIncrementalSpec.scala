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
}
