package perfbench

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.FhirResources
import graft.pipeline.{CnicsInputs, CnicsPipeline, JobRunner}
import graft.sinks.{FhirFixtureServer, HttpFhirStore, ParquetFhirStore}
import Extract.{A, B, Variant}

/** One CNICS site workload: a nightly sync of one site through
  * `JobRunner` into one FHIR store.
  *
  * @param patients patients per extract of the synced site
  * @param http sync into [[FhirFixtureServer]] over HTTP instead of a
  *   [[ParquetFhirStore]]
  * @param incremental `JobRunner.runIncremental` (manifest-diffed)
  *   instead of `JobRunner.run`
  * @param secondSite patients of a second site preloaded into the store,
  *   whose resources every sync must leave untouched (0: none) */
final case class WorkloadSpec(name: String, patients: Int, http: Boolean,
    incremental: Boolean, secondSite: Int)

/** The workloads; why each was chosen is in BENCHMARK.json and README.md. */
object WorkloadSpec {
  val all: Seq[WorkloadSpec] = Seq(
    WorkloadSpec("cnics_nightly_lakehouse", 150, http = false, incremental = false, 0),
    WorkloadSpec("cnics_incremental_http", 100, http = true, incremental = true, 10))

  def apply(name: String): WorkloadSpec = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))
}

/** Progress lines on standard error. */
object Log {
  val t0: Long = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
}

/** Another site sharing the FHIR server: a few patients with their
  * observations, written straight to the server in one transaction
  * bundle. Every sync of the benchmarked site must leave them as they
  * are. */
object SecondSite {
  val Site = "sea"
  /** Marks this site's resource ids (`cnics-sea-…`, `cnics-lab-sea-…`). */
  val IdTag = s"-$Site-"

  def preload(port: Int, patients: Int): Unit = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    def put(rt: String, id: String, body: String) =
      s"""{"resource":$body,"request":{"method":"PUT","url":"$rt/$id"}}"""
    val entries = (1 to patients).flatMap { p =>
      val key = s"$Site-$p"
      val patientId = s"cnics-$Site-$key"
      put("Patient", patientId, s"""{"resourceType":"Patient","identifier":[{"system":""" +
        s""""https://cnics.cirg.washington.edu/site-patient-id/$Site","value":"$key"}],""" +
        s""""gender":"unknown"}""") +: (1 to 2).map { j =>
        val lab = s"lab-$p-$j"
        put("Observation", s"cnics-lab-$Site-$lab", s"""{"resourceType":"Observation",""" +
          s""""status":"final","subject":{"reference":"Patient/$patientId"},""" +
          s""""identifier":[{"system":"https://cnics.cirg.washington.edu/lab/""" +
          s"""site-record-id/$Site","value":"$lab"}],"valueInteger":$j}""")
      }
    }
    val bundle = entries.mkString(
      """{"resourceType":"Bundle","type":"transaction","entry":[""", ",", "]}")
    val r = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/"))
        .header("Content-Type", "application/fhir+json")
        .POST(HttpRequest.BodyPublishers.ofString(bundle)).build(),
      HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() >= 400)
      throw new CheckFailed(s"second site preload got HTTP ${r.statusCode()}")
  }
}

/** A correctness check that failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** The store and extracts of one set-up, and what every check compares
  * against. */
final class Site(val dir: String, val store: ObservedStore,
    val server: Option[FhirFixtureServer], val serverPort: Option[Int]) {
  var current: Variant = A
  var secondSiteHash: Option[Int] = None
  var proxy: Option[TimingProxy] = None
  /** The store as seen through the timing proxy (HTTP) or the store
    * itself. */
  var tracedStore: ObservedStore = store

  /** GETs plus POSTs the FHIR server received, or store calls when the
    * store has no wire. */
  def requests: Long = server.map(s => s.gets.get().toLong + s.posts.get().toLong)
    .getOrElse(store.calls.get())

  def close(): Unit = {
    proxy.foreach(_.stop())
    server.foreach(_.stop())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    ()
  }
}

final case class SyncResult(audit: Map[(String, String), Long], wallS: Double,
    requests: Long)

final class CnicsWorkload(val spec: WorkloadSpec, spark: SparkSession, seed: Long,
    root: String) {
  val extract: Extract = Extract(spec.patients, seed)
  private val jobConfig = s"[JobList]\nJob_1 = \"uw:cnics:${Extract.SyncedResourceList}\"\n"

  private lazy val expected: Map[Variant, Map[String, (Int, Int)]] =
    Seq(A, B).map { v =>
      v -> extract.expectedIds(v).collect { case (rt, ids) if Extract.SyncedTypes.contains(rt) =>
        rt -> (ids.size, MurmurHash3.unorderedHash(ids)) }
    }.toMap

  /** Resources of the synced types in extract `v`: what one sync to it
    * reconciles. */
  def resources(v: Variant): Long =
    Extract.SyncedTypes.map(extract.resourceCounts(v)).sum

  def manifestRoot(site: Site): String = s"${site.dir}/manifest"

  /** The set-up, what `setup_s` times: generation and extract write, a
    * fresh store (with the second site preloaded) and its seeding by a
    * cold sync of extract A, checked. */
  def setup(): Site = {
    val dir = new java.io.File(s"$root/setup").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    extract.write(spark, s"$dir/extract")
    Log("setup: extracts written")
    val server = if (spec.http) Some(new FhirFixtureServer()) else None
    val port = server.map(_.start())
    val inner = port match {
      case Some(p) => new HttpFhirStore(s"http://127.0.0.1:$p")
      case None => new ParquetFhirStore(s"$dir/store")
    }
    val site = new Site(dir, new ObservedStore(inner), server, port)
    try {
      for (srv <- server; p <- port if spec.secondSite > 0) {
        SecondSite.preload(p, spec.secondSite)
        site.secondSiteHash = Some(secondSiteState(srv))
      }
      val cold = sync(site, A, site.store)
      expect("cold sync", cold.audit, extract.coldAudit(A))
      site
    } catch { case e: Throwable => site.close(); throw e }
  }

  /** The untimed warm-up op: a re-sync of extract A, which must insert
    * and delete nothing (and, incremental, send no request at all). */
  def warmUp(site: Site): Unit = {
    val rerun = sync(site, A, site.store)
    expect("re-run", rerun.audit, extract.rerunAudit(A, spec.incremental))
    if (spec.incremental && rerun.requests != 0)
      throw new CheckFailed(s"incremental re-run sent ${rerun.requests} requests")
  }

  private def inputs(site: Site, v: Variant): CnicsInputs =
    extract.inputs(spark, s"${site.dir}/extract", v)

  def sync(site: Site, to: Variant, store: ObservedStore): SyncResult = {
    val before = site.requests
    val t0 = System.nanoTime()
    val results =
      if (spec.incremental)
        JobRunner.runIncremental(spark, jobConfig, (_, _) => inputs(site, to),
          (_, _) => store, (_, _) => manifestRoot(site))
      else JobRunner.run(spark, jobConfig, (_, _) => inputs(site, to), (_, _) => store)
    val wall = (System.nanoTime() - t0) / 1e9
    Log(f"sync to $to: $wall%.3f s, ${site.requests - before} requests")
    SyncResult(results.head.audit, wall, site.requests - before)
  }

  /** One op: sync the other extract, then check the audit and the store
    * (outside the timed region). */
  def op(site: Site, store: ObservedStore): SyncResult = {
    val to = Extract.other(site.current)
    val r = sync(site, to, store)
    site.current = to
    expect(s"sync to $to", r.audit,
      if (spec.incremental) extract.incrementalAudit(to) else extract.fullAudit(to))
    checkStore(site, to)
    r
  }

  /** Useful writes (content really changed) per write issued. */
  def changedPerWritten(audit: Map[(String, String), Long]): Double = {
    val ins = audit.collect { case ((_, "insert"), n) => n }.sum
    val del = audit.collect { case ((_, "delete"), n) => n }.sum
    val upd = audit.collect { case ((_, "update"), n) => n }.sum
    val useful = ins + del + math.min(audit.getOrElse(("Patient", "update"), 0L),
      extract.changedUpdates)
    if (ins + upd + del == 0) 1.0 else useful.toDouble / (ins + upd + del)
  }

  private def expect(what: String, got: Map[(String, String), Long],
      want: Map[(String, String), Long]): Unit =
    if (got != want) {
      val diff = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(k => got.get(k) != want.get(k))
        .map(k => s"$k got ${got.get(k).orNull} want ${want.get(k).orNull}")
      throw new CheckFailed(s"$what audit mismatch: ${diff.mkString("; ")}")
    }

  /** Each type's resource ids for the synced site equal the expected
    * set, and the second site is byte-identical to its preload. */
  def checkStore(site: Site, v: Variant): Unit = {
    val ids: Map[String, Seq[String]] = site.server match {
      case Some(srv) =>
        srv.data.keySet.asScala.toSeq.map(_.stripPrefix("/").split("/", 2))
          .collect { case Array(rt, id) if !isSecondSite(id) => rt -> id }
          .groupMap(_._1)(_._2)
      case None =>
        Extract.SyncedTypes.map { rt =>
          rt -> spark.read.parquet(s"${site.dir}/store/$rt").select("id")
            .collect().map(_.getString(0)).toSeq
        }.toMap
    }
    Extract.SyncedTypes.foreach { rt =>
      val got = ids.getOrElse(rt, Nil)
      val (n, h) = expected(v)(rt)
      if (got.size != n || MurmurHash3.unorderedHash(got) != h)
        throw new CheckFailed(s"$rt store holds ${got.size} ids, want $n (or a different set)")
    }
    for (srv <- site.server; want <- site.secondSiteHash)
      if (secondSiteState(srv) != want) throw new CheckFailed("second site changed")
  }

  private def isSecondSite(id: String): Boolean = id.contains(SecondSite.IdTag)

  private def secondSiteState(srv: FhirFixtureServer): Int =
    MurmurHash3.unorderedHash(srv.data.asScala.toSeq.filter { case (k, _) => isSecondSite(k) })

  /** Each type's resources of extract `v`, built through the public
    * resource builders, as (key, id, json) frames: the pipeline's
    * assembly without the reconcile. */
  def assembly(site: Site, v: Variant): Seq[(String, DataFrame)] = {
    val in = inputs(site, v)
    val ext = extract
    val pipe = new CnicsPipeline(spark, in, site.store, ext.site)
    val siteCol = lit(ext.siteLower)
    val cohort = pipe.cohort().select("PatientId", "site_pat_id")
    val subject = concat(lit(s"cnics-${ext.siteLower}-"), col("site_pat_id"))
    def child(df: DataFrame, nameCol: String, filter: String, idCol: String,
        tag: String): DataFrame =
      df.filter(coalesce(col("Historical") =!= "Yes", lit(true)) &&
          length(col(nameCol)) > 0 && expr(filter))
        .join(cohort, Seq("PatientId"))
        .withColumn("key", col(idCol).cast("string"))
        .withColumn("id", concat(lit(s"cnics-$tag-${ext.siteLower}-"), col("key")))
    def json(resource: org.apache.spark.sql.Column) = to_json(resource).as("json")
    Seq(
      "Patient" -> pipe.patientResources().select("key", "id", "json"),
      "Condition" -> child(in.diagnosis, "DiagnosisName", in.conditionsFilter,
          "DiagnosisId", "dx")
        .select(col("key"), col("id"), json(FhirResources.condition(siteCol, subject,
          col("key"), col("DiagnosisDate"), col("DiagnosisSource"),
          col("DiagnosisName"), col("DiagnosisName").isin(in.standardDiagnoses: _*)))),
      "MedicationRequest" -> child(in.medication, "MedicationName", in.medicationsFilter,
          "MedicationId", "med")
        .select(col("key"), col("id"), json(FhirResources.medicationRequest(siteCol, subject,
          col("key"), col("MedicationName"), col("StartDate"), col("EndDate"),
          col("EndType")))),
      "Observation" -> child(in.lab, "TestName", in.observationsFilter, "LabId", "lab")
        .select(col("key"), col("id"), json(FhirResources.observation(siteCol, subject,
          col("LabId"), col("TestName"), col("TestDate"), col("Result"), col("Units"),
          col("ReferenceLow"), col("ReferenceHigh")))))
  }
}
