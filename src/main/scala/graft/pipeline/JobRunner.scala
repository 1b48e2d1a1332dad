package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.config.IniConfig
import graft.sinks.FhirStore

/** SURVEY.md §3.1 — the outermost entry point: the reference's job loop
  * (`cnics_to_fhir.py:249-257, 928`) re-expressed over the declarative
  * pipeline. Jobs come from a `[JobList]` INI section with numbered
  * `Job_N = "site_list:db_name:resource_list"` keys; iteration is
  * bug-compatible with the reference's `while 'Job_'+n in config` loop:
  * numbering stops at the FIRST missing index (a gap hides later jobs).
  *
  * Each (job, site) yields one `CnicsPipeline.sync` — per-site DataFrame
  * DAGs and their audit counters; sources and stores are injected per
  * (site, db) so deployments can point at per-site databases exactly
  * like the reference's secrets.ini wiring. */
object JobRunner {

  final case class JobResult(site: String, dbName: String,
      audit: Map[(String, String), Long])

  /** Parse `[JobList]` with the reference's numbered-key semantics. */
  def jobs(jobConfigText: String): Seq[IniConfig.JobSpec] = {
    val section = IniConfig.parse(jobConfigText).getOrElse("JobList", Map.empty)
    Iterator.from(1)
      .map(n => section.get(s"Job_$n"))
      .takeWhile(_.isDefined)
      .flatMap(_.toSeq)
      .filter(_.nonEmpty)
      .map(IniConfig.parseJobSpec)
      .toSeq
  }

  /** Full PUT-always sync of every (job, site). */
  def run(spark: SparkSession, jobConfigText: String,
      inputsFor: (String, String) => CnicsInputs,
      storeFor: (String, String) => FhirStore,
      limit: Int = Int.MaxValue): Seq[JobResult] =
    syncAll(spark, jobConfigText, inputsFor, storeFor, limit)((_, _) => Scope.Full())

  /** Manifest-diffed sync of every (job, site) ([[Scope.Manifest]]), so
    * a nightly re-run whose sources barely changed touches the store
    * for just the delta — per-type (key, hash) manifests live under
    * `manifestDirFor(site, dbName)`, one root per (site, db) exactly
    * like the stores and sources are wired. */
  def runIncremental(spark: SparkSession, jobConfigText: String,
      inputsFor: (String, String) => CnicsInputs,
      storeFor: (String, String) => FhirStore,
      manifestDirFor: (String, String) => String,
      limit: Int = Int.MaxValue): Seq[JobResult] =
    syncAll(spark, jobConfigText, inputsFor, storeFor, limit)(
      (site, db) => Scope.Manifest(manifestDirFor(site, db)))

  private def syncAll(spark: SparkSession, jobConfigText: String,
      inputsFor: (String, String) => CnicsInputs,
      storeFor: (String, String) => FhirStore,
      limit: Int)(scopeFor: (String, String) => Scope): Seq[JobResult] =
    for {
      job <- jobs(jobConfigText)
      site <- job.sites
    } yield {
      val pipeline = new CnicsPipeline(spark, inputsFor(site, job.dbName),
        storeFor(site, job.dbName), site)
      val types = if (job.resources.isEmpty) CnicsPipeline.AllTypes else job.resources
      JobResult(site, job.dbName,
        pipeline.sync(types, scopeFor(site, job.dbName), limit))
    }
}
