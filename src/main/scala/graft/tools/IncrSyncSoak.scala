package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume soak for the incremental sync over the real HTTP wire:
  * 50 000 patients through [[graft.pipeline.CnicsPipeline.sync]] (patients, manifest scope)
  * against [[graft.sinks.FhirFixtureServer]], with the wire cost of
  * every phase checked as a closed form:
  *
  *  - cold manifest: 50 000 inserts ⇒ 500–520 bundle POSTs
  *    (⌈N/100⌉ plus at most one partial bundle per output partition
  *    of the classify join — AQE decides the partition count);
  *  - steady state: unchanged sources ⇒ the dirty set is empty and
  *    the wire is COMPLETELY idle — 0 POSTs, 0 GETs (the whole point
  *    of the manifest: the reference re-PUTs all 50 000 every run);
  *  - delta: 500 patients' demographics change ⇒ ~5 token-OR
  *    searches + ~5 bundle POSTs, 500 updates, nothing else touched.
  *
  * Assembly still scans the full source each run (one declarative
  * pass — the cheap part, by design); what the manifest eliminates is
  * the store wire. Prints one JSON evidence line; recorded in
  * BASELINE.md.
  */
object IncrSyncSoak {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val n = 50000L
    def inputs(flipSexBelow: Long): graft.pipeline.CnicsInputs = {
      val patient = spark.range(0, n, 1, 8)
        .select(col("id").as("PatientId"),
          concat(lit("p"), col("id")).cast("binary").as("SitePatientId"),
          lit("uw").as("Site"))
      val demographic = spark.range(0, n, 1, 8)
        .select(col("id").as("DemographicId"), col("id").as("PatientId"),
          when(col("id") % 100 === 0 && col("id") < lit(flipSexBelow), "Male")
            .otherwise("Female").as("Sex"),
          lit("Asian").as("Race"), lit("No").as("Hispanic"))
      graft.pipeline.CnicsInputs(
        patient = patient,
        demographic = demographic,
        diagnosis = Seq.empty[(Long, Array[Byte], Option[java.sql.Date], String, String, Option[String])]
          .toDF("PatientId", "DiagnosisId", "DiagnosisDate", "DiagnosisSource", "DiagnosisName", "Historical"),
        medication = Seq.empty[(Long, Array[Byte], String, Option[java.sql.Date], Option[java.sql.Date], Option[String], Option[String])]
          .toDF("PatientId", "MedicationId", "MedicationName", "StartDate", "EndDate", "EndType", "Historical"),
        lab = Seq.empty[(Long, String, String, String, Option[String], Option[java.sql.Date], Option[String], Option[String], Option[String])]
          .toDF("PatientId", "LabId", "TestName", "Result", "Units", "TestDate", "ReferenceLow", "ReferenceHigh", "Historical"),
        pro = Seq.empty[(Long, String)].toDF("PatientId", "SessionId"),
        proDb = Seq.empty[(String, Option[Long], Option[String])]
          .toDF("SessionID", "PatientID", "MRN"),
        crosswalk = Seq.empty[(Option[String], Option[String], String, Long)]
          .toDF("hmrn", "umrn", "SitePatientId", "__order"),
        conditionsFilter = "true", medicationsFilter = "true",
        observationsFilter = "true", standardDiagnoses = Seq.empty)
    }

    val srv = new graft.sinks.FhirFixtureServer()
    val port = srv.start()
    try {
      val store = new graft.sinks.HttpFhirStore(s"http://localhost:$port")
      val mdir = java.nio.file.Files.createTempDirectory("graft_incsoak").toString
      def sync(flip: Long) =
        new graft.pipeline.CnicsPipeline(spark, inputs(flip), store, "uw")
          .sync(Set("patients"), graft.pipeline.Scope.Manifest(mdir))
          .collect { case (("Patient", a), k) if k > 0 => a -> k }

      // cold manifest -> full insert sync
      val (p0, g0) = (srv.posts.get(), srv.gets.get())
      val (r1, tCold) = timed(sync(0L))
      require(r1 == Map("insert" -> n), s"cold: $r1")
      val coldPosts = srv.posts.get() - p0
      require(coldPosts >= 500 && coldPosts <= 520, s"cold posts: $coldPosts")
      require(srv.count("Patient") == n)

      // steady state -> the wire must be COMPLETELY idle
      val (p1, g1) = (srv.posts.get(), srv.gets.get())
      val (r2, tSteady) = timed(sync(0L))
      require(r2.values.sum == 0L, s"steady: $r2")
      val steadyPosts = srv.posts.get() - p1
      val steadyGets = srv.gets.get() - g1
      require(steadyPosts == 0 && steadyGets == 0,
        s"steady wire not idle: posts=$steadyPosts gets=$steadyGets")

      // 500-patient delta (ids % 100 == 0 flip Sex)
      val (p2, g2) = (srv.posts.get(), srv.gets.get())
      val (r3, tDelta) = timed(sync(n))
      require(r3 == Map("update" -> 500L), s"delta: $r3")
      val deltaPosts = srv.posts.get() - p2
      val deltaGets = srv.gets.get() - g2
      require(deltaPosts <= 16 && deltaGets <= 16,
        s"delta wire not O(dirty): posts=$deltaPosts gets=$deltaGets")

      def f(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
      println(s"""{"soak":"incr_sync","patients":$n,"cold_posts":$coldPosts,""" +
        s""""cold_s":${f(tCold)},"steady_posts":$steadyPosts,"steady_gets":$steadyGets,""" +
        s""""steady_s":${f(tSteady)},"delta_updates":500,"delta_posts":$deltaPosts,""" +
        s""""delta_gets":$deltaGets,"delta_s":${f(tDelta)}}""")
    } finally {
      srv.stop()
      spark.stop()
    }
  }
}
