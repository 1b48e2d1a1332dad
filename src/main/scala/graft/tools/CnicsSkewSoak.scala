package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skewed-reconcile soak for the CNICS pipeline (round-10 verdict #6):
  * SURVEY §4.2 claims AQE handles the one-patient-many-labs skew in
  * the assembly joins — this pins that claim with plan evidence at a
  * 1M-observation hot patient.
  *
  * Shape: 10,000 cohort patients, 10 labs each, plus ONE hot patient
  * holding 1,000,000 labs (~99% of the fan-out join's probe side lands
  * on a single PatientId). Broadcast is DISABLED (`autoBroadcastJoin
  * Threshold=-1`): at the fixture scale Catalyst would broadcast the
  * 10k-row cohort and no skew could exist — but at the reference's
  * real deployment (10⁸-patient sites) the cohort side exceeds any
  * broadcast budget and the fan-out join runs as a shuffle join, which
  * is exactly the plan this soak forces. AQE skew thresholds are
  * scaled to the soak's COMPRESSED shuffle volume (512 KB threshold /
  * factor 2 / 256 KB advisory target — the lab rows' constant columns
  * lz4-compress to a few MB) for the same reason: the DEFAULT
  * thresholds (256 MB / 5×) engage at production partition sizes;
  * scaled thresholds reproduce the decision point at soak size.
  *
  * The soak runs the REAL pipeline twice against a ParquetFhirStore —
  * run 1 cold-inserts all 1.01M observations, run 2 re-reconciles
  * (snapshotForSubjects + merge against the stored 1.01M) and must
  * classify every row as an update — then executes the assembly
  * fan-out join standalone and asserts the final adaptive plan marks
  * the join `skew=true` (OptimizeSkewedJoin split the hot partition).
  * Prints one JSON evidence line; recorded in BASELINE.md.
  */
object CnicsSkewSoak {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val nPatients = args.headOption.map(_.toInt).getOrElse(10000)
    val hotLabs = if (args.length > 1) args(1).toLong else 1000000L
    val coldLabsEach = 10L

    // cohort: every patient at site uw with one demographic row
    val patient = spark.range(1, nPatients + 1L)
      .select(col("id").as("PatientId"),
        concat(lit("uw-"), col("id")).cast("binary").as("SitePatientId"),
        lit("uw").as("Site"))
    val demographic = spark.range(1, nPatients + 1L)
      .select(col("id").as("DemographicId"), col("id").as("PatientId"),
        lit("Female").as("Sex"), lit("Asian").as("Race"), lit("No").as("Hispanic"))
    // labs: PatientId 1 is the hot key (hotLabs rows); everyone else cold
    val lab = spark.range(0, hotLabs + coldLabsEach * (nPatients - 1))
      .select(
        when(col("id") < hotLabs, lit(1L))
          .otherwise(expr(s"(id - ${hotLabs}L) div ${coldLabsEach}L") + 2L)
          .as("PatientId"),
        concat(lit("lab-"), col("id")).as("LabId"),
        lit("CD4").as("TestName"),
        (pmod(col("id"), lit(1500L)).cast("string")).as("Result"),
        lit("cells/uL").as("Units"),
        lit(java.sql.Date.valueOf("2024-01-02")).as("TestDate"),
        lit("200").as("ReferenceLow"), lit("1500").as("ReferenceHigh"),
        lit(null).cast("string").as("Historical"))
      .repartition(32).localCheckpoint(true)

    import spark.implicits._
    def empty(cols: (String, String)*): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(cols.map { case (n, t) =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t))
        }))
    val in = graft.pipeline.CnicsInputs(
      patient = patient, demographic = demographic,
      diagnosis = empty("PatientId" -> "bigint", "DiagnosisId" -> "binary",
        "DiagnosisDate" -> "date", "DiagnosisSource" -> "string",
        "DiagnosisName" -> "string", "Historical" -> "string"),
      medication = empty("PatientId" -> "bigint", "MedicationId" -> "binary",
        "MedicationName" -> "string", "StartDate" -> "date",
        "EndDate" -> "date", "EndType" -> "string", "Historical" -> "string"),
      lab = lab,
      pro = empty("PatientId" -> "bigint", "SessionId" -> "string"),
      proDb = empty("SessionID" -> "string", "PatientID" -> "bigint", "MRN" -> "string"),
      crosswalk = empty("hmrn" -> "string", "umrn" -> "string",
        "SitePatientId" -> "string", "__order" -> "bigint"),
      conditionsFilter = "DiagnosisName in ('none')",
      medicationsFilter = "MedicationName in ('none')",
      observationsFilter = "TestName in ('CD4')",
      standardDiagnoses = Seq.empty)

    val storeDir = java.nio.file.Files.createTempDirectory("graft_skewstore").toString
    val store = new graft.sinks.ParquetFhirStore(storeDir)
    val pipe = new graft.pipeline.CnicsPipeline(spark, in, store, "uw")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    def observations() = pipe.sync(Set("observations"))
      .collect { case (("Observation", a), n) => a -> n }
    val (r1, w1) = timed(observations())
    val (r2, w2) = timed(observations())
    val total = hotLabs + coldLabsEach * (nPatients - 1)
    assert(r1.getOrElse("insert", 0L) == total && r1.getOrElse("update", 0L) == 0L,
      s"run1 expected $total inserts, got $r1")
    assert(r2.getOrElse("update", 0L) == total && r2.getOrElse("insert", 0L) == 0L,
      s"run2 expected $total updates, got $r2")

    // Plan evidence: the assembly fan-out join (lab ⋈ cohort on the
    // skewed PatientId), executed standalone so the FINAL adaptive plan
    // is inspectable. Each variant executes its OWN QueryExecution's
    // physical plan directly (a .write / .foreach / .count plans a
    // fresh QueryExecution and would leave this AdaptiveSparkPlan
    // unfinalized); the raw InternalRow RDD count keeps row data off
    // the driver while forcing AQE to materialize every stage.
    def runPlan(df: DataFrame): (String, Long, Double) = {
      val exec = df.queryExecution.executedPlan
      val (n, w) = timed(exec.execute().count())
      (exec.toString, n, w)
    }
    val probe = lab
      .filter(coalesce(col("Historical") =!= "Yes", lit(true)) &&
        length(col("TestName")) > 0 && expr(in.observationsFilter))

    // (a) NEGATIVE pin — the fused shape this soak CAUGHT: a cohort
    // side arriving pre-partitioned by PatientId from its own upstream
    // join fuses into the join stage, and OptimizeSkewedJoin (both
    // children must be ENSURE_REQUIREMENTS shuffle stages) can never
    // split the hot partition. This is why CnicsPipeline.cohortIds
    // materializes the frame.
    val fusedCohort = pipe.cohort().select("PatientId", "site_pat_id")
    val (fusedPlan, nFused, wFused) =
      runPlan(probe.join(fusedCohort, Seq("PatientId")))
    val fusedSkew = fusedPlan.contains("skew=true")
    assert(nFused == total, s"fused fan-out expected $total rows, got $nFused")
    assert(!fusedSkew,
      "fused-lineage join unexpectedly skew-split — the cohortIds checkpoint " +
        "may no longer be needed")

    // (b) POSITIVE pin — the PIPELINE's shape (CnicsPipeline.cohortIds:
    // localCheckpointed cohort frame => a real shuffle boundary under
    // the join): OptimizeSkewedJoin must mark the join skew=true and
    // split the hot patient's partition into parallel subtasks.
    val ckptCohort = pipe.cohort().select("PatientId", "site_pat_id")
      .localCheckpoint(true)
    val (plan, nJoined, wJoin) = runPlan(probe.join(ckptCohort, Seq("PatientId")))
    val skewJoin = plan.contains("skew=true")
    val skewedReads = "skewed".r.findAllIn(plan).length
    assert(nJoined == total, s"fan-out join expected $total rows, got $nJoined")
    assert(skewJoin, "expected OptimizeSkewedJoin to mark the fan-out join skew=true\n" + plan)

    // Phase 2 — PER-PATIENT AGGREGATION skew (the other half of the
    // SURVEY §4.2 claim): one patient carrying 200k PRO sessions
    // through sessionsPerPatient/proFallback (collect_list into a
    // single sorted 200k-element array) and the full Patient assembly
    // + reconcile. AQE cannot split a single-group aggregate — the hot
    // group IS one row — so the contract here is bounded-memory
    // completion with the right counts (one giant identifier array in
    // one resource JSON), not partition splitting.
    val hotSessions = 200000L
    val proIn = in.copy(
      pro = spark.range(0, hotSessions + (nPatients - 1))
        .select(
          when(col("id") < hotSessions, lit(1L))
            .otherwise(col("id") - hotSessions + 2L).as("PatientId"),
          concat(lit("s"), col("id")).as("SessionId"))
        .repartition(32).localCheckpoint(true))
    val proPipe = new graft.pipeline.CnicsPipeline(spark, proIn,
      new graft.sinks.ParquetFhirStore(
        java.nio.file.Files.createTempDirectory("graft_skewpro").toString), "uw")
    val (rp, wp) = timed(proPipe.sync(Set("patients"))
      .collect { case (("Patient", a), n) => a -> n })
    assert(rp.getOrElse("insert", 0L) == nPatients.toLong,
      s"patient run expected $nPatients inserts, got $rp")
    val hotLen = proPipe.sessionsPerPatient
      .filter(col("PatientId") === 1L)
      .select(size(col("session_ids"))).head().getInt(0)
    assert(hotLen == hotSessions,
      s"hot patient expected $hotSessions ordered sessions, got $hotLen")

    println(s"""{"soak":"cnics_skew","n_patients":$nPatients,"n_labs":$total,"hot_labs":$hotLabs,"run1_insert":${r1.getOrElse("insert", 0L)},"run2_update":${r2.getOrElse("update", 0L)},"fused_skew_split":$fusedSkew,"ckpt_skew_split":$skewJoin,"skew_marks":$skewedReads,"hot_sessions":$hotSessions,"patients_insert":${rp.getOrElse("insert", 0L)},"hot_session_list_len":$hotLen,"wall_run1_sec":${f"$w1%.1f"},"wall_run2_sec":${f"$w2%.1f"},"wall_fused_sec":${f"$wFused%.1f"},"wall_ckpt_sec":${f"$wJoin%.1f"},"wall_patients_sec":${f"$wp%.1f"}}""")
    spark.stop()
  }
}
