package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.CnicsInputs

/** Seeded synthetic CNICS extract pair (A, B) for one site, built from
  * `spark.range` only.
  *
  * The site has `patients + churn` patient slots. A seeded affine
  * permutation of the slots splits them into four classes with exact
  * sizes:
  *  - `churn` slots only in A and `churn` slots only in B (about 1% of
  *    patients leave and 1% arrive on every sync);
  *  - `demoChanges` slots in both whose first demographic row differs
  *    between A and B (about 2%);
  *  - every other slot is identical in A and B.
  *
  * Per-patient fan-out is long-tailed: a fixed table of counts dealt to
  * the slots by a seeded permutation per child kind ([[Extract.fanout]]).
  * The seed moves counts between patients but not the site's total, so
  * extracts of different seeds are the same size but for the churned
  * patients. The audit of any sync between
  * the two extracts has a closed form ([[Extract.fullAudit]],
  * [[Extract.incrementalAudit]]) that is computed without running the
  * pipeline. Every seventh child row of a patient is filtered out by the
  * pipeline (alternately a `Historical = 'Yes'` row and a name outside
  * the site's code list), so a patient with `n` children of a type
  * yields `n - n / 7` resources of that type. */
final case class Extract(patients: Int, seed: Long) {
  import Extract._

  val churn: Int = math.max(1, patients / 100)
  val demoChanges: Int = math.max(1, patients / 50)
  val universe: Int = patients + churn
  require(patients >= 2 * churn + demoChanges, s"too few patients: $patients")

  val site: String = "uw"
  private val seedR: Long = Math.floorMod(seed, 1000003L)

  /** A seeded affine permutation `s -> (a * s + b) mod universe`. */
  private def permutation(salt: Int): (Long, Long) = {
    var a = 1L + Math.floorMod(seedR * 7919L + salt * 104729L + 12345L,
      math.max(1L, universe - 1L))
    while (BigInt(a).gcd(BigInt(universe)) != 1) a += 1
    (a, Math.floorMod(seedR * 104729L + salt * 7L, universe.toLong))
  }
  private val (permA, permB) = permutation(0)

  /** Salted hash of a non-negative number, identical on the driver and
    * in Spark (see [[mixCol]]). */
  def mix(x: Long, salt: Int): Long = {
    val c = salt * 40503L + seedR * 9973L
    Math.floorMod(Math.floorMod(x * 2654435761L + c, P) * 48271L, P)
  }

  def mixCol(x: Column, salt: Int): Column = {
    val c = salt * 40503L + seedR * 9973L
    pmod(pmod(x * lit(2654435761L) + lit(c), lit(P)) * lit(48271L), lit(P))
  }

  /** Class of a slot: 0 only in A, 1 only in B, 2 demographics change,
    * 3 stable. */
  def slotClass(s: Long): Int = {
    val p = Math.floorMod(permA * s + permB, universe.toLong)
    if (p < churn) OnlyA else if (p < 2L * churn) OnlyB
    else if (p < 2L * churn + demoChanges) Changed else Stable
  }

  private def slotClassCol(s: Column): Column = {
    val p = pmod(s * lit(permA) + lit(permB), lit(universe.toLong))
    when(p < churn, OnlyA).when(p < 2L * churn, OnlyB)
      .when(p < 2L * churn + demoChanges, Changed).otherwise(Stable)
  }

  def inExtract(s: Long, v: Variant): Boolean = slotClass(s) != (if (v == A) OnlyB else OnlyA)

  def pid(s: Long): Long = s + 1L
  def sitePatientId(s: Long): String = s"$site-${pid(s)}"
  val siteLower: String = site.toLowerCase

  private val fanoutPerm: Map[Kind, (Long, Long)] =
    Seq(Dx, Med, Lab).map(k => k -> permutation(k.salt)).toMap

  /** Number of source child rows of slot `s` per child kind (before the
    * pipeline's filters): entry `q` of a fixed long-tailed table, mostly
    * small with a heavy 5%, where `q` is the slot's seeded position. */
  def fanout(s: Long, kind: Kind): Int = {
    val (a, b) = fanoutPerm(kind)
    val q = Math.floorMod(a * s + b, universe.toLong)
    val r = (q % 100).toInt
    val h = (q / 100).toInt
    kind match {
      case Lab => if (r < 95) 8 + (r * 7 + h) % 17 else 60 + (r * 13 + h) % 40
      case _ => if (r < 60) r % 5 else if (r < 95) 4 + r % 5 else 10 + (r * 7 + h) % 30
    }
  }

  private def fanoutCol(s: Column, kind: Kind): Column = {
    val (a, b) = fanoutPerm(kind)
    val q = pmod(s * lit(a) + lit(b), lit(universe.toLong))
    val r = pmod(q, lit(100L)).cast("int")
    val h = idiv(q, 100L).cast("int")
    kind match {
      case Lab =>
        when(r < 95, lit(8) + pmod(r * 7 + h, lit(17)))
          .otherwise(lit(60) + pmod(r * 13 + h, lit(40)))
      case _ =>
        when(r < 60, pmod(r, lit(5)))
          .when(r < 95, lit(4) + pmod(r, lit(5)))
          .otherwise(lit(10) + pmod(r * 7 + h, lit(30)))
    }
  }

  /** Resources of one kind the pipeline builds for slot `s`. */
  def resources(s: Long, kind: Kind): Int = { val n = fanout(s, kind); n - n / 7 }

  private def slots(v: Variant): Iterator[Long] =
    Iterator.range(0, universe).map(_.toLong).filter(inExtract(_, v))

  /** Resource ids the store must hold for this site after syncing `v`,
    * per resource type. */
  def expectedIds(v: Variant): Map[String, Seq[String]] = {
    val ss = slots(v).toSeq
    def kids(kind: Kind, prefix: String): Seq[String] = ss.flatMap { s =>
      val n = fanout(s, kind)
      (0 until n).filter(j => j % 7 != 6)
        .map(j => s"cnics-${kind.idTag}-$siteLower-$prefix${pid(s)}-$j")
    }
    Map(
      "Patient" -> ss.map(s => s"cnics-$siteLower-${sitePatientId(s)}"),
      "Condition" -> kids(Dx, "dx-"),
      "MedicationRequest" -> kids(Med, "med-"),
      "Observation" -> kids(Lab, "lab-"))
  }

  /** Resources per type in extract `v` (what a cold sync inserts). */
  def resourceCounts(v: Variant): Map[String, Long] = {
    val ss = slots(v).toSeq
    Map("Patient" -> ss.size.toLong) ++
      ChildTypes.map { case (rt, k) => rt -> ss.map(resources(_, k).toLong).sum }
  }

  private def childSums(cls: Int): Map[String, Long] = {
    val ss = (0 until universe).map(_.toLong).filter(slotClass(_) == cls)
    ChildTypes.map { case (rt, k) => rt -> ss.map(resources(_, k).toLong).sum }.toMap
  }

  private def core: Map[String, Long] = {
    val ss = (0 until universe).map(_.toLong).filter(s => slotClass(s) >= Changed)
    ChildTypes.map { case (rt, k) => rt -> ss.map(resources(_, k).toLong).sum }.toMap
  }

  private def audit(rows: (String, Long, Long, Long)*): Map[(String, String), Long] =
    rows.filter(r => SyncedTypes.contains(r._1)).flatMap { case (rt, i, u, d) =>
      Seq((rt, "insert") -> i, (rt, "update") -> u, (rt, "delete") -> d)
    }.toMap

  /** Full (PUT-always) sync of `to` over a store holding `from`: every
    * kept key updates; departed patients delete and their children go
    * with the Patient DELETE's cascade, so no child delete is counted. */
  def fullAudit(to: Variant): Map[(String, String), Long] = {
    val arriving = childSums(if (to == B) OnlyB else OnlyA)
    val kept = core
    audit(("Patient", churn.toLong, (patients - churn).toLong, churn.toLong) +:
      ChildTypes.map { case (rt, _) => (rt, arriving(rt), kept(rt), 0L) }: _*)
  }

  /** Manifest-diffed sync of `to` over a store and manifest holding
    * `from`: only changed demographics update; departed children are
    * already gone through the cascade when their manifest keys are
    * looked up. */
  def incrementalAudit(to: Variant): Map[(String, String), Long] = {
    val arriving = childSums(if (to == B) OnlyB else OnlyA)
    audit(("Patient", churn.toLong, demoChanges.toLong, churn.toLong) +:
      ChildTypes.map { case (rt, _) => (rt, arriving(rt), 0L, 0L) }: _*)
  }

  /** Sync of `v` into an empty store: everything inserts. */
  def coldAudit(v: Variant): Map[(String, String), Long] = {
    val n = resourceCounts(v)
    audit(AllTypes.map(rt => (rt, n(rt), 0L, 0L)): _*)
  }

  /** Re-sync of the extract the store already holds. */
  def rerunAudit(v: Variant, incremental: Boolean): Map[(String, String), Long] = {
    val n = resourceCounts(v)
    audit(AllTypes.map(rt => (rt, 0L, if (incremental) 0L else n(rt), 0L)): _*)
  }

  /** Updates whose resource content really changes in a full sync: the
    * demographic changes. */
  def changedUpdates: Long = demoChanges.toLong

  // ---- DataFrames -------------------------------------------------------

  private def slotFrame(spark: SparkSession, v: Variant): DataFrame = {
    val excluded = if (v == A) OnlyB else OnlyA
    spark.range(0, universe, 1, 1).select(col("id").as("s"))
      .withColumn("cls", slotClassCol(col("s")))
      .filter(col("cls") =!= excluded)
  }

  private def pick(vocab: Seq[String], idx: Column): Column =
    element_at(array(vocab.map(lit): _*), (pmod(idx, lit(vocab.size.toLong)) + 1).cast("int"))

  private def pidCol(s: Column): Column = s + lit(1L)

  /** Integer division of a non-negative column by a constant. */
  private def idiv(a: Column, b: Long): Column = ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  private def children(spark: SparkSession, v: Variant, kind: Kind): DataFrame =
    slotFrame(spark, v)
      .filter(fanoutCol(col("s"), kind) > 0) // sequence(0, -1) would count down
      .select(col("s"), explode(sequence(lit(0), fanoutCol(col("s"), kind) - 1)).as("j"))
      .withColumn("m", mixCol(col("s") * 128L + col("j"), kind.salt + 10))
      .withColumn("PatientId", pidCol(col("s")))
      .withColumn("Historical",
        when(pmod(col("j"), lit(14)) === 6, "Yes").when(pmod(col("j"), lit(5)) === 0, "No"))

  private def childName(vocab: Seq[String], unlisted: String): Column =
    when(pmod(col("j"), lit(14)) === 13, unlisted).otherwise(pick(vocab, col("m")))

  private def dateCol(offset: Column): Column =
    date_add(lit(java.sql.Date.valueOf("2012-01-01")), pmod(offset, lit(4000L)).cast("int"))

  /** Extract `v` as the eight CNICS source tables. */
  def frames(spark: SparkSession, v: Variant): Map[String, DataFrame] = {
    val slotsV = slotFrame(spark, v)
    val patient = slotsV.select(
      pidCol(col("s")).as("PatientId"),
      concat(lit(s"$site-"), pidCol(col("s")).cast("string")).cast("binary").as("SitePatientId"),
      lit(site).as("Site"))
    val sexIdx = pmod(mixCol(col("s"), 6), lit(2L)) +
      (if (v == B) when(col("cls") === Changed, 1L).otherwise(0L) else lit(0L))
    val raceShift = if (v == B) when(col("cls") === Changed, 1L).otherwise(0L) else lit(0L)
    val first = slotsV.select(
      (col("s") * 2L + 1L).as("DemographicId"), pidCol(col("s")).as("PatientId"),
      pick(Sexes, sexIdx).as("Sex"),
      pick(Races, mixCol(col("s"), 7) + raceShift).as("Race"),
      pick(Hispanic, mixCol(col("s"), 8)).as("Hispanic"))
    val second = slotsV.filter(pmod(mixCol(col("s"), 9), lit(10L)) === 0).select(
      (col("s") * 2L + 2L).as("DemographicId"), pidCol(col("s")).as("PatientId"),
      pick(Sexes, mixCol(col("s"), 6) + 1L).as("Sex"),
      pick(Races, mixCol(col("s"), 7) + 3L).as("Race"),
      lit(null).cast("string").as("Hispanic"))
    val diagnosis = children(spark, v, Dx).select(
      col("PatientId"),
      concat(lit("dx-"), col("PatientId").cast("string"), lit("-"), col("j").cast("string"))
        .cast("binary").as("DiagnosisId"),
      when(pmod(col("m"), lit(9L)) =!= 0, dateCol(col("m"))).as("DiagnosisDate"),
      pick(DxSources, idiv(col("m"), 7L)).as("DiagnosisSource"),
      childName(DxNames, "Unlisted diagnosis").as("DiagnosisName"),
      col("Historical"))
    val medication = children(spark, v, Med).select(
      col("PatientId"),
      concat(lit("med-"), col("PatientId").cast("string"), lit("-"), col("j").cast("string"))
        .cast("binary").as("MedicationId"),
      childName(MedNames, "Unlisted medication").as("MedicationName"),
      when(pmod(col("m"), lit(5L)) =!= 0, dateCol(col("m"))).as("StartDate"),
      when(pmod(col("m"), lit(3L)) === 0, dateCol(col("m") + 300L)).as("EndDate"),
      when(pmod(col("m"), lit(3L)) === 0, pick(EndTypes, idiv(col("m"), 3L))).as("EndType"),
      col("Historical"))
    val resultKind = pmod(idiv(col("m"), 11L), lit(10L))
    val num = pmod(idiv(col("m"), 13L), lit(900L)) + 1L
    val lab = children(spark, v, Lab).select(
      col("PatientId"),
      concat(lit("lab-"), col("PatientId").cast("string"), lit("-"), col("j").cast("string"))
        .as("LabId"),
      childName(LabNames, "Unlisted test").as("TestName"),
      // every DynamicValue class: integer (plain, signed with a space,
      // zero), range, decimal, exponent, both comparators, free text
      element_at(array(
        num.cast("string"), concat(lit("+ "), num.cast("string")), lit("0"),
        concat(num.cast("string"), lit("-"), (num + 40L).cast("string")),
        concat(num.cast("string"), lit("."), pmod(col("m"), lit(10L)).cast("string")),
        concat(lit("1."), pmod(col("m"), lit(10L)).cast("string"), lit("e3")),
        concat(lit("<"), num.cast("string"), lit(".0")),
        concat(lit(">="), num.cast("string")),
        lit("positive"), lit("see note")), (resultKind + 1).cast("int")).as("Result"),
      when(pmod(col("m"), lit(3L)) =!= 0, pick(Units, idiv(col("m"), 17L))).as("Units"),
      when(pmod(col("m"), lit(8L)) =!= 0, dateCol(idiv(col("m"), 3L))).as("TestDate"),
      pick(RefLow, idiv(col("m"), 19L)).as("ReferenceLow"),
      pick(RefHigh, idiv(col("m"), 23L)).as("ReferenceHigh"),
      col("Historical"))
    val nSessions = pmod(mixCol(col("s"), 4), lit(4L)).cast("int")
    val sessions = slotsV.filter(nSessions > 0)
      .select(col("s"), explode(sequence(lit(0), nSessions - 1)).as("k"))
      .withColumn("SessionId", concat(lit("S"), pidCol(col("s")).cast("string"),
        lit("-"), col("k").cast("string")))
    val pro = sessions.select(pidCol(col("s")).as("PatientId"), col("SessionId"))
      .unionByName(sessions
        .filter(col("k") === 0 && pmod(mixCol(col("s"), 11), lit(5L)) === 0)
        .select(pidCol(col("s")).as("PatientId"), col("SessionId")))
    val proDb = sessions.select(col("SessionId").as("SessionID"),
        (pidCol(col("s")) + 900000L).as("PatientID"),
        concat(lit("M"), pidCol(col("s")).cast("string")).as("MRN"))
      .unionByName(sessions.filter(col("k") === 1).select(
        col("SessionId").as("SessionID"),
        (pidCol(col("s")) + 950000L).as("PatientID"),
        lit(null).cast("string").as("MRN")))
    // the crosswalk covers the whole site (both extracts); a third of
    // its entries carry a later duplicate row with no umrn (last wins
    // per field)
    val cw = spark.range(0, universe, 1, 1).select(col("id").as("s"))
      .withColumn("c", pmod(mixCol(col("s"), 5), lit(3L)))
      .filter(col("c") =!= 0)
    val cwId = concat(lit(s"$site-"), pidCol(col("s")).cast("string"))
    val crosswalk = cw.select(
        concat(lit("H"), pidCol(col("s")).cast("string")).as("hmrn"),
        when(pmod(col("s"), lit(2L)) === 0,
          concat(lit("U"), pidCol(col("s")).cast("string"))).as("umrn"),
        cwId.as("SitePatientId"), (col("s") * 2L).as("__order"))
      .unionByName(cw.filter(col("c") === 2).select(
        concat(lit("H"), pidCol(col("s")).cast("string"), lit("b")).as("hmrn"),
        lit(null).cast("string").as("umrn"),
        cwId.as("SitePatientId"), (col("s") * 2L + 1L).as("__order")))
    Map("patient" -> patient, "demographic" -> first.unionByName(second),
      "diagnosis" -> diagnosis, "medication" -> medication, "lab" -> lab,
      "pro" -> pro, "proDb" -> proDb, "crosswalk" -> crosswalk)
  }

  /** Writes both extracts as parquet under `dir`, one directory per
    * table partitioned by variant (`<table>/variant=A`). The tables are
    * written by concurrent jobs. */
  def write(spark: SparkSession, dir: String): Unit = {
    val parts = Seq(A, B).map(v => v -> frames(spark, v))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try TableNames.map { name =>
      pool.submit(new Runnable {
        def run(): Unit =
          parts.map { case (v, fs) => fs(name).withColumn("variant", lit(v.toString)) }
            .reduce(_.unionByName(_))
            .write.mode("overwrite").partitionBy("variant").parquet(s"$dir/$name")
      })
    }.foreach(_.get())
    finally { pool.shutdown(); () }
  }

  /** Pipeline inputs scanning extract `v` of the parquet extract under
    * `dir`. */
  def inputs(spark: SparkSession, dir: String, v: Variant): CnicsInputs = {
    def t(name: String) = spark.read.parquet(s"$dir/$name/variant=$v")
    CnicsInputs(
      patient = t("patient"), demographic = t("demographic"),
      diagnosis = t("diagnosis"), medication = t("medication"), lab = t("lab"),
      pro = t("pro"), proDb = t("proDb"), crosswalk = t("crosswalk"),
      conditionsFilter = ConditionsFilter,
      medicationsFilter = MedicationsFilter,
      observationsFilter = ObservationsFilter,
      standardDiagnoses = StandardDiagnoses)
  }
}

object Extract {
  sealed trait Variant
  case object A extends Variant
  case object B extends Variant
  def other(v: Variant): Variant = if (v == A) B else A

  sealed abstract class Kind(val salt: Int, val idTag: String)
  case object Dx extends Kind(1, "dx")
  case object Med extends Kind(2, "med")
  case object Lab extends Kind(3, "lab")

  val OnlyA = 0
  val OnlyB = 1
  val Changed = 2
  val Stable = 3
  private val P = 2147483647L

  val TableNames: Seq[String] =
    Seq("patient", "demographic", "diagnosis", "medication", "lab", "pro", "proDb", "crosswalk")

  val AllTypes: Seq[String] = Seq("Patient", "Condition", "MedicationRequest", "Observation")
  /** The types a benchmark sync reconciles, in sync order, and the job
    * resource list that selects them: the parent type and the child type
    * with the largest fan-out and every `DynamicValue` class.
    * Condition and MedicationRequest take the same child path as
    * Observation; their builders are measured by the traced run's
    * `model.assemble` spans. */
  val SyncedTypes: Seq[String] = Seq("Patient", "Observation")
  val SyncedResourceList: String = "patients observations"
  val ChildTypes: Seq[(String, Kind)] =
    Seq("Condition" -> Dx, "MedicationRequest" -> Med, "Observation" -> Lab)

  // Synthetic code lists: the reference's standard lists are not part of
  // the repository. Each list mixes the coding branches the transcode
  // dispatches on (ICD-10, ICD-9, CNICS standard names, free text).
  val DxNames: Seq[String] = Seq("J44.1", "E11.9", "B20", "K70.30", "491.21", "042",
    "V08", "Hepatitis C", "Pneumonia", "HIV disease", "Chronic pain syndrome",
    "Synthetic finding")
  val StandardDiagnoses: Seq[String] = Seq("Hepatitis C", "Pneumonia", "HIV disease")
  val DxSources: Seq[String] = Seq("Data collected at CNICS site",
    "Patient reported without supporting outside documentation",
    "Reported in outside documentation", "Source unknown", "Verified clinical diagnosis")
  val MedNames: Seq[String] = Seq("Aspirin  81mg", "Tenofovir", "Emtricitabine",
    "Dolutegravir  50mg", "Metformin", "Atorvastatin", "Lisinopril", "Sertraline",
    "Buprenorphine", "Methadone")
  val EndTypes: Seq[String] = Seq("Completed", "Side effects", "Unknown")
  val LabNames: Seq[String] = Seq("CD4", "HIV viral load", "Hemoglobin A1C", "Rapid HIV",
    "Creatinine", "ALT", "Hepatitis C antibody", "Glucose")
  val Units: Seq[String] = Seq("cells/uL", "copies/mL", "%", "mg/dL")
  val RefLow: Seq[String] = Seq("4", "0.5", "junk")
  val RefHigh: Seq[String] = Seq("6", "1500", "")
  val Sexes: Seq[String] = Seq("Male", "Female")
  val Races: Seq[String] = Seq("White", "Black", "Asian", "American Indian",
    "Pacific Islander", "Multiracial")
  val Hispanic: Seq[String] = Seq("Yes", "No", "Unknown")

  private def inList(column: String, values: Seq[String]): String =
    values.map(v => "'" + v.replace("'", "''") + "'").mkString(s"$column in (", ", ", ")")

  /** The site's code-list filters (the job INI's SQL fragments). */
  val ConditionsFilter: String = inList("DiagnosisName", DxNames)
  val MedicationsFilter: String = inList("MedicationName", MedNames)
  val ObservationsFilter: String = inList("TestName", LabNames)
}
