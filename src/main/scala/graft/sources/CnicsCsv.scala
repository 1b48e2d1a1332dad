package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV auxiliary sources from the reference (SURVEY.md §2 A5/A6) and
  * the patient-id list text round-trip (A9/B4). */
object CnicsCsv {

  /** A5 — the reference's standard code lists (cnics_to_fhir.py:190-193),
    * read in place from the reference snapshot: 641 diagnosis names and
    * 773 medication names. They are not in this repository: without them
    * the `a5_codelist_stats` row fails, and the tests that read them
    * check these paths first. */
  val StandardDiagnosisCodes =
    "/root/reference/CNICS_Standard_Diagnosis_Codes_20210419.csv"
  val StandardMedicationCodes =
    "/root/reference/CNICS_Standard_Medication_Codes_20210419.csv"

  /** A5 — quoted single-column code list (e.g. the 641-name standard
    * diagnosis list, cnics_to_fhir.py:190-193). Returned as a Seq for
    * broadcast membership tests (D7): these lists are dictionary-sized
    * by construction. */
  def loadCodeList(spark: SparkSession, path: String): Seq[String] =
    spark.read
      .option("quote", "\"")
      .option("header", "false")
      .csv(path)
      .select(col("_c0"))
      .collect()
      .map(_.getString(0))
      .toSeq

  /** A6 — MRN crosswalk: header row, row order preserved for the
    * per-field last-wins merge (cnics_to_fhir.py:291-304). `__order` is
    * the file row order (single-file CSV ⇒ one partition ⇒
    * monotonically_increasing_id preserves it).
    *
    * Bug-compatible NULL handling: rows whose SitePatientId is the
    * literal 'NULL' are skipped (`row[2] != 'NULL'`, py:298) and a
    * literal-'NULL' umrn is treated as absent (py:302-303) — but hmrn
    * is taken VERBATIM (py:301 assigns `str(row[0])` unconditionally,
    * so a literal 'NULL' hmrn is emitted as the identifier value). */
  def loadCrosswalk(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .csv(path)
      .toDF("hmrn", "umrn", "SitePatientId")
      .filter(col("SitePatientId").isNotNull && col("SitePatientId") =!= "NULL")
      .withColumn("umrn", when(col("umrn") === "NULL", lit(null)).otherwise(col("umrn")))
      .withColumn("__order", monotonically_increasing_id())

  /** B4/A9 — the `site:id` patient-list file round-trip
    * (cnics_to_fhir.py:268-286), with the reference's quote escaping. */
  def writePatientIdList(df: DataFrame, siteCol: String, idCol: String, path: String): Unit =
    df.select(concat(col(siteCol), lit(":"),
        regexp_replace(col(idCol).cast("string"), "'", "''")).as("value"))
      .write.mode("overwrite").text(path)

  def readPatientIdList(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(
        substring_index(col("value"), ":", 1).as("site"),
        // bug-compatible with the reference's split(":")[1]
        // (cnics_to_fhir.py:286): an id containing ':' is truncated at
        // its first colon. get() is 0-based and null-safe (ANSI-proof).
        regexp_replace(expr("get(split(value, ':'), 1)"), "''", "'").as("site_pat_id"))
}
