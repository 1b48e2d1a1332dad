package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CnicsCsv

/** A5/A6/A9 source coverage against the reference's real data files
  * (read-only inputs, exactly as the reference consumes them). */
class CnicsSourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("A5: standard diagnosis/medication code lists load quote-stripped") {
    val absent = CnicsSourcesSpec.absentCodeLists
    assume(absent.isEmpty, s"reference code list not readable: ${absent.mkString(", ")}")
    val dx = CnicsCsv.loadCodeList(spark, CnicsCsv.StandardDiagnosisCodes)
    assert(dx.length === 641)
    assert(dx.forall(s => !s.startsWith("\"") && !s.endsWith("\"")))
    val med = CnicsCsv.loadCodeList(spark, CnicsCsv.StandardMedicationCodes)
    assert(med.length === 773)
  }

  test("A5: loadCodeList strips quotes, keeps embedded commas and file order") {
    // Same shape as the reference lists: one quoted name per line, no header.
    val f = java.nio.file.Files.createTempDirectory("graft_codes").resolve("codes.csv")
    java.nio.file.Files.writeString(f,
      "\"Hypertension\"\n\"Diabetes, type 2\"\n\"HIV disease\"\n\"Asthma\"\n")
    val codes = CnicsCsv.loadCodeList(spark, f.toString)
    assert(codes.length === 4)
    assert(codes === Seq("Hypertension", "Diabetes, type 2", "HIV disease", "Asthma"))
    assert(codes.forall(s => !s.startsWith("\"") && !s.endsWith("\"")))
  }

  test("A6: crosswalk CSV honors header, NULL literals, row order") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
    val f = tmp.resolve("xwalk.csv")
    java.nio.file.Files.writeString(f,
      "hmrn,umrn,SitePatientId\nH1,NULL,p1\nNULL,U2,p2\nH3,U3,p1\nH9,U9,NULL\n")
    val df = CnicsCsv.loadCrosswalk(spark, f.toString)
    val rows = df.orderBy("__order").collect()
    // row with SitePatientId='NULL' is skipped (py:298)
    assert(rows.length === 3)
    // umrn 'NULL' → absent (py:302-303); hmrn kept VERBATIM (py:301)
    assert(rows(0).getString(0) === "H1" && rows(0).isNullAt(1))
    assert(rows(1).getString(0) === "NULL" && rows(1).getString(1) === "U2")
    // last-wins for p1 resolved downstream via __order (pipeline test)
    assert(rows(2).getAs[Long]("__order") > rows(0).getAs[Long]("__order"))
  }

  test("A9/B4: patient-id list file round-trips with quote escaping") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ids").toString + "/ids"
    val df = Seq(("uw", "p-1"), ("uw", "o'brien")).toDF("site", "id")
    CnicsCsv.writePatientIdList(df, "site", "id", tmp)
    val back = CnicsCsv.readPatientIdList(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back === Set(("uw", "p-1"), ("uw", "o'brien")))
  }
}

object CnicsSourcesSpec {
  /** The reference code lists that cannot be read here; tests that read
    * them run only when this is empty. */
  def absentCodeLists: Seq[String] =
    Seq(CnicsCsv.StandardDiagnosisCodes, CnicsCsv.StandardMedicationCodes)
      .filterNot(p => java.nio.file.Files.isReadable(java.nio.file.Paths.get(p)))
}
