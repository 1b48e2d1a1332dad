package perfbench

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import Extract.{A, B}

/** The generator's closed forms, checked against the real pipeline at toy
  * size: every set-up, warm-up and op below throws if an audit or the
  * store's id sets differ from what [[Extract]] computes. */
class ExtractSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def exercise(spec: WorkloadSpec): Unit = {
    val wl = new CnicsWorkload(spec, spark, seed = 11L, TestSession.tempDir(spec.name))
    val site = wl.setup()
    try {
      wl.warmUp(site)
      val toB = wl.op(site, site.store)
      val toA = wl.op(site, site.store)
      assert(site.current === A)
      assert(toB.audit === (if (spec.incremental) wl.extract.incrementalAudit(B)
        else wl.extract.fullAudit(B)))
      assert(toA.audit.keySet === toB.audit.keySet)
    } finally site.close()
  }

  test("closed-form audits hold for full syncs into the parquet store") {
    exercise(WorkloadSpec("toy_lakehouse", 30, http = false, incremental = false, 0))
  }

  test("closed-form audits hold for incremental syncs over HTTP") {
    exercise(WorkloadSpec("toy_incremental", 30, http = true, incremental = true, 3))
  }

  test("class sizes are exact and each sync has the same mix") {
    val e = Extract(250, 42L)
    val classes = (0 until e.universe).groupBy(s => e.slotClass(s.toLong)).view
      .mapValues(_.size).toMap
    assert(classes(Extract.OnlyA) === e.churn)
    assert(classes(Extract.OnlyB) === e.churn)
    assert(classes(Extract.Changed) === e.demoChanges)
    Seq(A, B).foreach { v =>
      assert((0 until e.universe).count(s => e.inExtract(s.toLong, v)) === e.patients)
      val a = e.fullAudit(v)
      assert(a(("Patient", "insert")) === e.churn.toLong)
      assert(a(("Patient", "delete")) === e.churn.toLong)
    }
  }

  test("the same seed gives the same extract, another seed a different one") {
    def fingerprint(seed: Long): Seq[Long] = {
      val frames = Extract(40, seed).frames(spark, A)
      Extract.TableNames.map { t =>
        val df = frames(t)
        df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
          .head().getDecimal(0).longValue
      }
    }
    assert(fingerprint(5L) === fingerprint(5L))
    assert(fingerprint(5L) !== fingerprint(6L))
  }

  test("the driver-side fan-out matches the generated rows") {
    val e = Extract(40, 9L)
    val labs = e.frames(spark, B)("lab")
      .filter(coalesce(col("Historical") =!= "Yes", lit(true)) &&
        expr(Extract.ObservationsFilter))
      .count()
    assert(labs === e.resourceCounts(B)("Observation"))
  }
}
