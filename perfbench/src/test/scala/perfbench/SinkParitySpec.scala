package perfbench

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.JobRunner
import graft.sinks.{FhirFixtureServer, HttpFhirStore, ParquetFhirStore}
import Extract.{A, B}

/** The Parquet and HTTP sinks end with the same store contents, bodies
  * included, after syncing the same extract pair. */
class SinkParitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("parquet and HTTP stores are hash-equal after the same A -> B syncs") {
    val dir = TestSession.tempDir("parity")
    val e = Extract(30, 4L)
    e.write(spark, s"$dir/extract")
    val job = s"[JobList]\nJob_1 = \"uw:cnics:${Extract.SyncedResourceList}\"\n"
    val parquet = new ParquetFhirStore(s"$dir/store")
    val server = new FhirFixtureServer()
    val http = new HttpFhirStore(s"http://127.0.0.1:${server.start()}")
    try {
      Seq(A, B).foreach { v =>
        Seq(parquet, http).foreach { store =>
          JobRunner.run(spark, job, (_, _) => e.inputs(spark, s"$dir/extract", v),
            (_, _) => store)
        }
      }
      val mapper = new ObjectMapper()
      def canon(json: String) = mapper.readTree(json).toString
      Extract.SyncedTypes.foreach { rt =>
        val lake = spark.read.parquet(s"$dir/store/$rt").collect()
          .map(r => r.getAs[String]("id") -> canon(r.getAs[String]("json"))).toMap
        val wire = server.data.asScala.collect {
          case (path, json) if path.startsWith(s"/$rt/") =>
            path.stripPrefix(s"/$rt/") -> canon(json)
        }.toMap
        assert(lake.size === e.resourceCounts(B)(rt))
        assert(lake === wire, s"$rt differs")
      }
    } finally server.stop()
  }
}
