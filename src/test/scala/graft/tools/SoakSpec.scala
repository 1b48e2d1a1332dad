package graft.tools

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.scalatest.funsuite.AnyFunSuite

/** Every [[Soak]] scenario at its toy size, on the sf0.01 fixture where
  * it reads one: each check a scenario makes must hold. Toy runs are
  * bound by Spark job latency, not data, so three run at once in the
  * shared session. Each evidence line and wall is printed, never
  * checked. */
class SoakSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  test("every soak scenario holds its checks at its toy size") {
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (runs, wall) = try SoakCorpus.timed(Await.result(Future.traverse(Soak.scenarios) { s =>
      Future {
        val corpus = if (s.corpus == Soak.SfDir) sf else s.corpus
        val (r, w) = SoakCorpus.timed(Soak.run(spark, s, s.toy, corpus))
        info(f"${r.json} in $w%.1f s")
        s.name -> r.failures
      }
    }, Duration.Inf)) finally pool.shutdown()
    info(f"${runs.size} scenarios in $wall%.1f s")
    val failed = runs.filter(_._2.nonEmpty)
    assert(failed.isEmpty, failed.map { case (n, f) => s"$n: ${f.mkString("; ")}" }.mkString("\n"))
  }
}
