package perfbench

import org.apache.spark.sql.SparkSession

/** One local Spark session for every suite, with its scratch space in a
  * temporary directory. */
object TestSession {
  lazy val dir: String = java.nio.file.Files.createTempDirectory("perfbench-test").toString
  lazy val spark: SparkSession = Session.create(dir)

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(dir), prefix).toString
}
