package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy; JVM-wide getOrCreate so all suites in a
  * forked test run share one context), built by the same [[Sessions.base]]
  * every entry point uses: same settings, extensions and codegen cache size.
  */
trait SparkSuiteBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.base("local[4]", 4)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  val sf0001 = "/root/testdata/sf0.001"
}
