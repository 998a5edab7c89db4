package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, in the shipped
  * session shape ([[GraftSession]]). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("graft-test", 4)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
