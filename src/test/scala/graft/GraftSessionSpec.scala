package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The suite runs in the shipped session shape: every engine conf
  * [[GraftSession]] owns is live on the shared test session. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the test session carries every engine conf GraftSession sets") {
    val core = spark.sparkContext.getConf
    Map(
      "spark.master" -> "local[4]",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" ->
        classOf[graft.lake.NoForkLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[graft.lake.NoForkLocalFs].getName,
      "spark.shuffle.sort.bypassMergeThreshold" -> "1"
    ).foreach { case (k, v) => assert(core.get(k) == v, k) }
    Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.icu.caseMappings.enabled" -> "false"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    // the FS confs resolve to the no-fork implementation for lake IO
    val fs = new Path(TestSpark.tmpDir("graft-session"))
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[graft.lake.NoForkLocalFileSystem])
  }
}
