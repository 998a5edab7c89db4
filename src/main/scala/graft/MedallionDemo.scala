package graft

import graft.lake.LakeCatalog
import graft.pipeline.PipelineRunner

/** Example entry point: runs the full medallion pipeline (raw CSV drops →
  * bronze append → silver upsert) against a work dir, then prints the
  * interactive-query surface (≡ the reference's notebook cells 5-7 /
  * README.md:199-231: SHOW NAMESPACES / SHOW TABLES / counts / projection).
  *
  * Usage: runMain graft.MedallionDemo <workDir> [rawCsvSourceDir]
  * Drop tab-separated CDC CSVs into <workDir>/raw between runs; each run
  * picks up only new files (mtime checkpoint) and new bronze snapshots
  * (snapshot checkpoint).
  */
object MedallionDemo {
  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-demo")
    val spark = GraftSession("graft-medallion-demo",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val rawDir = s"$workDir/raw"
    // optional: seed the raw dir from a source dir of CSVs
    args.lift(1).foreach { src =>
      val from = java.nio.file.Paths.get(src)
      val to = java.nio.file.Paths.get(rawDir)
      java.nio.file.Files.createDirectories(to)
      val st = java.nio.file.Files.list(from)
      try st.filter(_.toString.endsWith(".csv")).forEach { f =>
        val d = to.resolve(f.getFileName)
        java.nio.file.Files.copy(f, d,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        d.toFile.setLastModified(System.currentTimeMillis())
      } finally st.close()
    }

    val catalog = new LakeCatalog(spark, s"$workDir/warehouse")
    val runner = new PipelineRunner(spark, catalog, rawDir,
      s"$workDir/checkpoints")
    val (bronzeRows, silverRows) = runner.runOnce()
    println(s"[demo] bronze rows appended: $bronzeRows, " +
      s"silver rows merged: $silverRows")

    // the reference's interactive query surface
    catalog.showNamespaces().show()
    catalog.showTables("example_namespace").show()
    val ns = "example_namespace"
    if (catalog.tableExists(ns, "bronze_orders")) {
      val bronze = catalog.loadTable(ns, "bronze_orders")
      val silver = catalog.loadTable(ns, "silver_orders")
      println(s"bronze count = ${bronze.scan().count()}")
      println(s"silver count = ${silver.scan().count()}")
      silver.scan().select("invoiceid", "category").show(20, false)
      bronze.history.show(false)
    }
    spark.stop()
  }
}
