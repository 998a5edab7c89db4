package graft

/** Dev tool: print the formatted physical plan of one or more queries —
  * the loop used to check that filters reach the Parquet scan
  * (PushedFilters), projections prune (ReadSchema), dims broadcast, and
  * operators stay inside WholeStageCodegen spans.
  *
  * Usage: runMain graft.Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession("graft-explain", 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
