package graft.lake

/** Child-process entry for [[CrossProcessRaceSpec]]: opens the table at
  * `root` in its OWN JVM/SparkSession and runs `n` single-row appends.
  * Each appended key is `writerId * 1000 + i`, so the parent can verify
  * that no commit was lost and none was double-applied. Exits non-zero
  * on any failure (the spec asserts on the exit code). */
object CrossProcessAppendMain {
  def main(args: Array[String]): Unit = {
    val Array(root, writerId, nStr) = args
    val spark = graft.GraftSession(s"graft-race-$writerId", 2)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val t = LakeTable.load(spark, root)
      (0 until nStr.toInt).foreach { i =>
        t.append(Seq((writerId.toLong * 1000L + i, writerId))
          .toDF("k", "w"))
      }
    } finally spark.stop()
  }
}
