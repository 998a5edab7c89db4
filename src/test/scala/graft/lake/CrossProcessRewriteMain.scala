package graft.lake

import org.apache.spark.sql.functions._

/** Child-process entry for [[CrossProcessConflictSpec]]: opens the
  * table at `root` in its OWN JVM and runs one COW rewrite (`merge` of
  * keys [lo, hi] → v = "W<id>", or `delete` of keys [lo, hi]). Both
  * children rendezvous at a FILE BARRIER fired from beforeCommitHook —
  * i.e. AFTER each has computed its rewrite against the same base
  * snapshot and written its artifacts, IMMEDIATELY before the commit
  * CAS — so the commit conflict is deterministic, not a timing
  * accident. Exits 0 on success, 42 on a surfaced
  * ConcurrentModificationException (the `fail`-mode loser), 1 on any
  * other error. */
object CrossProcessRewriteMain {
  def main(args: Array[String]): Unit = {
    val Array(root, writerId, op, loStr, hiStr, barrierDir) = args
    val spark = graft.GraftSession(s"graft-conflict-$writerId", 2)
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        val t = LakeTable.load(spark, root)
        val dir = java.nio.file.Paths.get(barrierDir)
        val mine = dir.resolve(s"at-commit-$writerId")
        val other = dir.resolve(
          s"at-commit-${if (writerId == "1") "2" else "1"}")
        var fired = false
        t.beforeCommitHook = () => if (!fired) {
          fired = true
          java.nio.file.Files.createFile(mine)
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!java.nio.file.Files.exists(other) &&
              System.nanoTime() < deadline) Thread.sleep(10)
        }
        val lo = loStr.toLong
        val hi = hiStr.toLong
        op match {
          case "merge" =>
            val src = spark.range(lo, hi + 1).select(
              col("id"), lit(s"W$writerId").as("v"))
            t.merge(src, Seq("id"))
          case "delete" =>
            t.delete(col("id") >= lo && col("id") <= hi)
          case o => sys.error(s"unknown op $o")
        }
        0
      } catch {
        case _: java.util.ConcurrentModificationException => 42
        case e: Throwable => e.printStackTrace(); 1
      } finally spark.stop()
    sys.exit(code)
  }
}
