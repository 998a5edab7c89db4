package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Z-order clustering compaction: `compact(n, clusterBy)` range-
  * distributes by the bit-interleaved rank of the cluster columns, so
  * every rewritten file covers a narrow range of EACH column at once —
  * multi-column predicates prune on manifest stats where a plain sort
  * order only serves its leading column. */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 64×64 grid of independent (x, y), shuffled into mixed files. */
  private def gridTable(root: String) = {
    val rows = for { x <- 0L until 64L; y <- 0L until 64L }
      yield (x, y, s"p$x-$y")
    val df = rows.toDF("x", "y", "payload")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.orderBy(rand(seed = 7)).repartition(8))
    t
  }

  test("z-order tightens per-file bounds on BOTH dimensions") {
    val t = gridTable(TestSpark.tmpDir("zorder") + "/t")
    t.compact(16, Seq("x", "y"))
    val snap = t.currentSnapshot.get
    assert(snap.liveFiles.size > 4, s"too few files: ${snap.liveFiles}")
    // mean per-file covered area must be a small fraction of the domain:
    // random-mix files each cover ~the whole 64x64 grid; z-ordered
    // files cover ~1/16 of it each
    val areas = snap.liveFiles.map { f =>
      val st = snap.entries(f).stats
      val (x0, x1) = (st("x").min.toLong, st("x").max.toLong)
      val (y0, y1) = (st("y").min.toLong, st("y").max.toLong)
      (x1 - x0 + 1) * (y1 - y0 + 1)
    }
    val meanArea = areas.sum.toDouble / areas.size
    assert(meanArea < 0.5 * 64 * 64,
      s"files still cover ${meanArea / (64 * 64) * 100}%% of the domain")
    // a quadrant predicate on BOTH columns prunes most files driver-side
    val quadrant = t.pruneByPredicate(snap,
      col("x") < 16 && col("y") < 16)
    assert(quadrant.size <= snap.liveFiles.size / 2,
      s"quadrant kept ${quadrant.size} of ${snap.liveFiles.size} files")
  }

  test("z-order compaction preserves content exactly") {
    val t = gridTable(TestSpark.tmpDir("zorder-content") + "/t")
    val before = t.scan().orderBy("x", "y").collect().toSeq
    t.compact(8, Seq("x", "y"))
    assert(t.scan().orderBy("x", "y").collect().toSeq == before)
  }

  test("z-order respects hive partitions and null cluster values") {
    val df = (Seq((null.asInstanceOf[java.lang.Long], 1L, "a")) ++
      (1L to 50L).map(i => (java.lang.Long.valueOf(i), i % 3, s"v$i")))
      .toDF("k", "part", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("zorder-part") + "/t",
      df.schema, partitionBy = Seq("part"))
    t.append(df.repartition(4))
    val before = t.scan().orderBy("part", "k").collect().toSeq
    t.compact(2, Seq("k"))
    assert(t.scan().orderBy("part", "k").collect().toSeq == before)
    assert(t.partitionColumns == Seq("part"))
  }

  test("z-order rejects non-orderable cluster columns") {
    val df = Seq((1L, "s")).toDF("k", "v")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir("zorder-rej") + "/t", df.schema)
    t.append(df)
    intercept[IllegalArgumentException] { t.compact(2, Seq("v")) }
    intercept[IllegalArgumentException] { t.compact(2, Seq("nope")) }
  }
}
