package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.graftlake.GraftManifestFileIndex
import org.apache.spark.sql.types.{MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The plan of a merge-on-read read ([[DeleteArtifacts.apply]]): each
  * file's data sequence number rides its scan's file index, so a read
  * is one data scan per (rename, spec) group, one equality anti-join
  * on `keys equal && data seq < delete seq`, and one delete broadcast,
  * however many delete commits the table holds — and the plan carries
  * no per-file or per-commit literal. */
class MorReadPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val mor = Map(
    LakeTable.PROP_MERGE_MODE -> "merge-on-read",
    LakeTable.PROP_DELETE_MODE -> "merge-on-read")

  /** 100 rows (id, p, v) under merge-on-read, one append. */
  private def table(name: String): LakeTable = {
    val df = (1L to 100L).map(i => (i, (i % 4).toInt, s"v$i"))
      .toDF("id", "p", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir(name) + "/t",
      df.schema, properties = mor)
    t.append(df)
    t
  }

  private def upsert(t: LakeTable, id: Long, v: String): Long =
    t.merge(Seq((id, (id % 4).toInt, v)).toDF("id", "p", "v"), Seq("id"))

  private def vOf(t: LakeTable, id: Long): Seq[String] =
    t.scan().where($"id" === id).select("v").as[String].collect().toSeq

  /** `df`'s executed plan, after running it (the final adaptive plan). */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def broadcasts(plan: SparkPlan): Seq[BroadcastExchangeExec] =
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }

  private def dataScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.location.isInstanceOf[GraftManifestFileIndex] => s
    }

  private def literals(plan: SparkPlan): Seq[Literal] =
    collectWithSubqueries(plan) { case p =>
      p.expressions.flatMap(_.collect { case l: Literal => l })
    }.flatten

  test("a point read launches the same jobs after 1 and after 3 " +
      "equality-delete commits") {
    val t = table("mor-plan-jobs")
    upsert(t, 5L, "a")
    val point = () => t.scan().where($"id" === 50L).collect()
    point() // warm: the first read plans and compiles
    val afterOne = TestSpark.jobsDuring(point())
    upsert(t, 6L, "b")
    upsert(t, 7L, "c")
    assert(t.currentSnapshot.get.deleteFiles.size == 3)
    val afterThree = TestSpark.jobsDuring(point())
    assert(afterOne == afterThree, s"$afterOne jobs, then $afterThree")
    assert(vOf(t, 50L) == Seq("v50"))
  }

  test("the executed plan holds one equality broadcast and no map or " +
      "delete-path literal") {
    val t = table("mor-plan-shape")
    upsert(t, 5L, "a")
    upsert(t, 6L, "b")
    upsert(t, 7L, "c")
    val plan = executed(t.scan().where($"id" === 6L))
    assert(broadcasts(plan).size == 1, plan)
    assert(dataScans(plan).size == 1, plan)
    val lits = literals(plan)
    assert(!lits.exists(_.dataType.isInstanceOf[MapType]), plan)
    assert(!lits.exists(l => l.dataType == StringType && l.value != null &&
      l.value.asInstanceOf[UTF8String].toString.contains("deletes/")), plan)
    assert(vOf(t, 6L) == Seq("b"))
  }

  test("an after-image sharing its delete's sequence survives") {
    val t = table("mor-plan-same-seq")
    upsert(t, 5L, "a")
    val snap = t.currentSnapshot.get
    assert(snap.deleteFiles.size == 1)
    val del = snap.deleteFiles.head
    val after = snap.addedFiles.map(snap.entries)
    assert(after.nonEmpty && after.forall(_.seq == del.seq))
    assert(vOf(t, 5L) == Seq("a"))
    assert(t.scan().count() == 100)
  }

  test("deleted, re-inserted, then updated: the latest image reads") {
    val t = table("mor-plan-reinsert")
    t.deleteByKeys(Seq(9L).toDF("id"), Seq("id"))
    assert(vOf(t, 9L).isEmpty)
    upsert(t, 9L, "re")
    assert(vOf(t, 9L) == Seq("re"))
    upsert(t, 9L, "up")
    assert(vOf(t, 9L) == Seq("up"))
    assert(t.scan().count() == 100)
  }

  test("a renameColumn between two delete commits: two data scans " +
      "share one broadcast") {
    val t = table("mor-plan-rename")
    upsert(t, 5L, "a")
    t.renameColumn("v", "w")
    t.merge(Seq((6L, 2, "b")).toDF("id", "p", "w"), Seq("id"))
    val plan = executed(t.scan())
    assert(dataScans(plan).size >= 2, plan)
    assert(broadcasts(plan).size == 1, plan)
    val rows = t.scan().select($"id", $"w").as[(Long, String)].collect()
    assert(rows.length == 100)
    val byId = rows.toMap
    assert(byId(5L) == "a" && byId(6L) == "b" && byId(7L) == "v7")
  }

  test("a partition-spec change between two delete commits: two data " +
      "scans share one broadcast") {
    val t = table("mor-plan-spec")
    upsert(t, 5L, "a")
    t.evolvePartitionSpec(Seq("p"))
    upsert(t, 6L, "b")
    upsert(t, 5L, "a2")
    val plan = executed(t.scan())
    assert(dataScans(plan).size >= 2, plan)
    assert(broadcasts(plan).size == 1, plan)
    val byId = t.scan().select($"id", $"v").as[(Long, String)].collect()
    assert(byId.length == 100)
    assert(byId.toMap == (1L to 100L).map(i => i -> (i match {
      case 5L => "a2"
      case 6L => "b"
      case _ => s"v$i"
    })).toMap)
  }

  test("a delete keyed on a column dropped later still applies") {
    val df = (1L to 20L).map(i => (i, s"k$i", s"v$i")).toDF("id", "k", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("mor-plan-drop") + "/t",
      df.schema, properties = mor)
    t.append(df)
    t.deleteByKeys(Seq("k3", "k4").toDF("k"), Seq("k"))
    val ids = () => t.scan().select("id").as[Long].collect().sorted.toSeq
    val expected = (1L to 20L).filterNot(Set(3L, 4L))
    // while the delete is live its key column stays: the drop refuses
    val e = intercept[IllegalArgumentException](t.dropColumn("k"))
    assert(e.getMessage.contains("equality delete"))
    assert(ids() == expected)
    t.compact(1)
    assert(t.currentSnapshot.get.deletes.isEmpty)
    t.dropColumn("k")
    assert(ids() == expected)
    assert(t.schema.fieldNames.toSeq == Seq("id", "v"))
  }
}
