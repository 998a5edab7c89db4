package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftlake.EntryFileIndex
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Foreign scans plan through [[EntryFileIndex]]: per-file facts
  * (Iceberg data sequence, `first_row_id`, identity values; a Delta
  * change feed's commit version) ride each file's partition row, so
  * no read joins a file list; sizes come from the manifest, so
  * planning lists nothing; and pushed filters prune on the manifest's
  * bounds. */
class EntryFileIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def conf = spark.sessionState.newHadoopConf()

  private def entryRelations(plan: LogicalPlan): Seq[HadoopFsRelation] =
    plan.collect { case l: LogicalRelation => l.relation }.collect {
      case r: HadoopFsRelation if r.location.isInstanceOf[EntryFileIndex] => r
    }

  /** The files each data scan of `df` plans: its index listed under the
    * scan's own pushed partition and data filters. */
  private def plannedFiles(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      .flatMap(s => s.relation.location.listFiles(s.partitionFilters,
        s.dataFilters))
      .flatMap(_.files.map(f => EntryFileIndex.normUri(f.getPath.toString)))
      .toSet

  /** A partitioned merge-on-read v3 Iceberg export with row lineage, a
    * deletion vector and an equality delete, over ≥ 33 data files. */
  private lazy val morLineage: (LakeTable, String) = {
    val df = (1L to 800L).map(i => (i, i % 3, s"p$i")).toDF("k", "g", "p")
    val t = LakeTable.create(spark, TestSpark.tmpDir("efi-mor") + "/t",
      df.schema, partitionBy = Seq("g"), properties = Map(
        LakeTable.PROP_DELETE_MODE -> "merge-on-read",
        LakeTable.PROP_ROW_LINEAGE -> "true"))
    t.append(df.repartition(16))
    t.delete($"k" % 10 === 3)
    t.consolidateDeleteVectors()
    t.deleteByKeys(df.where($"k" % 9 === 1).select("k"), Seq("k"))
    (t, IcebergExport.export(t, TestSpark.tmpDir("efi-mor-out"),
      formatVersion = 3))
  }

  test("an Iceberg MOR lineage scan attaches per-file facts through " +
      "the index: the only joins are the delete anti-join and the " +
      "deletion-vector join") {
    val (t, meta) = morLineage
    val scan = IcebergImport.scan(spark, meta, withRowLineage = true)
    val plan = scan.queryExecution.analyzed
    val joins = plan.collect { case j: Join => j }
    val dvJoins = joins.filter(j => j.joinType == LeftOuter &&
      j.condition.exists(_.references.exists(_.name == "__gdv_file")))
    assert(dvJoins.size == 1, plan.treeString)
    assert(joins.count(_.joinType == LeftAnti) == 1, plan.treeString)
    assert(joins.forall(j => j.joinType == LeftAnti || dvJoins.contains(j)),
      s"a join other than delete application:\n${plan.treeString}")
    val rels = entryRelations(plan)
    assert(rels.size == 1)
    assert(rels.head.partitionSchema.fieldNames.toSet ==
      Set("__ice_seq__", "__ice_fri__", "__ice_g"))
    assert(scan.select("k", "g", "p").collect().toSet ==
      t.scan().collect().toSet)
    assert(scan.select("k", "_row_id").collect().toSet ==
      t.scanWithLineage().select("k", "_row_id").collect().toSet)
  }

  test("planning an Iceberg scan over ≥ 33 files launches no Spark job " +
      "(sizes come from the manifest, nothing is listed)") {
    val (_, meta) = morLineage
    assert(IcebergImport.load(meta, conf).dataEntries.size >= 33)
    assert(TestSpark.jobsDuring(IcebergImport.scan(spark, meta,
      withRowLineage = true).queryExecution.executedPlan) == 0)
  }

  test("a filter pushed into a plain Iceberg scan plans exactly the " +
      "files pruneEntries keeps") {
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("efi-prune") + "/t",
      df.schema)
    t.append(df.repartitionByRange(8, $"id"))
    val meta = IcebergExport.export(t, TestSpark.tmpDir("efi-prune-out"))
    val tm = IcebergImport.load(meta, conf)
    val p = $"id" <= 60L
    val want = IcebergImport.pruneEntries(spark, tm, p)
      .map(e => EntryFileIndex.normUri(new Path(e.uri).toString)).toSet
    assert(want.nonEmpty && want.size < tm.dataEntries.size)
    val q = IcebergImport.scan(spark, meta).where(p)
    assert(plannedFiles(q) == want)
    assert(q.count() == 60)
  }

  test("an Iceberg scan whose manifest names a deleted data file fails " +
      "naming the file") {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("efi-gone") + "/t",
      df.schema)
    t.append(df.repartition(2))
    val meta = IcebergExport.export(t, TestSpark.tmpDir("efi-gone-out"))
    val gone = new Path(IcebergImport.load(meta, conf).dataEntries.head.uri)
    assert(gone.getFileSystem(conf).delete(gone, false))
    val e = intercept[Exception](IcebergImport.scan(spark, meta).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
      .mkString("\n")
    assert(messages.contains(gone.getName), messages)
  }

  test("a multi-version Delta change feed carries each file's commit " +
      "version through the index: no version-map join") {
    val base = TestSpark.tmpDir("efi-cdf")
    val src = (1L to 30L).map(i => (i, s"v$i", i % 3)).toDF("id", "v", "g")
    val t = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("g"),
      properties = Map(LakeTable.PROP_PUBLISH_CDF -> "true"))
    t.append(src)
    DeltaExport.publish(t, s"$base/d")                    // version 0
    t.merge(Seq((3L, "u", 0L)).toDF("id", "v", "g"), Seq("id"))
    DeltaExport.publish(t, s"$base/d")                    // version 1: cdc
    t.append(Seq((31L, "a31", 1L)).toDF("id", "v", "g"))
    DeltaExport.publish(t, s"$base/d")                    // version 2: adds
    val feed = DeltaImport.changeScan(spark, s"$base/d", 0L)
    val plan = feed.queryExecution.analyzed
    assert(plan.collect { case j: Join => j }.isEmpty, plan.treeString)
    assert(entryRelations(plan).size == 2)
    val got = feed.select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got.contains((31L, "insert", 2L)))
    assert(got.filter(_._1 == 3L).map(_._3) == Set(1L))
    assert(got.map(_._3) == Set(1L, 2L))
  }
}
