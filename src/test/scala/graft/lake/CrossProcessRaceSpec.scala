package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Multi-writer commit safety across REAL process boundaries: two child
  * JVMs (own SparkSessions, own filesystems handles — nothing shared
  * but the table directory) append concurrently to one table. The
  * commit protocol's detect-or-retry (exclusive create of the version
  * file, then pointer swap) must serialize every commit: no append may
  * be lost, none may double-apply. This is the closest offline stand-in
  * for the reference's S3-table-bucket multi-writer story — the
  * in-process racing cases in LakeTableSpec share a JVM and could in
  * principle be saved by JVM-level memory effects; these writers
  * cannot. The pointer swap is the generation store's conditional
  * create (the object-store conditional-PUT shape). */
class CrossProcessRaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val AppendsPerWriter = 4

  private def javaBin = new java.io.File(new java.io.File(
    sys.props("java.home"), "bin"), "java").getAbsolutePath

  // same module opens build.sbt forks sbt JVMs with — a child creating
  // a SparkSession outside spark-submit needs them on JDK 17
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def spawn(root: String, writerId: Int): (Process, java.io.File) = {
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Duser.timezone=UTC",
      "-cp", sys.props("java.class.path"),
      "graft.lake.CrossProcessAppendMain",
      root, writerId.toString, AppendsPerWriter.toString))
    val log = java.io.File.createTempFile(s"xproc-w$writerId-", ".log")
    val p = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log).start()
    (p, log)
  }

  test("two real JVMs appending concurrently lose nothing (generation store)") {
    val root = TestSpark.tmpDir("xproc") + "/t"
    val init = Seq((0L, "0")).toDF("k", "w")
    LakeTable.create(spark, root, init.schema).append(init)
    val children = Seq(spawn(root, 1), spawn(root, 2))
    val codes = children.map { case (p, log) =>
      val code = p.waitFor()
      if (code != 0) System.err.println(
        s"child ${log.getName} failed ($code):\n" +
          new String(java.nio.file.Files.readAllBytes(log.toPath)))
      log.delete()
      code
    }
    assert(codes.forall(_ == 0), s"child exit codes: $codes")
    // fresh handle: read the post-race state from disk, not a cache
    val t = LakeTable.load(spark, root)
    val keys = t.scan().select("k").collect().map(_.getLong(0)).sorted
    val expected = (Seq(0L) ++
      (0 until AppendsPerWriter).map(i => 1000L + i) ++
      (0 until AppendsPerWriter).map(i => 2000L + i)).sorted
    assert(keys.toSeq == expected,
      s"lost or doubled commits: ${keys.mkString(",")}")
    // every append is exactly one snapshot: create + init + 2×N
    assert(t.history.count() == 2L + 2L * AppendsPerWriter)
  }
}
