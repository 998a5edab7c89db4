package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The scale legs ([[ScaleSmoke]]) at their smallest sizes on the shared
  * session: each prints one `"ok": true` JSON record, restores the
  * session confs it changed and deletes its scratch directory. */
class ScaleSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def scratchDirs(leg: String): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith(s"graft-scale-$leg")).toSet

  Seq(Seq("pipeline", sf), Seq("metadata-agg", sf),
      Seq("commit-depth", "60"), Seq("iceberg-depth", sf, "20"))
    .foreach { args =>
      test(s"scale leg ${args.mkString(" ")}: one ok JSON record, " +
          "session confs and scratch space as before") {
        val confs = spark.conf.getAll
        val before = scratchDirs(args.head)
        val (status, line) = ScaleSmoke.run(args, spark)
        val rec = new ObjectMapper().readTree(line)
        assert(status == 0 && rec.path("ok").asBoolean(false), line)
        assert(rec.path("leg").asText() == args.head)
        assert(rec.size() > 2, s"no fields: $line")
        // the leg's explicit 512-task repartition keeps its fan-out:
        // output sizing narrows no deliberate width
        if (args == Seq("metadata-agg", sf))
          assert(rec.path("manifest_entries").asLong() == 1474L, line)
        assert(spark.conf.getAll == confs)
        assert((scratchDirs(args.head) -- before).isEmpty,
          "scratch directory left behind")
      }
    }

  test("an unknown leg is refused with the leg list, before any work") {
    val (status, line) = ScaleSmoke.run(Seq("gold-inc"),
      fail("the session must not be built for an unknown leg"))
    assert(status == 2)
    assert(line.contains("gold-inc") && line.contains("commit-depth") &&
      line.contains("iceberg-depth"), line)
  }
}
