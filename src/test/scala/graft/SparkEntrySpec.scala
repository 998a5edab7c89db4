package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract itself: entry() returns rows, and every declared
  * oracle key has a matching query. */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry() flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("all queries run on sf0.001 and produce schemas") {
    // a cheap structural smoke: every query's plan analyzes (no
    // unresolved columns) — full execution is Verify/Bench territory
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) => try {
        val df = fn(spark, "/root/testdata/sf0.001")
        if (df.schema.fields.isEmpty) Some(s"$name: empty schema")
        else None
      } catch {
        case e: Throwable => Some(s"$name failed to build: ${e.getMessage}")
      }
    }
    assert(failed.isEmpty,
      s"${failed.size} queries failed:\n${failed.mkString("\n")}")
  }
}
