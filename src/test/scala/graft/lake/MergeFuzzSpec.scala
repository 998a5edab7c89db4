package graft.lake

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential fuzz of the MERGE surface: random clause combinations
  * (matched DELETE/UPDATE with per-clause conditions and expression
  * assignments, conditional INSERT with column lists, NOT MATCHED BY
  * SOURCE DELETE/UPDATE) over random target/source data, executed
  * three ways that must agree row-for-row:
  *
  *   1. the SQL TEXT path (`MERGE INTO … t USING … s ON …` through
  *      [[LakeSql]] / Spark's parser),
  *   2. the direct [[LakeTable.mergeClauses]] API,
  *   3. a driver-side reference interpreter (plain Scala first-match-
  *      wins over the collected rows — independently written, so a
  *      shared engine bug can't cancel out).
  *
  * 100+ generated cases ≫ the 6 hand-written shapes LakeSqlSpec pins. */
class MergeFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import MergeFuzzSpec.R

  // ---- clause templates: SQL text + API clause + reference evaluator

  private sealed trait MAct
  private case object MDelete extends MAct
  private case class MUpdate(f: (R, R) => R) extends MAct
  private case class MTpl(sql: String, api: MergeWhen,
      cond: (R, R) => Boolean, act: MAct)

  private val matchedPool = Seq(
    MTpl("WHEN MATCHED AND s.a > 500 THEN DELETE",
      MergeWhen(Some(expr("s.a > 500")), None),
      (_, s) => s.a > 500, MDelete),
    MTpl("WHEN MATCHED AND t.b % 2 = 0 THEN UPDATE SET a = s.a + 1",
      MergeWhen(Some(expr("t.b % 2 = 0")),
        Some(Map("a" -> expr("s.a + 1")))),
      (t, _) => t.b % 2 == 0, MUpdate((t, s) => R(t.id, s.a + 1, t.b))),
    MTpl("WHEN MATCHED THEN UPDATE SET a = s.a, b = s.b",
      MergeWhen(None, Some(Map("a" -> expr("s.a"), "b" -> expr("s.b")))),
      (_, _) => true, MUpdate((t, s) => R(t.id, s.a, s.b))),
    MTpl("WHEN MATCHED AND t.a < s.b THEN UPDATE SET b = t.a + s.b",
      MergeWhen(Some(expr("t.a < s.b")),
        Some(Map("b" -> expr("t.a + s.b")))),
      (t, s) => t.a < s.b, MUpdate((t, s) => R(t.id, t.a, t.a + s.b))),
    MTpl("WHEN MATCHED THEN DELETE", MergeWhen(None, None),
      (_, _) => true, MDelete))

  private case class NTpl(sql: String, api: MergeWhen,
      cond: R => Boolean, mk: R => R)

  private val notMatchedPool = Seq(
    NTpl("WHEN NOT MATCHED AND s.b < 800 THEN " +
        "INSERT (id, a, b) VALUES (s.id, s.a, 0)",
      MergeWhen(Some(expr("s.b < 800")), Some(Map(
        "id" -> expr("s.id"), "a" -> expr("s.a"), "b" -> lit(0L)))),
      s => s.b < 800, s => R(s.id, s.a, 0L)),
    NTpl("WHEN NOT MATCHED THEN INSERT (id, a, b) " +
        "VALUES (s.id, s.a, s.b)",
      MergeWhen(None, Some(Map("id" -> expr("s.id"),
        "a" -> expr("s.a"), "b" -> expr("s.b")))),
      _ => true, s => R(s.id, s.a, s.b)))

  private case class BTpl(sql: String, api: MergeWhen,
      cond: R => Boolean, act: MAct)

  private val nmbsPool = Seq(
    BTpl("WHEN NOT MATCHED BY SOURCE AND b > 300 THEN DELETE",
      MergeWhen(Some(expr("b > 300")), None),
      t => t.b > 300, MDelete),
    BTpl("WHEN NOT MATCHED BY SOURCE THEN UPDATE SET a = a + 100",
      MergeWhen(None, Some(Map("a" -> expr("a + 100")))),
      _ => true, MUpdate((t, _) => R(t.id, t.a + 100, t.b))))

  // ---- generators

  private val rowGen: Gen[R] = for {
    id <- Gen.chooseNum(0L, 15L)
    a <- Gen.chooseNum(0L, 1000L)
    b <- Gen.chooseNum(0L, 1000L)
  } yield R(id, a, b)

  private def dedup(rs: List[R]): List[R] =
    rs.groupBy(_.id).map(_._2.head).toList.sortBy(_.id)

  private def orderedSubset[T](pool: Seq[T], maxN: Int): Gen[Seq[T]] =
    for {
      n <- Gen.chooseNum(0, maxN)
      picked <- Gen.pick(n, pool.indices)
    } yield picked.sorted.map(pool).toSeq

  private val caseGen = for {
    tgt <- Gen.listOf(rowGen).map(dedup)
    src <- Gen.listOf(rowGen).map(dedup)
    // Spark's parser/analyzer: only the LAST clause of a list may omit
    // its condition — an unconditional clause earlier is unreachable
    // and rejected, so don't generate it
    m <- orderedSubset(matchedPool, 2).suchThat(ms =>
      ms.size <= 1 || ms.init.forall(_.api.condition.isDefined))
    nm <- orderedSubset(notMatchedPool, 1)
    bs <- orderedSubset(nmbsPool, 1)
  } yield (tgt, src, m, nm, bs)

  // ---- reference interpreter (first-match-wins, SQL semantics)

  private def reference(tgt: List[R], src: List[R], m: Seq[MTpl],
      nm: Seq[NTpl], bs: Seq[BTpl]): Seq[R] = {
    val srcById = src.map(s => s.id -> s).toMap
    val tgtIds = tgt.map(_.id).toSet
    val fromTarget = tgt.flatMap { t =>
      srcById.get(t.id) match {
        case Some(s) =>
          m.find(_.cond(t, s)) match {
            case Some(tpl) => tpl.act match {
              case MDelete => None
              case MUpdate(f) => Some(f(t, s))
            }
            case None => Some(t) // no clause fired: row carries
          }
        case None =>
          bs.find(_.cond(t)) match {
            case Some(tpl) => tpl.act match {
              case MDelete => None
              case MUpdate(f) => Some(f(t, t))
            }
            case None => Some(t)
          }
      }
    }
    val inserted = src.filterNot(s => tgtIds(s.id))
      .flatMap(s => nm.find(_.cond(s)).map(_.mk(s)))
    fromTarget ++ inserted
  }

  private def check(prop: Prop, minTests: Int): Unit = {
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(minTests)
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("property: SQL text ≡ mergeClauses API ≡ reference, 100+ cases") {
    var n = 0
    check(Prop.forAllNoShrink(caseGen) { case (tgt, src, m, nm, bs) =>
      n += 1
      val base = TestSpark.tmpDir(s"merge-fuzz-$n")
      val cat = new LakeCatalog(spark, base)
      cat.createNamespace("f")
      val tdf = tgt.toDF()
      val sdf = src.toDF()
      cat.createTable("f", "t_sql", tdf.schema)
      cat.createTable("f", "t_api", tdf.schema)
      val tSql = cat.loadTable("f", "t_sql")
      val tApi = cat.loadTable("f", "t_api")
      tSql.append(tdf); tApi.append(tdf)

      sdf.createOrReplaceTempView("fuzz_src")
      val text = (Seq(s"MERGE INTO t_sql t USING fuzz_src s " +
        "ON t.id = s.id") ++ m.map(_.sql) ++ nm.map(_.sql) ++
        bs.map(_.sql)).mkString(" ")
      if (m.isEmpty && nm.isEmpty && bs.isEmpty) {
        // a clause-less MERGE is a parse error in Spark — the case
        // degenerates to "nothing happens"; check the API side only
        tApi.mergeClauses(sdf, Seq("id"), Nil, Nil, Nil)
      } else {
        cat.sql("f", text)
        tApi.mergeClauses(sdf, Seq("id"), m.map(_.api),
          nm.map(_.api), bs.map(_.api))
      }

      def rows(t: LakeTable): Seq[(Long, Long, Long)] =
        t.scan().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted.toSeq
      val expect = reference(tgt, src, m, nm, bs)
        .map(r => (r.id, r.a, r.b)).sorted
      val gotApi = rows(tApi)
      val gotSql =
        if (m.isEmpty && nm.isEmpty && bs.isEmpty) expect
        else rows(tSql)
      val ok = gotSql == expect && gotApi == expect
      if (!ok) {
        info(s"FUZZ CASE $n FAILED\n text=$text\n tgt=$tgt\n src=$src" +
          s"\n expect=$expect\n sql=$gotSql\n api=$gotApi")
      }
      ok
    }, 100)
    info(s"$n merge fuzz cases executed")
  }

  // ---- star-shape fuzz across BOTH write modes -----------------------
  // Three forms of the same clause shapes: the SQL text (SQL semantics —
  // a delete-flagged unmatched row still inserts), the direct
  // merge(src, keys, deleteWhen, dropUnmatchedWhen) API (its
  // skip-insert contract) and deleteByKeys (`WHEN MATCHED THEN DELETE`).

  private def starCaseGen(forms: Gen[Int]) = for {
    tgt <- Gen.listOf(rowGen).map(dedup)
    src <- Gen.listOf(rowGen).map(dedup)
    mor <- Gen.oneOf(false, true)
    form <- forms // 0 SQL text, 1 merge API, 2 deleteByKeys
    del <- Gen.oneOf(0, 1) // 0 none, 1 "s.b >= 900"
    bs <- Gen.oneOf(0, 1, 2) // 0 none, 1 unconditional, 2 "b > 300"
  } yield (tgt, src, mor, form, del, bs)

  test("property: star MERGE shapes (COW and MOR) ≡ reference, 60+ cases") {
    var n = 0
    // 60 cases of the SQL text, then 40 of the two direct-API forms
    def prop(forms: Gen[Int]) = Prop.forAllNoShrink(starCaseGen(forms)) {
      case (tgt, src, mor, form, del, bs) =>
        n += 1
        val base = TestSpark.tmpDir(s"merge-star-$n")
        val cat = new LakeCatalog(spark, base)
        cat.createNamespace("f")
        val tdf = tgt.toDF()
        val sdf = src.toDF()
        cat.createTable("f", "t_star", tdf.schema, properties =
          if (mor) Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read",
            LakeTable.PROP_DELETE_MODE -> "merge-on-read")
          else Map.empty)
        val t = cat.loadTable("f", "t_star")
        t.append(tdf)
        sdf.createOrReplaceTempView("fuzz_star_src")
        val text = form match {
          case 0 => Seq(
            Some("MERGE INTO t_star t USING fuzz_star_src s " +
              "ON t.id = s.id"),
            if (del == 1) Some("WHEN MATCHED AND s.b >= 900 THEN DELETE")
            else None,
            Some("WHEN MATCHED THEN UPDATE SET *"),
            Some("WHEN NOT MATCHED THEN INSERT *"),
            bs match {
              case 1 => Some("WHEN NOT MATCHED BY SOURCE THEN DELETE")
              case 2 => Some("WHEN NOT MATCHED BY SOURCE AND b > 300 " +
                "THEN DELETE")
              case _ => None
            }).flatten.mkString(" ")
          case 1 => s"merge(deleteWhen=${del == 1}, dropUnmatchedWhen=$bs)"
          case _ => "deleteByKeys"
        }
        form match {
          case 0 => cat.sql("f", text)
          case 1 => t.merge(sdf, Seq("id"),
            deleteWhen = if (del == 1) Some(col("b") >= 900) else None,
            dropUnmatchedWhen = bs match {
              case 1 => Some(lit(true))
              case 2 => Some(col("b") > 300)
              case _ => None
            })
          case _ => t.deleteByKeys(sdf.select("id"), Seq("id"))
        }

        def delCond(s: R) = form == 2 || del == 1 && s.b >= 900
        def bsCond(t0: R) = form != 2 && (bs match {
          case 1 => true
          case 2 => t0.b > 300
          case _ => false
        })
        val srcById = src.map(s => s.id -> s).toMap
        val tgtIds = tgt.map(_.id).toSet
        val inserted = form match {
          case 0 => src.filterNot(s => tgtIds(s.id))
          case 1 => src.filterNot(s => tgtIds(s.id) || delCond(s))
          case _ => Nil
        }
        val expect = (tgt.flatMap { t0 =>
          srcById.get(t0.id) match {
            case Some(s) => if (delCond(s)) None else Some(s)
            case None => if (bsCond(t0)) None else Some(t0)
          }
        } ++ inserted).map(r => (r.id, r.a, r.b)).sorted
        val got = t.scan().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted.toSeq
        // merge-on-read really ran: no merge/delete rewrote a file (the
        // SQL CDC text is a general clause merge, which rewrites)
        val rewrote = t.snapshots.filter(sn =>
          (sn.operation == "merge" || sn.operation == "delete") &&
            sn.removedFiles.nonEmpty)
        val ok = got == expect &&
          (!mor || form == 0 && del == 1 || rewrote.isEmpty)
        if (!ok) info(s"STAR CASE $n FAILED mode=${if (mor) "mor"
          else "cow"}\n text=$text\n tgt=$tgt\n src=$src" +
          s"\n expect=$expect\n got=$got\n rewrote=" +
          rewrote.map(_.removedFiles))
        ok
    }
    check(prop(Gen.const(0)), 60)
    check(prop(Gen.oneOf(1, 2)), 40)
    info(s"$n star merge fuzz cases executed")
  }
}

object MergeFuzzSpec {
  /** Top-level so the product ENCODER resolves (a case class nested in
    * the suite class has no stable TypeTag). */
  final case class R(id: Long, a: Long, b: Long)
}
