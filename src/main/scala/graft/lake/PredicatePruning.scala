package graft.lake

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types._

/** Manifest-stats pruning for predicate-driven DELETE/UPDATE: decide,
  * from a file's recorded per-column [min, max] alone, whether the file
  * can possibly contain a row matching the predicate. Strictly
  * conservative — any expression shape we don't understand evaluates to
  * "maybe", so pruning can only skip files that provably hold no
  * matching row (the same contract Iceberg's `InclusiveMetricsEvaluator`
  * implements over its manifests).
  *
  * Handles the simple comparison family that covers real DELETE/UPDATE
  * predicates: `col <op> literal` (both argument orders) for
  * =, <=>, <, <=, >, >=, plus IN over literals, AND/OR composition.
  * Everything else — casts around the column, function calls over it,
  * NOT, IS NULL, subqueries — keeps the file. The predicate arrives
  * ANALYZED against the table schema (see LakeTable.pruneByPredicate),
  * so attributes are resolved and a literal-only side — even
  * `to_timestamp('…')` — is foldable to a typed constant.
  */
object PredicatePruning {

  private type Check = (DataType, ColStat, String) => Boolean

  /** `predicate` ANALYZED against an empty relation of `schema`:
    * attributes resolved, coercion casts inserted, literal-only
    * subtrees (e.g. `to_timestamp('…')`) foldable. None when analysis
    * fails — callers then prune nothing (pruning is never
    * load-bearing). */
  def analyze(spark: SparkSession, predicate: Column,
      schema: StructType): Option[Expression] =
    scala.util.Try {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .where(predicate).queryExecution.analyzed
        .collectFirst { case f: Filter => f.condition }
    }.toOption.flatten

  /** The top-level AND conjuncts of `e` (the facts a matching row must
    * satisfy one by one — what bucket and Bloom pruning key on). */
  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Files from `liveFiles` that may contain a row matching `predicate`.
    * `stats` looks up a file's column → recorded bounds (None, or an
    * absent column = unknown bounds). */
  def candidateFiles(predicate: Expression, schema: StructType,
      liveFiles: Seq[String],
      stats: String => Option[Map[String, ColStat]]): Seq[String] = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    liveFiles.filter(f => stats(f).forall(canMatch(predicate, _, types)))
  }

  // bounds are attained values (parquet min/max are real rows; the ±0.0
  // widening only ever widens), so strict checks against them are safe
  private val eqCheck: Check = (dt, st, x) =>
    FileStats.cmp(dt, st.min, x) <= 0 && FileStats.cmp(dt, st.max, x) >= 0
  private val maxGt: Check = (dt, st, x) => FileStats.cmp(dt, st.max, x) > 0
  private val maxGe: Check = (dt, st, x) => FileStats.cmp(dt, st.max, x) >= 0
  private val minLt: Check = (dt, st, x) => FileStats.cmp(dt, st.min, x) < 0
  private val minLe: Check = (dt, st, x) => FileStats.cmp(dt, st.min, x) <= 0

  /** Can a row of a file with bounds `fileStats` satisfy `e`?
    * For each ordered comparison the flipped literal-first form mirrors
    * the operator: `lit > col` ⇔ `col < lit`. */
  private def canMatch(e: Expression, fileStats: Map[String, ColStat],
      types: Map[String, DataType]): Boolean = e match {
    case And(l, r) =>
      canMatch(l, fileStats, types) && canMatch(r, fileStats, types)
    case Or(l, r) =>
      canMatch(l, fileStats, types) || canMatch(r, fileStats, types)
    case EqualTo(a, b) => sided(a, b, fileStats, types)(eqCheck, eqCheck)
    case EqualNullSafe(a, b) =>
      sided(a, b, fileStats, types)(eqCheck, eqCheck)
    case GreaterThan(a, b) => sided(a, b, fileStats, types)(maxGt, minLt)
    case GreaterThanOrEqual(a, b) =>
      sided(a, b, fileStats, types)(maxGe, minLe)
    case LessThan(a, b) => sided(a, b, fileStats, types)(minLt, maxGt)
    case LessThanOrEqual(a, b) =>
      sided(a, b, fileStats, types)(minLe, maxGe)
    case In(a, vs) if vs.nonEmpty =>
      vs.exists(v => sided(a, v, fileStats, types)(eqCheck, eqCheck))
    case InSet(a, vs) if vs.nonEmpty && attrName(a).isDefined =>
      vs.exists(v => sided(a, Literal.create(v, a.dataType),
        fileStats, types)(eqCheck, eqCheck))
    case IsNull(a) =>
      // a file with a recorded null count of ZERO can't match IS NULL
      attrName(a).flatMap(n => nullsOf(fileStats, n)) match {
        case Some(0L) => false
        case _ => true
      }
    case _ => true
  }

  /** Recorded null count for column `c` in this file's stats (the
    * `__nulls__` pseudo-stat, see [[FileStats.nullsKey]]); None =
    * unknown (legacy file, unreported chunk). */
  private def nullsOf(fileStats: Map[String, ColStat],
      c: String): Option[Long] =
    fileStats.get(FileStats.nullsKey(c))
      .flatMap(cs => scala.util.Try(cs.min.toLong).toOption)

  /** Does EVERY row of a file with stats `fileStats` (and `rows` total
    * rows) provably satisfy `e`? The metadata-delete
    * prover: a fully-covered file can be dropped from the manifest with
    * zero data I/O (≡ Iceberg's metadata delete). Strictly
    * conservative — false unless proven. Comparisons additionally need
    * the column's null count recorded as ZERO: bounds only speak for
    * non-null values, and a NULL row fails every comparison. The ±0.0
    * stat widening only ever widens, so proofs against widened bounds
    * remain sound (widened max < x ⇒ true max < x); NaN-bearing FP
    * columns record no bounds at all and so prove nothing. */
  def allRowsMatch(e: Expression, fileStats: Map[String, ColStat],
      types: Map[String, DataType], rows: Long): Boolean = {
    val allEq: Check = (dt, st, x) =>
      FileStats.cmp(dt, st.min, x) == 0 && FileStats.cmp(dt, st.max, x) == 0
    val allLt: Check = (dt, st, x) => FileStats.cmp(dt, st.max, x) < 0
    val allLe: Check = (dt, st, x) => FileStats.cmp(dt, st.max, x) <= 0
    val allGt: Check = (dt, st, x) => FileStats.cmp(dt, st.min, x) > 0
    val allGe: Check = (dt, st, x) => FileStats.cmp(dt, st.min, x) >= 0
    def noNulls(a: Expression): Boolean =
      attrName(a).flatMap(n => nullsOf(fileStats, n)).contains(0L)
    def cmpAll(a: Expression, b: Expression, fwd: Check,
        flip: Check): Boolean =
      (attrName(a), asLiteral(b), asLiteral(a), attrName(b)) match {
        case (Some(name), Some(l), _, _) =>
          noNulls(a) && provenCheck(name, l, fileStats, types, fwd)
        case (_, _, Some(l), Some(name)) =>
          noNulls(b) && provenCheck(name, l, fileStats, types, flip)
        case _ => false
      }
    e match {
      case Literal(true, BooleanType) => true // unconditional DELETE
      case And(l, r) =>
        allRowsMatch(l, fileStats, types, rows) &&
          allRowsMatch(r, fileStats, types, rows)
      case Or(l, r) =>
        allRowsMatch(l, fileStats, types, rows) ||
          allRowsMatch(r, fileStats, types, rows)
      case EqualTo(a, b) => cmpAll(a, b, allEq, allEq)
      case EqualNullSafe(a, b) => cmpAll(a, b, allEq, allEq)
      case LessThan(a, b) => cmpAll(a, b, allLt, allGt)
      case LessThanOrEqual(a, b) => cmpAll(a, b, allLe, allGe)
      case GreaterThan(a, b) => cmpAll(a, b, allGt, allLt)
      case GreaterThanOrEqual(a, b) => cmpAll(a, b, allGe, allLe)
      case In(a, vs) if vs.nonEmpty =>
        // all rows match iff the file is constant at one listed value
        vs.exists(v => cmpAll(a, v, allEq, allEq))
      case IsNotNull(a) => noNulls(a)
      case IsNull(a) =>
        attrName(a).flatMap(n => nullsOf(fileStats, n))
          .contains(rows)
      case _ => false
    }
  }

  /** Proof that NO row of a file matches `e` — the dual of
    * [[allRowsMatch]], for discarding candidates the conservative
    * may-match keep retained only because a column recorded no bounds.
    * The workhorse case is the RECORDED ALL-NULL column (null count ==
    * row count — identity NULL-partition files by construction): a SQL
    * comparison against NULL is never TRUE, so every comparison/IN/
    * IS NOT NULL over it matches nothing; IS NULL matches nothing on a
    * zero-null file; an empty file matches nothing vacuously. Sound,
    * never complete — false unless proven. (`<=>` deliberately proves
    * nothing: null-safe equality CAN be true on nulls.) */
  def noneMatch(e: Expression, fileStats: Map[String, ColStat],
      types: Map[String, DataType], rows: Long): Boolean = {
    if (rows == 0L) return true
    def allNull(a: Expression): Boolean =
      attrName(a).flatMap(n => nullsOf(fileStats, n))
        .exists(n => n > 0L && n == rows)
    e match {
      case And(l, r) =>
        noneMatch(l, fileStats, types, rows) ||
          noneMatch(r, fileStats, types, rows)
      case Or(l, r) =>
        noneMatch(l, fileStats, types, rows) &&
          noneMatch(r, fileStats, types, rows)
      case EqualTo(a, b) => allNull(a) || allNull(b)
      case LessThan(a, b) => allNull(a) || allNull(b)
      case LessThanOrEqual(a, b) => allNull(a) || allNull(b)
      case GreaterThan(a, b) => allNull(a) || allNull(b)
      case GreaterThanOrEqual(a, b) => allNull(a) || allNull(b)
      case In(a, vs) if vs.nonEmpty => allNull(a)
      case IsNotNull(a) => allNull(a)
      case IsNull(a) =>
        attrName(a).flatMap(n => nullsOf(fileStats, n)).contains(0L)
      case Literal(false, BooleanType) => true
      case Literal(null, BooleanType) => true
      case _ => false
    }
  }

  /** Like [[boundsCheck]] but PROOF-directed: absent stats, unsupported
    * types, or unencodable literals prove nothing (false), where the
    * prune direction treats them as "maybe" (true). */
  private def provenCheck(name: String, l: Literal,
      fileStats: Map[String, ColStat], types: Map[String, DataType],
      check: Check): Boolean =
    types.get(name) match {
      case Some(dt) if FileStats.supportsLiteralPruning(dt) =>
        encodeLiteral(dt, l) match {
          case Some(encoded) =>
            fileStats.get(name).exists(st => check(dt, st, encoded))
          case None => false
        }
      case _ => false
    }

  /** `a <op> b` where one side is an attribute and the other a literal
    * (or a foldable literal-only subtree, e.g. `to_timestamp('…')` after
    * analysis): run `fwd` for attr-first, `flip` for literal-first; keep
    * the file for any other shape. */
  private def sided(a: Expression, b: Expression,
      fileStats: Map[String, ColStat], types: Map[String, DataType])(
      fwd: Check, flip: Check): Boolean =
    (attrName(a), asLiteral(b), asLiteral(a), attrName(b)) match {
      case (Some(name), Some(l), _, _) =>
        boundsCheck(name, l, fileStats, types, fwd)
      case (_, _, Some(l), Some(name)) =>
        boundsCheck(name, l, fileStats, types, flip)
      case _ => true
    }

  /** Fold a literal-only subtree down to a Literal; None when the
    * expression references columns or can't be evaluated. */
  private def asLiteral(e: Expression): Option[Literal] = e match {
    case l: Literal => Some(l)
    case _ if e.resolved && e.foldable =>
      scala.util.Try(Literal.create(e.eval(null), e.dataType)).toOption
    case _ => None
  }

  private def boundsCheck(name: String, l: Literal,
      fileStats: Map[String, ColStat], types: Map[String, DataType],
      check: Check): Boolean =
    types.get(name) match {
      case Some(dt) if FileStats.supportsLiteralPruning(dt) =>
        encodeLiteral(dt, l) match {
          case Some(encoded) =>
            fileStats.get(name) match {
              case Some(st) => check(dt, st, encoded)
              case None => true // no bounds recorded for this column
            }
          case None => true // literal not encodable in the stat domain
        }
      case _ => true
    }

  private def attrName(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute if u.nameParts.length == 1 =>
      Some(u.nameParts.head)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** Encode a literal into the stat domain of column type `dt`
    * (FileStats' string encoding); None when the literal's type can't be
    * losslessly mapped — e.g. a string literal against an int column
    * (Spark would cast at analysis; we stay conservative). */
  private def encodeLiteral(dt: DataType, l: Literal): Option[String] = {
    if (l.value == null) return None // col = NULL matches no row, but a
    // non-prune here only costs a scan — stay out of three-valued logic
    (dt, l.dataType) match {
      case (StringType, StringType) => Some(l.value.toString)
      case (ByteType | ShortType | IntegerType | LongType,
          ByteType | ShortType | IntegerType | LongType) =>
        Some(l.value.toString) // integral internal values print as decimal
      case (BooleanType, BooleanType) =>
        Some(if (l.value.asInstanceOf[Boolean]) "1" else "0")
      case (DateType, DateType) =>
        Some(l.value.toString) // internal = days since epoch (Int)
      case (TimestampType, TimestampType) =>
        Some(l.value.toString) // internal = micros since epoch (Long)
      case (TimestampNTZType, TimestampNTZType) =>
        Some(l.value.toString) // internal = raw wall-clock micros
      case (FloatType | DoubleType, _) =>
        val d = l.value match {
          case f: java.lang.Float => f.doubleValue()
          case d: java.lang.Double => d.doubleValue()
          case n: java.lang.Number => n.doubleValue()
          case _ => return None
        }
        if (d.isNaN) None // NaN ordering poisons range checks
        else Some(d.toString)
      case _ => None
    }
  }
}
