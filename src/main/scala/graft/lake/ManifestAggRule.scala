package graft.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EvalMode, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftlake.GraftManifestFileIndex
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-column proof the manifest can make about a planned scan, used by
  * [[ManifestAggRule]]:
  *  - `bounds`: None = unproven; Some(None) = proven all-null;
  *    Some(Some((min, max))) = exact encoded bounds (every planned file
  *    reported footer bounds or is proven all-null).
  *  - `nonNull`: exact non-null row count (Σ rows − nulls), when every
  *    planned file reports both counts; answers `count(col)`. */
final case class ColumnProof(
    bounds: Option[Option[(String, String)]],
    nonNull: Option[Long],
    /** Exact Σ of the column over the planned files (integral columns
      * with recorded `__sum__` stats only); None = unproven. Answers
      * `sum(col)` when `nonNull` also proves null-ness (zero non-null
      * rows → SQL NULL) and the fold fits the Spark result type. */
    sum: Option[BigInt] = None)

/** Per-file, per-column manifest facts (physical-name keyed) — the raw
  * material for [[ManifestAggRule]]'s GROUPED rewrite, which needs to
  * fold per group of files instead of over the whole scan.
  *  - `bounds`: exact encoded min/max when recorded (absent for
  *    columns without stats or non-exact types);
  *  - `allNull`: the file provably holds no values for the column
  *    (recorded null count == row count, or an empty file);
  *  - `nulls`: the recorded null count, when present. */
final case class ColFacts(
    bounds: Option[(String, String)],
    allNull: Boolean,
    nulls: Option[Long],
    /** Exact recorded sum of the file's non-null values (`__sum__`
      * stat, integral columns under `write.agg.columns`). */
    sum: Option[BigInt] = None)

final case class FileFacts(rows: Long, cols: Map[String, ColFacts])

/** Answers `SELECT COUNT(*) / MIN(col) / MAX(col) FROM lake_table` from
  * the MANIFEST — zero data I/O at any scale (≡ Iceberg's DSv2 aggregate
  * pushdown; this engine's scans are DSv1, so the same win lands as an
  * optimizer rewrite). The API twin of the count leg is
  * [[LakeTable.countRows]] (q_metadata_count); this rule gives the SQL
  * surface the same O(1) answer: on a 100 TB table,
  * `SELECT count(*), min(ts), max(ts)` over a registered view goes from
  * a full scan of every row group to driver-side manifest arithmetic.
  *
  * Strictly conservative by PLAN SHAPE — the rewrite fires only when:
  *  - the aggregate is global (no grouping) and EVERY output is a bare
  *    `count(*)` / `count(<non-null literal>)` / `count(col)` /
  *    `min(col)` / `max(col)`
  *    (no DISTINCT, no FILTER clause, no other functions mixed in);
  *  - the child is the scan's Project chain over a [[LogicalRelation]]
  *    whose file index is a [[GraftManifestFileIndex]] carrying the
  *    needed answer from the manifest (exact row count for count(*);
  *    Σ rows − recorded nulls for count(col); a proven column bound
  *    for min/max — see [[ColumnProof]] and its construction in
  *    [[LakeTable]]: every live file either reports exact footer bounds
  *    for the column or is PROVEN all-null via its recorded null count),
  *    or a Union of such per-era sub-scans. Projects must forward the
  *    attribute unchanged (alias-only); ANYTHING else — the MOR delete
  *    anti-joins, limits, samples, expression projects — blocks the
  *    rewrite and the query runs normally. ONE Filter in the chain
  *    takes the FILTERED leg ([[filteredRewrite]]): the aggregate folds
  *    over exactly the files the manifest proves match the condition
  *    (all-match by bounds + null counts, every dropped file provably
  *    matchless), else blocks as before.
  *  - the column's type has EXACT manifest bounds. Float/double answer
  *    only under an extra per-fold guard ([[exactFoldedBounds]]): their
  *    recorded bounds are pruning-widened at ±0.0 (FileStats.fpBounds
  *    canonicalizes signed zeros) and NaN-poisoned chunks drop bounds
  *    entirely — so a folded ZERO bound may carry the wrong sign and
  *    blocks the rewrite, while a NaN-bearing file blocks it by having
  *    no bounds at all (the fallback scan then returns Spark's NaN
  *    semantics). A non-zero folded bound is the stored IEEE value
  *    itself: exact.
  * MOR tables with outstanding deletes are safe by construction: their
  * read plan contains anti-joins, which block the pattern. */
object ManifestAggRule extends Rule[LogicalPlan] {

  /** Types whose manifest bounds are exact values from the data (footer
    * min/max or identity-partition dir values) — safe to RETURN, not
    * just prune with. Float/double are exact only when the FOLDED
    * bounds pass [[exactFoldedBounds]] (checked at both fold sites). */
  def exactStatType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | BooleanType | StringType |
        FloatType | DoubleType => true
    case _ => false
  }

  /** FP bounds are pruning-widened at ±0.0 (a recorded zero bound may
    * carry the wrong sign), so a folded zero bound is sound to prune
    * with but not to RETURN. Non-zero folded bounds are the stored IEEE
    * values (NaN-bearing chunks drop bounds at commit, so a present
    * bound is never NaN-poisoned). Every fold that feeds a returned
    * MIN/MAX must pass this; bounds combined from ALREADY-GUARDED folds
    * (the Union-leg reduce) stay non-zero by construction. */
  def exactFoldedBounds(dt: DataType, mn: String, mx: String): Boolean =
    dt match {
      case FloatType | DoubleType =>
        mn.toDouble != 0.0 && mx.toDouble != 0.0
      case _ => true
    }

  /** Encoded stat string → Catalyst internal value of `dt`. */
  private def internalValue(dt: DataType, s: String): Any = dt match {
    case ByteType      => s.toLong.toByte
    case ShortType     => s.toLong.toShort
    case IntegerType   => s.toLong.toInt
    case DateType      => s.toLong.toInt // days
    case LongType | TimestampType | TimestampNTZType => s.toLong
    case BooleanType   => s.toLong != 0L
    case FloatType     => s.toDouble.toFloat // Double.toString round-trips
    case DoubleType    => s.toDouble
    case StringType    => UTF8String.fromString(s)
    case other => throw new IllegalStateException(s"no exact stats: $other")
  }

  /** Exact relation row count, looking through count-preserving
    * Projects and summing per-era Union legs; None = cannot prove. */
  private def relationCount(p: LogicalPlan): Option[Long] = p match {
    case Project(_, child) => relationCount(child)
    case u: Union =>
      val legs = u.children.map(relationCount)
      if (legs.forall(_.isDefined)) Some(legs.flatten.sum) else None
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftManifestFileIndex => Some(g.knownRowCount)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Proof for `attr`, resolved through alias-only Projects and per-era
    * Unions down to the manifest index; the `bounds` and `nonNull` legs
    * combine independently across Union arms. None = cannot resolve the
    * attribute to a manifest-backed relation at all. */
  private def attrProof(p: LogicalPlan, attr: Attribute)
      : Option[ColumnProof] = p match {
    case Project(projList, child) =>
      projList.find(_.exprId == attr.exprId) match {
        case Some(ar: AttributeReference) => attrProof(child, ar)
        case Some(Alias(ar: AttributeReference, _)) => attrProof(child, ar)
        case _ => None // computed column / missing: cannot resolve
      }
    case u: Union =>
      val idx = u.output.indexWhere(_.exprId == attr.exprId)
      if (idx < 0) None
      else {
        val dt = attr.dataType
        val legs = u.children.map(c => attrProof(c, c.output(idx)))
        if (legs.exists(_.isEmpty)) None
        else {
          val ps = legs.flatten
          val bounds =
            if (ps.exists(_.bounds.isEmpty)) None
            else {
              // all-null legs contribute no values (min/max ignore nulls)
              val vals = ps.flatMap(_.bounds.get)
              if (vals.isEmpty) Some(None)
              else Some(Some(vals.reduce { (a, b) =>
                (if (FileStats.cmp(dt, b._1, a._1) < 0) b._1 else a._1,
                  if (FileStats.cmp(dt, b._2, a._2) > 0) b._2 else a._2)
              }))
            }
          val nonNull =
            if (ps.exists(_.nonNull.isEmpty)) None
            else Some(ps.map(_.nonNull.get).sum)
          val sums =
            if (ps.exists(_.sum.isEmpty)) None
            else Some(ps.map(_.sum.get).sum)
          Some(ColumnProof(bounds, nonNull, sums))
        }
      }
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftManifestFileIndex => g.columnProofs.get(attr.name)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Exact `count(DISTINCT col)` over per-file facts: provable when
    * every non-empty file is either all-null in the column (distinct
    * ignores nulls) or POINT-VALUED (bounds min == max — identity
    * partition files by construction); the answer is the size of the
    * point-value set. FP columns excluded like group keys (a zero's
    * stored sign is widened). One non-point file → None. */
  private def distinctFromFacts(files: Seq[FileFacts], name: String,
      dt: DataType): Option[Long] = {
    if (!exactStatType(dt) || dt == FloatType || dt == DoubleType)
      return None
    val vals = scala.collection.mutable.Set.empty[String]
    files.foreach { f =>
      if (f.rows > 0L) {
        val cf = f.cols.getOrElse(name, return None)
        if (!cf.allNull) cf.bounds match {
          case Some((a, b)) if a == b => vals += a
          case _ => return None
        }
      }
    }
    Some(vals.size.toLong)
  }

  /** The constant one aggregate call folds to under the given proof
    * providers, or None = blocked. `relCount` answers `count(*)`;
    * `proofFor` answers `count(col)`/`min(col)`/`max(col)`;
    * `distinctFor` answers `count(DISTINCT col)` (point-valued files
    * only — see [[distinctFromFacts]]). */
  private def aggConstant(ae: AggregateExpression,
      relCount: () => Option[Long],
      proofFor: Attribute => Option[ColumnProof],
      distinctFor: Attribute => Option[Long]): Option[Any] =
    if (ae.isDistinct) ae.aggregateFunction match {
      case Count(Seq(a: Attribute)) if ae.filter.isEmpty =>
        distinctFor(a).map(n => n: Any)
      case _ => None
    }
    else if (ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      case Count(Seq(l: Literal)) if l.value != null =>
        relCount().map(n => n: Any)
      case Count(Seq(a: Attribute)) =>
        // null-skipping count(col) = Σ (rows − recorded nulls)
        proofFor(a).flatMap(_.nonNull).map(n => n: Any)
      case Min(a: Attribute) if exactStatType(a.dataType) =>
        proofFor(a).flatMap(_.bounds).map(_.map(b =>
          internalValue(a.dataType, b._1)).orNull)
      case Max(a: Attribute) if exactStatType(a.dataType) =>
        proofFor(a).flatMap(_.bounds).map(_.map(b =>
          internalValue(a.dataType, b._2)).orNull)
      // SUM over an integral column with recorded per-file sums — a
      // rewrite even Iceberg's DSv2 pushdown does not attempt. Under
      // LEGACY eval the exact BigInt fold equals Spark's LongType sum
      // iff it fits in Long (Long addition wraps modulo 2⁶⁴, so an
      // in-range total is returned exactly whatever the intermediate
      // excursions); an out-of-range fold blocks the rewrite so the
      // scan keeps Spark's own overflow semantics. ANSI/TRY modes need
      // [[sumModeSafe]]'s single-sign proof on top (see there). FP
      // sums are never recorded (order-dependent in Spark itself), and
      // Average is deliberately NOT folded: Spark accumulates it in
      // double, so an exact sum/count division could differ in ulps
      // from the scan — spell avg as sum(x)/count(x) to ride the
      // exact legs.
      case s: Sum => s.child match {
        case a: Attribute if FileStats.supportsExactSum(a.dataType) &&
            ae.dataType == LongType =>
          proofFor(a).flatMap { p =>
            (p.sum, p.nonNull) match {
              case (Some(v), Some(nn)) =>
                if (nn == 0L) Some(null)
                else if (v.isValidLong && sumModeSafe(s, p)) Some(v.toLong: Any)
                else None
              case _ => None
            }
          }
        case _ => None
      }
      case _ => None
    }

  /** Under ANSI/TRY evaluation the SCAN can throw (or return NULL) on
    * an INTERMEDIATE partial-sum overflow even when the exact total is
    * in range — e.g. rows `[Long.MAX, 1, -2]` — and that is a
    * row-order property no file statistic can witness in general, so
    * folding there would return a value where Spark's own execution
    * does not. The fold stays enabled under those modes only when the
    * folded bounds prove the column SINGLE-SIGNED (all values ≥ 0, or
    * all ≤ 0): partial sums are then monotone, bounded by the in-range
    * total, and the scan can never overflow — fold ≡ scan exactly.
    * LEGACY mode needs no guard (see the caller's comment). */
  private def sumModeSafe(s: Sum, p: ColumnProof): Boolean = {
    val guarded = s.evalContext.evalMode != EvalMode.LEGACY ||
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    !guarded || (p.bounds match {
      case Some(Some((mn, mx))) =>
        scala.util.Try(BigInt(mn) >= 0 || BigInt(mx) <= 0)
          .getOrElse(false)
      case Some(None) => true // proven all-null: nothing accumulates
      case None => false
    })
  }

  /** The constant this output expression folds to, or None = blocked.
    * Every aggregate call inside it must answer from the manifest; the
    * surrounding expression tree (what CollapseProject merged into the
    * Aggregate — `max(k) − min(k)`, `unix_micros(max(ts))`, …) then
    * folds by ordinary evaluation over the substituted constants. */
  private def constantFor(e: NamedExpression,
      relCount: () => Option[Long],
      proofFor: Attribute => Option[ColumnProof],
      distinctFor: Attribute => Option[Long]): Option[Any] = e match {
    case Alias(expr, _) =>
      var ok = true
      val substituted = expr.transformUp {
        case ae: AggregateExpression =>
          aggConstant(ae, relCount, proofFor, distinctFor) match {
            case Some(v) => Literal(v, ae.dataType)
            case None => ok = false; ae
          }
      }
      if (!ok || !substituted.deterministic ||
          substituted.references.nonEmpty) None
      else scala.util.Try(substituted.eval(InternalRow.empty)).toOption
    case _ => None
  }

  // ------------------------------------------------- grouped rewrite

  /** Resolve `attr` through alias-only Projects to the manifest index
    * and the relation-level (physical) column name. No Union support —
    * the grouped rewrite requires one single-era relation. */
  private def resolveAttr(p: LogicalPlan, attr: Attribute)
      : Option[(GraftManifestFileIndex, String)] = p match {
    case Project(projList, child) =>
      projList.find(_.exprId == attr.exprId) match {
        case Some(ar: AttributeReference) => resolveAttr(child, ar)
        case Some(Alias(ar: AttributeReference, _)) => resolveAttr(child, ar)
        case _ => None
      }
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftManifestFileIndex if l.output.exists(
          _.exprId == attr.exprId) => Some((g, attr.name))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Fold one group of files into a [[ColumnProof]] (same math as the
    * relation-wide fold in [[LakeTable]], per group). */
  private def foldProofs(files: Seq[FileFacts], name: String,
      dt: DataType): ColumnProof = {
    var mn: String = null; var mx: String = null; var any = false
    var boundsOk = exactStatType(dt)
    var nonNull = 0L; var nonNullOk = true
    var sumAcc = BigInt(0)
    var sumOk = FileStats.supportsExactSum(dt)
    files.foreach { f =>
      val cf = f.cols.getOrElse(name, ColFacts(None, f.rows == 0L, None))
      if (boundsOk) cf.bounds match {
        case Some((a, b)) =>
          if (!any) { mn = a; mx = b; any = true }
          else {
            if (FileStats.cmp(dt, a, mn) < 0) mn = a
            if (FileStats.cmp(dt, b, mx) > 0) mx = b
          }
        case None => if (!cf.allNull) boundsOk = false
      }
      if (nonNullOk) cf.nulls match {
        case Some(n) => nonNull += f.rows - n
        case None =>
          if (cf.allNull) () // zero non-null rows, nothing to add
          else if (f.rows != 0L) nonNullOk = false
      }
      if (sumOk) cf.sum match {
        case Some(s) => sumAcc += s
        // all-null / empty files contribute zero even without the stat
        // (written before write.agg.columns was set)
        case None => if (!(f.rows == 0L || cf.allNull)) sumOk = false
      }
    }
    if (boundsOk && any && !exactFoldedBounds(dt, mn, mx)) boundsOk = false
    ColumnProof(
      if (boundsOk) Some(if (any) Some((mn, mx)) else None) else None,
      if (nonNullOk) Some(nonNull) else None,
      if (sumOk) Some(sumAcc) else None)
  }

  /** GROUPED metadata aggregate: `SELECT g, count(*), min(x), … GROUP
    * BY g` folds per group of files when every file's rows provably
    * share ONE value of `g` — point bounds (min == max) with zero
    * recorded nulls, or proven all-null (the NULL group). Files written
    * under identity partitioning satisfy this by construction (the dir
    * value is a per-file point stat), so partition-profile queries on a
    * 100 TB table answer with zero data I/O — a rewrite even Iceberg's
    * DSv2 pushdown does not attempt (it is global-only). Any file that
    * straddles group values, any second grouping column, or any
    * unresolvable output falls back to the normal scan. */
  private def groupedRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val gAttrs = agg.groupingExpressions.map {
      // FP GROUP KEYS are excluded outright (not just zero-guarded):
      // Spark normalizes ±0.0/NaN in grouping keys
      // (NormalizeFloatingNumbers), so a decoded dir/point value could
      // differ in sign from the scan's normalized key. In practice the
      // normalization wrapper already breaks the bare-Attribute pattern
      // before this rule runs — this is defense in depth, not plan
      //-ordering reliance. FP MEASURES (min(x)/max(x)) stay eligible
      // via the exactFoldedBounds guard in foldProofs.
      case a: Attribute if exactStatType(a.dataType) &&
        a.dataType != FloatType && a.dataType != DoubleType => a
      case _ => return None
    }
    if (gAttrs.isEmpty) return None
    // ONE Filter in the chain composes with the grouped fold: groups
    // form over the PROVEN matching files only (filteredFacts — same
    // contract as the global filtered leg); attributes then resolve
    // through the filter. No filter → all files.
    val filterSplit = findFilter(agg.child)
    val resolve: (LogicalPlan, Attribute) =>
        Option[(GraftManifestFileIndex, String)] =
      if (filterSplit.isDefined) resolveAttrF else resolveAttr
    val resolved = gAttrs.map(a =>
      resolve(agg.child, a).getOrElse(return None))
    val idx = resolved.head._1
    if (!resolved.forall(_._1 eq idx)) return None
    val gNames = resolved.map(_._2)
    val files = (filterSplit match {
      case Some((cond, below)) =>
        physicalCond(cond, below, idx).flatMap(idx.filteredFacts)
      case None => Some(idx.fileFacts)
    }).getOrElse(return None)
    // assign every file wholly to one group (a point value or NULL per
    // grouping column), or give up
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Option[String]],
        scala.collection.mutable.ArrayBuffer[FileFacts]]
    files.foreach { f =>
      if (f.rows > 0L) {
        val key: Seq[Option[String]] = gNames.map { gName =>
          val cf = f.cols.getOrElse(gName, return None)
          cf.bounds match {
            case Some((a, b)) if a == b && cf.nulls.contains(0L) => Some(a)
            case _ if cf.allNull => None
            case _ => return None
          }
        }
        groups.getOrElseUpdate(key,
          scala.collection.mutable.ArrayBuffer.empty) += f
      }
    }
    // per group: substitute the grouping attrs and every aggregate call
    // with constants, then fold the surrounding expression
    val rows = groups.toSeq.map { case (key, gf) =>
      val keyValues: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
          (Any, DataType)] =
        gAttrs.zip(key).map { case (a, k) =>
          a.exprId -> (k.map(internalValue(a.dataType, _)).orNull,
            a.dataType)
        }.toMap
      val values = agg.aggregateExpressions.map { ne =>
        val (expr, ok0) = ne match {
          case Alias(e, _) => (e, true)
          case a: Attribute if keyValues.contains(a.exprId) =>
            (a: Expression, true)
          case _ => (ne: Expression, false)
        }
        if (!ok0) return None
        var ok = true
        val substituted = expr.transformUp {
          case a: Attribute if keyValues.contains(a.exprId) =>
            val (v, dt) = keyValues(a.exprId)
            Literal(v, dt)
          case ae: AggregateExpression =>
            (if (ae.isDistinct || ae.filter.nonEmpty) None
            else ae.aggregateFunction match {
              case Count(Seq(l: Literal)) if l.value != null =>
                Some(gf.map(_.rows).sum: Any)
              case Count(Seq(a: Attribute)) =>
                resolve(agg.child, a) match {
                  case Some((i2, n2)) if i2 eq idx =>
                    foldProofs(gf.toSeq, n2, a.dataType).nonNull
                      .map(n => n: Any)
                  case _ => None
                }
              case Min(a: Attribute) if exactStatType(a.dataType) =>
                resolve(agg.child, a) match {
                  case Some((i2, n2)) if i2 eq idx =>
                    foldProofs(gf.toSeq, n2, a.dataType).bounds
                      .map(_.map(b => internalValue(a.dataType, b._1))
                        .orNull)
                  case _ => None
                }
              case Max(a: Attribute) if exactStatType(a.dataType) =>
                resolve(agg.child, a) match {
                  case Some((i2, n2)) if i2 eq idx =>
                    foldProofs(gf.toSeq, n2, a.dataType).bounds
                      .map(_.map(b => internalValue(a.dataType, b._2))
                        .orNull)
                  case _ => None
                }
              case s: Sum => s.child match {
                case a: Attribute
                    if FileStats.supportsExactSum(a.dataType) &&
                      ae.dataType == LongType =>
                  resolve(agg.child, a) match {
                    case Some((i2, n2)) if i2 eq idx =>
                      val p = foldProofs(gf.toSeq, n2, a.dataType)
                      (p.sum, p.nonNull) match {
                        case (Some(v), Some(nn)) =>
                          if (nn == 0L) Some(null)
                          else if (v.isValidLong && sumModeSafe(s, p))
                            Some(v.toLong: Any)
                          else None
                        case _ => None
                      }
                    case _ => None
                  }
                case _ => None
              }
              case _ => None
            }) match {
              case Some(v) => Literal(v, ae.dataType)
              case None => ok = false; ae
            }
        }
        if (!ok || !substituted.deterministic ||
            substituted.references.nonEmpty) return None
        scala.util.Try(substituted.eval(InternalRow.empty))
          .getOrElse(return None)
      }
      InternalRow.fromSeq(values)
    }
    Some(LocalRelation(agg.output, rows,
      isStreaming = false, stream = None))
  }

  // ------------------------------------------------- filtered rewrite

  /** Resolve `attr` like [[resolveAttr]] but ALSO through Filter nodes
    * (attribute-transparent). Used ONLY by the filtered rewrite, where
    * the filter's effect is carried by the facts subset — the grouped
    * rewrite must keep the strict walk (a filter it looked through
    * would silently be ignored). */
  private def resolveAttrF(p: LogicalPlan, attr: Attribute)
      : Option[(GraftManifestFileIndex, String)] = p match {
    case org.apache.spark.sql.catalyst.plans.logical.Filter(_, child) =>
      resolveAttrF(child, attr)
    case Project(projList, child) =>
      projList.find(_.exprId == attr.exprId) match {
        case Some(ar: AttributeReference) => resolveAttrF(child, ar)
        case Some(Alias(ar: AttributeReference, _)) =>
          resolveAttrF(child, ar)
        case _ => None
      }
    case _ => resolveAttr(p, attr)
  }

  /** Metadata rewrite of `SELECT min/max/count … FROM t WHERE cond`:
    * when the alias-only Project chain holds exactly one Filter over a
    * manifest-backed relation and the manifest PROVES the file split
    * (every possibly-matching file all-match, the rest no-match — the
    * same per-file prover metadata-only DELETE uses), the aggregates
    * fold over the matching files' facts. Partition-scoped freshness
    * probes (`WHERE part = v`) answer with zero data I/O at any scale;
    * range conditions answer exactly when they align with file bounds
    * (a straddling file blocks the proof and the query runs normally).
    * Zero matching files folds to SQL's empty-input row: count 0,
    * min/max NULL. */
  /** The single Filter in an alias-only Project chain, with the plan
    * below it. None = no filter at the top of the chain (a deeper one,
    * or any non-alias shape, leaves the chain unmatched elsewhere). */
  private def findFilter(p: LogicalPlan)
      : Option[(Expression, LogicalPlan)] = p match {
    case Project(projList, child) if projList.forall {
        case _: AttributeReference => true
        case Alias(_: AttributeReference, _) => true
        case _ => false
      } => findFilter(child)
    case org.apache.spark.sql.catalyst.plans.logical
        .Filter(cond, child) => Some((cond, child))
    case _ => None
  }

  /** `cond` rebased to `idx`'s physical column names — None when any
    * referenced attribute does not resolve to exactly `idx`, the
    * condition is non-deterministic, or it references nothing (a
    * constant filter is not this rewrite's business). */
  private def physicalCond(cond: Expression, below: LogicalPlan,
      idx: GraftManifestFileIndex): Option[Expression] = {
    if (!cond.deterministic) return None
    val condAttrs = cond.references.toSeq
    if (condAttrs.isEmpty) return None
    val resolved = condAttrs.map(a =>
      a -> resolveAttr(below, a).getOrElse(return None))
    if (!resolved.forall(_._2._1 eq idx)) return None
    val nameOf = resolved.map { case (a, (_, n)) => a.exprId -> n }.toMap
    Some(cond.transformUp {
      case a: AttributeReference if nameOf.contains(a.exprId) =>
        a.withName(nameOf(a.exprId))
    })
  }

  private def filteredRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (cond, below) = findFilter(agg.child).getOrElse(return None)
    // derive the index from the condition's own attributes
    val anchor = cond.references.toSeq.headOption
      .flatMap(a => resolveAttr(below, a)).getOrElse(return None)
    val idx = anchor._1
    val physCond = physicalCond(cond, below, idx).getOrElse(return None)
    val facts = idx.filteredFacts(physCond).getOrElse(return None)
    val relCount = () => Some(facts.map(_.rows).sum)
    def proofFor(a: Attribute): Option[ColumnProof] =
      resolveAttrF(agg.child, a) match {
        case Some((i2, n2)) if i2 eq idx =>
          Some(foldProofs(facts, n2, a.dataType))
        case _ => None
      }
    def distinctFor(a: Attribute): Option[Long] =
      resolveAttrF(agg.child, a) match {
        case Some((i2, n2)) if i2 eq idx =>
          distinctFromFacts(facts, n2, a.dataType)
        case _ => None
      }
    val values = agg.aggregateExpressions
      .map(constantFor(_, relCount, proofFor, distinctFor))
    if (values.forall(_.isDefined))
      Some(LocalRelation(agg.output,
        Seq(InternalRow.fromSeq(values.map(_.get))),
        isStreaming = false, stream = None))
    else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate
        if agg.groupingExpressions.isEmpty &&
          agg.aggregateExpressions.nonEmpty =>
      def distinctFor(a: Attribute): Option[Long] =
        resolveAttr(agg.child, a) match {
          case Some((idx, n)) =>
            distinctFromFacts(idx.fileFacts, n, a.dataType)
          case None => None
        }
      val values = agg.aggregateExpressions.map(constantFor(_,
        () => relationCount(agg.child), attrProof(agg.child, _),
        distinctFor))
      if (values.forall(_.isDefined))
        LocalRelation(agg.output,
          Seq(InternalRow.fromSeq(values.map(_.get))),
          isStreaming = false, stream = None)
      else filteredRewrite(agg).getOrElse(agg)
    case agg: Aggregate if agg.aggregateExpressions.nonEmpty =>
      groupedRewrite(agg).getOrElse(agg)
  }
}
