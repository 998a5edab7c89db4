package graft.lake

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.expressions.{Literal => ConnectorLiteral, Transform => ConnectorTransform}
import org.apache.spark.sql.functions._

/** SQL text front-end for the lake layer's DML and time travel — the
  * entry point that lets the reference's literal query strings run
  * unchanged (reference: scripts/bronze-silver.py:213 executes a
  * `MERGE INTO … USING (dedup-window subquery) … WHEN MATCHED THEN
  * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` string, text at
  * :254-269; the ON clause is literally truncated there — the key is
  * `invoiceid` per the dedup partition key at :261).
  *
  * Parsing is Spark's OWN SQL parser (`sessionState.sqlParser`), not a
  * regex: the statement arrives as a Catalyst plan node
  * ([[MergeIntoTable]] / [[DeleteFromTable]] / [[UpdateTable]] /
  * [[RelationTimeTravel]]) and is routed to the corresponding
  * [[LakeTable]] operation. The MERGE source subquery is executed
  * as-is against the session's temp views (the reference registers its
  * batch as `__temp_table`, scripts/bronze-silver.py:210); everything
  * non-DML falls through to plain `spark.sql`.
  */
object LakeSql {

  // MATERIALIZED VIEW DDL is not in Spark's grammar — matched on text
  // before parsing (the body SELECT is parsed with Spark's parser)
  private val CreateMvRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.+?)\s*;?\s*$""").r
  private val DropMvRe =
    ("""(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""").r

  def run(cat: LakeCatalog, ns: String, query: String): DataFrame = {
    val spark = cat.spark
    query match {
      case CreateMvRe(name, body) =>
        return createMaterializedView(cat, ns, name, body)
      case DropMvRe(ifExists, name) =>
        return dropMaterializedView(cat, ns, name, ifExists != null)
      case _ => ()
    }
    val parsed =
      // on a parse error fall through to spark.sql so the user sees
      // Spark's own ParseException, not a second-hand one
      try spark.sessionState.sqlParser.parsePlan(query)
      catch { case _: Exception => return spark.sql(query) }
    parsed match {
      case dml @ (_: MergeIntoTable | _: DeleteFromTable | _: UpdateTable |
          _: InsertIntoStatement | _: CreateTable | _: CreateTableAsSelect |
          _: DropTable | _: AddColumns | _: RenameColumn | _: DropColumns |
          _: AlterColumns | _: RenameTable | _: SetTableProperties |
          _: UnsetTableProperties | _: TruncateTable |
          _: AddCheckConstraint | _: DropConstraint |
          _: OverwriteByExpression) =>
        val out = dml match {
          case m: MergeIntoTable => merge(cat, ns, m)
          case d: DeleteFromTable => delete(cat, ns, d)
          // TRUNCATE TABLE ≡ unconditional DELETE: with per-file stats
          // present this is a pure metadata commit (allRowsMatch accepts
          // the TRUE literal), history/time-travel preserved
          case tr: TruncateTable =>
            cat.loadTable(ns, tableNameOf(tr.table))
              .delete(org.apache.spark.sql.functions.lit(true))
            cat.spark.emptyDataFrame
          case u: UpdateTable => update(cat, ns, u)
          case i: InsertIntoStatement => insert(cat, ns, i)
          // `INSERT INTO t REPLACE WHERE cond SELECT …` — Spark's own
          // v2 grammar for predicate-scoped overwrite → replaceWhere
          case o: OverwriteByExpression =>
            val lt = cat.loadTable(ns, tableNameOf(o.table))
            val df0 = GraftSqlBridge.ofRows(cat.spark, o.query)
            val fields = lt.schema.fieldNames
            require(o.isByName || df0.columns.length == fields.length,
              s"REPLACE WHERE provides ${df0.columns.length} columns " +
                s"for ${fields.length} table columns")
            val rows = if (o.isByName) df0 else df0.toDF(fields: _*)
            lt.overwriteWhere(rows,
              columnOf(o.deleteExpr, aliasNamesOf(o.table)))
            cat.spark.emptyDataFrame
          case c: CreateTable => create(cat, ns, c)
          case c: CreateTableAsSelect => createAsSelect(cat, ns, c)
          case d: DropTable => drop(cat, ns, d)
          case a: AddColumns => alterAddColumns(cat, ns, a)
          case r: RenameColumn => alterRenameColumn(cat, ns, r)
          case d: DropColumns => alterDropColumns(cat, ns, d)
          case a: AlterColumns => alterColumns(cat, ns, a)
          case r: RenameTable =>
            if (r.isView) throw new UnsupportedOperationException(
              "RENAME VIEW is not a lake operation")
            cat.renameTable(ns, tableNameOf(r.child), r.newName.last)
            cat.spark.emptyDataFrame
          case s: SetTableProperties =>
            cat.loadTable(ns, tableNameOf(s.table))
              .setProperties(s.properties)
            cat.spark.emptyDataFrame
          case u: UnsetTableProperties =>
            cat.loadTable(ns, tableNameOf(u.table))
              .unsetProperties(u.propertyKeys)
            cat.spark.emptyDataFrame
          // ALTER TABLE … ADD CONSTRAINT name CHECK (cond): the parsed
          // node carries the condition both as an expression (wrapped
          // in a validation Filter) and as its original SQL text — the
          // text is what we store and re-parse at write time
          case ac: AddCheckConstraint =>
            val cc = ac.checkConstraint
            cat.loadTable(ns, cc.tableName)
              .addCheckConstraint(cc.name, cc.condition)
            cat.spark.emptyDataFrame
          case dc: DropConstraint =>
            cat.loadTable(ns, tableNameOf(dc.child))
              .dropCheckConstraint(dc.name, dc.ifExists)
            cat.spark.emptyDataFrame
        }
        // re-register so the caller's NEXT statement sees the new state
        cat.registerViews(ns)
        out
      // ANALYZE TABLE … COMPUTE STATISTICS [NOSCAN | FOR COLUMNS …]
      case a: AnalyzeTable =>
        require(a.partitionSpec.isEmpty || a.partitionSpec.values
            .forall(_.isEmpty),
          "partition-scoped ANALYZE is not supported — stats are " +
            "table-level (the manifest already carries per-file counts)")
        cat.loadTable(ns, tableNameOf(a.child)).analyze()
        cat.registerViews(ns)
        cat.spark.emptyDataFrame
      case a: AnalyzeColumn =>
        val lt = cat.loadTable(ns, tableNameOf(a.child))
        val cols =
          if (a.allColumns) lt.schema.fields
            .filter(f => LakeTable.isScalarType(f.dataType))
            .map(_.name).toSeq
          else a.columnNames.getOrElse(Nil)
        lt.analyzeColumns(cols)
        cat.registerViews(ns)
        cat.spark.emptyDataFrame
      // stored SQL views (≡ Iceberg views: the ORIGINAL text persists
      // in catalog metadata, late-bound at each registration)
      case cv: CreateView =>
        val name = cv.child match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => u.nameParts.last
          case other => throw new UnsupportedOperationException(
            s"cannot resolve view name: ${other.getClass.getSimpleName}")
        }
        val text = cv.originalText.getOrElse(
          throw new UnsupportedOperationException(
            "CREATE VIEW requires an AS <query> text"))
        cat.createView(ns, name, text, replace = cv.replace)
        cat.spark.emptyDataFrame
      case dv: DropView =>
        val name = dv.child match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => u.nameParts.last
          case other => throw new UnsupportedOperationException(
            s"cannot resolve view name: ${other.getClass.getSimpleName}")
        }
        cat.dropView(ns, name, ifExists = dv.ifExists)
        cat.spark.emptyDataFrame
      case _: ShowViews => cat.showViews(ns)
      // metadata statements (read-only, no view re-registration needed)
      case s: ShowPartitions => showPartitions(cat, ns, s)
      case d: DescribeRelation => describeTable(cat, ns, d)
      case s: ShowCreateTable => showCreateTable(cat, ns, s)
      case s: ShowTableProperties => showTableProperties(cat, ns, s)
      // maintenance procedures (≡ Iceberg's CALL system.* procedures)
      case c: Call => call(cat, ns, c)
      // CDC changelog TVF (≡ Delta's table_changes spelling)
      case p if p.collectFirst {
          case t: UnresolvedTableValuedFunction
              if t.name.last.equalsIgnoreCase("table_changes") => t
        }.isDefined => tableChanges(cat, ns, p)
      case p if p.collectFirst { case t: RelationTimeTravel => t }.isDefined =>
        timeTravel(cat, ns, p)
      case _ => spark.sql(query)
    }
  }

  /** `SHOW PARTITIONS t` → the hive-style partition directory values of
    * the current snapshot (from the manifest-chunk-backed `.partitions`
    * view — no data is read). */
  private def showPartitions(cat: LakeCatalog, ns: String,
      s: ShowPartitions): DataFrame = {
    val lt = cat.loadTable(ns, tableNameOf(s.table))
    require(lt.partitionColumns.nonEmpty,
      s"table ${tableNameOf(s.table)} is not partitioned")
    lt.partitions.select(col("partition")).orderBy("partition")
  }

  /** `DESCRIBE [EXTENDED] t` → (col_name, data_type, comment) rows in
    * Spark's layout, with the partition-information section (spec
    * strings, so hidden transforms like `bucket(4, id)` show as such). */
  private def describeTable(cat: LakeCatalog, ns: String,
      d: DescribeRelation): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    val lt = cat.loadTable(ns, tableNameOf(d.relation))
    val cols = lt.schema.fields.toSeq.map(f =>
      (f.name, f.dataType.sql.toLowerCase,
        LakeTable.defaultSqlOf(f, LakeTable.CurrentDefaultKey)
          .map(s => s"default: $s").orNull))
    val parts =
      if (lt.partitionColumns.isEmpty) Nil
      else ("# Partition Information", null: String, null: String) +:
        lt.partitionColumns.map(p => (p, null: String, null: String))
    // EXTENDED: ANALYZE-recorded statistics, when present
    val stats =
      if (!d.isExtended) Nil
      else lt.properties.get(LakeTable.PROP_STATS_ROWS).toSeq.flatMap { n =>
        Seq(("# Statistics", null: String, null: String),
          ("Statistics", s"${lt.properties.getOrElse(
            LakeTable.PROP_STATS_BYTES, "?")} bytes, $n rows",
            null: String))
      }
    (cols ++ parts ++ stats).toDF("col_name", "data_type", "comment")
  }

  /** `SHOW CREATE TABLE t` → one `createtab_stmt` row reconstructing
    * the DDL this surface itself accepts (columns, PARTITIONED BY
    * transforms, TBLPROPERTIES, LOCATION). */
  private def showCreateTable(cat: LakeCatalog, ns: String,
      s: ShowCreateTable): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    val name = tableNameOf(s.child)
    val lt = cat.loadTable(ns, name)
    val colsDdl = lt.schema.fields
      .map { f =>
        val dflt = LakeTable.defaultSqlOf(f, LakeTable.CurrentDefaultKey)
          .map(d => s" DEFAULT $d").getOrElse("")
        s"  ${f.name} ${f.dataType.sql}$dflt"
      }.mkString(",\n")
    val partDdl =
      if (lt.partitionColumns.isEmpty) ""
      else s"\nPARTITIONED BY (${lt.partitionColumns.mkString(", ")})"
    val props = lt.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => s"'$k' = '$v'" }
    val propsDdl =
      if (props.isEmpty) ""
      else s"\nTBLPROPERTIES (${props.mkString(", ")})"
    val stmt = s"CREATE TABLE $ns.$name (\n$colsDdl)\nUSING graft" +
      partDdl + propsDdl + s"\nLOCATION '${lt.root}'"
    Seq(stmt).toDF("createtab_stmt")
  }

  /** `SHOW TBLPROPERTIES t [('key')]` → (key, value) rows. */
  private def showTableProperties(cat: LakeCatalog, ns: String,
      s: ShowTableProperties): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    val lt = cat.loadTable(ns, tableNameOf(s.table))
    val all = lt.properties.toSeq.sortBy(_._1)
    s.propertyKey.fold(all)(k => all.filter(_._1 == k))
      .toDF("key", "value")
  }

  /** `MERGE INTO t USING src ON t.k = src.k WHEN MATCHED THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *` → [[LakeTable.merge]]. The
    * star-shape is the reference's (and the engine's) upsert contract;
    * other action lists are rejected loudly rather than half-applied. */
  private def merge(cat: LakeCatalog, ns: String,
      m: MergeIntoTable): DataFrame = {
    // `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE` — full-sync
    // deletes; the cond is a target-side predicate (qualifiers
    // stripped). A non-star NMBS list routes to the general path.
    val starNmbs: Option[Option[org.apache.spark.sql.Column]] =
      m.notMatchedBySourceActions match {
        case Seq() => Some(None)
        case Seq(DeleteAction(c)) =>
          Some(Some(c.map(columnOf(_)).getOrElse(lit(true))))
        case _ => None
      }
    val keys = equiKeys(m.mergeCondition).getOrElse(
      throw new UnsupportedOperationException(
        "MERGE ON must be a conjunction of target.k = source.k " +
          s"equalities, got: ${m.mergeCondition.sql}"))
    val lt = cat.loadTable(ns, tableNameOf(m.targetTable))
    // the source subquery resolves against the session's temp views
    // (the reference's __temp_table pattern); extra projected columns
    // like the dedup row_num are dropped by merge's schema alignment
    val src = GraftSqlBridge.ofRows(cat.spark, m.sourceTable)
    // `MERGE WITH SCHEMA EVOLUTION` (Spark 4 syntax): the statement is
    // the opt-in — every source-only column joins the target schema
    // (nullable add; wider source types widen) BEFORE the merge plans,
    // so SET * / INSERT * carry the new columns and pre-existing rows
    // read them as NULL. Without the clause, extra source columns are
    // dropped by alignment as before.
    if (m.withSchemaEvolution) lt.evolveSchemaFor(src)
    val fields = lt.schema.fieldNames
    val norm = keys.map(k => fields.find(_.equalsIgnoreCase(k)).getOrElse(k))
    (m.matchedActions, m.notMatchedActions, starNmbs) match {
      // the reference's upsert shape (scripts/bronze-silver.py:254-269)
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)),
          Some(du)) =>
        lt.merge(src, norm, None, du)
      // NB: the CDC shape (`WHEN MATCHED AND cond THEN DELETE` before
      // the star pair) deliberately does NOT take the
      // merge(deleteWhen=…) translation: that API's documented contract
      // skips inserting unmatched delete-flagged rows, but SQL MERGE
      // semantics (Spark/Iceberg/Delta) insert them — the matched-only
      // DELETE clause cannot suppress a NOT MATCHED INSERT. The text
      // path must be SQL-conformant, so it routes to the general
      // first-match-wins evaluator; CDC feeds that want skip-insert
      // spell it `WHEN NOT MATCHED AND s.Op <> 'D' THEN INSERT *`, or
      // call the merge(deleteWhen=…) API directly.
      // pure keyed delete: every matched key drops, nothing inserts
      case (Seq(DeleteAction(None)), Seq(), Some(None)) =>
        lt.deleteByKeys(src.select(norm.map(col): _*).distinct(), norm)
      // everything else — per-clause conditions, explicit SET / INSERT
      // column lists, multiple MATCHED clauses — is the general
      // Iceberg-Spark MERGE surface
      case _ => generalMerge(cat, m, lt, norm, src)
    }
    cat.spark.emptyDataFrame
  }

  /** General MERGE: resolve every clause's names onto the `t.`/`s.`
    * sides of the joined plan [[LakeTable.mergeClauses]] evaluates
    * (NOT MATCHED BY SOURCE clauses resolve bare, target-only), map
    * `*` actions to star clauses, and keep Spark's first-match-wins
    * clause order. */
  private def generalMerge(cat: LakeCatalog, m: MergeIntoTable,
      lt: LakeTable, keys: Seq[String], src: DataFrame): Long = {
    val fields = lt.schema.fieldNames.toSeq
    val tgtNames = aliasNamesOf(m.targetTable)
    val srcNames = aliasNamesOf(m.sourceTable)
    val tgtFields = fields.map(_.toLowerCase).toSet
    val srcCols = src.columns.map(_.toLowerCase).toSet

    // bareToTarget: matched-clause expressions prefer the target for
    // bare names (both sides exist); NOT MATCHED sees only the source
    def qualify(e: Expression, bareToTarget: Boolean):
        org.apache.spark.sql.Column = {
      val q = e.transform {
        case a: UnresolvedAttribute =>
          val colName = a.nameParts.last
          if (a.nameParts.size > 1) {
            val qual = a.nameParts(a.nameParts.size - 2).toLowerCase
            if (tgtNames(qual)) UnresolvedAttribute(Seq("t", colName))
            else if (srcNames(qual)) UnresolvedAttribute(Seq("s", colName))
            else throw new IllegalArgumentException(
              s"MERGE expression has unknown qualifier: ${a.sql}")
          } else {
            val lc = colName.toLowerCase
            val side =
              if (bareToTarget && tgtFields(lc)) "t"
              else if (srcCols(lc)) "s"
              else if (tgtFields(lc)) "t"
              else throw new IllegalArgumentException(
                s"MERGE expression references unknown column: ${a.sql}")
            UnresolvedAttribute(Seq(side, colName))
          }
      }
      expr(q.sql)
    }
    def assignTarget(k: Expression): String = k match {
      case a: UnresolvedAttribute => a.nameParts.last
      case other => throw new UnsupportedOperationException(
        s"MERGE SET/INSERT target must be a column, got: ${other.sql}")
    }
    def assignsOf(as: Seq[Assignment], bareToTarget: Boolean):
        Map[String, org.apache.spark.sql.Column] =
      as.map(a => assignTarget(a.key) -> qualify(a.value, bareToTarget))
        .toMap
    val matched = m.matchedActions.map {
      case UpdateAction(c, as, _) =>
        MergeWhen(c.map(qualify(_, true)), Some(assignsOf(as, true)))
      // `SET *` / `INSERT *`: every target column from the source's
      // same-named column (resolution fails loudly if the source lacks one)
      case UpdateStarAction(c) => MergeWhen.star(c.map(qualify(_, true)))
      case DeleteAction(c) => MergeWhen(c.map(qualify(_, true)), None)
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertAction(c, as) =>
        MergeWhen(c.map(qualify(_, false)), Some(assignsOf(as, false)))
      case InsertStarAction(c) => MergeWhen.star(c.map(qualify(_, false)))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    // NMBS clauses run on the target plan pre-join: bare names only
    val nmbs = m.notMatchedBySourceActions.map {
      case DeleteAction(c) => MergeWhen(c.map(columnOf(_)), None)
      case UpdateAction(c, as, _) =>
        MergeWhen(c.map(columnOf(_)),
          Some(as.map(a => assignTarget(a.key) -> columnOf(a.value)).toMap))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    lt.mergeClauses(src, keys, matched, notMatched, nmbs)
  }

  /** The lowercase names a MERGE side answers to as a qualifier: its
    * alias if given, else the relation name. */
  private def aliasNamesOf(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(id, _) => Set(id.name.toLowerCase)
    case u: UnresolvedRelation =>
      Set(u.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** `INSERT INTO t [(cols)] SELECT …|VALUES …` → [[LakeTable.append]]
    * (or [[LakeTable.overwrite]] for `INSERT OVERWRITE`). Query columns
    * map POSITIONALLY onto the target list (SQL semantics — a VALUES
    * source has no meaningful names); target columns omitted from an
    * explicit list are null-filled by the write's schema alignment. */
  private def insert(cat: LakeCatalog, ns: String,
      i: InsertIntoStatement): DataFrame = {
    val lt = cat.loadTable(ns, tableNameOf(i.table))
    val positioned = alignedInsertRows(cat, lt, i)
    if (i.overwrite) {
      // dynamic mode (Spark's partitionOverwriteMode contract, also a
      // per-table property): INSERT OVERWRITE on an identity-partitioned
      // table replaces only the partitions present in the batch
      val dynamic = lt.properties.get("write.partition-overwrite-mode")
        .orElse(cat.spark.conf
          .getOption("spark.sql.sources.partitionOverwriteMode"))
        .exists(_.equalsIgnoreCase("dynamic")) &&
        lt.identityPartitionColumns.nonEmpty
      if (dynamic) lt.overwritePartitions(positioned)
      else lt.overwrite(positioned)
    } else lt.append(positioned)
    cat.spark.emptyDataFrame
  }

  /** The INSERT statement's source rows with SQL's positional column
    * mapping applied (shared by [[insert]] and [[runTransaction]]). */
  private def alignedInsertRows(cat: LakeCatalog, lt: LakeTable,
      i: InsertIntoStatement): DataFrame = {
    if (i.partitionSpec.nonEmpty) throw new UnsupportedOperationException(
      "static PARTITION specs are not supported — the table's own " +
        "partition spec derives partition values from the rows")
    val df = GraftSqlBridge.ofRows(cat.spark, i.query)
    if (i.byName) df // BY NAME: the write's schema alignment matches
    else {
      val fields = lt.schema.fieldNames
      val targetCols: Seq[String] =
        if (i.userSpecifiedCols.isEmpty) fields.toSeq
        else i.userSpecifiedCols.map(c =>
          fields.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"INSERT column $c not in table schema")))
      require(df.columns.length == targetCols.length,
        s"INSERT provides ${df.columns.length} columns for " +
          s"${targetCols.length} targets")
      df.toDF(targetCols: _*)
    }
  }

  /** Run `statements` as ONE multi-table transaction
    * ([[LakeCatalog.transaction]]): every statement must be a plain
    * `INSERT INTO … SELECT …|VALUES …` (the append-only shape the
    * transaction branches can stage — no OVERWRITE, no DML rewrite);
    * all of them publish atomically, or none do. Returns
    * table → published snapshot id. */
  def runTransaction(cat: LakeCatalog, ns: String,
      statements: Seq[String]): Map[String, Long] = {
    cat.useNamespace(ns)
    cat.registerViews(ns)
    val out = cat.transaction(ns) { txn =>
      statements.foreach { q =>
        cat.spark.sessionState.sqlParser.parsePlan(q) match {
          case i: InsertIntoStatement if !i.overwrite =>
            val table = tableNameOf(i.table)
            txn.append(table,
              alignedInsertRows(cat, cat.loadTable(ns, table), i))
          case other => throw new UnsupportedOperationException(
            "transactions support INSERT INTO statements only, got: " +
              other.getClass.getSimpleName)
        }
      }
    }
    cat.registerViews(ns)
    out
  }

  /** `CREATE TABLE t (cols) [PARTITIONED BY (…)] [TBLPROPERTIES (…)]`
    * → [[LakeCatalog.createTable]]. Partition transforms map onto the
    * engine's hidden-partitioning specs (identity, bucket(N, col),
    * days/months/years → day/month/year, truncate(W, col)). */
  private def create(cat: LakeCatalog, ns: String,
      c: CreateTable): DataFrame = {
    val name = tableNameOf(c.name)
    if (cat.tableExists(ns, name)) {
      if (c.ignoreIfExists) return cat.spark.emptyDataFrame
      throw new IllegalArgumentException(s"table $ns.$name already exists")
    }
    cat.createTable(ns, name, c.tableSchema,
      partitionBy = c.partitioning.map(specOf),
      properties = propertiesOf(c.tableSpec))
    cat.spark.emptyDataFrame
  }

  /** `CREATE TABLE t [PARTITIONED BY (…)] AS SELECT …` → create from
    * the query's schema, then append its rows. */
  private def createAsSelect(cat: LakeCatalog, ns: String,
      c: CreateTableAsSelect): DataFrame = {
    val name = tableNameOf(c.name)
    if (cat.tableExists(ns, name)) {
      if (c.ignoreIfExists) return cat.spark.emptyDataFrame
      throw new IllegalArgumentException(s"table $ns.$name already exists")
    }
    val df = GraftSqlBridge.ofRows(cat.spark, c.query)
    val lt = cat.createTable(ns, name, df.schema,
      partitionBy = c.partitioning.map(specOf),
      properties = propertiesOf(c.tableSpec))
    lt.append(df)
    cat.spark.emptyDataFrame
  }

  /** `DROP TABLE [IF EXISTS] t` → [[LakeCatalog.dropTable]]. */
  private def drop(cat: LakeCatalog, ns: String, d: DropTable): DataFrame = {
    val name = tableNameOf(d.child)
    if (!cat.tableExists(ns, name) && !d.ifExists)
      throw new IllegalArgumentException(s"no table $ns.$name")
    cat.dropTable(ns, name)
    // a dropped table's stale temp views would shadow future state
    Seq("", "_history", "_files", "_snapshots", "_partitions", "_refs",
      "_manifests").foreach(
      sfx => cat.spark.catalog.dropTempView(s"$name$sfx"))
    cat.spark.emptyDataFrame
  }

  /** `ALTER TABLE t ADD COLUMN(S) …` → [[LakeTable.addColumn]]
    * (metadata-only; nested fields and positioning unsupported). */
  private def alterAddColumns(cat: LakeCatalog, ns: String,
      a: AddColumns): DataFrame = {
    val lt = cat.loadTable(ns, tableNameOf(a.table))
    a.columnsToAdd.foreach { c =>
      if (c.path.nonEmpty) throw new UnsupportedOperationException(
        "nested ADD COLUMN is not supported")
      lt.addColumn(c.colName, c.dataType, nullable = c.nullable,
        defaultSql = c.default.map(_.originalSQL))
    }
    cat.spark.emptyDataFrame
  }

  /** `ALTER TABLE t RENAME COLUMN a TO b` → [[LakeTable.renameColumn]]. */
  private def alterRenameColumn(cat: LakeCatalog, ns: String,
      r: RenameColumn): DataFrame = {
    cat.loadTable(ns, tableNameOf(r.table))
      .renameColumn(r.column.name.last, r.newName)
    cat.spark.emptyDataFrame
  }

  /** `ALTER TABLE t ALTER COLUMN c TYPE …` →
    * [[LakeTable.widenColumnType]] (lossless promotions only — the
    * table API enforces the matrix). Other ALTER COLUMN clauses
    * (comment, position, default, nullability) aren't table state this
    * engine tracks, so they are refused loudly rather than ignored. */
  private def alterColumns(cat: LakeCatalog, ns: String,
      a: AlterColumns): DataFrame = {
    val lt = cat.loadTable(ns, tableNameOf(a.table))
    a.specs.foreach { s =>
      if (s.newComment.isDefined || s.newPosition.isDefined ||
        s.newDefaultExpression.isDefined || s.newNullability.isDefined ||
        s.dropDefault)
        throw new UnsupportedOperationException(
          "only ALTER COLUMN … TYPE <widening> is supported")
      val dt = s.newDataType.getOrElse(throw new UnsupportedOperationException(
        "ALTER COLUMN without TYPE has nothing to change"))
      lt.widenColumnType(s.column.name.last, dt)
    }
    cat.spark.emptyDataFrame
  }

  /** `ALTER TABLE t DROP COLUMN(S) …` → [[LakeTable.dropColumn]]. */
  private def alterDropColumns(cat: LakeCatalog, ns: String,
      d: DropColumns): DataFrame = {
    val lt = cat.loadTable(ns, tableNameOf(d.table))
    d.columnsToDrop.foreach { c =>
      val name = c.name.last
      if (!d.ifExists || lt.schema.fieldNames.contains(name))
        lt.dropColumn(name)
    }
    cat.spark.emptyDataFrame
  }

  /** Connector partition transform → the engine's spec string. The
    * literal/reference split is positional-order-agnostic. */
  private def specOf(t: ConnectorTransform): String = {
    val ref = t.references().flatMap(_.fieldNames()).mkString(".")
    lazy val lits = t.arguments().collect {
      case l: ConnectorLiteral[_] => l.value.toString
    }
    // SQL text may spell either form (`day(ts)` parses as an apply
    // transform named "day"; the DataFrame API canonicalizes to "days")
    t.name() match {
      case "identity" => ref
      case "bucket" => s"bucket(${lits.head}, $ref)"
      case "days" | "day" => s"day($ref)"
      case "months" | "month" => s"month($ref)"
      case "years" | "year" => s"year($ref)"
      case "truncate" => s"truncate(${lits.head}, $ref)"
      case other => throw new UnsupportedOperationException(
        s"partition transform $other not supported")
    }
  }

  private def propertiesOf(spec: TableSpecBase): Map[String, String] =
    spec match {
      case u: UnresolvedTableSpec => u.properties
      case t: TableSpec => t.properties
      case _ => Map.empty
    }

  /** `DELETE FROM t WHERE p` → [[LakeTable.delete]] (COW or MOR per
    * table properties). No WHERE parses as a true predicate. */
  private def delete(cat: LakeCatalog, ns: String,
      d: DeleteFromTable): DataFrame = {
    val lt = cat.loadTable(ns, tableNameOf(d.table))
    lt.delete(columnOf(d.condition, aliasNamesOf(d.table)))
    cat.spark.emptyDataFrame
  }

  /** `UPDATE t SET c = e, … [WHERE p]` → [[LakeTable.update]]. */
  private def update(cat: LakeCatalog, ns: String,
      u: UpdateTable): DataFrame = {
    val lt = cat.loadTable(ns, tableNameOf(u.table))
    val fields = lt.schema.fieldNames
    val assigns = u.assignments.map { a =>
      val name = a.key match {
        case k: UnresolvedAttribute => k.nameParts.last
        case other => throw new UnsupportedOperationException(
          s"UPDATE SET target must be a column, got: ${other.sql}")
      }
      fields.find(_.equalsIgnoreCase(name)).getOrElse(name) ->
        columnOf(a.value)
    }.toMap
    lt.update(u.condition.map(columnOf(_, aliasNamesOf(u.table)))
      .getOrElse(lit(true)), assigns)
    cat.spark.emptyDataFrame
  }

  /** `SELECT … FROM t VERSION AS OF n` / `TIMESTAMP AS OF ts`:
    * substitute each time-travel relation with the corresponding
    * [[LakeTable.scanAt]]/[[LakeTable.scanAtTimestamp]] plan and run
    * the rest of the statement unchanged — the spelling Iceberg gives
    * the reference's stack, which plain temp views cannot answer. */
  private def timeTravel(cat: LakeCatalog, ns: String,
      plan: LogicalPlan): DataFrame = {
    val spark = cat.spark
    val rewritten = plan.transformUp {
      case RelationTimeTravel(u: UnresolvedRelation, tsOpt, verOpt) =>
        val lt = cat.loadTable(ns, u.multipartIdentifier.last)
        val df = (verOpt, tsOpt) match {
          // numeric version = snapshot id; otherwise a named ref
          // (tag/branch — Iceberg's VERSION AS OF accepts both)
          case (Some(v), _) if v.forall(_.isDigit) => lt.scanAt(v.toLong)
          case (Some(v), _) => lt.scanRef(v)
          case (None, Some(ts)) => lt.scanAtTimestamp(evalMillis(spark, ts))
          case _ => lt.scan()
        }
        df.queryExecution.logical
    }
    GraftSqlBridge.ofRows(spark, rewritten)
  }

  /** `CALL system.<proc>('table', …)` → the lake maintenance surface
    * (≡ Iceberg's stored procedures: expire_snapshots,
    * rewrite_data_files, remove_orphan_files, rollback_to_snapshot,
    * tags/branches, WAP publish). Arguments are positional literals;
    * the first is always the table name. */
  private def call(cat: LakeCatalog, ns: String, c: Call): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    def arg(i: Int): Any = c.args(i) match {
      case l: Literal => l.value match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case v => v
      }
      case other => throw new UnsupportedOperationException(
        s"CALL arguments must be literals, got ${other.sql}")
    }
    def str(i: Int): String = arg(i).toString
    def lng(i: Int): Long = arg(i) match {
      case n: java.lang.Number => n.longValue
      case s => s.toString.toLong
    }
    val procName = c.procedure match {
      case org.apache.spark.sql.catalyst.analysis
          .UnresolvedProcedure(nameParts) => nameParts.last
      case other => throw new UnsupportedOperationException(
        s"cannot resolve procedure: ${other.getClass.getSimpleName}")
    }
    // catalog-level procedures (no table argument)
    procName.toLowerCase match {
      case "recover_transactions" =>
        // roll PREPARED-but-unfinished multi-table transactions forward
        val ids = cat.recoverTransactions(ns)
        cat.registerViews(ns)
        return ids.toDF("transaction_id")
      case "import_iceberg" =>
        // (metadata_json_path, table_name) — materialize an Iceberg v2
        // table (any writer's HadoopTables layout) as a NEW governed
        // table in the current namespace: IcebergImport.scan applies
        // the spec's full MOR semantics (position + sequence-aware
        // equality deletes, metadata-carried identity partitions), and
        // the copy lands as a clean baseline with no carried artifacts
        val tbl = str(1)
        require(!cat.tableExists(ns, tbl),
          s"table $ns.$tbl already exists")
        val back = IcebergImport.scan(spark, str(0))
        val imported = cat.createTable(ns, tbl, back.schema)
        imported.append(back)
        cat.registerViews(ns)
        return Seq((tbl, imported.currentSnapshotId.getOrElse(0L),
          imported.countRows()))
          .toDF("table", "snapshot_id", "row_count")
      case "import_delta" =>
        // (table_dir, table_name) — engine-free Delta log replay →
        // a NEW governed table (Delta twin of import_iceberg)
        val tbl = str(1)
        require(!cat.tableExists(ns, tbl),
          s"table $ns.$tbl already exists")
        val back = DeltaImport.scan(spark, str(0))
        val imported = cat.createTable(ns, tbl, back.schema)
        imported.append(back)
        cat.registerViews(ns)
        return Seq((tbl, imported.currentSnapshotId.getOrElse(0L),
          imported.countRows()))
          .toDF("table", "snapshot_id", "row_count")
      case "register_delta" =>
        // (table_dir, view_name[, version]) — FEDERATE a Delta table
        // in place: a temp view over the engine-free reader, no copy
        val df = DeltaImport.scan(spark, str(0),
          if (c.args.size > 2) Some(lng(2)) else None)
        df.createOrReplaceTempView(str(1))
        return Seq((str(1), str(0))).toDF("view", "table_dir")
      case "register_delta_lineage" =>
        // (table_dir, view_name[, version]) — federate a rowTracking
        // Delta table WITH row identity: the view carries `_row_id`
        // resolved by the fresh/materialized rule (refuses tables
        // whose protocol/config don't guarantee consistent ids)
        val df = DeltaImport.lineageScan(spark, str(0),
          if (c.args.size > 2) Some(lng(2)) else None)
        df.createOrReplaceTempView(str(1))
        return Seq((str(1), str(0))).toDF("view", "table_dir")
      case "register_iceberg" =>
        // (metadata_json_path, view_name) — federate an Iceberg table
        val df = IcebergImport.scan(spark, str(0))
        df.createOrReplaceTempView(str(1))
        return Seq((str(1), str(0))).toDF("view", "metadata_path")
      case "checkpoint_delta" =>
        // (delta_dir) — fold the published log into a parquet
        // checkpoint + _last_checkpoint
        return Seq(DeltaExport.checkpoint(spark, str(0)))
          .toDF("checkpoint_version")
      case "cleanup_delta" =>
        // (delta_dir [, retention_ms]) — delete aged commit JSONs at
        // or below the checkpoint version (Delta's log retention)
        val deleted = DeltaExport.cleanupLog(spark, str(0),
          if (c.args.size > 1) lng(1) else 30L * 24 * 3600 * 1000)
        return Seq(deleted).toDF("deleted_commits")
      case _ => ()
    }
    val lt = cat.loadTable(ns, str(0))
    val out: DataFrame = procName.toLowerCase match {
      case "refresh_mv" => // (mv_table) — definition rides the table
        val snap = IncrementalMv.refreshByName(cat, ns, str(0))
        val applied = cat.loadTable(ns, str(0)).properties
          .get(IncrementalMv.WatermarkProp).map(_.toLong).getOrElse(0L)
        Seq((snap, applied))
          .toDF("snapshot_id", "applied_source_snapshot")
      case "refresh_scd2" => // (dim_table) — definition rides the table
        val snap = ScdDimension.refreshByName(cat, ns, str(0))
        val applied = cat.loadTable(ns, str(0)).properties
          .get(ScdDimension.WatermarkProp).map(_.toLong).getOrElse(0L)
        Seq((snap, applied))
          .toDF("snapshot_id", "applied_source_snapshot")
      case "scd2_staleness" => // (dim_table) — driver arithmetic only
        val (src, applied, head, pending, stale) =
          ScdDimension.staleness(cat, ns, str(0))
        Seq((str(0), src, applied, head, pending, stale)).toDF(
          "dimension", "source_table", "applied_source_snapshot",
          "source_head", "pending_commits", "is_stale")
      case "mv_staleness" => // (mv_table) — driver arithmetic only
        val (src, applied, head, pending, stale) =
          IncrementalMv.staleness(cat, ns, str(0))
        Seq((str(0), src, applied, head, pending, stale)).toDF(
          "mv", "source_table", "applied_source_snapshot",
          "source_head", "pending_commits", "is_stale")
      case "expire_snapshots" =>
        lt.expireSnapshots(lng(1).toInt)
        Seq(lt.currentSnapshotId.getOrElse(0L)).toDF("current_snapshot_id")
      case "expire_snapshots_older_than" =>
        val cutoffMs = c.args(1) match {
          // a TIMESTAMP literal carries epoch MICROS
          case l: Literal if l.dataType ==
              org.apache.spark.sql.types.TimestampType =>
            l.value.asInstanceOf[Long] / 1000L
          case _ => lng(1)
        }
        lt.expireSnapshotsOlderThan(cutoffMs)
        Seq(lt.currentSnapshotId.getOrElse(0L)).toDF("current_snapshot_id")
      case "rewrite_data_files" => // (tbl[, files_per_partition[, zorder]])
        val target = if (c.args.size > 1) lng(1).toInt else 1
        val cols = if (c.args.size > 2)
          str(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq else Nil
        Seq(lt.compact(target, cols)).toDF("snapshot_id")
      case "compact_where" => // (tbl, predicate_sql[, files_per_partition])
        val target = if (c.args.size > 2) lng(2).toInt else 1
        Seq(lt.compactWhere(expr(str(1)), target)).toDF("snapshot_id")
      case "rewrite_small_files" => // (tbl, target_bytes[, min_input])
        val minIn = if (c.args.size > 2) lng(2).toInt else 2
        Seq(lt.binPack(lng(1), minIn)).toDF("snapshot_id")
      case "convert_equality_deletes" => // (tbl)
        Seq(lt.convertEqualityDeletes()).toDF("snapshot_id")
      case "consolidate_delete_vectors" => // (tbl)
        Seq(lt.consolidateDeleteVectors()).toDF("snapshot_id")
      case "export_iceberg" =>
        // (tbl, dest_dir[, snapshot_id[, format_version]]) — Iceberg
        // handoff; the optional third argument pins a retained
        // historical snapshot (time-travel export), the fourth picks
        // the spec version (2 default; 3 writes MOR deletes as puffin
        // deletion-vector blobs)
        Seq(IcebergExport.export(lt, str(1),
          if (c.args.size > 2) Some(lng(2)) else None,
          formatVersion = if (c.args.size > 3) lng(3).toInt else 2))
          .toDF("metadata_path")
      case "export_delta" =>
        // (tbl, dest_dir[, snapshot_id]) — Delta log handoff
        Seq(DeltaExport.export(lt, str(1),
          if (c.args.size > 2) Some(lng(2)) else None))
          .toDF("commit_path")
      case "publish_delta" =>
        // (tbl, dest_dir[, snapshot_id]) — CONTINUOUS Delta publish
        Seq(DeltaExport.publish(lt, str(1),
          if (c.args.size > 2) Some(lng(2)) else None))
          .toDF("commit_path")
      case "publish_uniform" =>
        // (tbl, dest_dir[, snapshot_id]) — UniForm-style DUAL handoff:
        // Iceberg metadata (metadata/) and a Delta log (_delta_log/)
        // side by side in ONE directory over the SAME zero-copy data
        // files; any engine of either ecosystem reads the table
        val pin = if (c.args.size > 2) Some(lng(2)) else None
        Seq((IcebergExport.publish(lt, str(1), pin),
          DeltaExport.publish(lt, str(1), pin)))
          .toDF("iceberg_metadata_path", "delta_commit_path")
      case "publish_iceberg" =>
        // (tbl, dest_dir[, snapshot_id]) — CONTINUOUS publish: append
        // the snapshot to an already-exported Iceberg table as a new
        // metadata version (readers time-travel across publishes);
        // append-only deltas carry prior manifests verbatim
        Seq(IcebergExport.publish(lt, str(1),
          if (c.args.size > 2) Some(lng(2)) else None))
          .toDF("metadata_path")
      case "remove_orphan_files" =>
        val removed = if (c.args.size > 1) lt.removeOrphanFiles(lng(1))
          else lt.removeOrphanFiles()
        removed.toDF("removed_path")
      case "rollback_to_snapshot" =>
        Seq(lt.rollbackTo(lng(1))).toDF("snapshot_id")
      case "create_tag" =>
        lt.createTag(str(1), lng(2))
        Seq((str(1), lng(2))).toDF("name", "snapshot_id")
      case "create_branch" =>
        lt.createBranch(str(1), lng(2))
        Seq((str(1), lng(2))).toDF("name", "snapshot_id")
      case "drop_ref" =>
        lt.dropRef(str(1)); spark.emptyDataFrame
      case "publish_staged" =>
        Seq(lt.publishStaged(str(1))).toDF("snapshot_id")
      case "discard_staged" =>
        lt.discardStaged(str(1)); spark.emptyDataFrame
      // staging branches (audit-branch workflow): publish the whole
      // branch as one atomic commit / drop everything parked
      case "fast_forward" =>
        Seq(lt.fastForwardBranch(str(1))).toDF("snapshot_id")
      case "discard_branch" =>
        lt.discardBranch(str(1)); spark.emptyDataFrame
      case "rewrite_manifests" =>
        Seq(lt.rewriteManifests()).toDF("snapshot_id")
      case "add_files" => // (tbl, source_dir) — import without rewrite
        val (snap, n) = lt.addFiles(str(1))
        Seq((snap, n.toLong)).toDF("snapshot_id", "added_files")
      case "maintain" => // (tbl) — run the declared maintenance policy
        lt.maintain().toDF("action", "detail")
      case "verify_table" => // (tbl[, 'deep'])
        lt.verifyTable(deep = c.args.size > 1 &&
          str(1).equalsIgnoreCase("deep"))
      case other => throw new UnsupportedOperationException(
        s"unknown procedure $other — supported: expire_snapshots[_older_" +
          "than], rewrite_data_files, compact_where, " +
          "rewrite_small_files, convert_equality_deletes, " +
          "consolidate_delete_vectors, export_iceberg, " +
          "remove_orphan_files, rollback_to_snapshot, create_tag, " +
          "create_branch, drop_ref, publish_staged, discard_staged, " +
          "fast_forward, discard_branch, rewrite_manifests, " +
          "add_files, maintain, verify_table, recover_transactions, " +
          "refresh_mv, refresh_scd2, scd2_staleness, mv_staleness, " +
          "import_iceberg, publish_iceberg, register_iceberg, " +
          "export_delta, publish_delta, publish_uniform, " +
          "checkpoint_delta, cleanup_delta, import_delta, " +
          "register_delta, register_delta_lineage")
    }
    // every procedure may have mutated table metadata — including
    // HEAD-preserving mutations (tags/refs, snapshot expiry) the
    // ledger's metadataStamp catches only at fs-mtime granularity;
    // drop the cache entry so the re-registration below is unskippable
    cat.invalidateViewCache(ns, str(0))
    cat.registerViews(ns)
    out
  }

  /** `CREATE MATERIALIZED VIEW name AS SELECT keys…, count(*) AS cnt,
    * sum(v) AS total [, min(v) AS mn, max(v) AS mx] FROM src GROUP BY
    * keys…` — the SQL spelling of [[IncrementalMv.define]]: creates
    * the target lake table, stamps the MV definition on it, and runs
    * the initial refresh from the source's changelog. Deliberately NOT
    * a generic CTAS: the incremental-maintenance machinery supports
    * exactly this aggregate shape (count+sum, optionally min/max — see
    * IncrementalMv's scaladoc for why), so the statement validates the
    * shape up front and rejects anything else with the expected form. */
  private def createMaterializedView(cat: LakeCatalog, ns: String,
      name: String, body: String): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    val expected = "CREATE MATERIALIZED VIEW <name> AS SELECT <keys…>" +
      ", count(*) AS cnt, sum(<v>) AS total" +
      "[, min(<v>) AS mn, max(<v>) AS mx] FROM <table> GROUP BY <keys…>" +
      " — or N-sum form: count(*) AS cnt plus any number of " +
      "sum(<expr>) AS <name> columns"
    def bad(why: String): Nothing =
      throw new IllegalArgumentException(
        s"unsupported materialized-view shape ($why) — expected: " +
          expected)
    val agg = spark.sessionState.sqlParser.parsePlan(body) match {
      case a: Aggregate => a
      case _ => bad("not a plain GROUP BY aggregate")
    }
    val srcName = agg.child match {
      case r: UnresolvedRelation => r.multipartIdentifier.last
      case _ => bad("FROM must name one table, no WHERE/JOIN/subquery")
    }
    val keys = agg.groupingExpressions.map {
      case u: UnresolvedAttribute => u.name
      case _ => bad("GROUP BY must list plain columns")
    }
    // output list: the key columns followed by the aggregate aliases
    val (keyOut, aggOut) = agg.aggregateExpressions.partition {
      case _: UnresolvedAttribute => true
      case _ => false
    }
    if (keyOut.collect { case u: UnresolvedAttribute => u.name } != keys)
      bad("SELECT must lead with the GROUP BY keys, in order")
    val fns: Seq[(String, String, Seq[
        org.apache.spark.sql.catalyst.expressions.Expression], Boolean)] =
      aggOut.map {
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          al.child match {
            case f: org.apache.spark.sql.catalyst.analysis
                .UnresolvedFunction =>
              // the maintenance machinery computes maintained SUMS —
              // a FILTER modifier would be silently ignored and the MV
              // wrong forever; DISTINCT is allowed ONLY as
              // count(DISTINCT col) (lowered onto a cube key below)
              if (f.isDistinct &&
                  f.nameParts.last.toLowerCase(
                    java.util.Locale.ROOT) != "count")
                bad("DISTINCT aggregates are not incrementally " +
                  "maintainable (only COUNT(DISTINCT col) lowers)")
              if (f.filter.isDefined)
                bad("FILTER clauses are not supported")
              (al.name,
                f.nameParts.last.toLowerCase(java.util.Locale.ROOT),
                f.arguments, f.isDistinct)
            case _ => bad("aggregates must be aliased function calls")
          }
        case _ => bad("aggregates must be aliased function calls")
      }
    val byAlias = fns.map(f => f._1 -> f).toMap
    if (byAlias.size != fns.size) bad("duplicate aggregate aliases")
    def attrArg(args: Seq[
        org.apache.spark.sql.catalyst.expressions.Expression])
        : Option[String] = args match {
      case Seq(u: UnresolvedAttribute) => Some(u.name)
      case _ => None
    }
    // exactly one plain count(*) (any alias) anchors the MV: it is the
    // maintained row count retraction/derivation rides on. Tree-deep
    // attribute scan: count(v + 0) must lower as count(<expr>), never
    // silently maintain as count(*).
    val countStars = fns.filter(f => f._2 == "count" && !f._4 &&
      f._3.flatMap(_.collect { case u: UnresolvedAttribute => u }).isEmpty)
    if (countStars.size != 1)
      bad("need exactly one count(*) aggregate (aliased)")
    val cntAlias = countStars.head._1
    if (keys.isEmpty)
      bad("GROUP BY must list at least one key")
    // an aggregate aliased to a key name would make the target schema
    // emit a duplicate column — a broken table that every later scan
    // trips over, created AFTER the existence gate passed
    fns.map(_._1).toSet.intersect(keys.toSet).toSeq.sorted.foreach(n =>
      bad(s"aggregate alias $n collides with a GROUP BY key name"))
    val others = fns.filterNot(_._1 == cntAlias)
    // the legacy single-sum shapes (kind `sum` / `extremes`) keep
    // their compact property encoding; anything else routes to the
    // N-sum kind, where AVG and COUNT(DISTINCT col) additionally
    // LOWER onto maintained sums / an extra cube key
    val legacyTotal = byAlias.get("total")
      .filter(t => t._2 == "sum" && !t._4 && attrArg(t._3).isDefined)
      .flatMap(t => attrArg(t._3))
    val legacyShape = cntAlias == "cnt" && legacyTotal.isDefined &&
      others.forall(f => !f._4) &&
      others.map(_._1).toSet.subsetOf(Set("total", "mn", "mx"))
    require(!cat.tableExists(ns, name),
      s"table $ns.$name already exists")
    val src = cat.loadTable(ns, srcName)
    // fail BEFORE creating the target — a late refresh failure would
    // leave a half-created, defined-but-broken MV behind
    keys.foreach(k => if (!src.schema.fieldNames.contains(k))
      bad(s"no column $k on $srcName"))
    if (legacyShape) {
      val vCol = legacyTotal.get
      val extremes = (byAlias.get("mn"), byAlias.get("mx")) match {
        case (Some((_, "min", a, _)), Some((_, "max", b, _)))
            if attrArg(a).contains(vCol) && attrArg(b).contains(vCol) =>
          true
        case (None, None) => false
        case _ => bad(s"min/max must both be present, over $vCol, " +
          "aliased mn/mx")
      }
      if (fns.size != (if (extremes) 4 else 2))
        bad("only cnt/total (and mn/mx) aggregates are maintainable")
      src.schema.fields.find(_.name == vCol) match {
        case Some(f) if f.dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType] => ()
        case Some(f) =>
          bad(s"$vCol is ${f.dataType.simpleString}, not numeric")
        case None => bad(s"no column $vCol on $srcName")
      }
      cat.createTable(ns, name,
        if (extremes) IncrementalMv.extremesSchema(src, keys)
        else IncrementalMv.targetSchema(src, keys))
      IncrementalMv.define(cat.loadTable(ns, name), srcName, keys, vCol,
        if (extremes) "extremes" else "sum")
    } else {
      // Extended maintainable shape: one count(*) (any alias) plus any
      // mix of sum(<expr>) / count(<expr>) / avg(<expr>) / at most one
      // count(DISTINCT <col>). AVG and COUNT DISTINCT are not directly
      // delta-maintainable — they LOWER onto maintained sums (the
      // gold-layer cube trick, SilverToGoldJob.runIncremental, now in
      // DDL): avg = hidden sum / hidden non-null count; count(col) =
      // sum of a non-null indicator; count(DISTINCT d) keys the
      // PHYSICAL cube by d and the registered view rolls the cube back
      // up to the declared keys (count(d) over live cube rows is exact
      // because zero-count keys retract). The physical state registers
      // as `<name>_state`; `<name>` is the deriving view.
      val hidden = "__mv_"
      (keys ++ fns.map(_._1)).filter(_.startsWith(hidden)).foreach(n =>
        bad(s"name $n collides with the reserved $hidden prefix"))
      val distincts = others.filter(f => f._2 == "count" && f._4)
      if (distincts.size > 1)
        bad("at most one COUNT(DISTINCT col) is maintainable " +
          "(each needs its own cube key)")
      val distinctCol = distincts.headOption.map { d =>
        val c = attrArg(d._3).getOrElse(
          bad("COUNT(DISTINCT …) needs a single plain source column"))
        if (keys.contains(c))
          bad(s"COUNT(DISTINCT $c) over GROUP BY key $c is always 1")
        if (!src.schema.fieldNames.contains(c))
          bad(s"no column $c on $srcName")
        d._1 -> c
      }
      val sums = others.flatMap {
        case (_, "count", _, true) => None // the cube key, handled above
        case (n, "sum", Seq(arg), false) => Some(n -> arg.sql)
        // count(<expr>) ≡ sum of a non-null indicator — maintainable
        // (the view casts the double-maintained sum back to BIGINT)
        case (n, "count", Seq(arg), false) =>
          Some(n -> s"(CASE WHEN (${arg.sql}) IS NULL THEN 0 ELSE 1 END)")
        case (_, "avg", _, false) => None // lowered to hidden sums below
        case (n, fn2, _, _) => bad(s"aggregate $n: $fn2 is not " +
          "maintainable here — use count(*), sum/count/avg(<expr>), " +
          "count(DISTINCT col) (or the cnt/total/mn/mx shape)")
      }
      val countCols = others.collect {
        case (n, "count", args, false) if args.nonEmpty => n
      }.toSet
      val avgs = others.collect { case (n, "avg", args, false) =>
        args match {
          case Seq(arg) => n -> arg.sql
          case _ => bad(s"avg AS $n needs exactly one argument")
        }
      }
      val physSums0 = sums ++ avgs.flatMap { case (n, e) => Seq(
        s"${hidden}sum_$n" -> e,
        s"${hidden}nn_$n" -> s"(CASE WHEN ($e) IS NULL THEN 0 ELSE 1 END)")
      }
      // `count(*) + count(DISTINCT d)` alone carries no sums — the
      // sums machinery still needs one maintained column
      val physSums =
        if (physSums0.nonEmpty) physSums0
        else Seq(s"${hidden}one" -> "1")
      val cubeKeys = keys ++ distinctCol.map(_._2).toSeq
      physSums.map(_._1).toSet.intersect(cubeKeys.toSet).toSeq.sorted
        .foreach(n => bad(s"aggregate alias $n collides with cube key $n"))
      // the physical state ALWAYS carries the maintained `cnt` row
      // count (sumsSchema injects it) — any other aggregate or cube
      // key named `cnt` would create a duplicate-column table that
      // the refresh MERGE then silently collapses
      if (others.exists(_._1 == "cnt") || cubeKeys.contains("cnt"))
        bad("the physical state reserves column name `cnt` for the " +
          "maintained row count — rename the non-count(*) aggregate " +
          "or key aliased `cnt`")
      (avgs.map(_._2) ++ physSums.map(_._2)).distinct.foreach { e =>
        val dt =
          try src.scan().selectExpr(e).schema.head.dataType
          catch { case ex: org.apache.spark.sql.AnalysisException =>
            bad(s"aggregate over ($e) does not resolve on $srcName: " +
              ex.getMessage.takeWhile(_ != '\n'))
          }
        if (!dt.isInstanceOf[org.apache.spark.sql.types.NumericType])
          bad(s"aggregate over ($e) is ${dt.simpleString}, not numeric")
      }
      // the user-facing view, needed whenever any column DERIVES from
      // the maintained state (or the count alias isn't the physical
      // 'cnt'); aggregate order follows the DDL's projection
      val needView = avgs.nonEmpty || distinctCol.nonEmpty ||
        countCols.nonEmpty || cntAlias != "cnt"
      def q(n: String) = s"`$n`"
      val viewSql =
        if (!needView) None
        else if (distinctCol.isEmpty) {
          val items = keys.map(q) ++ fns.map {
            case (n, "count", _, false) if n == cntAlias =>
              s"cnt AS ${q(n)}"
            case (n, "count", _, false) => // double-maintained indicator
              s"CAST(${q(n)} AS BIGINT) AS ${q(n)}"
            case (n, "avg", _, false) =>
              s"(CAST(${q(s"${hidden}sum_$n")} AS DOUBLE) / " +
                s"nullif(${q(s"${hidden}nn_$n")}, 0)) AS ${q(n)}"
            case (n, _, _, _) => q(n)
          }
          Some(s"SELECT ${items.mkString(", ")} FROM __SELF__")
        } else {
          val d = distinctCol.get._2
          val items = keys.map(q) ++ fns.map {
            case (n, "count", _, true) => s"count(${q(d)}) AS ${q(n)}"
            case (n, "count", _, false) if n == cntAlias =>
              s"sum(cnt) AS ${q(n)}"
            case (n, "count", _, false) =>
              s"CAST(sum(${q(n)}) AS BIGINT) AS ${q(n)}"
            case (n, "avg", _, false) =>
              s"(CAST(sum(${q(s"${hidden}sum_$n")}) AS DOUBLE) / " +
                s"nullif(sum(${q(s"${hidden}nn_$n")}), 0)) AS ${q(n)}"
            case (n, _, _, _) => s"sum(${q(n)}) AS ${q(n)}"
          }
          Some(s"SELECT ${items.mkString(", ")} FROM __SELF__ " +
            s"GROUP BY ${keys.map(q).mkString(", ")}")
        }
      cat.createTable(ns, name,
        IncrementalMv.sumsSchema(src, cubeKeys, physSums.map(_._1)))
      IncrementalMv.defineSums(cat.loadTable(ns, name), srcName, cubeKeys,
        physSums, viewSql)
    }
    // the name/type gates above run before target creation, but the
    // initial refresh can still fail on the SOURCE's history (e.g. a
    // schema-changing commit changes() refuses) — tear the just-created
    // target down so no defined-but-broken MV is left behind
    val snap =
      try IncrementalMv.refreshByName(cat, ns, name)
      catch {
        case e: Throwable =>
          try {
            cat.dropTable(ns, name)
            Seq("", "_state", "_history", "_files", "_snapshots",
              "_partitions", "_refs", "_manifests").foreach(sfx =>
              cat.spark.catalog.dropTempView(s"$name$sfx"))
          } catch { case _: Throwable => () } // surface the refresh error
          throw e
      }
    cat.registerViews(ns)
    Seq((name, snap)).toDF("mv", "snapshot_id")
  }

  /** `DROP MATERIALIZED VIEW [IF EXISTS] name` — refuses plain tables
    * (those take `DROP TABLE`) so a typo cannot silently drop data. */
  private def dropMaterializedView(cat: LakeCatalog, ns: String,
      name: String, ifExists: Boolean): DataFrame = {
    if (!cat.tableExists(ns, name)) {
      require(ifExists, s"no materialized view $ns.$name")
      return cat.spark.emptyDataFrame
    }
    require(cat.loadTable(ns, name).properties
        .contains(IncrementalMv.SourceTableProp),
      s"$ns.$name is a plain table, not a materialized view — " +
        "use DROP TABLE")
    cat.dropTable(ns, name)
    // same teardown as DROP TABLE: the dropped MV's stale temp views
    // would otherwise serve the deleted table's file list
    Seq("", "_state", "_history", "_files", "_snapshots", "_partitions",
      "_refs", "_manifests").foreach(
      sfx => cat.spark.catalog.dropTempView(s"$name$sfx"))
    cat.spark.emptyDataFrame
  }

  /** `SELECT … FROM table_changes('t', start_exclusive, end_inclusive)`
    * → [[LakeTable.changes]] substituted into the surrounding plan. */
  private def tableChanges(cat: LakeCatalog, ns: String,
      p: LogicalPlan): DataFrame = {
    val replaced = p.transform {
      case t: UnresolvedTableValuedFunction
          if t.name.last.equalsIgnoreCase("table_changes") =>
        val args = t.functionArgs.map {
          case l: Literal => l.value match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case v => v
          }
          case other => throw new UnsupportedOperationException(
            s"table_changes arguments must be literals, got ${other.sql}")
        }
        require(args.size == 3 || (args.size == 4 &&
            args(3).toString.equalsIgnoreCase("lineage")),
          "table_changes(table, start_exclusive, end_inclusive" +
            "[, 'lineage'])")
        val lt = cat.loadTable(ns, args(0).toString)
        val asLong = (a: Any) => a.asInstanceOf[java.lang.Number].longValue
        val ch =
          // 'lineage': rows carry _row_id and rewrite deltas classify
          // as update_preimage/update_postimage (Delta-CDF vocabulary)
          if (args.size == 4)
            lt.changesWithLineage(asLong(args(1)), asLong(args(2)))
          else lt.changes(asLong(args(1)), asLong(args(2)))
        ch.queryExecution.analyzed
    }
    GraftSqlBridge.ofRows(cat.spark, replaced)
  }

  // ---------------------------------------------------------------- helpers

  private def tableNameOf(plan: LogicalPlan): String = plan match {
    case SubqueryAlias(_, child) => tableNameOf(child)
    case u: UnresolvedRelation => u.multipartIdentifier.last
    case u: UnresolvedIdentifier => u.nameParts.last
    case u: UnresolvedTable => u.multipartIdentifier.last
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
      u.multipartIdentifier.last
    case other => throw new UnsupportedOperationException(
      s"cannot resolve DML target: ${other.getClass.getSimpleName}")
  }

  /** `t.k = s.k [AND …]` → the key column names; None for anything
    * that is not a pure equi-key conjunction. */
  private def equiKeys(e: Expression): Option[Seq[String]] = e match {
    case And(l, r) =>
      for { a <- equiKeys(l); b <- equiKeys(r) } yield a ++ b
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
      Some(Seq(a.nameParts.last))
    case _ => None
  }

  /** Parsed predicate/value expression → Column, with table/alias
    * qualifiers stripped (the lake ops run single-table plans where
    * qualified names would not resolve).
    *
    * Subquery conditions (`IN (SELECT …)`, `[NOT] EXISTS …`) can't
    * ride the usual `expr(bare.sql)` round-trip — ListQuery prints as
    * an unresolvable function call — so those trees are wrapped in a
    * Column DIRECTLY ([[GraftSqlBridge.column]]) and analysis resolves
    * the inner relations against the same registered views. Inside a
    * subplan only TARGET-qualified attributes (`targetQuals`, e.g.
    * `t.id` in a correlated `EXISTS (… WHERE p.pid = t.id)`) are
    * stripped: the target alias names a plan that doesn't exist in the
    * rewritten single-table scan, while inner aliases like `p.pid`
    * must stay for the subquery's own resolution. */
  private def columnOf(e: Expression,
      targetQuals: Set[String] = Set.empty): Column = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val bare = e.transform {
      case a: UnresolvedAttribute if a.nameParts.size > 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }
    if (!bare.exists(_.isInstanceOf[SubqueryExpression]))
      return expr(bare.sql)
    val stripped = bare.transform {
      case sq: SubqueryExpression if targetQuals.nonEmpty =>
        sq.withNewPlan(sq.plan.transformAllExpressions {
          case a: UnresolvedAttribute if a.nameParts.size > 1 &&
              targetQuals(a.nameParts.init.mkString(".").toLowerCase) =>
            UnresolvedAttribute(Seq(a.nameParts.last))
        })
    }
    GraftSqlBridge.column(stripped)
  }

  /** Evaluate a TIMESTAMP AS OF expression to epoch millis under the
    * session timezone (a 1-row local plan, no job). */
  private def evalMillis(spark: SparkSession, ts: Expression): Long =
    spark.range(1).select(
      (expr(ts.sql).cast("timestamp").cast("double") * 1000)
        .cast("long").as("ms")).head().getLong(0)
}
