package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Filesystem-backed `catalog → namespace → table` hierarchy, the offline
  * equivalent of the reference's S3Tables catalog surface (reference:
  * scripts/raw-bronze.py:102-116 session configs; D1-D4 in SURVEY.md §2.12):
  * `CREATE NAMESPACE IF NOT EXISTS`, `SHOW NAMESPACES`, `USE`,
  * `SHOW TABLES`, `tableExists`, drop.
  *
  * Layout: `<warehouse>/<namespace>/<table>/{metadata,data}`. A directory
  * is a table iff it has a committed `metadata/HEAD`.
  */
final class LakeCatalog(val spark: SparkSession, val warehouse: String) {

  // sessionState.newHadoopConf() folds runtime `spark.conf.set("fs...")`
  // entries on top of the core conf (same resolution as Spark's sources)
  private val hconf = spark.sessionState.newHadoopConf()
  private val whPath = new Path(warehouse)
  private def fs: FileSystem = whPath.getFileSystem(hconf)

  @volatile private var current: Option[String] = None

  def createNamespace(ns: String): Unit = {
    require(ns.nonEmpty && !ns.contains("/"), s"bad namespace: $ns")
    fs.mkdirs(new Path(whPath, ns)) // idempotent ≡ IF NOT EXISTS
  }

  def namespaces: Seq[String] =
    if (!fs.exists(whPath)) Nil
    else fs.listStatus(whPath).filter(_.isDirectory)
      .map(_.getPath.getName).sorted.toSeq

  /** ≡ `SHOW NAMESPACES IN catalog` (reference: scripts/raw-bronze.py:115). */
  def showNamespaces(): DataFrame = {
    import spark.implicits._
    namespaces.toDF("namespace")
  }

  def useNamespace(ns: String): Unit = {
    require(namespaces.contains(ns), s"namespace $ns does not exist")
    current = Some(ns)
  }

  def currentNamespace: Option[String] = current

  def listTables(ns: String): Seq[String] = {
    val nsPath = new Path(whPath, ns)
    if (!fs.exists(nsPath)) Nil
    else fs.listStatus(nsPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => LakeTable.exists(spark, tablePath(ns, t)))
      .sorted.toSeq
  }

  /** ≡ `SHOW TABLES` in the current/default namespace. */
  def showTables(ns: String): DataFrame = {
    import spark.implicits._
    listTables(ns).map(t => (ns, t)).toDF("namespace", "tableName")
  }

  def tablePath(ns: String, table: String): String =
    new Path(new Path(whPath, ns), table).toString

  /** ≡ `spark.catalog.tableExists` (reference: scripts/raw-bronze.py:180). */
  def tableExists(ns: String, table: String): Boolean =
    LakeTable.exists(spark, tablePath(ns, table))

  def createTable(ns: String, table: String, schema: StructType,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): LakeTable = {
    createNamespace(ns)
    // a recreated name must not reuse views registered for a prior
    // incarnation (snapshot ids restart, so heads could collide)
    invalidateViewCache(ns, table)
    LakeTable.create(spark, tablePath(ns, table), schema, partitionBy,
      properties)
  }

  def loadTable(ns: String, table: String): LakeTable =
    LakeTable.load(spark, tablePath(ns, table))

  def dropTable(ns: String, table: String): Unit =
    if (tableExists(ns, table)) {
      invalidateViewCache(ns, table)
      loadTable(ns, table).drop()
    }

  /** ≡ `ALTER TABLE t RENAME TO t2`: table identity IS its directory,
    * so a rename is one fs rename of the table root (atomic on
    * HDFS/local) — data, metadata, history, and refs travel unchanged.
    * The old name's temp views are torn down here; the new name's
    * register on the caller's next statement. */
  def renameTable(ns: String, oldName: String, newName: String): Unit = {
    require(tableExists(ns, oldName), s"no table $ns.$oldName")
    require(newName.nonEmpty && !newName.contains("/"),
      s"bad table name: $newName")
    require(!fs.exists(new Path(tablePath(ns, newName))),
      s"table $ns.$newName already exists")
    require(fs.rename(new Path(tablePath(ns, oldName)),
      new Path(tablePath(ns, newName))),
      s"filesystem rename $oldName -> $newName failed")
    Seq("", "_history", "_files", "_snapshots", "_partitions", "_refs",
      "_manifests").foreach(sfx =>
      spark.catalog.dropTempView(oldName + sfx))
    invalidateViewCache(ns, oldName)
    invalidateViewCache(ns, newName)
  }

  // --------------------------------- stored SQL views (≡ Iceberg views)

  private def viewsFile(ns: String) = new Path(new Path(whPath, ns),
    "_views.json")

  // view metadata rides the SAME pointer-swap protocol as table HEAD
  // commits (complete-at-swap; no delete-then-rename crash window that
  // could lose every stored view), and in-process mutations serialize on
  // one lock so concurrent createView/dropView can't lose updates
  private def viewsPointer: PointerStore =
    PointerStore.forTable(fs)
  private val viewsLock = new Object

  /** Stored views of `ns` in CREATION ORDER (a later view may reference
    * an earlier one; registration replays them in sequence). Stored as
    * `<warehouse>/<ns>/_views.json` — catalog metadata, not table
    * state, so they survive table drops and travel with the warehouse. */
  def listViews(ns: String): Seq[(String, String)] =
    viewsPointer.read(viewsFile(ns)) match {
      case None => Nil
      case Some(body) =>
        val n = Snapshot.mapper.readTree(body)
        (0 until n.size).map { i =>
          (n.get(i).get("name").asText, n.get(i).get("sql").asText)
        }
    }

  private def writeViews(ns: String, views: Seq[(String, String)]): Unit = {
    val m = Snapshot.mapper
    val arr = m.createArrayNode()
    views.foreach { case (name, sql) =>
      val o = arr.addObject(); o.put("name", name); o.put("sql", sql)
    }
    viewsPointer.write(viewsFile(ns),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(arr))
  }

  /** Suffixes [[registerViews]] reserves for per-table metadata views. */
  private val MetadataViewSuffixes = Seq("_history", "_files",
    "_snapshots", "_partitions", "_refs", "_manifests")

  /** ≡ `CREATE [OR REPLACE] VIEW name AS <sql>`: stores the ORIGINAL
    * SQL text (late-binding, like Iceberg views — each reference
    * re-resolves against the CURRENT table state) and registers it
    * immediately. The definition is validated by registering it. */
  def createView(ns: String, name: String, sql: String,
      replace: Boolean = false): Unit = {
    require(name.nonEmpty && !name.contains("/"), s"bad view name: $name")
    require(!tableExists(ns, name), s"$ns.$name is a table")
    // a view named e.g. `orders_history` would silently shadow the
    // generated metadata view of table `orders` session-wide — reserved
    MetadataViewSuffixes.foreach { sfx =>
      if (name.endsWith(sfx) &&
          tableExists(ns, name.stripSuffix(sfx)))
        throw new IllegalArgumentException(
          s"view name $name shadows the $sfx metadata view of table " +
            s"${name.stripSuffix(sfx)} — pick another name")
    }
    viewsLock.synchronized {
      val cur = listViews(ns)
      require(replace || !cur.exists(_._1 == name),
        s"view $ns.$name already exists")
      val next = cur.filterNot(_._1 == name) :+ (name, sql)
      // validate by building the plan NOW (tables must already be
      // registered by the caller's session — cat.sql does this)
      spark.sql(sql).createOrReplaceTempView(name)
      LakeCatalog.ledger(spark).put(s"view:$name", (warehouse, ns, sql))
      writeViews(ns, next)
    }
  }

  /** ≡ `DROP VIEW [IF EXISTS] name`. */
  def dropView(ns: String, name: String, ifExists: Boolean = false): Unit =
    viewsLock.synchronized {
      val cur = listViews(ns)
      if (!cur.exists(_._1 == name)) {
        require(ifExists, s"no view $ns.$name")
        return
      }
      writeViews(ns, cur.filterNot(_._1 == name))
      spark.catalog.dropTempView(name)
      // a stale ledger entry would make a later re-CREATE with the
      // identical definition skip registration of the dropped temp view
      LakeCatalog.ledger(spark).remove(s"view:$name")
    }

  /** ≡ `SHOW VIEWS`. */
  def showViews(ns: String): DataFrame = {
    import spark.implicits._
    listViews(ns).map { case (n, sql) => (ns, n, sql) }
      .toDF("namespace", "viewName", "sql")
  }

  /** Register every table of `ns` as a temp view so the interactive SQL
    * surface works exactly like the reference's notebook (entry point C,
    * SURVEY.md §3.3: `spark.sql("SELECT count(*) FROM bronze_orders")`,
    * projections, `.show()`). Each table also gets its metadata views
    * under `<table>_history` / `_files` / `_snapshots` / `_partitions`
    * (the temp-view spelling of Iceberg's `table.history` dotted tables —
    * reference: scripts/bronze-silver.py:119). Views are bound to the
    * CURRENT snapshot; re-register after new commits to see them. */
  // registration ledger: view name → (warehouse, ns, HEAD, stamp) the
  // temp views were last built from. registerViews runs before EVERY
  // statement [[sql]] executes, and re-planning scan() + six metadata
  // views for every table in the namespace per statement is O(tables)
  // driver work — on a 500-table namespace that's 3500 plan
  // constructions per statement. Views are snapshot-pinned at
  // registration, so a table whose HEAD hasn't moved (and whose
  // metadataStamp — refs + snapshot-file set — is unchanged; tags and
  // snapshot expiry mutate metadata WITHOUT moving HEAD) has nothing
  // to refresh. The ledger is SESSION-GLOBAL (one map per live
  // SparkSession in [[LakeCatalog.ledger]]) because the temp-view
  // namespace is: a second catalog registering the same table or view
  // NAME takes the binding over — recorded in the shared ledger, so
  // this catalog re-registers instead of skipping over the foreign
  // binding. Stored views ride the same ledger ("view:" keys) for the
  // same reason.
  private[lake] def invalidateViewCache(ns: String, table: String): Unit =
    LakeCatalog.ledger(spark).remove(s"table:$table")

  def registerViews(ns: String): Unit = {
    val led = LakeCatalog.ledger(spark)
    var changed = false
    listTables(ns).foreach { t =>
      val lt = loadTable(ns, t)
      val state = (warehouse, ns, lt.currentSnapshotId, lt.metadataStamp)
      if (led.get(s"table:$t") != state) {
        changed = true
        lt.properties.get(IncrementalMv.ViewSqlProp) match {
          case Some(viewSql) =>
            // an MV with derived user-facing columns (AVG / COUNT
            // DISTINCT): the physical maintained state registers as
            // `<t>_state`, the MV name itself as the deriving SELECT
            lt.scan().createOrReplaceTempView(s"${t}_state")
            spark.sql(viewSql.replace("__SELF__", s"`${t}_state`"))
              .createOrReplaceTempView(t)
          case None =>
            lt.scan().createOrReplaceTempView(t)
        }
        lt.history.createOrReplaceTempView(s"${t}_history")
        lt.files.createOrReplaceTempView(s"${t}_files")
        lt.snapshotsTable.createOrReplaceTempView(s"${t}_snapshots")
        lt.partitions.createOrReplaceTempView(s"${t}_partitions")
        lt.refsTable.createOrReplaceTempView(s"${t}_refs")
        lt.manifestsTable.createOrReplaceTempView(s"${t}_manifests")
        led.put(s"table:$t", state)
      }
    }
    // stored SQL views LAST (they reference the table views — and, in
    // creation order, each other); late-binding: each registration
    // re-resolves the stored text against the CURRENT table state. A
    // view whose dependency vanished fails loudly at registration.
    // A view is skipped only when no table view moved AND its recorded
    // (warehouse, ns, definition) is unchanged in the session ledger —
    // then re-resolution provably yields the same plan. A same-named
    // stored view from ANOTHER catalog updates the shared entry, so
    // its takeover forces this catalog's next pass to re-register.
    listViews(ns).foreach { case (name, sql) =>
      val state = (warehouse, ns, sql)
      if (changed || led.get(s"view:$name") != state) {
        spark.sql(sql).createOrReplaceTempView(name)
        led.put(s"view:$name", state)
      }
    }
  }

  /** Convenience: `USE ns` + register + run one SQL statement.
    *
    * Beyond plain SELECTs over the registered views, the statement may
    * be lake DML or time travel (see [[LakeSql]]): `MERGE INTO` /
    * `DELETE FROM` / `UPDATE` route to the corresponding [[LakeTable]]
    * operation — the reference's literal `merge_query` string runs
    * as-is — and `VERSION AS OF` / `TIMESTAMP AS OF` read historical
    * snapshots. After a DML statement the views are re-registered so a
    * following statement sees the new table state. */
  def sql(ns: String, query: String): DataFrame = {
    useNamespace(ns)
    registerViews(ns)
    LakeSql.run(this, ns, query)
  }

  /** Run several `INSERT INTO` statements as ONE multi-table
    * transaction (see [[transaction]]) — all publish atomically, or
    * none do. Returns table → published snapshot id. */
  def sqlTransaction(ns: String, statements: Seq[String]): Map[String, Long] =
    LakeSql.runTransaction(this, ns, statements)

  // ------------------------- multi-table transactions (catalog-level)

  /** Marker directory for in-flight multi-table transactions:
    * `<warehouse>/<ns>/_txns/<id>.json` holds a PREPARED decision
    * record (the participant list) from just before the first table
    * publishes until just after the last. */
  private def txnsDir(ns: String) = new Path(new Path(whPath, ns),
    "_txns")

  /** Run `body` as a MULTI-TABLE transaction over namespace `ns` —
    * the capability Iceberg itself only gets from a REST catalog's
    * multi-table commit: several tables' appends publish together or
    * not at all. Writes inside the body stage onto a per-table
    * transaction branch (invisible to readers — zero table commits);
    * if the body throws, every staged changeset is discarded and no
    * table moved. On success the commit point is one exclusive-create
    * PREPARED marker listing the participants; after it, each table is
    * fast-forwarded in turn with an idempotent `txn.` watermark, and
    * the marker is removed once all have published.
    *
    * Atomicity is ALL-OR-NOTHING WITH ROLL-FORWARD: before the marker,
    * nothing is visible; after it, a crash anywhere mid-publish is
    * completed by [[recoverTransactions]] (the watermark makes
    * re-publishing a no-op, so recovery is exactly-once per table).
    * Cross-table ISOLATION during the publish window is
    * read-committed, not serializable — a reader between two
    * fast-forwards sees table A new and table B old (the same window
    * every non-catalog-transactional lake has on every pair of
    * commits; here it is bounded and always converges). Returns
    * table → published snapshot id. */
  def transaction(ns: String)(
      body: LakeTransaction => Unit): Map[String, Long] =
    transactionWithId(ns, java.util.UUID.randomUUID().toString
      .replace("-", "").take(12))(body)

  /** [[transaction]] with a CALLER-CHOSEN id — the replay-safe form: a
    * crashed-and-retried run using the SAME id is exactly-once no
    * matter where the crash landed, PROVIDED the retry happens before
    * the table's completed-transaction watermark is garbage-collected
    * ([[LakeCatalog.CtxnGraceSnapshots]] subsequent commits on each
    * participant — prompt retries always qualify). Recurring work that
    * must stay idempotent indefinitely uses [[transactionVersioned]],
    * whose stable watermark is never collected. First touch of a table
    * discards
    * any stale staging a crashed prior attempt with this id left
    * behind (pre-marker, nothing was visible — safe to restage); the
    * PREPARED marker is reused if it already exists; and the per-table
    * `txn.` watermark makes re-publishing a no-op. This is the
    * `foreachBatch` contract: id = (query id, batch id) gives a
    * streaming job atomic exactly-once fan-out to several tables. */
  def transactionWithId(ns: String, id: String)(
      body: LakeTransaction => Unit): Map[String, Long] =
    runTransaction(ns, id, s"ctxn-$id", 1L)(body)

  /** [[transactionWithId]] for RECURRING work keyed by a stable app id
    * with a monotonic version (≡ Iceberg's `txnAppId`/`txnVersion`
    * pattern): every run publishes under ONE per-table watermark
    * property `txn.<appId>` that is UPDATED in place, instead of
    * accreting a fresh `txn.ctxn-<id>` entry per run — the shape a
    * long-running streaming fan-out needs (one micro-batch per minute
    * for a month must not grow 43k properties on every snapshot). A
    * replay of any (appId, version) at or below the recorded watermark
    * is a no-op; versions must be applied in nondecreasing order by
    * the caller (the `foreachBatch` contract — batchId is exactly
    * this). The transaction id is derived as `<appId>-<version>`. */
  def transactionVersioned(ns: String, appId: String, version: Long)(
      body: LakeTransaction => Unit): Map[String, Long] = {
    require(appId.nonEmpty && appId.matches("[A-Za-z0-9_-]+"),
      s"bad transaction appId '$appId'")
    // ctxn- is the ad-hoc watermark namespace (txn.ctxn-<id>) whose
    // entries are garbage-collected after a grace window — a versioned
    // appId colliding with it would have its stable watermark collected
    require(!appId.startsWith("ctxn-"),
      s"appId '$appId' uses the reserved 'ctxn-' prefix")
    require(version >= 0, s"bad transaction version $version")
    runTransaction(ns, s"$appId-$version", appId, version)(body)
  }

  private def runTransaction(ns: String, id: String, app: String,
      version: Long)(
      body: LakeTransaction => Unit): Map[String, Long] = {
    require(namespaces.contains(ns), s"namespace $ns does not exist")
    require(id.nonEmpty && id.matches("[A-Za-z0-9_-]+"),
      s"bad transaction id '$id'")
    val marker = new Path(txnsDir(ns), s"$id.json")
    val txn = new LakeTransaction(this, ns, id)
    try body(txn)
    catch {
      case e: Throwable =>
        // abort is only safe while the decision point was not reached:
        // with an existing marker (post-marker crash replay) leave the
        // staging for roll-forward instead of discarding committed work
        if (!fs.exists(marker))
          txn.tables.values.foreach(t =>
            try t.discardBranch(txn.branch)
            catch { case _: Exception => () })
        throw e
    }
    if (txn.tables.isEmpty) return Map.empty
    fs.mkdirs(txnsDir(ns))
    val m = Snapshot.mapper
    val o = m.createObjectNode()
    o.put("id", id)
    o.put("app", app)
    o.put("version", version)
    val arr = o.putArray("tables")
    txn.tables.keys.foreach(arr.add)
    // the DECISION POINT: marker present = committed (roll forward);
    // absent = aborted (nothing was ever visible). A replay of the
    // same id reuses the marker it already wrote.
    try LakeTable.writeStringExclusive(fs, marker,
      m.writerWithDefaultPrettyPrinter().writeValueAsString(o))
    catch { case _: java.io.IOException if fs.exists(marker) => () }
    val results = publishPrepared(ns, id, txn.tables.keys.toSeq,
      app, version)
    fs.delete(marker, false)
    results
  }

  /** Publish each table's staged `txn-<id>` branch under the
    * transaction's `txn.<app>` watermark. Each publish commit also
    * GARBAGE-COLLECTS watermarks of COMPLETED ad-hoc transactions —
    * `txn.ctxn-*` keys whose PREPARED marker no longer exists (marker
    * deletion is the proof every participant published, so recovery
    * never needs them) AND whose recorded publish snapshot is at least
    * [[LakeCatalog.CtxnGraceSnapshots]] behind the head being
    * committed on. The grace window keeps a recently-completed
    * transaction's watermark alive so a crashed caller's replay under
    * the same id still skips (exactly-once); it also makes ONE marker
    * listing per publish safe — a transaction prepared after the
    * listing can only carry a fresh (in-grace) watermark, which the
    * age check protects regardless of marker liveness. Per-snapshot
    * metadata stays bounded by transactions in the last N snapshots,
    * not lifetime count. Stable `txn.<appId>` watermarks from
    * [[transactionVersioned]] are one-per-app and never collected. */
  private def publishPrepared(ns: String, id: String,
      tableNames: Seq[String], app: String,
      version: Long): Map[String, Long] = {
    val live = pendingTransactions(ns).toSet
    def staleCtxn(s: Snapshot): Set[String] = {
      val horizon = s.snapshotId - LakeCatalog.CtxnGraceSnapshots
      s.properties.keySet.filter { k =>
        k.startsWith("txn.ctxn-") &&
          !live.contains(k.stripPrefix("txn.ctxn-")) &&
          (try s.properties(k).toLong <= horizon
           catch { case _: NumberFormatException => true })
      }
    }
    tableNames.map { t =>
      t -> loadTable(ns, t).fastForwardBranch(s"txn-$id",
        txn = Some((app, version)),
        dropProperties = staleCtxn)
    }.toMap
  }

  /** Consistent cross-table READ transaction: every listed table's
    * snapshot is pinned up front (one quick HEAD-read loop) and the
    * body reads all of them AS OF those pins via time travel — later
    * commits, including a concurrent [[transaction]] publish, are
    * invisible for the body's whole lifetime. This closes the write
    * side's read-committed window for readers who opt in: the residual
    * skew is the microseconds BETWEEN two HEAD reads in the pin loop,
    * not the unbounded duration of a multi-statement report. Pinned
    * reads cost nothing extra — scanAt plans from the same manifest. */
  def readTransaction[T](ns: String, tableNames: Seq[String])(
      body: (String => DataFrame) => T): T = {
    // an initially-EMPTY table pins as empty (schema captured at pin
    // time) — falling back to a live scan() would let a concurrent
    // commit become visible mid-body, breaking the pinned contract
    val pinned = tableNames.map { t =>
      val lt = loadTable(ns, t)
      t -> (lt, lt.currentSnapshotId, lt.schema)
    }.toMap
    body { name =>
      val (lt, snap, sch) = pinned.getOrElse(name,
        throw new IllegalArgumentException(
          s"table $name was not pinned by this read transaction"))
      snap.map(lt.scanAt).getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch))
    }
  }

  /** Ids of transactions that reached their PREPARED marker but not
    * yet the post-publish cleanup (normally empty; non-empty after a
    * crash mid-publish). */
  def pendingTransactions(ns: String): Seq[String] =
    if (!fs.exists(txnsDir(ns))) Nil
    else fs.listStatus(txnsDir(ns)).map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
      .toSeq.sorted

  /** Roll every PREPARED-but-unfinished transaction forward to
    * completion (crash recovery — call at catalog bootstrap). Tables
    * that already published skip on their `txn.` watermark; tables
    * that never did publish now. Returns the recovered ids.
    *
    * Markers are recovered INDEPENDENTLY: one unrecoverable
    * transaction (e.g. staging discarded by an operator while the
    * marker survived) must not block later markers — each is
    * attempted, its failure collected, and a single aggregate error
    * thrown at the end with every failed marker left in place for a
    * retry after the cause is fixed. */
  def recoverTransactions(ns: String): Seq[String] = {
    val attempts = pendingTransactions(ns).map { id =>
      try Right(recoverOne(ns, id))
      catch { case e: Exception => Left((id, e)) }
    }
    val failures = attempts.collect { case Left(f) => f }
    if (failures.nonEmpty) {
      val ex = new IllegalStateException(
        s"recovery failed for transaction(s) " +
          s"${failures.map(_._1).mkString(", ")} — their markers were " +
          "left in place for retry; other pending transactions were " +
          "still processed", failures.head._2)
      failures.tail.foreach { case (_, e) => ex.addSuppressed(e) }
      throw ex
    }
    attempts.collect { case Right(id) => id }
  }

  private def recoverOne(ns: String, id: String): String = {
      val marker = new Path(txnsDir(ns), s"$id.json")
      val n = Snapshot.mapper.readTree(
        LakeTable.readString(fs, marker))
      val app = if (n.hasNonNull("app")) n.path("app").asText
        else s"ctxn-$id" // pre-versioned marker format
      val version = if (n.hasNonNull("version"))
        n.path("version").asLong else 1L
      val tbls = (0 until n.path("tables").size)
        .map(n.path("tables").get(_).asText)
      tbls.foreach { t =>
        if (tableExists(ns, t)) {
          try publishPrepared(ns, id, Seq(t), app, version)
          catch {
            // benign ONLY when the publish already landed AND its
            // staged-file cleanup ran (crash between cleanup and the
            // marker delete): watermark present + nothing staged.
            // Any OTHER failure (schema-evolution conflict, lost
            // staging without a watermark, IO) must propagate and
            // LEAVE the marker — deleting it would silently drop a
            // committed transaction's effect on this table
            case e: IllegalArgumentException
                if e.getMessage != null &&
                  e.getMessage.contains("no staged changesets") &&
                  loadTable(ns, t).properties.get(s"txn.$app")
                    .exists(_.toLong >= version) => ()
          }
        }
      }
      fs.delete(marker, false)
      id
    }
}

object LakeCatalog {
  /** GC'able ad-hoc (`txn.ctxn-*`) watermarks must be at least this
    * many snapshots behind the head being committed on: within the
    * window a crashed-and-retried [[LakeCatalog.transactionWithId]]
    * still skips on its watermark (exactly-once replay); beyond it the
    * watermark is collected so per-snapshot metadata stays bounded by
    * RECENT transactions, not lifetime count. Callers needing replay
    * idempotence durable past this window use
    * [[LakeCatalog.transactionVersioned]] (stable, never-collected
    * watermark). */
  private[lake] val CtxnGraceSnapshots = 16L

  /** Session-global view-registration ledger (see registerViews):
    * `table:<name>` → (warehouse, ns, head, metadataStamp) and
    * `view:<name>` → (warehouse, ns, sql) the temp views were last
    * registered from. One ledger per LIVE SparkSession, held weakly —
    * reference identity (SparkSession does not override equals), so
    * independent sessions never interact, a session's entries vanish
    * with it, and a recycled identityHashCode can never alias a dead
    * session's state. */
  private val viewLedgers = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, Any]]()

  private[lake] def ledger(spark: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, Any] =
    viewLedgers.synchronized {
      var m = viewLedgers.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, Any]()
        viewLedgers.put(spark, m)
      }
      m
    }
}

/** Writer handle inside [[LakeCatalog.transaction]]: appends stage on
  * a per-table `txn-<id>` branch; [[scan]] previews a participant
  * table WITH the transaction's own staged writes (read-your-writes),
  * and plain committed state for everything else. */
final class LakeTransaction private[lake] (catalog: LakeCatalog,
    ns: String, val id: String) {
  private[lake] val tables =
    scala.collection.mutable.LinkedHashMap.empty[String, LakeTable]
  private[lake] def branch = s"txn-$id"

  /** Stage an append of `df` to `table` (invisible until commit).
    * First touch clears staging a crashed prior attempt with the SAME
    * deterministic id may have parked (this run restages it — bodies
    * replayed under one id must be deterministic, the standard
    * foreachBatch contract; already-PUBLISHED tables skip again on
    * their `txn.` watermark regardless of what is restaged). */
  def append(table: String, df: DataFrame): Unit = {
    val lt = tables.getOrElse(table, {
      val t = catalog.loadTable(ns, table)
      try t.discardBranch(branch) catch { case _: Exception => () }
      tables.put(table, t)
      t
    })
    lt.appendToBranch(branch, df)
  }

  /** Preview: committed state ∪ this transaction's staged writes. */
  def scan(table: String): DataFrame =
    tables.get(table).map(_.scanBranch(branch))
      .getOrElse(catalog.loadTable(ns, table).scan())
}
