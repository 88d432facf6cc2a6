package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.sql.{Connection, DriverManager, SQLException}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.Serialization
import org.json4s.jackson.Serialization.{read => jread, write => jwrite}

/** SQL-backed [[Catalog]] over embedded Apache Derby — the deployment
  * shape of the reference's SQL catalogs (`catalog_type: "sql"` with
  * SQLite `main-polars.py:49-53` and PostgreSQL
  * `main-polars-psql.py:149-154`): metadata rows in a relational store,
  * data files on the warehouse filesystem.
  *
  * Concurrency comes from the database, exactly as it does for the
  * reference: the snapshot table's primary key `(ns, tbl, snapshot_id)`
  * is the CAS — two racing committers compute the same next id, one
  * INSERT wins, the loser re-reads and retries (blind commits) or
  * surfaces [[CommitConflictException]] (conditional commits). No file
  * locks; any JDBC-reachable store with unique constraints gives the
  * same guarantee, which is how this layer would sit behind Postgres on
  * a real cluster.
  *
  * `jdbcUrl` example: `jdbc:derby:/path/to/cat;create=true`. Derby ships
  * in the Spark distribution (metastore dependency), so no new
  * dependency is introduced.
  */
final class JdbcCatalog(val jdbcUrl: String, val warehouse: String,
    override val checkpointInterval: Int = 100) extends Catalog with AutoCloseable {
  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  // Derby's JDBC4 driver autoloads via ServiceLoader; the explicit load
  // keeps us working under classloader setups that skip it.
  try Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
  catch { case _: ClassNotFoundException =>
    try Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    catch { case _: ClassNotFoundException => () }
  }

  // keep Derby's engine log out of the process working directory (the
  // directory must exist or Derby fails to open its log stream)
  locally {
    Files.createDirectories(Paths.get(warehouse))
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        Paths.get(warehouse, "derby.log").toAbsolutePath.toString)
  }

  // One shared connection per catalog instance, guarded by a monitor:
  // catalog ops are brief driver-side metadata calls, and opening a
  // fresh connection per call is a connection storm against a real
  // remote store (a production deployment would hold a small pool —
  // same shape, N > 1). Reopened transparently if it ever closes.
  private var shared: Connection = _
  private def withConn[A](f: Connection => A): A = synchronized {
    if (shared == null || shared.isClosed)
      shared = DriverManager.getConnection(jdbcUrl)
    f(shared)
  }

  // NOTE: these constants are referenced from initSchema, which runs in
  // the constructor — they must be DECLARED before the initSchema call
  // below or they are still null when the catch compares against them
  // (Scala initializes vals in declaration order).
  /** Dialect shim (audited against PostgreSQL, the reference's SQL
    * catalog deployment `main-polars-psql.py:149-154`; see SURVEY §8.2):
    * everything emitted is standard SQL except the large-text column
    * type (Derby CLOB / PostgreSQL TEXT) and the table-exists SQLState
    * at DDL time (Derby X0Y32 / PostgreSQL 42P07). Duplicate-key 23505
    * — the commit CAS — and `SELECT … FOR UPDATE` — the maintenance
    * mutex — are identical on both. */
  private val isPostgres = jdbcUrl.startsWith("jdbc:postgresql:")
  private val textType = if (isPostgres) "TEXT" else "CLOB"
  /** "table already exists" at DDL time, per dialect. */
  private val TableExistsStates = Set("X0Y32", "42P07")
  /** Standard (ANSI) duplicate-key SQLState — Derby and PostgreSQL agree. */
  private val DuplicateKeyState = "23505"

  locally { initSchema() }

  private def initSchema(): Unit = withConn { c =>
    val ddl = Seq(
      "CREATE TABLE graft_namespaces(ns VARCHAR(256) PRIMARY KEY)",
      "CREATE TABLE graft_tables(ns VARCHAR(256) NOT NULL, tbl VARCHAR(256) NOT NULL, " +
        s"meta $textType NOT NULL, PRIMARY KEY(ns, tbl))",
      "CREATE TABLE graft_snapshots(ns VARCHAR(256) NOT NULL, tbl VARCHAR(256) NOT NULL, " +
        s"snapshot_id BIGINT NOT NULL, body $textType NOT NULL, PRIMARY KEY(ns, tbl, snapshot_id))",
      "CREATE TABLE graft_refs(ns VARCHAR(256) NOT NULL, tbl VARCHAR(256) NOT NULL, " +
        "ref_name VARCHAR(256) NOT NULL, snapshot_id BIGINT NOT NULL, " +
        "ref_type VARCHAR(16) NOT NULL, PRIMARY KEY(ns, tbl, ref_name))")
    ddl.foreach { sql =>
      val st = c.createStatement()
      try st.executeUpdate(sql)
      catch { case e: SQLException if TableExistsStates(e.getSQLState) => () }
      finally st.close()
    }
  }

  // ---- namespaces -------------------------------------------------------

  override def createNamespace(ns: String): Unit = withConn { c =>
    val ps = c.prepareStatement("INSERT INTO graft_namespaces(ns) VALUES (?)")
    try { ps.setString(1, ns); ps.executeUpdate(); () }
    catch { case e: SQLException if e.getSQLState == DuplicateKeyState => () }
    finally ps.close()
  }

  override def namespaceExists(ns: String): Boolean = withConn { c =>
    val ps = c.prepareStatement("SELECT 1 FROM graft_namespaces WHERE ns = ?")
    try { ps.setString(1, ns); val rs = ps.executeQuery(); rs.next() }
    finally ps.close()
  }

  override def listNamespaces(): Seq[String] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT ns FROM graft_namespaces ORDER BY ns")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSeq
    } finally st.close()
  }

  // ---- tables -----------------------------------------------------------

  override def tableExists(ns: String, t: String): Boolean = withConn { c =>
    val ps = c.prepareStatement("SELECT 1 FROM graft_tables WHERE ns = ? AND tbl = ?")
    try { ps.setString(1, ns); ps.setString(2, t); ps.executeQuery().next() }
    finally ps.close()
  }

  override def createTable(
      ns: String,
      name: String,
      schema: StructType,
      partitionColumns: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      ifNotExists: Boolean = true): TableMetadata = {
    createNamespace(ns)
    graft.table.PartitionTransforms.validate(schema, partitionColumns)
    requireLineageNamesFree(schema, properties)
    val meta = TableMetadata(ns, name, schema.json, partitionColumns,
      Snaplog.withFieldIdRegistry(schema, properties), System.currentTimeMillis())
    val inserted = withConn { c =>
      val ps = c.prepareStatement(
        "INSERT INTO graft_tables(ns, tbl, meta) VALUES (?, ?, ?)")
      try {
        ps.setString(1, ns); ps.setString(2, name); ps.setString(3, jwrite(meta))
        ps.executeUpdate(); true
      } catch {
        case e: SQLException if e.getSQLState == DuplicateKeyState => false
      } finally ps.close()
    }
    if (!inserted) {
      if (ifNotExists) return loadTable(ns, name)
      throw new IllegalStateException(s"table $ns.$name already exists")
    }
    Files.createDirectories(dataDir(ns, name))
    meta
  }

  override def loadTable(ns: String, t: String): TableMetadata = withConn { c =>
    val ps = c.prepareStatement("SELECT meta FROM graft_tables WHERE ns = ? AND tbl = ?")
    try {
      ps.setString(1, ns); ps.setString(2, t)
      val rs = ps.executeQuery()
      require(rs.next(), s"table $ns.$t does not exist")
      jread[TableMetadata](rs.getString(1))
    } finally ps.close()
  }

  override def dropTable(ns: String, t: String): Unit = {
    withConn { c =>
      c.setAutoCommit(false)
      try {
        Seq("DELETE FROM graft_snapshots WHERE ns = ? AND tbl = ?",
          "DELETE FROM graft_refs WHERE ns = ? AND tbl = ?",
          "DELETE FROM graft_tables WHERE ns = ? AND tbl = ?").foreach { sql =>
          val ps = c.prepareStatement(sql)
          try { ps.setString(1, ns); ps.setString(2, t); ps.executeUpdate(); () }
          finally ps.close()
        }
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally c.setAutoCommit(true) // connection is shared — leave it clean
    }
    val dir = Paths.get(warehouse, ns, t)
    graft.util.Fs.deleteTree(dir)
  }

  /** Rename under a dedicated transaction: FOR UPDATE lock on the
    * catalog row (the same cross-process mutex maintenance takes), the
    * vector-history guard re-validated INSIDE the transaction, all
    * key/body updates batched, the data-directory move just before
    * COMMIT — a failed move rolls the rows back, so the only torn state
    * is a commit failure AFTER a successful move (local-FS rename +
    * embedded Derby make that window negligible; a remote deployment
    * would fence with a catalog epoch).
    *
    * The lock-free CAS commit path does not touch the locked row, so a
    * writer racing the rename from another process cannot be blocked —
    * its INSERT under the old key is detected AFTER the rename commits
    * and surfaces as a loud failure naming the orphaned snapshot (run
    * renames from a maintenance window, like every table format). */
  override def renameTable(ns: String, t: String, newName: String): TableMetadata = synchronized {
    validateRename(ns, t, newName)
    val oldDir = Paths.get(warehouse, ns, t)
    val newDir = Paths.get(warehouse, ns, newName)
    val (oldPrefix, newPrefix) = (oldDir.toString + "/", newDir.toString + "/")
    val c = DriverManager.getConnection(jdbcUrl)
    try {
      c.setAutoCommit(false)
      val lockPs = c.prepareStatement(
        "SELECT meta FROM graft_tables WHERE ns = ? AND tbl = ? FOR UPDATE")
      val meta = try {
        lockPs.setString(1, ns); lockPs.setString(2, t)
        val rs = lockPs.executeQuery()
        require(rs.next(), s"unknown table $ns.$t")
        jread[TableMetadata](rs.getString(1)).copy(name = newName)
      } finally lockPs.close()
      // snapshot bodies: rewrite managed-dir path prefixes (and
      // re-validate the vector guard on the rows the transaction sees —
      // the pre-transaction check can race a deleteMor)
      val snaps = {
        val ps = c.prepareStatement(
          "SELECT snapshot_id, body FROM graft_snapshots WHERE ns = ? AND tbl = ?")
        try {
          ps.setString(1, ns); ps.setString(2, t)
          val rs = ps.executeQuery()
          Iterator.continually(rs).takeWhile(_.next())
            .map(r => r.getLong(1) -> jread[Snapshot](r.getString(2))).toList
        } finally ps.close()
      }
      require(!snaps.exists(_._2.files.exists(_.deleteFile.contains(true))),
        s"cannot rename $ns.$t: snapshot history carries position-delete vectors")
      val up = c.prepareStatement("UPDATE graft_snapshots SET tbl = ?, body = ? " +
        "WHERE ns = ? AND tbl = ? AND snapshot_id = ?")
      try snaps.foreach { case (id, s) =>
        up.setString(1, newName)
        up.setString(2, jwrite(rewriteSnapshotPaths(s, oldPrefix, newPrefix)))
        up.setString(3, ns); up.setString(4, t); up.setLong(5, id)
        up.executeUpdate()
      } finally up.close()
      val rf = c.prepareStatement("UPDATE graft_refs SET tbl = ? WHERE ns = ? AND tbl = ?")
      try { rf.setString(1, newName); rf.setString(2, ns); rf.setString(3, t)
        rf.executeUpdate(); () }
      finally rf.close()
      val mt = c.prepareStatement(
        "UPDATE graft_tables SET tbl = ?, meta = ? WHERE ns = ? AND tbl = ?")
      try { mt.setString(1, newName); mt.setString(2, jwrite(meta))
        mt.setString(3, ns); mt.setString(4, t); mt.executeUpdate(); () }
      finally mt.close()
      if (Files.exists(oldDir))
        Files.move(oldDir, newDir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      c.commit()
      c.setAutoCommit(true) // the detection SELECT must not open a new txn
      // loud detection of a CAS commit that raced the rename: its row
      // landed under the old key after our UPDATEs read it
      val orphanPs = c.prepareStatement(
        "SELECT MAX(snapshot_id) FROM graft_snapshots WHERE ns = ? AND tbl = ?")
      try {
        orphanPs.setString(1, ns); orphanPs.setString(2, t)
        val rs = orphanPs.executeQuery()
        if (rs.next() && rs.getObject(1) != null)
          throw new IllegalStateException(
            s"rename $ns.$t → $newName completed, but a concurrent commit " +
              s"landed under the OLD name (snapshot ${rs.getLong(1)}) and is " +
              "now orphaned — renames require a maintenance window; " +
              "recover the orphaned snapshot's files before vacuuming")
      } finally orphanPs.close()
      meta
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case _: SQLException => () }
        throw e
    } finally c.close()
  }

  override def listTables(ns: String): Seq[String] = withConn { c =>
    val ps = c.prepareStatement("SELECT tbl FROM graft_tables WHERE ns = ? ORDER BY tbl")
    try {
      ps.setString(1, ns)
      val rs = ps.executeQuery()
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSeq
    } finally ps.close()
  }

  override def dataDir(ns: String, t: String): Path =
    Paths.get(warehouse, ns, t, "data")

  override def updateSchema(ns: String, t: String, schema: StructType): TableMetadata =
    replaceMeta(ns, t, loadTable(ns, t).copy(schemaJson = schema.json))

  override def updateProperties(ns: String, t: String,
      set: Map[String, String], unset: Seq[String]): TableMetadata = {
    val m = loadTable(ns, t)
    requireLineageNamesFree(m.schema, set)
    replaceMeta(ns, t, m.copy(properties = (m.properties ++ set) -- unset))
  }

  override def updatePartitionSpec(ns: String, t: String,
      partitionColumns: Seq[String]): TableMetadata =
    replaceMeta(ns, t,
      loadTable(ns, t).copy(partitionColumns = partitionColumns))

  private def replaceMeta(ns: String, t: String,
      updated: TableMetadata): TableMetadata = {
    withConn { c =>
      val ps = c.prepareStatement(
        "UPDATE graft_tables SET meta = ? WHERE ns = ? AND tbl = ?")
      try {
        ps.setString(1, jwrite(updated)); ps.setString(2, ns); ps.setString(3, t)
        ps.executeUpdate()
      } finally ps.close()
    }
    updated
  }

  // ---- snapshot log -----------------------------------------------------

  override def snapshots(ns: String, t: String): Seq[Snapshot] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT body FROM graft_snapshots WHERE ns = ? AND tbl = ? ORDER BY snapshot_id")
    try {
      ps.setString(1, ns); ps.setString(2, t)
      val rs = ps.executeQuery()
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => jread[Snapshot](r.getString(1))).toSeq
    } finally ps.close()
  }

  /** O(1): MAX(snapshot_id) + single-row fetch — the per-commit lookup
    * must not replay a table's whole history (O(n²) I/O over the
    * commit sequence against a remote store). */
  override def currentSnapshot(ns: String, t: String): Option[Snapshot] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT body FROM graft_snapshots WHERE ns = ? AND tbl = ? AND snapshot_id = " +
        "(SELECT MAX(snapshot_id) FROM graft_snapshots WHERE ns = ? AND tbl = ?)")
    try {
      ps.setString(1, ns); ps.setString(2, t); ps.setString(3, ns); ps.setString(4, t)
      val rs = ps.executeQuery()
      if (rs.next()) Some(jread[Snapshot](rs.getString(1))) else None
    } finally ps.close()
  }

  override def commit(
      ns: String, t: String, operation: String,
      files: Seq[DataFileEntry],
      summary: Map[String, String] = Map.empty,
      expectedSnapshotId: Option[Long] = None,
      parentIdOverride: Option[Long] = None): Snapshot = {
    // CAS loop on the snapshot PK: compute next id from the freshest
    // read, INSERT; a duplicate key means another writer landed first —
    // blind commits re-read and retry, conditional commits conflict via
    // buildSnapshot on the re-read (the expectation can no longer hold).
    while (true) {
      // liveness check per attempt: a concurrent rename/drop moved the
      // table's rows away — inserting would orphan this snapshot under
      // a key nothing will ever read
      require(tableExists(ns, t),
        s"table $ns.$t no longer exists (renamed or dropped concurrently)")
      val snap = buildSnapshot(ns, t, currentSnapshot(ns, t), operation,
        files, summary, expectedSnapshotId, parentIdOverride)
      val won = withConn { c =>
        val ps = c.prepareStatement(
          "INSERT INTO graft_snapshots(ns, tbl, snapshot_id, body) VALUES (?, ?, ?, ?)")
        try {
          ps.setString(1, ns); ps.setString(2, t)
          ps.setLong(3, snap.snapshotId); ps.setString(4, jwrite(snap))
          ps.executeUpdate(); true
        } catch {
          case e: SQLException if e.getSQLState == DuplicateKeyState => false
        } finally ps.close()
      }
      if (won) {
        notifyCommit(ns, t, snap)
        maybeCheckpoint(ns, t, snap)
        return snap
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Hot-path replay window (`asOf = None`): stream rows NEWEST-FIRST
    * and stop at the first reset/checkpoint commit — with automatic
    * checkpoints the per-plan fetch+parse cost is O(interval) rows, not
    * O(history). */
  override protected[graft] def windowSnapshots(
      ns: String, t: String, asOf: Option[Long]): Seq[Snapshot] =
    if (asOf.isDefined) super.windowSnapshots(ns, t, asOf)
    else withConn { c =>
      val ps = c.prepareStatement(
        "SELECT body FROM graft_snapshots WHERE ns = ? AND tbl = ? ORDER BY snapshot_id DESC")
      ps.setFetchSize(64)
      try {
        ps.setString(1, ns); ps.setString(2, t)
        val rs = ps.executeQuery()
        var collected = List.empty[Snapshot]
        var done = false
        while (!done && rs.next()) {
          val s = jread[Snapshot](rs.getString(1))
          collected = s :: collected
          if (Snaplog.ResetOps(s.operation)) done = true
        }
        collected
      } finally ps.close()
    }

  // ---- refs + log storage -------------------------------------------------

  override def refs(ns: String, t: String): Map[String, SnapshotRef] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT ref_name, snapshot_id, ref_type FROM graft_refs WHERE ns = ? AND tbl = ?")
    try {
      ps.setString(1, ns); ps.setString(2, t)
      val rs = ps.executeQuery()
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString(1) -> SnapshotRef(r.getLong(2), r.getString(3))).toMap
    } finally ps.close()
  }

  override protected def writeRefs(ns: String, t: String,
      all: Map[String, SnapshotRef]): Unit = withConn { c =>
    c.setAutoCommit(false)
    try {
      val del = c.prepareStatement("DELETE FROM graft_refs WHERE ns = ? AND tbl = ?")
      try { del.setString(1, ns); del.setString(2, t); del.executeUpdate(); () }
      finally del.close()
      val ins = c.prepareStatement(
        "INSERT INTO graft_refs(ns, tbl, ref_name, snapshot_id, ref_type) VALUES (?, ?, ?, ?, ?)")
      try all.foreach { case (name, r) =>
        ins.setString(1, ns); ins.setString(2, t); ins.setString(3, name)
        ins.setLong(4, r.snapshotId); ins.setString(5, r.refType)
        ins.executeUpdate()
      } finally ins.close()
      c.commit()
    } catch { case e: Throwable => c.rollback(); throw e }
    finally c.setAutoCommit(true)
  }

  /** Suffix-preserving log replacement: `kept` is a validated suffix of
    * the log, so expiration only needs to DELETE rows below the suffix
    * and UPDATE the (possibly summary-amended) head row. Rows a racing
    * committer CAS-inserted above `kept.last` are untouched — a
    * committed snapshot can never be lost to a concurrent expiration,
    * with no lock shared with the commit path. */
  override protected def replaceLog(ns: String, t: String, kept: Seq[Snapshot]): Unit =
    withConn { c =>
      c.setAutoCommit(false)
      try {
        val del = c.prepareStatement(
          "DELETE FROM graft_snapshots WHERE ns = ? AND tbl = ? AND snapshot_id < ?")
        try {
          del.setString(1, ns); del.setString(2, t)
          del.setLong(3, kept.head.snapshotId); del.executeUpdate(); ()
        } finally del.close()
        // every kept row's body rewrites (not only the head): expiration
        // amends the head summary, assignRowLineage amends every row —
        // kept windows are expiration-bounded, so this stays small for
        // the hot caller and correct for the backfill
        val upd = c.prepareStatement(
          "UPDATE graft_snapshots SET body = ? WHERE ns = ? AND tbl = ? AND snapshot_id = ?")
        try {
          kept.foreach { s =>
            upd.setString(1, jwrite(s)); upd.setString(2, ns)
            upd.setString(3, t); upd.setLong(4, s.snapshotId)
            upd.executeUpdate(); ()
          }
        } finally upd.close()
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally c.setAutoCommit(true)
    }

  /** Maintenance mutex: an update-locked read of the table's catalog
    * row on a DEDICATED connection, held for the duration of `body`
    * (whose own statements run on the shared connection and touch only
    * snapshot/ref rows — disjoint locks, no deadlock). Serializes
    * concurrent maintenance ops; racing COMMITS are protected
    * independently by the snapshot-PK CAS + suffix-preserving
    * [[replaceLog]]. The FOR UPDATE row lock serializes maintenance
    * against OTHER PROCESSES; the whole section also holds
    * this instance's monitor (`synchronized`): the body's catalog calls
    * re-enter `withConn`'s monitor reentrantly, and no OTHER thread can
    * be inside `withConn` mid-statement against the row we are locking
    * — without this, a thread holding the monitor and blocking on our
    * row lock while we block on its monitor is a cross-resource
    * deadlock frozen until Derby's lock timeout. */
  override protected def withTableMutex[A](ns: String, t: String)(body: => A): A = synchronized {
    val c = DriverManager.getConnection(jdbcUrl)
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(
        "SELECT meta FROM graft_tables WHERE ns = ? AND tbl = ? FOR UPDATE")
      try {
        ps.setString(1, ns); ps.setString(2, t)
        // no row = no FOR UPDATE lock taken: the cross-process mutex
        // would be silently void — fail loudly instead
        require(ps.executeQuery().next(), s"unknown table $ns.$t")
      } finally ps.close()
      val r = body
      c.commit()
      r
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case _: SQLException => () }
        throw e
    } finally c.close()
  }

  /** Release the shared connection (the per-instance "pool"). The
    * embedded Derby database itself stays booted — other catalog
    * instances on the same path may still hold connections. Safe to
    * call repeatedly; the catalog reopens lazily if used again. */
  override def close(): Unit = synchronized {
    if (shared != null) {
      try shared.close() catch { case _: SQLException => () }
      shared = null
    }
  }
}
