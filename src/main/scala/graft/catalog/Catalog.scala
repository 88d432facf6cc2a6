package graft.catalog

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType

/** Pluggable catalog/table-format interface — the abstraction the
  * reference gets from PyIceberg's `load_catalog(type=...)`, which it
  * exercises with BOTH a SQLite catalog (`main-polars.py:49-53`) and a
  * PostgreSQL catalog (`main-polars-psql.py:149-154`). Implementations
  * here: [[Snaplog]] (JSON/JSONL files, no services) and
  * [[JdbcCatalog]] (embedded Derby — the SQL-catalog deployment shape).
  *
  * The contract is storage-agnostic metadata: where snapshots LIVE is
  * the implementation's business; how a snapshot's live file set
  * replays, how expiration validates, and how refs behave are shared
  * here so every implementation agrees on table semantics.
  */
trait Catalog {

  // ---- namespaces --------------------------------------------------------

  /** Idempotent, like the reference's create-and-catch (`main-polars.py:144-148`). */
  def createNamespace(ns: String): Unit
  def namespaceExists(ns: String): Boolean
  def listNamespaces(): Seq[String]

  // ---- tables ------------------------------------------------------------

  def tableExists(ns: String, t: String): Boolean

  def createTable(
      ns: String,
      name: String,
      schema: StructType,
      partitionColumns: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      ifNotExists: Boolean = true): TableMetadata

  def loadTable(ns: String, t: String): TableMetadata
  def dropTable(ns: String, t: String): Unit
  def listTables(ns: String): Seq[String]

  /** Rename a table within its namespace — METADATA-ONLY: the table
    * directory moves (one filesystem rename, data files untouched) and
    * every log path under the old managed dir rewrites to the new
    * prefix; externally-registered paths (add_files outside the managed
    * dir) stay as-is. Requires no concurrent writers on the table, like
    * any filesystem-visible rename; a racer fails loudly, never
    * silently. Refused while ANY snapshot (current or historical)
    * carries a position-delete vector: vector parquet stores absolute
    * data-file paths, so a rename would silently resurrect deleted rows
    * on replay — compact and expire the vector windows first. */
  def renameTable(ns: String, t: String, newName: String): TableMetadata

  /** Reserved-lineage-name guard (round 17, ADVICE): a table whose
    * properties enable native row lineage must not declare user columns
    * under the v3 reserved virtual-column names — the lineage read's
    * extended schema and rewrite materialization would otherwise build
    * duplicate/ambiguous `_row_id`/`_last_updated_sequence_number`
    * columns and corrupt materialized rewrites. `enableRowLineage()`
    * guards the live flip; this guards the CREATION-time property path
    * (create with `graft.row-lineage=true`) and any later
    * `updateProperties` that sets the flag — every implementation
    * calls it from both. */
  protected final def requireLineageNamesFree(schema: StructType,
      props: Map[String, String]): Unit =
    if (props.get(Snaplog.RowLineageProp).contains("true")) {
      val bad = schema.fieldNames.filter(n =>
        n.equalsIgnoreCase("_row_id") ||
          n.equalsIgnoreCase("_last_updated_sequence_number"))
      require(bad.isEmpty,
        s"${Snaplog.RowLineageProp}=true reserves the column names " +
          "_row_id/_last_updated_sequence_number for Iceberg v3 row " +
          s"lineage; the schema declares (${bad.mkString(", ")}) — rename " +
          "the column(s) or leave row lineage off")
    }

  /** Shared rename guards + log-path rewrite (managed-dir prefix only). */
  protected final def validateRename(ns: String, t: String, newName: String): Unit = {
    require(tableExists(ns, t), s"table $ns.$t does not exist")
    require(!tableExists(ns, newName), s"table $ns.$newName already exists")
    require(newName.nonEmpty && !newName.contains('/') && !newName.contains('.'),
      s"illegal table name '$newName'")
    require(!snapshots(ns, t).exists(_.files.exists(_.deleteFile.contains(true))),
      s"cannot rename $ns.$t: snapshot history carries position-delete " +
        "vectors whose contents record absolute data-file paths — a rename " +
        "would resurrect deleted rows; compact() and expire the vector " +
        "windows first")
  }

  protected final def rewriteSnapshotPaths(s: Snapshot,
      oldPrefix: String, newPrefix: String): Snapshot =
    s.copy(files = s.files.map { f =>
      if (f.path.startsWith(oldPrefix))
        f.copy(path = newPrefix + f.path.stripPrefix(oldPrefix))
      else f
    })

  /** Filesystem directory new data files for this table are written
    * under — every catalog implementation still stores DATA as parquet
    * on the warehouse filesystem; only metadata placement differs. */
  def dataDir(ns: String, t: String): Path

  /** Replace the table schema (schema evolution commit). Caller is
    * responsible for evolution legality (see LakehouseTable.addColumn —
    * additive nullable changes are always safe: parquet scans fill
    * missing columns with null). */
  def updateSchema(ns: String, t: String, schema: StructType): TableMetadata

  /** Merge and remove table properties — a metadata-only change (`set`
    * merges first, then `unset` keys drop). Properties never affect
    * replay or file resolution, so no snapshot commits. */
  def updateProperties(ns: String, t: String,
      set: Map[String, String], unset: Seq[String]): TableMetadata

  /** Replace the partition spec (PARTITION EVOLUTION — Iceberg's
    * metadata-only `update_spec`): new writes lay out and record
    * partition values under the new spec; existing files keep the
    * values they were written with. Every prune path treats a file
    * that lacks a current-spec field conservatively (reads stay exact),
    * while layout-attributing operations (dynamic partition overwrite,
    * Iceberg metadata export) refuse mixed coverage loudly with
    * compact-first guidance — compaction rewrites the whole table
    * under the current spec and restores uniformity. Spec legality is
    * the caller's job ([[graft.table.LakehouseTable.updateSpec]]
    * re-runs create-time validation). */
  def updatePartitionSpec(ns: String, t: String,
      partitionColumns: Seq[String]): TableMetadata

  // ---- snapshot log ------------------------------------------------------

  /** Full commit history, oldest first, ids dense and monotonic. */
  def snapshots(ns: String, t: String): Seq[Snapshot]

  def currentSnapshot(ns: String, t: String): Option[Snapshot] =
    snapshots(ns, t).lastOption

  /** Append one commit to the log; snapshot ids are dense and monotonic.
    *
    * Concurrency contract (every implementation): racing committers
    * serialize, and BOTH land with distinct sequential ids. A committer
    * whose file list was computed against `expectedSnapshotId` gets a
    * [[CommitConflictException]] if the table advanced past it —
    * optimistic concurrency, Iceberg's CAS-on-metadata model. Blind
    * appends (no expectation) never conflict.
    *
    * `parentIdOverride` records a non-linear parent (a WAP branch head)
    * in the snapshot row; it never changes id assignment or conflict
    * semantics — lineage is informational for main, structural only for
    * branch replay (see LakehouseTable.scanBranch). */
  def commit(
      ns: String, t: String, operation: String,
      files: Seq[DataFileEntry],
      summary: Map[String, String] = Map.empty,
      expectedSnapshotId: Option[Long] = None,
      parentIdOverride: Option[Long] = None): Snapshot

  // ---- commit listeners (round 16) ----------------------------------------
  // Post-commit hooks — the mechanism behind publish-on-commit
  // ([[graft.interop.RestServe.startLive]] re-exports a served table
  // when the WRITER commits, so readers never pay export latency in
  // the request path). Contract mirrors maybeCheckpoint: the snapshot
  // has already durably landed when a listener runs, so NO listener
  // failure may surface as a commit failure — exceptions are swallowed
  // (a listener needing visibility keeps its own error state, as the
  // REST server's stale-watermark fallback does). Listeners run on the
  // committer's thread AFTER the critical section: they may read the
  // table, but a listener that commits back to the SAME table must
  // tolerate recursion. This is per-catalog-INSTANCE state (in-memory):
  // a writer on a different Catalog instance of the same warehouse
  // does not fire these — consumers that need cross-instance currency
  // keep a read-path fallback.

  private val commitListeners =
    new java.util.concurrent.CopyOnWriteArrayList[
      (String, String, Snapshot) => Unit]

  final def addCommitListener(f: (String, String, Snapshot) => Unit): Unit = {
    commitListeners.add(f); ()
  }

  final def removeCommitListener(
      f: (String, String, Snapshot) => Unit): Unit = {
    commitListeners.remove(f); ()
  }

  /** Implementations call this after every successful commit, outside
    * their critical section (alongside [[maybeCheckpoint]]). */
  protected final def notifyCommit(ns: String, t: String, s: Snapshot): Unit =
    commitListeners.forEach { f =>
      try f(ns, t, s)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Live data files as of `asOf` (default: current) — replay from the
    * latest overwrite/replace at-or-before the target snapshot. Time
    * travel = this file list fed to a plain parquet scan. Position-
    * delete vectors are excluded — see [[liveDeleteFiles]]. WAP-staged
    * branch commits (write-audit-publish, summary-marked) are NOT main
    * history and never contribute here. */
  final def liveFiles(ns: String, t: String, asOf: Option[Long] = None): Seq[DataFileEntry] =
    windowSnapshots(ns, t, asOf).filterNot(Snaplog.isWapStaged)
      .flatMap(_.files).filterNot(_.deleteFile.contains(true))

  /** Replay-ordered entries added on MAIN lineage in `(fromSnapshot,
    * toSnapshot]`: data files interleaved with EQUALITY-delete key
    * files, in the order the log committed them — the NET-delta
    * contract `LakehouseTable.scanIncremental` and the streaming table
    * source share. An in-window equality delete applies (per replay
    * order) to the in-window data files that precede it; its effect on
    * rows emitted BEFORE `fromSnapshot` is inherently non-retractable
    * in an additive delta and is the caller's documented blind spot.
    * Reset commits and merge-on-read position deletes still refuse
    * loudly (positions reference pre-existing files — never additive);
    * `admitLeadingVectors` relaxes the latter for consumers with SKIP
    * semantics (the streaming table source): a position-delete commit
    * that precedes every data-adding commit in the window touches only
    * rows emitted BEFORE the window, so a non-retracting consumer may
    * cross it as a content no-op — vectors interleaved after adds
    * still refuse. Checkpoint folds re-list window files; the path-set
    * difference keeps exactly the genuinely-new entries in replay
    * order. */
  final def addedEntriesBetween(ns: String, t: String,
      fromSnapshot: Long, toSnapshot: Long,
      admitLeadingVectors: Boolean = false): Seq[DataFileEntry] = {
    val snaps = snapshots(ns, t).filterNot(Snaplog.isWapStaged)
    val ids = snaps.map(_.snapshotId)
    require(ids.contains(fromSnapshot),
      s"unknown snapshot $fromSnapshot of $ns.$t")
    require(ids.contains(toSnapshot),
      s"unknown snapshot $toSnapshot of $ns.$t")
    require(toSnapshot >= fromSnapshot,
      s"toSnapshot $toSnapshot precedes fromSnapshot $fromSnapshot")
    val between = snaps.filter(s =>
      s.snapshotId > fromSnapshot && s.snapshotId <= toSnapshot)
    require(between.forall(s => !Snaplog.ResetOps(s.operation) ||
        s.operation == Snaplog.OpCheckpoint),
      s"incremental read across a reset commit " +
        s"(${(Snaplog.ResetOps - Snaplog.OpCheckpoint).mkString("/")}) is undefined")
    if (!admitLeadingVectors)
      require(between.forall(s => s.operation != Snaplog.OpMorDelete),
        "incremental read across a merge-on-read (position) delete is " +
          "undefined (the delta is not expressible as file-adds)")
    else {
      val lastVec = between.lastIndexWhere(_.operation == Snaplog.OpMorDelete)
      // "adds" = commits introducing GENUINELY NEW data — a checkpoint
      // fold re-lists pre-existing files (content no-op) and must not
      // count, or a [checkpoint, vector] window would refuse spuriously
      val firstAdd = between.indexWhere(s =>
        s.operation != Snaplog.OpCheckpoint &&
          s.files.exists(f => !f.deleteFile.contains(true)))
      require(lastVec < 0 || firstAdd < 0 || lastVec < firstAdd,
        "incremental read: a merge-on-read (position) delete follows " +
          "in-window file adds — its rows would need subtraction; only " +
          "window-leading vectors are skippable")
    }
    val beforeData = liveFiles(ns, t, Some(fromSnapshot)).map(_.path).toSet
    val beforeDels = liveDeleteFiles(ns, t, Some(fromSnapshot)).map(_.path).toSet
    // liveEntriesOrdered preserves the data-vs-delete interleaving the
    // equality semantics key off, including across checkpoint folds
    liveEntriesOrdered(ns, t, Some(toSnapshot)).filter { e =>
      if (e.deleteFile.contains(true))
        e.equalityKey.isDefined && !beforeDels(e.path)
      else !beforeData(e.path)
    }
  }

  /** Data files and delete vectors from ONE replay of the log window —
    * table loading needs both, and replaying twice doubles the log I/O
    * on the per-query planning hot path. */
  final def liveFilesSplit(ns: String, t: String,
      asOf: Option[Long] = None): (Seq[DataFileEntry], Seq[DataFileEntry]) = {
    val (del, data) = liveEntriesOrdered(ns, t, asOf)
      .partition(_.deleteFile.contains(true))
    (data, del)
  }

  /** ALL live entries — data files, position vectors, equality-delete
    * files — in REPLAY ORDER, which is load-bearing for equality
    * deletes: one applies exactly to the data entries that precede it.
    * Checkpoint folds preserve this order (they re-list the window's
    * files by flatMap), so the sequencing survives log bounding. */
  final def liveEntriesOrdered(ns: String, t: String,
      asOf: Option[Long] = None): Seq[DataFileEntry] =
    windowSnapshots(ns, t, asOf).filterNot(Snaplog.isWapStaged).flatMap(_.files)

  /** Position-delete vectors live as of `asOf`: MOR delete commits in
    * the current replay window. A reset commit (overwrite / replace /
    * COW delete / compaction / checkpoint) starts a fresh window, so
    * materialized rewrites naturally retire their delete vectors (a
    * checkpoint CARRIES outstanding vectors forward as entries of its
    * own, so it retires nothing semantically). */
  final def liveDeleteFiles(ns: String, t: String, asOf: Option[Long] = None): Seq[DataFileEntry] =
    windowSnapshots(ns, t, asOf).filterNot(Snaplog.isWapStaged)
      .flatMap(_.files).filter(_.deleteFile.contains(true))

  /** The replay window: snapshots from the latest reset commit
    * at-or-before the target (checkpoints count — that is their whole
    * point). Default derives it from the full history; implementations
    * override the `asOf = None` hot path to read the log BACKWARDS and
    * deserialize only the window, so per-scan/per-commit planning cost
    * is O(window), bounded by [[checkpointInterval]], not O(history).
    * `protected[graft]` so specs can assert the bound. */
  protected[graft] def windowSnapshots(ns: String, t: String, asOf: Option[Long]): Seq[Snapshot] = {
    val all = snapshots(ns, t)
    val upto = asOf match {
      case Some(id) =>
        require(all.exists(_.snapshotId == id), s"snapshot $id not found for $ns.$t")
        all.takeWhile(_.snapshotId <= id)
      case None => all
    }
    val fromIdx = upto.lastIndexWhere(s => Snaplog.ResetOps(s.operation))
    if (fromIdx < 0) upto else upto.drop(fromIdx)
  }

  /** Log-bounding checkpoints: once the replay window since the last
    * reset commit reaches this many snapshots, the next commit folds
    * the live file set (data + delete vectors) into an automatic
    * `checkpoint` snapshot, so scan/commit planning replays O(interval)
    * log entries no matter how many appends a table accumulates
    * (10⁴ small streaming appends must not mean 10⁴ JSON parses per
    * plan). ≤ 0 disables. */
  def checkpointInterval: Int = 100

  /** Called by implementations after every successful commit (OUTSIDE
    * their critical section — the checkpoint is an ordinary commit of
    * its own). No-op unless `last` extended the window to the
    * threshold. Losing the conditional commit to a racing writer is
    * fine: that writer's own commit re-triggers the fold. */
  protected final def maybeCheckpoint(ns: String, t: String, last: Snapshot): Unit = {
    if (checkpointInterval <= 0) return
    if (Snaplog.ResetOps(last.operation)) return
    val window = windowSnapshots(ns, t, None)
    if (window.size < checkpointInterval) return
    // WAP-staged branch commits are not main content: folding their
    // files would leak unpublished data into every subsequent main
    // scan. Branch replay is lineage-based (full history), so the
    // fold cutting them out of the hot window loses nothing.
    val files = window.filterNot(Snaplog.isWapStaged)
      .flatMap(_.files).distinctBy(_.path)
    // The user's snapshot has already durably landed — NO failure of
    // this opportunistic fold may surface as a commit failure (a caller
    // that retried would duplicate its append). Conflicts, lock
    // timeouts, I/O errors, a torn read racing a concurrent append:
    // all safely deferred to the next commit's fold attempt.
    try {
      commit(ns, t, Snaplog.OpCheckpoint, files,
        Map("checkpoint" -> "auto", "window" -> window.size.toString),
        expectedSnapshotId = Some(last.snapshotId))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  // ---- refs (tags / branches) ---------------------------------------------

  def refs(ns: String, t: String): Map[String, SnapshotRef]

  /** Staged lineage of a WAP `branch`: (fork-base snapshot id if any,
    * staged WAP commits oldest-first). Walks parentIds from the ref
    * head through the staged chain — full-history read, lineage-exact,
    * and therefore immune to checkpoint folds cutting the hot window.
    * An expired fork base fails LOUDLY: reinterpreting it as an
    * empty-table fork would silently drop fork-point content from
    * branch reads. A branch ref at a plain (published) snapshot returns
    * (Some(id), Nil). */
  final def branchLineage(ns: String, t: String,
      branch: String): (Option[Long], Seq[Snapshot]) = {
    val r = refs(ns, t).getOrElse(branch,
      throw new IllegalArgumentException(s"branch '$branch' not found for $ns.$t"))
    require(r.refType == "branch", s"ref '$branch' is a tag")
    val byId = snapshots(ns, t).map(s => s.snapshotId -> s).toMap
    var cur = byId.getOrElse(r.snapshotId, throw new IllegalStateException(
      s"branch '$branch' points at expired snapshot ${r.snapshotId}"))
    var staged = List.empty[Snapshot]
    while (Snaplog.isWapStaged(cur)) {
      require(cur.summary.get(Snaplog.WapBranchKey).contains(branch),
        s"branch '$branch' lineage crosses another branch's staged commit " +
          s"at snapshot ${cur.snapshotId}")
      staged = cur :: staged
      cur.parentId match {
        case None => return (None, staged) // genuinely forked from an empty table
        case Some(pid) => cur = byId.getOrElse(pid, throw new IllegalStateException(
          s"branch '$branch' fork lineage expired at snapshot $pid — " +
            "publish or drop the ref before expiring its history"))
      }
    }
    (Some(cur.snapshotId), staged)
  }

  /** Persist the complete ref map (implementation storage). */
  protected def writeRefs(ns: String, t: String, all: Map[String, SnapshotRef]): Unit

  /** Create or (branches only) retarget a named ref. Tags are immutable:
    * re-pointing an existing tag is an error, matching Iceberg ref
    * semantics. The target snapshot must exist. */
  final def setRef(ns: String, t: String, name: String, snapshotId: Long,
      refType: String = "tag"): SnapshotRef = withTableMutex(ns, t) {
    require(refType == "tag" || refType == "branch",
      s"refType must be tag|branch, got '$refType'")
    require(snapshots(ns, t).exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId not found for $ns.$t")
    val cur = refs(ns, t)
    cur.get(name).foreach { r =>
      require(r.refType == "branch",
        s"ref '$name' is a tag and cannot be re-pointed")
    }
    val ref = SnapshotRef(snapshotId, refType)
    writeRefs(ns, t, cur + (name -> ref))
    ref
  }

  final def dropRef(ns: String, t: String, name: String): Unit = withTableMutex(ns, t) {
    val cur = refs(ns, t)
    if (cur.contains(name)) writeRefs(ns, t, cur - name)
  }

  // ---- maintenance ---------------------------------------------------------

  /** Serialize a read-validate-write maintenance operation (history
    * expiration, ref writes) against concurrent maintenance AND — where
    * the implementation's commit path takes the same mutex (Snaplog's
    * per-table lock file) — against concurrent commits. JdbcCatalog's
    * commits are lock-free CAS inserts instead; its [[replaceLog]] is
    * suffix-preserving so a racing commit's row survives expiration.
    * [[vacuum]] is NOT covered: it races data-file writes that happen
    * before their commit, so it requires exclusive table access by
    * contract (documented there). */
  protected def withTableMutex[A](ns: String, t: String)(body: => A): A = body

  /** Schema/registry evolutions are READ-MODIFY-WRITE over two metadata
    * keys — run them under the same per-table mutex maintenance uses
    * (the commit lock on the file backend), so two concurrent
    * evolutions cannot interleave and alias a field id to two columns.
    * The body must not call `commit` (the mutex is not reentrant). */
  final def withEvolutionLock[A](ns: String, t: String)(body: => A): A =
    withTableMutex(ns, t)(body)

  /** Replace the persisted snapshot log with exactly `kept`
    * (implementation storage; called by [[expireSnapshots]] after
    * validation and by [[assignRowLineage]]'s backfill). `kept` is
    * always a contiguous SUFFIX of the log at validation time
    * (possibly with row bodies amended — the head's summary for
    * expiration, every row for the lineage backfill); implementations
    * may preserve rows newer than `kept.last` appended by a concurrent
    * committer. */
  protected def replaceLog(ns: String, t: String, kept: Seq[Snapshot]): Unit

  /** Expire history: keep only the last `keepLast` snapshots. Refused
    * unless the kept suffix is self-contained (contains an overwrite/
    * replace base, or nothing is dropped) — expiring snapshots that
    * still contribute live files would corrupt the table; compact or
    * overwrite first.
    *
    * High-water marks under [[Snaplog.CarryMaxKeys]] (the idempotent
    * streaming-sink batch ids) are folded forward: the running maximum
    * across the DROPPED snapshots merges into the oldest kept
    * snapshot's summary, so expiration never re-opens the door to a
    * replayed micro-batch. Returns the kept snapshots. */
  final def expireSnapshots(ns: String, t: String, keepLast: Int): Seq[Snapshot] = withTableMutex(ns, t) {
    require(keepLast >= 1, "must keep at least one snapshot")
    val all = snapshots(ns, t)
    if (all.size <= keepLast) return all
    val kept0 = all.takeRight(keepLast)
    require(kept0.exists(s => Snaplog.ResetOps(s.operation)),
      s"cannot expire: the last $keepLast snapshots have no overwrite/replace base; " +
        "older snapshots still contribute live files — compact first")
    val keptIds = kept0.map(_.snapshotId).toSet
    val orphanedRefs = refs(ns, t).filter { case (_, r) => !keptIds.contains(r.snapshotId) }
    require(orphanedRefs.isEmpty,
      s"cannot expire: refs ${orphanedRefs.keys.toSeq.sorted.mkString(", ")} " +
        "still point at snapshots that would be dropped — drop the refs first")
    val dropped = all.dropRight(keepLast)
    val carried = Snaplog.CarryMaxKeys.flatMap { k =>
      dropped.flatMap(_.summary.get(k))
        .flatMap(v => scala.util.Try(v.toLong).toOption)
        .maxOption.map(k -> _)
    }.toMap
    val kept =
      if (carried.isEmpty) kept0
      else {
        val head = kept0.head
        val merged = carried.foldLeft(head.summary) { case (s, (k, v)) =>
          val cur = s.get(k).flatMap(x => scala.util.Try(x.toLong).toOption)
          if (cur.exists(_ >= v)) s else s + (k -> v.toString)
        }
        kept0.updated(0, head.copy(summary = merged))
      }
    replaceLog(ns, t, kept)
    kept
  }

  /** Time-based expiration (the `expire_snapshots(older_than=…)` form
    * every table format exposes for retention policies): keep every
    * snapshot committed at-or-after `olderThanMs`, but always at least
    * `retainLast` regardless of age. Resolves to a keep-count and
    * delegates to [[expireSnapshots]], so the self-containment and
    * ref-orphaning guards (and the high-water-mark carry) apply
    * unchanged. */
  final def expireSnapshotsOlderThan(ns: String, t: String, olderThanMs: Long,
      retainLast: Int = 1): Seq[Snapshot] = {
    require(retainLast >= 1, "must retain at least one snapshot")
    val all = snapshots(ns, t)
    if (all.isEmpty) return all
    val youngEnough = all.count(_.timestampMs >= olderThanMs)
    expireSnapshots(ns, t, math.max(retainLast, math.max(1, youngEnough)))
  }

  /** Delete data files under the table's managed data dir that no
    * remaining snapshot references (orphans left by expiration or
    * overwrites). Never touches files outside the managed dir (e.g.
    * add_files registrations). Returns deleted paths.
    *
    * `graceMs` is the remove-orphan-files age guard every table format
    * ships: a file younger than the threshold is NEVER deleted, because
    * a concurrent writer stages data files BEFORE its commit references
    * them, and no metadata lock can distinguish staged-not-yet-committed
    * files from orphans — age can. The default (1 h) makes vacuum safe
    * to run alongside writers whose stage-to-commit window is shorter;
    * pass 0 only under genuinely exclusive table access. */
  final def vacuum(ns: String, t: String,
      graceMs: Long = Snaplog.VacuumGraceMs): Seq[String] = {
    // the current ANALYZE statistics file is property-referenced, not
    // snapshot-referenced — keep it; superseded stats files from
    // earlier ANALYZE runs are exactly what vacuum should collect
    val referenced = snapshots(ns, t).flatMap(_.files).map(_.path).toSet ++
      loadTable(ns, t).properties.get(graft.table.TableStats.PathProp)
    val dd = dataDir(ns, t)
    if (!Files.isDirectory(dd)) return Seq.empty
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    val orphans = graft.util.Fs.walkList(dd)
      .filter(p => Files.isRegularFile(p) && !referenced.contains(p.toString) &&
        (try Files.getLastModifiedTime(p).toMillis <= cutoff
         catch { case _: java.io.IOException => false })) // vanished/unreadable: skip
      .map(_.toString).sorted
    orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    // prune now-empty directories bottom-up
    graft.util.Fs.walkList(dd).reverse
      .filter(p => Files.isDirectory(p) && p != dd)
      .foreach { p =>
        val s = Files.list(p)
        val empty = try !s.iterator.hasNext finally s.close()
        if (empty) Files.deleteIfExists(p)
      }
    orphans
  }

  /** Next snapshot for `prev` under `operation` — shared so every
    * implementation stamps identical snapshot rows. Enforces the
    * optimistic-concurrency expectation; call INSIDE the
    * implementation's critical section. */
  protected final def buildSnapshot(
      ns: String, t: String, prev: Option[Snapshot], operation: String,
      files: Seq[DataFileEntry], summary: Map[String, String],
      expectedSnapshotId: Option[Long],
      parentIdOverride: Option[Long] = None): Snapshot = {
    expectedSnapshotId.foreach { want =>
      val cur = prev.map(_.snapshotId).getOrElse(0L)
      if (cur != want) {
        // A lineage from the expected snapshot to the current one made
        // ENTIRELY of content no-ops for MAIN — automatic checkpoint
        // folds (re-list the exact live set) and WAP-staged branch
        // commits (not main history at all) — leaves the writer's read
        // state current, so its commit is safe. Without this, every
        // in-flight conditional writer (SQL COW DML, INSERT, upsert)
        // would spuriously fail at each interval boundary or staged
        // branch write under concurrent activity. History is read only
        // on this (rare) mismatch path.
        val noOpLineage = cur > want && {
          val between = snapshots(ns, t)
            .filter(s => s.snapshotId > want && s.snapshotId <= cur)
          // CONTIGUITY is load-bearing: ids are dense-monotonic, so a
          // gap means expiration dropped part of the lineage — a real
          // interleaved commit could be hiding in it, and accepting
          // would let a stale overwrite silently discard its rows.
          between.map(_.snapshotId) == (want + 1 to cur) &&
            between.forall(s =>
              s.operation == Snaplog.OpCheckpoint || Snaplog.isWapStaged(s))
        }
        if (!noOpLineage)
          throw new CommitConflictException(
            s"commit to $ns.$t expected snapshot $want but found $cur — " +
              "another writer committed first; re-read and retry")
      }
    }
    val snapshotId = prev.map(_.snapshotId + 1).getOrElse(1L)
    // NATIVE row lineage (round 16, [[Snaplog.RowLineageProp]]): new
    // data files get Iceberg-v3 first_row_id / data-sequence
    // assignments at commit — the spec's writer-side model. The range
    // base is the previous commit's next-row-id mark (derived from a
    // one-time history walk on the first lineage commit), advanced by
    // the new files' row counts and stamped into this summary;
    // already-assigned entries (adopted imports, carried re-listings)
    // pass through untouched, so a rollback or checkpoint never
    // renumbers. One small metadata read per commit pays for the
    // property check.
    val (assigned, lineageSummary) = {
      val lineage = try {
        loadTable(ns, t).properties
          .get(Snaplog.RowLineageProp).contains("true")
      } catch { case scala.util.control.NonFatal(_) => false }
      if (!lineage) (files, Map.empty[String, String])
      else {
        val base = prev.flatMap(_.summary.get(Snaplog.NextRowIdKey))
          .flatMap(_.toLongOption)
          .getOrElse(snapshots(ns, t).iterator.flatMap(_.files)
            .filterNot(_.deleteFile.contains(true))
            .flatMap(e => e.firstRowId.map(_ + e.rowCount))
            .maxOption.getOrElse(0L))
        var next = base
        val out = files.map { f =>
          if (f.deleteFile.contains(true) || f.firstRowId.isDefined ||
              f.lineageInFile.contains(true)) f
          else {
            val fr = next; next += f.rowCount
            f.copy(firstRowId = Some(fr), dataSeq = Some(snapshotId))
          }
        }
        (out, Map(Snaplog.NextRowIdKey -> next.toString))
      }
    }
    Snapshot(
      snapshotId = snapshotId,
      parentId = parentIdOverride.orElse(prev.map(_.snapshotId)),
      timestampMs = System.currentTimeMillis(),
      operation = operation,
      files = assigned,
      summary = summary ++ lineageSummary ++ Map(
        "added-files" -> files.size.toString,
        "added-records" -> files.map(_.rowCount).sum.toString))
  }

  /** Stamp Iceberg-v3 row-lineage assignments onto EVERY data entry of
    * the table's history that lacks one, idempotently, and persist the
    * rewritten log — the one-time backfill behind
    * [[graft.table.LakehouseTable.enableRowLineage]] and the
    * persistence pass a v3 [[graft.interop.IcebergExport]] runs so
    * re-exports never renumber native rows (the spec's writers stamp
    * `first_row_id` at write time; this stamps it at first need).
    *
    * Assignment model: ids allocate in LISTING order by each file's
    * FIRST occurrence (the commit that introduced it); re-listings
    * (checkpoint folds, overwrite carries, rollbacks) receive the same
    * assignment, and existing assignments (adopted v3 imports, prior
    * lineage commits) are preserved verbatim with new ranges starting
    * above them. Each snapshot's summary gains the running
    * `next-row-id` mark. Data-sequence = the introducing snapshot's id
    * (ids are dense-monotonic, so they ARE the commit sequence).
    *
    * Runs under the table's maintenance mutex; like renameTable, run
    * it without concurrent writers on THIS table (a racing commit on
    * another catalog instance could interleave between the walk and
    * the rewrite). Returns the table's next unassigned row id. */
  final def assignRowLineage(ns: String, t: String): Long = withTableMutex(ns, t) {
    val all = snapshots(ns, t)
    if (all.isEmpty) return 0L
    def isData(f: DataFileEntry): Boolean = !f.deleteFile.contains(true)
    var next = math.max(
      all.iterator.flatMap(_.files).filter(isData)
        .flatMap(e => e.firstRowId.map(_ + e.rowCount)).maxOption.getOrElse(0L),
      all.iterator.flatMap(_.summary.get(Snaplog.NextRowIdKey))
        .flatMap(_.toLongOption).maxOption.getOrElse(0L))
    val byPath = scala.collection.mutable.Map.empty[String, (Long, Long)]
    all.foreach(s => s.files.foreach { f =>
      if (isData(f) && f.firstRowId.isDefined && !byPath.contains(f.path))
        byPath(f.path) = (f.firstRowId.get, f.dataSeq.getOrElse(s.snapshotId))
    })
    var changed = false
    val rewritten = all.map { s =>
      val fs = s.files.map { f =>
        // a materialized-lineage file carries its ids IN the data —
        // nothing to assign, ranges untouched
        if (!isData(f) || f.lineageInFile.contains(true)) f
        else byPath.get(f.path) match {
          case Some((fr, seq))
            if !f.firstRowId.contains(fr) || !f.dataSeq.contains(seq) =>
            changed = true
            f.copy(firstRowId = Some(fr), dataSeq = Some(seq))
          case Some(_) => f
          case None =>
            changed = true
            val fr = next; next += f.rowCount
            byPath(f.path) = (fr, s.snapshotId)
            f.copy(firstRowId = Some(fr), dataSeq = Some(s.snapshotId))
        }
      }
      val mark = s.summary.get(Snaplog.NextRowIdKey).flatMap(_.toLongOption)
      if (!mark.exists(_ >= next)) changed = true
      s.copy(files = fs,
        summary = s.summary +
          (Snaplog.NextRowIdKey -> math.max(next, mark.getOrElse(0L)).toString))
    }
    if (changed) replaceLog(ns, t, rewritten)
    next
  }
}
