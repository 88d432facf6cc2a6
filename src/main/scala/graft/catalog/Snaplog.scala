package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.Serialization
import org.json4s.jackson.Serialization.{read => jread, write => jwrite}

/** Per-file, per-column value bounds (stringified; numeric columns
  * parse back to double at prune time). Iceberg-manifest-style stats:
  * collected once at commit from the parquet footer, consulted at scan
  * planning so files whose [min,max] cannot match a range predicate are
  * never handed to Spark. */
case class ColBounds(min: String, max: String)

/** One data file registered to a snapshot.
  *
  * `partitionValues` holds the identity-partition value(s) of the file so
  * partition pruning is a pure metadata operation — the engine resolves
  * the pruned file list from the log BEFORE constructing the Spark scan
  * (manifest-style pruning, like the reference's catalog-tracked
  * partition spec `main-polars.py:135-142`; no directory listing at plan
  * time, which is what survives at 100 TB / millions of files).
  *
  * `deleteFile = Some(true)` marks a POSITION-DELETE vector (parquet of
  * `(file_path, row_index)` rows, Iceberg-v2 MOR tier) rather than a
  * data file; absent/None (all pre-existing log entries) means data.
  *
  * `nullCounts` records per-column null counts from the parquet footer
  * (Iceberg-manifest `null_value_counts`): a column appears only when
  * EVERY row group set the stat, so a recorded value is exact — which
  * is what licenses metadata `COUNT(col)` on nullable columns and
  * IS [NOT] NULL file pruning. Absent for pre-existing log entries
  * (json4s default) = unknown = never prune, never answer.
  *
  * `equalityKey = Some(col)` (with `deleteFile = Some(true)`) marks an
  * EQUALITY-DELETE file (Iceberg v2 equality deletes): a parquet of
  * deleted key VALUES in column `col`. It applies to data files that
  * precede it in replay order (scan-side broadcast anti-join on the
  * key), so rows appended after the delete with the same key survive —
  * the keyed-CDC contract. Retired by any reset commit, like position
  * vectors.
  *
  * `firstRowId`/`dataSeq` carry Iceberg v3 ROW LINEAGE: the
  * `_row_id` of the file's first row and the file's data sequence
  * number (`_last_updated_sequence_number` for its non-updated rows).
  * Present on files adopted from a v3 tree, on every data file of a
  * [[Snaplog.RowLineageProp]] table (assigned at commit, round 16),
  * and on files stamped by [[Catalog#assignRowLineage]] (a v3 export's
  * persistence pass); absent on plain tables' files.
  *
  * `lineageInFile = Some(true)` marks a data file whose
  * rows carry MATERIALIZED `_row_id`/`_last_updated_sequence_number`
  * columns — the v3 spec's carry mechanism for rewrites: a compaction
  * of a row-lineage table writes the ids INTO the new files (under the
  * spec's reserved field ids), so surviving rows keep their identity
  * across the rewrite. Such entries have no `firstRowId` (readers take
  * the column value, which the spec gives precedence per row) and are
  * skipped by every assignment pass. */
case class DataFileEntry(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    partitionValues: Map[String, String],
    columnStats: Option[Map[String, ColBounds]] = None,
    deleteFile: Option[Boolean] = None,
    nullCounts: Option[Map[String, Long]] = None,
    equalityKey: Option[String] = None,
    firstRowId: Option[Long] = None,
    dataSeq: Option[Long] = None,
    lineageInFile: Option[Boolean] = None)

/** One commit. `operation` ∈ append | overwrite | add_files — the three
  * commit kinds the reference exercises (`table.append`
  * `main-daft.py:137`, `table.overwrite` `upsert.py:84`,
  * `table.add_files` `main-ray.py:113-121`). The live file set of a
  * snapshot is replayed from the latest overwrite at-or-before it.
  */
case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String,
    files: Seq[DataFileEntry],
    summary: Map[String, String])

/** A named snapshot pointer (Iceberg-style ref): `tag`s are immutable
  * audit/release marks, `branch`es may retarget as work advances. */
case class SnapshotRef(snapshotId: Long, refType: String)

/** Table-level metadata, the analogue of the reference's catalog row +
  * Iceberg metadata.json (`catalog.create_table` `main-polars.py:150-152`
  * with schema, partition spec and properties `main-daft.py:102-107`).
  */
case class TableMetadata(
    namespace: String,
    name: String,
    schemaJson: String,
    partitionColumns: Seq[String],
    properties: Map[String, String],
    createdAtMs: Long,
    formatVersion: Int = 1) {
  def schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

/** A conditional commit found the table advanced past the snapshot the
  * writer's file list was computed against. Retryable: re-read table
  * state, recompute, commit again (see LakehouseTable.writeCommit). */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Snaplog — the file-backed [[Catalog]] implementation (no services,
  * like the reference's SQLite deployment).
  *
  * Layout (per SURVEY.md §7.0):
  * {{{
  * warehouse/<namespace>/<table>/
  *   metadata.json      # TableMetadata
  *   snapshots.jsonl    # append-only Snapshot log, one JSON per line
  *   data/snap-<id>/…   # parquet files of commit <id>
  * }}}
  *
  * Reproduces every catalog behavior the reference actually uses
  * (S15–S21 in SURVEY.md §2.1) without an Iceberg runtime: namespace /
  * table create (`main-polars.py:144-152`), load (`upsert.py:66-69`),
  * snapshot history (`read_history.py:7-11`), time travel by snapshot id,
  * metadata-only `add_files`, and transactional multi-append (one commit
  * for N batches, `main-polars.py:165-186`).
  *
  * Concurrency: commits serialize under a per-table lock file, so two
  * racing committers both land (distinct sequential ids) — the locking
  * the reference inherits from its SQLite/Postgres catalogs. Writers
  * whose commit DEPENDS on the state they read (partition overwrite,
  * COW delete, compaction, upsert) additionally pass the snapshot id
  * they read, and the commit fails with [[CommitConflictException]] if
  * the table advanced — optimistic concurrency, Iceberg's CAS model.
  * Catalog I/O is tiny driver-side metadata (one JSON line per commit) —
  * at cluster scale this layer would sit behind an HA store, but its
  * data-plane design (explicit file lists + stats in the log) is exactly
  * what scales: planning never lists directories.
  */
final class Snaplog(val warehouse: String,
    override val checkpointInterval: Int = 100) extends Catalog {
  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  private def nsDir(ns: String): Path = Paths.get(warehouse, ns)
  private def tableDir(ns: String, t: String): Path = Paths.get(warehouse, ns, t)
  private def metaFile(ns: String, t: String): Path = tableDir(ns, t).resolve("metadata.json")
  private def logFile(ns: String, t: String): Path = tableDir(ns, t).resolve("snapshots.jsonl")

  // ---- namespaces -------------------------------------------------------

  override def createNamespace(ns: String): Unit = { Files.createDirectories(nsDir(ns)); () }

  override def namespaceExists(ns: String): Boolean = Files.isDirectory(nsDir(ns))

  override def listNamespaces(): Seq[String] =
    if (!Files.isDirectory(Paths.get(warehouse))) Seq.empty
    else Files.list(Paths.get(warehouse)).iterator.asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted

  // ---- tables -----------------------------------------------------------

  override def tableExists(ns: String, t: String): Boolean = Files.exists(metaFile(ns, t))

  override def createTable(
      ns: String,
      name: String,
      schema: StructType,
      partitionColumns: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      ifNotExists: Boolean = true): TableMetadata = {
    createNamespace(ns)
    if (tableExists(ns, name)) {
      if (ifNotExists) return loadTable(ns, name)
      throw new IllegalStateException(s"table $ns.$name already exists")
    }
    graft.table.PartitionTransforms.validate(schema, partitionColumns)
    requireLineageNamesFree(schema, properties)
    val meta = TableMetadata(ns, name, schema.json, partitionColumns,
      Snaplog.withFieldIdRegistry(schema, properties), System.currentTimeMillis())
    Files.createDirectories(tableDir(ns, name).resolve("data"))
    writeAtomic(metaFile(ns, name), jwrite(meta))
    Files.write(logFile(ns, name), Array.emptyByteArray,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    meta
  }

  override def loadTable(ns: String, t: String): TableMetadata = {
    require(tableExists(ns, t), s"table $ns.$t does not exist")
    jread[TableMetadata](Files.readString(metaFile(ns, t)))
  }

  override def dropTable(ns: String, t: String): Unit = {
    val dir = tableDir(ns, t)
    graft.util.Fs.deleteTree(dir)
  }

  /** Rename, serialized against commits by the source table's lock
    * (which `commit`'s inside-the-lock liveness check pairs with — a
    * writer racing the rename fails loudly on the vanished
    * metadata.json, never silently commits into a ghost directory).
    *
    * Failure-window design: all PARSING work (rewriting managed-dir
    * path prefixes across the whole log) happens BEFORE the directory
    * move, staged as sibling files — a crash there leaves the table
    * untouched under its old name. After the single atomic move, only
    * two atomic renames (log swap, metadata swap) and the lock removal
    * remain. The moved lock file is deleted LAST, so a writer
    * discovering the new name cannot slip a commit in while the
    * rewritten log is still being swapped into place. */
  override def renameTable(ns: String, t: String, newName: String): TableMetadata =
    withTableLock(ns, t) {
      validateRename(ns, t, newName)
      val oldDir = tableDir(ns, t)
      val newDir = tableDir(ns, newName)
      val (oldPrefix, newPrefix) = (oldDir.toString + "/", newDir.toString + "/")
      // stage the rewritten log + metadata in the OLD dir (they travel
      // with the move)
      val log = oldDir.resolve("snapshots.jsonl")
      val stagedLog = oldDir.resolve("snapshots.jsonl.renamed")
      if (Files.exists(log)) {
        val rewritten = Files.readAllLines(log, StandardCharsets.UTF_8).asScala
          .filter(_.nonEmpty)
          .map(l => jwrite(rewriteSnapshotPaths(jread[Snapshot](l), oldPrefix, newPrefix)))
        Files.writeString(stagedLog, rewritten.mkString("", "\n", "\n"))
      }
      val meta = jread[TableMetadata](Files.readString(oldDir.resolve("metadata.json")))
        .copy(name = newName)
      val stagedMeta = oldDir.resolve("metadata.json.renamed")
      Files.writeString(stagedMeta, jwrite(meta))

      Files.move(oldDir, newDir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(newDir.resolve("snapshots.jsonl.renamed")))
        Files.move(newDir.resolve("snapshots.jsonl.renamed"),
          newDir.resolve("snapshots.jsonl"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.move(newDir.resolve("metadata.json.renamed"),
        newDir.resolve("metadata.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // end of the critical section under the NEW name
      Files.deleteIfExists(newDir.resolve("commit.lock"))
      meta
    }

  override def listTables(ns: String): Seq[String] =
    if (!namespaceExists(ns)) Seq.empty
    else Files.list(nsDir(ns)).iterator.asScala
      .filter(p => Files.exists(p.resolve("metadata.json")))
      .map(_.getFileName.toString).toSeq.sorted

  override def dataDir(ns: String, t: String): Path = tableDir(ns, t).resolve("data")

  override def updateSchema(ns: String, t: String, schema: StructType): TableMetadata = {
    val m = loadTable(ns, t)
    val updated = m.copy(schemaJson = schema.json)
    writeAtomic(metaFile(ns, t), jwrite(updated))
    updated
  }

  override def updateProperties(ns: String, t: String,
      set: Map[String, String], unset: Seq[String]): TableMetadata = {
    val m = loadTable(ns, t)
    requireLineageNamesFree(m.schema, set)
    val updated = m.copy(properties = (m.properties ++ set) -- unset)
    writeAtomic(metaFile(ns, t), jwrite(updated))
    updated
  }

  override def updatePartitionSpec(ns: String, t: String,
      partitionColumns: Seq[String]): TableMetadata = {
    val m = loadTable(ns, t)
    val updated = m.copy(partitionColumns = partitionColumns)
    writeAtomic(metaFile(ns, t), jwrite(updated))
    updated
  }

  // ---- snapshot log -----------------------------------------------------

  override def snapshots(ns: String, t: String): Seq[Snapshot] = {
    val f = logFile(ns, t)
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(jread[Snapshot](_))
  }

  /** O(1) in BOTH parse and byte I/O: ids are dense-monotonic and the
    * log append-only, so the current snapshot is the LAST line — read
    * via the backwards tail-block iterator, which touches only the
    * file's final block(s), never the multi-GB history. */
  override def currentSnapshot(ns: String, t: String): Option[Snapshot] = {
    val f = logFile(ns, t)
    if (!Files.exists(f)) None
    else withReverseLines(f)(_.find(_.nonEmpty).map(jread[Snapshot](_)))
  }

  override def commit(
      ns: String, t: String, operation: String,
      files: Seq[DataFileEntry],
      summary: Map[String, String] = Map.empty,
      expectedSnapshotId: Option[Long] = None,
      parentIdOverride: Option[Long] = None): Snapshot = {
    val snap = withTableLock(ns, t) {
      // liveness check INSIDE the lock: a concurrent rename/drop moved
      // the table away, and an in-flight writer's parquet output may
      // have recreated the bare directory — committing there would
      // silently write into a ghost table nothing will ever read
      require(tableExists(ns, t),
        s"table $ns.$t no longer exists (renamed or dropped concurrently)")
      val s = buildSnapshot(ns, t, currentSnapshot(ns, t), operation,
        files, summary, expectedSnapshotId, parentIdOverride)
      Files.write(logFile(ns, t), (jwrite(s) + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      s
    }
    notifyCommit(ns, t, snap) // outside the lock, before the fold: a
    // checkpoint triggered below notifies for itself
    maybeCheckpoint(ns, t, snap) // outside the lock: it commits on its own
    snap
  }

  /** Hot-path replay window (`asOf = None`): read the log BACKWARDS in
    * tail blocks and deserialize only from the end until the first
    * reset/checkpoint commit. With automatic checkpoints this bounds
    * per-plan cost — JSON parsing AND byte I/O — to O(window)
    * regardless of history length: a 3×10⁶-commit streaming table
    * plans from the same few tail blocks a 100-commit table does. */
  override protected[graft] def windowSnapshots(
      ns: String, t: String, asOf: Option[Long]): Seq[Snapshot] =
    if (asOf.isDefined) super.windowSnapshots(ns, t, asOf)
    else {
      val f = logFile(ns, t)
      if (!Files.exists(f)) Seq.empty
      else withReverseLines(f) { it =>
        var collected = List.empty[Snapshot]
        var done = false
        while (!done && it.hasNext) {
          val line = it.next()
          if (line.nonEmpty) {
            val s = jread[Snapshot](line)
            collected = s :: collected
            if (Snaplog.ResetOps(s.operation)) done = true
          }
        }
        collected
      }
    }

  /** Bytes read by the backwards tail iterator since this catalog was
    * created — exposed so specs can assert the O(window) I/O bound. */
  @volatile private[graft] var tailBytesRead: Long = 0L

  /** Run `consume` over the log's lines LAST-TO-FIRST, reading only as
    * many fixed-size tail blocks as the consumer demands: seek from the
    * end, split blocks on '\n' at the BYTE level (0x0A never occurs
    * inside a UTF-8 multibyte sequence, so block boundaries cannot tear
    * a character), and complete each block's unterminated head with the
    * next (earlier) block. An early-stopping consumer (currentSnapshot,
    * the checkpoint-bounded replay window) therefore costs O(bytes it
    * consumed), never O(file). */
  private def withReverseLines[A](f: Path)(consume: Iterator[String] => A): A = {
    val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
    try consume(new Iterator[String] {
      private var pos = ch.size()
      private var carry: Array[Byte] = Array.emptyByteArray
      private var pending: List[String] = Nil
      private var emittedHead = false

      private def fill(): Unit = {
        while (pending.isEmpty && pos > 0) {
          val n = math.min(Snaplog.ReverseBlockBytes.toLong, pos).toInt
          pos -= n
          val buf = java.nio.ByteBuffer.allocate(n)
          var off = 0
          while (off < n) {
            val r = ch.read(buf, pos + off)
            require(r > 0, s"unexpected EOF reading $f at ${pos + off}")
            off += r
          }
          tailBytesRead += n
          val full = buf.array() ++ carry
          // segments between newlines; segment 0 may continue into the
          // (unread) earlier part of the file → it becomes the carry
          var segs = List.empty[Array[Byte]]
          var end = full.length
          var i = full.length - 1
          while (i >= 0) {
            if (full(i) == '\n') { segs = full.slice(i + 1, end) :: segs; end = i }
            i -= 1
          }
          carry = full.slice(0, end)
          // emit complete lines last-to-first
          pending = segs.reverse.map(b => new String(b, StandardCharsets.UTF_8))
        }
        if (pending.isEmpty && pos == 0 && !emittedHead) {
          emittedHead = true
          if (carry.nonEmpty)
            pending = List(new String(carry, StandardCharsets.UTF_8))
        }
      }

      override def hasNext: Boolean = { fill(); pending.nonEmpty }
      override def next(): String = {
        fill()
        val h = pending.head; pending = pending.tail; h
      }
    }) finally ch.close()
  }

  /** Serialize commits to one table. The lock file is created
    * atomically and carries the holder's NONCE; holders are expected to
    * release within milliseconds (the critical section is one log-line
    * append — data files write OUTSIDE the lock). A lock older than
    * [[Snaplog.LockStaleMs]] is presumed abandoned (crashed holder) and
    * broken ATOMICALLY: the breaker renames it to a unique name — only
    * the renamer that succeeded deletes it, and the age is re-verified
    * on the renamed file so a lock that was released-and-recreated
    * between the check and the rename is moved back, not destroyed.
    * Release deletes the lock only if it still carries OUR nonce, so a
    * holder whose lock was broken (paused >stale-threshold) cannot
    * delete a successor's live lock. Acquisition gives up after
    * [[Snaplog.LockTimeoutMs]] so a wedged filesystem fails loudly
    * instead of hanging the driver. */
  private def withTableLock[A](ns: String, t: String)(body: => A): A = {
    val lock = tableDir(ns, t).resolve("commit.lock")
    val nonce = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + Snaplog.LockTimeoutMs
    var acquired = false
    while (!acquired) {
      try {
        Files.write(lock, nonce.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age = try {
            System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis
          } catch { case _: java.io.IOException => 0L } // holder just released
          // empty content is still breakable (a crash between CREATE_NEW
          // and the nonce write must not wedge the table forever): the
          // claimed-file age re-check below covers that case
          val staleNonce = try {
            new String(Files.readAllBytes(lock), StandardCharsets.UTF_8)
          } catch { case _: java.io.IOException => "" }
          if (age > Snaplog.LockStaleMs) breakStaleLock(lock, nonce, staleNonce)
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"could not acquire commit lock for $ns.$t within ${Snaplog.LockTimeoutMs} ms ($lock)")
          else Thread.sleep(2)
      }
    }
    try body finally {
      try {
        val mine = try {
          new String(Files.readAllBytes(lock), StandardCharsets.UTF_8) == nonce
        } catch { case _: java.io.IOException => false }
        if (mine) Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Atomic stale-lock break: claim via rename (only one breaker wins;
    * a vanished lock means the holder released — nothing to do), then
    * verify BOTH identity and age on the CLAIMED file before deleting.
    * Identity: nonces are unique per acquisition, so content == the
    * nonce observed alongside the stale age proves the same lock-file
    * instance (and covers the crashed zero-byte lock, whose content is
    * stably empty). Age: rename preserves mtime, so a fresh lock
    * displaced in the observe→move window shows a young mtime even when
    * the observed nonce was read from it — either check failing means
    * hand the file back by renaming it into place. If that spot was
    * retaken in the interim the displaced file is LEFT as debris (never
    * deleted: destroying a live holder's lock identity would let its
    * successor be deleted later); the residual double-race window is
    * the μs between move and move-back after a ≥60 s stall. */
  private def breakStaleLock(lock: Path, nonce: String, staleNonce: String): Unit = {
    val claimed = lock.resolveSibling(s"commit.lock.break-$nonce")
    try {
      Files.move(lock, claimed) // atomic; throws if lock vanished or was already claimed
      val claimedAge = System.currentTimeMillis() -
        Files.getLastModifiedTime(claimed).toMillis
      val content = try {
        new String(Files.readAllBytes(claimed), StandardCharsets.UTF_8)
      } catch { case _: java.io.IOException => "" }
      if (claimedAge > Snaplog.LockStaleMs && content == staleNonce)
        Files.deleteIfExists(claimed)
      else {
        try { Files.move(claimed, lock); () }
        catch { case _: java.io.IOException => () } // leave debris, never delete
      }
    } catch { case _: java.io.IOException => () } // lost the break race
  }

  /** Maintenance ops (expire, ref writes) serialize under the SAME
    * per-table lock commits take, so a read-validate-write expiration
    * cannot clobber a log line a racing commit appended in between. */
  override protected def withTableMutex[A](ns: String, t: String)(body: => A): A =
    withTableLock(ns, t)(body)

  // ---- refs + log storage -------------------------------------------------

  private def refsFile(ns: String, t: String): Path =
    tableDir(ns, t).resolve("refs.json")

  override def refs(ns: String, t: String): Map[String, SnapshotRef] = {
    val f = refsFile(ns, t)
    if (!Files.exists(f)) Map.empty
    else jread[Map[String, SnapshotRef]](Files.readString(f))
  }

  override protected def writeRefs(ns: String, t: String,
      all: Map[String, SnapshotRef]): Unit =
    writeAtomic(refsFile(ns, t), jwrite(all))

  override protected def replaceLog(ns: String, t: String, kept: Seq[Snapshot]): Unit =
    writeAtomic(logFile(ns, t), kept.map(jwrite(_)).mkString("", "\n", "\n"))

  private def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

object Snaplog {

  /** Every new table gets a parquet field-id REGISTRY property at
    * creation (name→id, ids 1..n) — the indirection column RENAME/DROP
    * later resolves through. Skipped when a column name cannot encode
    * (that table just never becomes renameable) or when the caller
    * already supplied one (re-import / rename paths). */
  def withFieldIdRegistry(schema: StructType,
      properties: Map[String, String]): Map[String, String] =
    if (properties.contains(graft.types.FieldIds.RegistryProp)) properties
    else graft.types.FieldIds.registryFor(schema)
      .map { r =>
        val base = properties +
          (graft.types.FieldIds.RegistryProp -> graft.types.FieldIds.encode(r))
        // LIST/MAP INTERIOR ids (round 14) allocate above the registry:
        // managed writes stamp them and the Iceberg export declares the
        // same numbers (interop fidelity only — never read-side; see
        // FieldIds.InteriorProp). LastIdProp covers them so later
        // evolutions can never allocate a colliding id.
        val interior = graft.types.FieldIds.interiorFor(schema,
          if (r.isEmpty) 0 else r.values.max)
        if (interior.isEmpty) base
        else base +
          (graft.types.FieldIds.InteriorProp ->
            graft.types.FieldIds.encode(interior)) +
          (graft.types.FieldIds.LastIdProp -> interior.values.max.toString)
      }
      .getOrElse(properties)

  val OpAppend = "append"
  val OpOverwrite = "overwrite"
  val OpAddFiles = "add_files"
  /** Compaction commit: same replay semantics as overwrite (resets the
    * live set) but recorded distinctly for history/audit. */
  val OpReplace = "replace"
  /** Copy-on-write row-level delete: the snapshot carries the complete
    * post-delete live set (untouched files + rewritten survivors), so it
    * replays like an overwrite and is recorded distinctly for audit. */
  val OpDelete = "delete"
  /** Merge-on-read row-level delete: the snapshot adds ONLY a position-
    * delete vector; data files stay untouched and scans subtract the
    * deleted positions (Iceberg v2 `merge-on-read` mode). NOT a reset
    * op — it layers on the current live set. */
  val OpMorDelete = "mor_delete"
  /** Equality-delete commit: adds ONLY a key-valued delete file
    * (`equalityKey` set); applies to data files preceding it in replay
    * order. NOT a reset op — layered like `mor_delete`, retired by the
    * next reset commit. */
  val OpEqDelete = "eq_delete"
  /** Automatic log-bounding fold (see [[Catalog#checkpointInterval]]):
    * carries the complete live set — data files AND outstanding
    * delete vectors — so replay can start here. A reset op for replay
    * purposes, but semantically a no-op on table content. */
  val OpCheckpoint = "checkpoint"
  val ResetOps: Set[String] = Set(OpOverwrite, OpReplace, OpDelete, OpCheckpoint)

  /** Spark's directory name for a null partition value; partition
    * values in the log use the same sentinel so metadata pruning and
    * dynamic partition overwrite agree with the write path. */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Summary key an idempotent streaming sink uses for its replayed-
    * micro-batch high-water mark (see StreamingIngest.upsertEachBatch). */
  val StreamBatchKey = "streaming-batch-id"

  /** Table property (round 16): "true" = NATIVE row lineage — every
    * commit assigns Iceberg-v3 `first_row_id` / data-sequence lineage
    * to its new data files (see [[Catalog#buildSnapshot]]), so
    * [[graft.table.LakehouseTable.scanLineage]] serves `_row_id` /
    * `_last_updated_sequence_number` on the engine's OWN tables, not
    * only on imported v3 mirrors, and a v3 export publishes the same
    * ids verbatim. Enable at creation, or on a live table via
    * [[graft.table.LakehouseTable.enableRowLineage]] (which backfills
    * history). */
  val RowLineageProp = "graft.row-lineage"

  /** Summary key: the table's next unassigned row id AFTER this commit
    * (Iceberg v3 `next-row-id`). Monotonic — ids of deleted or
    * overwritten-away files are never reused — and folded forward
    * across history expiration via [[CarryMaxKeys]]. */
  val NextRowIdKey = "next-row-id"

  /** Summary key marking a WAP (write-audit-publish) STAGED branch
    * commit: present = the snapshot belongs to the named branch, not to
    * main — main replay, checkpoint folds and incremental reads all
    * skip it; `fast_forward` publishes it (see
    * LakehouseTable.appendToBranch). */
  val WapBranchKey = "wap.branch"

  def isWapStaged(s: Snapshot): Boolean = s.summary.contains(WapBranchKey)

  /** Summary keys whose running maximum [[Catalog#expireSnapshots]]
    * folds forward into the retained log — monotonic marks that must
    * survive history expiration. */
  val CarryMaxKeys: Set[String] = Set(StreamBatchKey, NextRowIdKey)

  /** Block size for the backwards tail read of the snapshot log. */
  val ReverseBlockBytes: Int = 64 * 1024

  /** Default vacuum age guard: orphans younger than this are presumed
    * to be a concurrent writer's staged-not-yet-committed files. */
  val VacuumGraceMs: Long = 60L * 60 * 1000

  /** Give up acquiring a table's commit lock after this long. */
  val LockTimeoutMs = 30000L
  /** A commit lock older than this is presumed abandoned and broken. */
  val LockStaleMs = 60000L
}
