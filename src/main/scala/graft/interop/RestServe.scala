package graft.interop

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg REST-catalog SERVER over graft-exported trees — the
  * publishing half of the REST interop: any spec-conforming REST
  * client (PyIceberg, Trino, graft's own [[RestCatalog]]) can
  * `GET /v1/config`, list namespaces/tables, and load a table's
  * CURRENT metadata pointer, which is re-read from the tree's
  * version-hint per request — so a client always sees the latest
  * export, exactly like a live catalog service fronting a writer.
  *
  * WRITES (round 17): tables served LIVE ([[startLive]]) also accept
  * the spec's commit route — `POST /v1/namespaces/{ns}/tables/{t}`
  * with a CommitTableRequest (`requirements` + `updates`) — for
  * APPEND and merge-on-read DELETE snapshots:
  * `assert-ref-snapshot-id` maps onto the snaplog's
  * conditional-commit CAS (stale expectation → the spec's 409), the
  * posted snapshot's manifest list is walked, data files are
  * footer-statted, delete files convert to graft's MOR state
  * (position parquet → vector, equality parquet in place), and the
  * whole request lands as ONE native commit — so a foreign engine,
  * including a CDC-style writer emitting retractions, writes through
  * graft's catalog without knowing the snaplog format. With a
  * [[CreateTarget]] the server also manages the catalog LIFECYCLE
  * over REST: `POST /v1/namespaces` and `POST
  * /v1/namespaces/{ns}/tables` create, `DELETE
  * /v1/namespaces/{ns}/tables/{t}` drops REST-managed tables, and
  * the serving set grows/shrinks live — create, commit, delete, read,
  * drop, all through the spec surface. Everything else (overwrites,
  * replaces, schema changes) mutates through graft commits and
  * answers 400 with that guidance; statically-served trees ([[start]])
  * stay read-only (405) — there is no native table behind them to
  * commit to.
  *
  * Loopback-only by design: the bind address is 127.0.0.1 — exposing
  * a catalog beyond the host is a deployment concern (TLS, real auth)
  * out of a library's scope. The commit route reads manifests from
  * the local filesystem for the same reason: client and server share
  * storage, the deployment shape the reference runs (MinIO/FS shared
  * between engines). */
object RestServe {

  final class Server private[RestServe] (http: HttpServer,
      cleanup: () => Unit = () => ()) {
    def endpoint: String = s"http://127.0.0.1:${http.getAddress.getPort}"
    def stop(): Unit = { cleanup(); http.stop(0) }
    /** Names of threads that ran an export since the last [[resetExportTrace]]
      * — test-only visibility for the async-publish contract (a
      * committer's thread must never appear here). */
    private[graft] val exportThreads =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private[graft] def resetExportTrace(): Unit = exportThreads.clear()
  }

  /** One served table: `root` is the exported tree directory,
    * `ensureCurrent` runs BEFORE every load of this table's metadata
    * pointer (listings never re-export — only loads pay), `commit`
    * handles the spec's POST commit route (None = read-only serving). */
  private final class Served(val root: Path, val ensureCurrent: () => Unit,
      val commit: Option[String => (Int, String)] = None)

  /** Where the spec's CREATE route lands tables:
    * `POST /v1/namespaces/{ns}/tables` with a CreateTableRequest
    * creates a NATIVE graft table in `catalog` under the request's
    * namespace and starts serving it live from
    * `exportBase/<ns>/<name>` — so a foreign engine can create,
    * commit, and read entirely through REST. Identity and time/
    * truncate transforms map onto graft's partition layout; bucket
    * transforms refuse (graft's xxhash64 buckets are not Iceberg
    * murmur3 — silently accepting would attribute files under a
    * different hash). */
  final case class CreateTarget(
      spark: org.apache.spark.sql.SparkSession,
      catalog: graft.catalog.Catalog,
      exportBase: Path)

  /** Serve NATIVE graft tables LIVE: publish-on-COMMIT, and (round 17)
    * accept spec commits back. The server registers a commit listener
    * on each table's catalog; the listener marks the table dirty and
    * hands the re-export to a SINGLE-FLIGHT background publisher
    * (round 17 — the export no longer runs on the committing thread:
    * a high-frequency streaming committer pays nothing in its commit
    * path, and a burst of commits coalesces into one trailing export
    * via the dirty flag). A snapshot-watermark check stays on the load
    * path as the FALLBACK for commits the listener cannot see (a
    * writer on a DIFFERENT Catalog instance of the same warehouse, a
    * publisher-time export failure, or a load racing ahead of the
    * publisher) — so reader-visible content is ALWAYS current even
    * while the background export is still in flight. Cost model: an
    * up-to-date load is one catalog head probe; each commit pays one
    * DEFERRED export, which is metadata-sized plus stats copying —
    * data files are referenced in place, never moved, and unchanged
    * prior-snapshot manifests are fingerprint-skipped
    * ([[IcebergExport]]'s stable writes), so a commit's export cost is
    * O(new snapshots), not O(history). Concurrent exports of one table
    * serialize on a per-table lock; every metadata file lands by
    * atomic rename, so a reader racing a re-export sees only complete
    * content, old or new. `stop()` unregisters the listeners and
    * shuts the publisher down. */
  def startLive(
      tables: Map[(String, String), (graft.table.LakehouseTable, Path)],
      port: Int = 0, token: Option[String] = None,
      inlineMetadata: Boolean = false,
      formatVersion: Int = 2,
      acceptCreates: Option[CreateTarget] = None): Server = {
    // one single-flight publisher for ALL served tables: exports are
    // metadata-sized, so serializing them bounds filesystem churn and
    // keeps the thread count at one regardless of table count
    val publisher = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-rest-publisher")
        t.setDaemon(true)
        t
      })
    // filled in below once the Server exists — sync() records its
    // thread here for the async-publish contract tests
    var trace: java.util.Set[String] = null
    val served =
      new java.util.concurrent.ConcurrentHashMap[(String, String), Served]()
    val cleanups =
      new java.util.concurrent.ConcurrentHashMap[(String, String), () => Unit]()
    def registerTable(key: (String, String),
        tbl: graft.table.LakehouseTable, dir: Path): Unit = {
      val lock = new Object
      val lastExported = new java.util.concurrent.atomic.AtomicLong(-1L)
      def sync(): Unit = {
        val cur = tbl.currentSnapshotId
        if (cur != lastExported.get) lock.synchronized {
          if (cur != lastExported.get) {
            if (trace != null) trace.add(Thread.currentThread().getName)
            IcebergExport.export(tbl, dir, formatVersion)
            lastExported.set(cur)
          }
        }
      }
      sync() // current before the first request — loads never cold-export
      // single-flight + trailing-edge coalescing: `dirty` is the
      // pending-work latch, `inFlight` admits one queued task; the
      // task drains until clean, and the post-release re-check closes
      // the "listener fired after the drain loop exited" window
      val dirty = new java.util.concurrent.atomic.AtomicBoolean(false)
      val inFlight = new java.util.concurrent.atomic.AtomicBoolean(false)
      def schedule(): Unit =
        if (inFlight.compareAndSet(false, true))
          publisher.execute { () =>
            try
              while ({
                dirty.set(false)
                try sync()
                catch { case scala.util.control.NonFatal(_) => () }
                dirty.get
              }) ()
            finally {
              inFlight.set(false)
              if (dirty.get) schedule()
            }
          }
      val listener: (String, String, graft.catalog.Snapshot) => Unit =
        (ns, t, _) => if (ns == tbl.namespace && t == tbl.name) {
          dirty.set(true); schedule()
        }
      tbl.catalog.addCommitListener(listener)
      served.put(key, new Served(dir, () => sync(),
        Some(restCommit(tbl, key._1, key._2, () => sync(), dir) _)))
      cleanups.put(key, () => tbl.catalog.removeCommitListener(listener))
      ()
    }
    tables.foreach { case (k, (tbl, dir)) => registerTable(k, tbl, dir) }
    val create = acceptCreates.map { target => (ns: String, body: String) =>
      restCreate(target, ns, body, served.containsKey _,
        (key, tbl, dir) => registerTable(key, tbl, dir))
    }
    // the spec's DELETE route — scoped to the tables this server
    // MANAGES (a CreateTarget catalog): a pre-registered table handed
    // into startLive belongs to the embedding app, not to REST clients
    val drop = acceptCreates.map { target => (ns: String, name: String) =>
      val key = (ns, name)
      if (!target.catalog.tableExists(ns, name))
        (404, s"""{"error":{"message":"no such table $ns.$name","type":"NoSuchTableException","code":404}}""")
      else
        try {
          Option(cleanups.remove(key)).foreach(off => off())
          served.remove(key)
          target.catalog.dropTable(ns, name)
          (204, "")
        } catch {
          case e: Exception =>
            (500, s"""{"error":{"message":${jsonStr(e.toString.take(300))},"type":"InternalServerError","code":500}}""")
        }
    }
    // namespace half of the managed lifecycle: POST /v1/namespaces
    // creates in the target catalog; listings/loads see catalog
    // namespaces even before their first table exists
    val createNs = acceptCreates.map { target => (body: String) =>
      try {
        val parts = (JsonMethods.parse(body) \ "namespace") match {
          case JArray(ps) => ps.collect { case JString(p) => p }
          case _ => Nil
        }
        if (parts.isEmpty)
          (400, """{"error":{"message":"CreateNamespaceRequest without a namespace","type":"BadRequestException","code":400}}""")
        else {
          val ns = parts.mkString(".")
          if (target.catalog.namespaceExists(ns))
            (409, s"""{"error":{"message":"namespace $ns already exists","type":"AlreadyExistsException","code":409}}""")
          else {
            target.catalog.createNamespace(ns)
            (200, parts.map(jsonStr)
              .mkString("""{"namespace":[""", ",", """],"properties":{}}"""))
          }
        }
      } catch {
        case e: Exception =>
          (500, s"""{"error":{"message":${jsonStr(e.toString.take(300))},"type":"InternalServerError","code":500}}""")
      }
    }
    val extraNs: () => Seq[String] = acceptCreates
      .map(t => () => t.catalog.listNamespaces())
      .getOrElse(() => Seq.empty[String])
    val srv = startImpl(served, port, token, inlineMetadata,
      cleanup = () => {
        cleanups.values.forEach(off => off())
        publisher.shutdown()
      },
      create = create,
      drop = drop,
      createNs = createNs,
      extraNs = extraNs)
    trace = srv.exportThreads
    srv
  }

  /** `POST /v1/namespaces/{ns}/tables` — the spec's create route (see
    * [[CreateTarget]]). Parses name / schema (spec JSON, nested types
    * included) / partition-spec / properties, creates the NATIVE graft
    * table, registers it for live serving, and answers the fresh
    * LoadTableResult. An existing table (served or in the target
    * catalog) answers the spec's 409 AlreadyExistsException; reserved
    * property guards (row-lineage column names) fire as 400s. */
  private def restCreate(target: CreateTarget, ns: String, bodyText: String,
      alreadyServed: ((String, String)) => Boolean,
      register: ((String, String), graft.table.LakehouseTable, Path) => Unit)
      : (Int, String) = {
    def err(code: Int, typ: String, msg: String): (Int, String) =
      (code, s"""{"error":{"message":${jsonStr(msg)},"type":"$typ","code":$code}}""")
    def bad(msg: String): (Int, String) = err(400, "BadRequestException", msg)
    try {
      implicit val fmts: Formats = DefaultFormats
      val j = try JsonMethods.parse(bodyText) catch {
        case e: Exception =>
          return bad(s"malformed CreateTableRequest JSON: ${e.getMessage}")
      }
      val name = (j \ "name") match {
        case JString(n) if n.nonEmpty => n
        case _ => return bad("CreateTableRequest without a name")
      }
      if ((j \ "stage-create") == JBool(true))
        return bad("stage-create (transactional create-then-commit) is " +
          "not supported — create, then commit through the table route")
      val fieldsJson = (j \ "schema" \ "fields") match {
        case JArray(fs) if fs.nonEmpty => fs
        case _ => return bad("CreateTableRequest without a non-empty " +
          "struct schema")
      }
      val schema = org.apache.spark.sql.types.StructType(fieldsJson.map { f =>
        val fname = (f \ "name") match {
          case JString(n) => n
          case _ => return bad("schema field without a name")
        }
        org.apache.spark.sql.types.StructField(fname,
          IcebergImport.sparkTypeJson(f \ "type"),
          nullable = !(f \ "required").extractOpt[Boolean].getOrElse(false))
      })
      val idToName = fieldsJson.flatMap(f => (f \ "id") match {
        case JInt(i) => (f \ "name") match {
          case JString(n) => Some(i.toInt -> n)
          case _ => None
        }
        case _ => None
      }).toMap
      val partitionColumns: Seq[String] = (j \ "partition-spec" \ "fields") match {
        case JArray(pfs) => pfs.map { pf =>
          val src = (pf \ "source-id") match {
            case JInt(i) => idToName.getOrElse(i.toInt,
              return bad(s"partition-spec source-id $i names no schema field"))
            case _ => return bad("partition-spec field without a source-id")
          }
          (pf \ "transform") match {
            case JString("identity") => src
            case JString(t) if t == "day" || t == "days" => s"days($src)"
            case JString(t) if t == "hour" || t == "hours" => s"hours($src)"
            case JString(t) if t == "month" || t == "months" => s"months($src)"
            case JString(t) if t == "year" || t == "years" => s"years($src)"
            case JString(t) if t.startsWith("truncate[") =>
              s"truncate(${t.stripPrefix("truncate[").stripSuffix("]")},$src)"
            case JString(t) if t.startsWith("bucket[") =>
              return bad(s"bucket transform '$t': graft buckets are " +
                "xxhash64, not Iceberg murmur3 — a bucket-partitioned " +
                "table must be created through graft (mbucket) so the " +
                "layout hash is declared honestly")
            case JString(other) =>
              return bad(s"partition transform '$other' has no graft mapping")
            case _ => return bad("partition-spec field without a transform")
          }
        }
        case JNothing | JNull => Seq.empty
        case _ => return bad("malformed partition-spec")
      }
      val properties: Map[String, String] = (j \ "properties") match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
      val key = (ns, name)
      if (alreadyServed(key) || target.catalog.tableExists(ns, name))
        return err(409, "AlreadyExistsException",
          s"table $ns.$name already exists")
      val tbl =
        try graft.table.LakehouseTable.create(target.catalog, target.spark,
          ns, name, schema, partitionColumns, properties)
        catch {
          case e: IllegalArgumentException => return bad(e.getMessage)
          case e: IllegalStateException => // create raced another creator
            return err(409, "AlreadyExistsException", e.getMessage)
        }
      val dir = target.exportBase.resolve(ns).resolve(name)
      Files.createDirectories(dir)
      register(key, tbl, dir)
      val f = currentMetadataFile(dir)
      (200, s"""{"metadata-location":${jsonStr(f.toString)},""" +
        s""""metadata":${Files.readString(f)}}""")
    } catch {
      case e: Exception =>
        err(500, "InternalServerError", e.toString.take(300))
    }
  }

  /** Start serving `tables` ((namespace, table) → exported tree root,
    * the dir holding `metadata/`). `port = 0` binds an ephemeral port.
    * Snapshot-frozen and READ-ONLY by contract: the version-hint is
    * re-read per request, so a caller re-running `export` publishes —
    * for tables that should publish every graft commit automatically
    * and accept REST commits back, use [[startLive]]. */
  def start(tables: Map[(String, String), Path], port: Int = 0,
      token: Option[String] = None,
      inlineMetadata: Boolean = false): Server = {
    val m = new java.util.concurrent.ConcurrentHashMap[(String, String), Served]()
    tables.foreach { case (k, root) => m.put(k, new Served(root, () => ())) }
    startImpl(m, port, token, inlineMetadata)
  }

  /** The spec's commit route for one LIVE-served table: parse the
    * CommitTableRequest, enforce requirements against the CURRENT
    * snaplog head, walk the posted snapshot's manifest list for its
    * data files, footer-stat them, and land ONE native conditional
    * commit. Returns (http status, response body).
    *
    * Honest scope — what maps and what refuses:
    *  - `assert-ref-snapshot-id` (ref main) → the snaplog CAS
    *    (`expectedSnapshotId`; the spec's null snapshot-id = "ref must
    *    not exist" → graft's expect-empty). Stale → 409
    *    CommitFailedException, the table untouched.
    *  - `assert-table-uuid` → checked against the export's
    *    deterministic uuid. `assert-create` → 409 (the table exists —
    *    creation is a graft operation).
    *  - updates: exactly one `add-snapshot` whose summary operation is
    *    `append` (data manifests) or `delete` (merge-on-read delete
    *    manifests — a Flink-CDC-style writer's retraction commit);
    *    `set-snapshot-ref` on main is accepted (graft's main advances
    *    at commit). Anything else → 400 with guidance — overwrites/
    *    replaces/schema changes mutate through graft.
    *  - DELETE commits: unscoped POSITION files ((file_path, pos)
    *    parquet) rewrite once into a graft vector recording plain
    *    paths ([[IcebergImport.writeVector]]) — a reference to a
    *    non-live file is the spec's 409 (stale writer), not a 400;
    *    unscoped EQUALITY
    *    files register IN PLACE, `equality_ids` mapped to top-level
    *    columns through the table's field registry. One delete kind
    *    per commit; partition-scoped delete files and inbound puffin
    *    refuse with guidance.
    *  - manifest partition structs attribute IDENTITY and transform
    *    values by field name exactly as the importer does; fields the
    *    writer omitted leave the file unattributed (reads stay exact,
    *    pruning just can't skip it — graft's standard mixed-coverage
    *    posture).
    *  - the proposed snapshot-id is advisory (recorded in the commit
    *    summary); graft assigns its own dense id, and the response's
    *    metadata is authoritative — the same contract a spec client
    *    already honors by re-reading the returned metadata.
    *
    * Scale: the commit is metadata-sized — one footer read per new
    * file (parallel, [[graft.table.FileStats.statAll]]), one log line;
    * data files are referenced in place. Row lineage on an enabled
    * table is assigned at commit time by the catalog (the v3
    * inheritance model), so REST-committed files get durable row ids
    * with no writer cooperation. */
  private def restCommit(tbl: graft.table.LakehouseTable,
      ns: String, name: String, sync: () => Unit, root: Path)
      (bodyText: String): (Int, String) = {
    def err(code: Int, typ: String, msg: String): (Int, String) =
      (code, s"""{"error":{"message":${jsonStr(msg)},"type":"$typ","code":$code}}""")
    def bad(msg: String): (Int, String) =
      err(400, "BadRequestException", msg)
    try {
      val j = try JsonMethods.parse(bodyText) catch {
        case e: Exception =>
          return bad(s"malformed CommitTableRequest JSON: ${e.getMessage}")
      }
      // ---- requirements → CAS expectation --------------------------------
      var expected: Option[Long] = None
      val reqs = (j \ "requirements") match {
        case JArray(rs) => rs
        case JNothing | JNull => Nil
        case _ => return bad("requirements must be a list")
      }
      for (r <- reqs) (r \ "type") match {
        case JString("assert-ref-snapshot-id") =>
          (r \ "ref") match {
            case JString("main") | JNothing | JNull => ()
            case JString(other) => return bad(
              s"ref '$other': graft serves a single main branch over REST")
            case _ => return bad("assert-ref-snapshot-id: malformed ref")
          }
          expected = (r \ "snapshot-id") match {
            case JInt(v) => Some(v.toLong)
            case JLong(v) => Some(v)
            // the spec's null = "ref must not exist yet" = expect-empty
            case JNull | JNothing => Some(0L)
            case _ => return bad("assert-ref-snapshot-id: malformed snapshot-id")
          }
        case JString("assert-table-uuid") =>
          val want = java.util.UUID.nameUUIDFromBytes(
            s"graft:${tbl.namespace}.${tbl.name}"
              .getBytes(StandardCharsets.UTF_8)).toString
          (r \ "uuid") match {
            case JString(u) if u == want => ()
            case JString(u) => return err(409, "CommitFailedException",
              s"assert-table-uuid: expected $u but the served table is $want")
            case _ => return bad("assert-table-uuid: malformed uuid")
          }
        case JString("assert-create") =>
          return err(409, "CommitFailedException",
            s"assert-create: $ns.$name already exists — table creation " +
              "is a graft operation")
        case JString(other) =>
          return bad(s"requirement '$other' is not supported by this " +
            "catalog (supported: assert-ref-snapshot-id, " +
            "assert-table-uuid, assert-create)")
        case _ => return bad("requirement without a type")
      }
      // spec ordering: requirements are judged against current state
      // BEFORE any update work — a stale writer learns 409 without the
      // server walking its manifests. The conditional commit below
      // re-checks inside the critical section (this probe narrows the
      // race window; the CAS closes it).
      expected.foreach { want =>
        val cur = tbl.currentSnapshotId
        // same no-op tolerance the native CAS applies: a lineage of
        // pure checkpoint folds / WAP-staged commits leaves the
        // writer's read state current — don't 409 what the commit
        // would accept
        val noOp = cur > want && {
          val between = tbl.catalog.snapshots(tbl.namespace, tbl.name)
            .filter(s => s.snapshotId > want && s.snapshotId <= cur)
          between.map(_.snapshotId) == (want + 1 to cur) &&
            between.forall(s =>
              s.operation == graft.catalog.Snaplog.OpCheckpoint ||
                graft.catalog.Snaplog.isWapStaged(s))
        }
        if (cur != want && !noOp)
          return err(409, "CommitFailedException",
            s"assert-ref-snapshot-id: main is at $cur, not $want — " +
              "re-read the table and retry")
      }
      // ---- updates → one append snapshot ---------------------------------
      val updates = (j \ "updates") match {
        case JArray(us) => us
        case JNothing | JNull => Nil
        case _ => return bad("updates must be a list")
      }
      var snapshot: Option[JValue] = None
      var proposedRef: Option[Long] = None
      for (u <- updates) (u \ "action") match {
        case JString("add-snapshot") =>
          if (snapshot.isDefined)
            return bad("one add-snapshot per commit — batch files into " +
              "one manifest list instead")
          snapshot = Some(u \ "snapshot")
        case JString("set-snapshot-ref") =>
          (u \ "ref-name") match {
            case JString("main") | JNothing | JNull => ()
            case JString(other) => return bad(
              s"set-snapshot-ref '$other': graft serves a single main branch")
            case _ => return bad("set-snapshot-ref: malformed ref-name")
          }
          proposedRef = (u \ "snapshot-ref" \ "snapshot-id") match {
            case JInt(v) => Some(v.toLong)
            case JLong(v) => Some(v)
            case _ => None
          }
        case JString(other) =>
          return bad(s"update action '$other' does not commit through " +
            "this catalog — only append snapshots (add-snapshot + " +
            "set-snapshot-ref main) land over REST; deletes, overwrites " +
            "and schema changes mutate through graft commits")
        case _ => return bad("update without an action")
      }
      val snap = snapshot.getOrElse(
        return bad("no add-snapshot update — nothing to commit"))
      val operation = (snap \ "summary" \ "operation") match {
        case JString(op @ ("append" | "delete")) => op
        case JString(op) => return bad(
          s"snapshot operation '$op' does not commit through this " +
            "catalog — appends and merge-on-read delete snapshots land " +
            "over REST; overwrites/replaces/schema changes mutate " +
            "through graft")
        case _ => return bad("snapshot without a summary operation")
      }
      val proposedId = (snap \ "snapshot-id") match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case _ => return bad("snapshot without a snapshot-id")
      }
      if (proposedRef.exists(_ != proposedId))
        return bad("set-snapshot-ref names a different snapshot than " +
          "add-snapshot — one atomic append per commit")
      val listPath = (snap \ "manifest-list") match {
        case JString(p) => graft.table.FileStats.normalizePath(p)
        case _ => return bad("snapshot without a manifest-list")
      }
      if (!Files.isRegularFile(Paths.get(listPath)))
        return bad(s"manifest list not readable by the catalog host: $listPath")
      // an evolved (read-by-id) table cannot take foreign files — the
      // same invariant addFiles enforces natively
      if (graft.types.FieldIds.hasIds(tbl.schema))
        return bad(s"$ns.$name has evolved columns (read-by-id): foreign " +
          "parquet is not verifiable against its field ids — load the " +
          "files in an engine and append through graft")
      // ---- manifest walk → file paths + partition attribution -----------
      val partFields = graft.table.PartitionTransforms
        .parseAll(tbl.partitionColumns)
      val srcTypes: Map[String, org.apache.spark.sql.types.DataType] =
        tbl.schema.fields.map(f => f.name -> f.dataType).toMap
      val pvByPath = scala.collection.mutable.Map.empty[String, Map[String, String]]
      val paths = scala.collection.mutable.ArrayBuffer.empty[String]
      val posDeletes = scala.collection.mutable.ArrayBuffer.empty[String]
      val eqDeletes = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Int])]
      for (mf <- IcebergImport.readAvro(Paths.get(listPath))) {
        val content = Option(mf.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
        if (content != 0 && operation == "append")
          return bad("the posted append carries a DELETE manifest — " +
            "commit deletes as their own snapshot (operation 'delete')")
        if (content == 0 && operation == "delete")
          return bad("the posted delete snapshot carries a DATA manifest — " +
            "an upsert's delete+data shape commits through graft " +
            "(mergeDelta); over REST, append and delete are separate " +
            "snapshots")
        val mfPath = graft.table.FileStats.normalizePath(
          mf.get("manifest_path").toString)
        if (!Files.isRegularFile(Paths.get(mfPath)))
          return bad(s"manifest not readable by the catalog host: $mfPath")
        for (e <- IcebergImport.readAvro(Paths.get(mfPath))) {
          val status = Option(e.get("status")).map(_.asInstanceOf[Int]).getOrElse(1)
          if (status == 2)
            return bad("the posted manifest retires files (status 2) — " +
              "rewrites/maintenance mutate through graft")
          if (status != 0) { // 0 = EXISTING (already live) — skip
            val df = e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            val fileContent = df.get("content").asInstanceOf[Int]
            if (operation == "append" && fileContent != 0)
              return bad(s"${df.get("file_path")}: delete content in a data " +
                "manifest — refused")
            if (operation == "delete" && fileContent == 0)
              return bad(s"${df.get("file_path")}: data content in a delete " +
                "manifest — refused")
            if (!df.get("file_format").toString.equalsIgnoreCase("PARQUET"))
              return bad(s"${df.get("file_path")}: only PARQUET commits " +
                "(puffin deletion vectors publish FROM graft; inbound " +
                "position deletes are parquet (file_path, pos) files)")
            val p = graft.table.FileStats.normalizePath(
              df.get("file_path").toString)
            if (!Files.isRegularFile(Paths.get(p)))
              return bad(s"file not readable by the catalog host: $p")
            // partition attribution by field name, the importer's rules:
            // identity values decode typed→text, transform values ARE
            // their stored text; fields the writer omitted (or an empty
            // struct) leave the file unattributed — conservative, exact
            val part = df.get("partition")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            val pv = partFields.flatMap { pf =>
              if (part == null || part.getSchema.getField(pf.fieldName) == null)
                None
              else {
                val v = part.get(pf.fieldName)
                pf match {
                  case idf: graft.table.IdentityField =>
                    Some(pf.fieldName ->
                      IcebergImport.partitionText(v, srcTypes(idf.source)))
                  case _ =>
                    Some(pf.fieldName -> IcebergImport.transformText(v))
                }
              }
            }.toMap
            fileContent match {
              case 0 =>
                pvByPath(p) = pv
                paths += p
              case 1 =>
                // PARTITION-SCOPED delete files restrict application to
                // one partition — the importer expresses identity scopes
                // as composite keys; the live commit route keeps the
                // simpler contract and refuses scoped files outright
                if (pv.nonEmpty)
                  return bad(s"$p: partition-scoped delete files do not " +
                    "commit over REST — write unscoped (global) deletes")
                posDeletes += p
              case 2 =>
                if (pv.nonEmpty)
                  return bad(s"$p: partition-scoped delete files do not " +
                    "commit over REST — write unscoped (global) deletes")
                val idsRaw = Option(df.get("equality_ids")).getOrElse(
                  return bad(s"$p: equality delete without equality_ids"))
                import scala.jdk.CollectionConverters._
                val ids = idsRaw.asInstanceOf[java.util.List[Integer]]
                  .asScala.map(_.intValue).toSeq
                if (ids.isEmpty)
                  return bad(s"$p: equality delete with empty equality_ids")
                eqDeletes += ((p, ids))
              case other =>
                return bad(s"$p: unknown file content $other")
            }
          }
        }
      }
      // ---- build entries per operation -----------------------------------
      val spark = tbl.spark
      val liveData = tbl.catalog.liveEntriesOrdered(tbl.namespace, tbl.name)
        .filterNot(_.deleteFile.contains(true)).map(_.path).toSet
      // staging written into the table's data dir before the commit
      // (the rewritten position vector) must not orphan on a refused
      // commit — a CAS loser's litter would sit until vacuum
      var undoStaging: () => Unit = () => ()
      val (op, entries, extraSummary): (String, Seq[graft.catalog.DataFileEntry], Map[String, String]) =
        if (operation == "append") {
          if (paths.isEmpty)
            return bad("the posted snapshot adds no data files")
          if (paths.distinct.size != paths.size)
            return bad("the posted snapshot lists a data file twice")
          paths.find(liveData) match {
            case Some(dup) => return bad(
              s"data file already referenced by the table: $dup")
            case None => ()
          }
          (graft.catalog.Snaplog.OpAppend,
            graft.table.FileStats.statAll(spark, paths.toSeq, p => pvByPath(p)),
            Map.empty[String, String])
        } else if (posDeletes.nonEmpty && eqDeletes.nonEmpty)
          return bad("one delete kind per commit — position and equality " +
            "delete files land as separate REST snapshots")
        else if (posDeletes.isEmpty && eqDeletes.isEmpty)
          return bad("the posted delete snapshot carries no delete files")
        else if (posDeletes.nonEmpty) {
          // POSITION deletes: foreign (file_path, pos) rows rewrite ONCE
          // into a graft vector file ([[IcebergImport.writeVector]], the
          // importer's conversion, applied live). A reference to a file
          // not in the CURRENT snapshot means the writer's read state is
          // stale — the spec's conflict, not a 400: the retry after
          // re-read either finds the file live again (a rewrite carried
          // it) or regenerates its positions.
          val rows = spark.read.parquet(posDeletes.toSeq: _*)
          val raws = rows.select("file_path").distinct()
            .collect().map(_.getString(0)).toSeq
          if (raws.isEmpty)
            return bad("the posted position-delete files carry no rows")
          val plainOf = raws.map { raw =>
            val plain = graft.table.FileStats.normalizePath(raw)
            if (!liveData.contains(plain))
              return err(409, "CommitFailedException",
                s"position delete references a file not live in " +
                  s"$ns.$name: $plain — the writer's table state is " +
                  "stale; re-read and retry")
            raw -> plain
          }
          val vecDir = tbl.catalog.dataDir(tbl.namespace, tbl.name)
            .resolve(s"rest-dv-${java.util.UUID.randomUUID().toString.take(12)}")
          undoStaging = () => graft.util.Fs.deleteTree(vecDir)
          val vecs = IcebergImport.writeVector(spark, rows, plainOf, vecDir)
          (graft.catalog.Snaplog.OpMorDelete, vecs,
            Map("delete-vectors" -> vecs.size.toString))
        } else {
          // EQUALITY deletes: the foreign key-valued parquet IS graft's
          // equality-delete file shape — register in place, keys mapped
          // from the manifest's equality_ids through the table's field
          // registry (top-level fields only, the native key model)
          val registry = tbl.meta.properties
            .get(graft.types.FieldIds.RegistryProp)
            .map(graft.types.FieldIds.decode).getOrElse(Map.empty)
          val byId = registry.collect {
            case (n, id) if !n.contains('.') => id -> n
          }
          val eqEntries = eqDeletes.toSeq.map { case (p, ids) =>
            val names = ids.map(id => byId.getOrElse(id,
              return bad(s"$p: equality_id $id names no top-level field " +
                s"of $ns.$name")))
            val fileCols = spark.read.parquet(p).schema.fieldNames
              .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
            names.find(n => !fileCols(n.toLowerCase(java.util.Locale.ROOT)))
              .foreach(missing => return bad(
                s"$p: equality delete file lacks its own key column " +
                  s"'$missing'"))
            graft.table.FileStats.stat(spark, p, Map.empty)
              .copy(deleteFile = Some(true),
                equalityKey = Some(names.mkString(",")))
          }
          (graft.catalog.Snaplog.OpEqDelete, eqEntries,
            Map("equality-key" ->
              eqEntries.flatMap(_.equalityKey).distinct.mkString(";")))
        }
      // ---- conditional commit --------------------------------------------
      val committed =
        try tbl.catalog.commit(tbl.namespace, tbl.name, op,
          entries,
          summary = extraSummary ++ Map("rest-commit" -> "true",
            "rest-client-snapshot-id" -> proposedId.toString),
          expectedSnapshotId = expected)
        catch {
          case c: graft.catalog.CommitConflictException =>
            try undoStaging()
            catch { case scala.util.control.NonFatal(_) => () }
            return err(409, "CommitFailedException", c.getMessage)
          case e: IllegalArgumentException =>
            try undoStaging()
            catch { case scala.util.control.NonFatal(_) => () }
            return bad(e.getMessage)
        }
      // the async publisher is already running (the commit listener
      // fired), but the RESPONSE must carry the committed metadata —
      // sync() here is idempotent, serialized on the per-table lock,
      // and runs on a server thread, never the foreign committer's
      sync()
      val f = currentMetadataFile(root)
      (200, s"""{"metadata-location":${jsonStr(f.toString)},""" +
        s""""metadata":${Files.readString(f)},""" +
        s""""snapshot-id":${committed.snapshotId}}""")
    } catch {
      case e: Exception =>
        err(500, "InternalServerError", e.toString.take(300))
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def currentMetadataFile(root: Path): Path = {
    val metaDir =
      if (Files.exists(root.resolve("version-hint.text"))) root
      else root.resolve("metadata")
    val v = Files.readString(metaDir.resolve("version-hint.text")).trim
    metaDir.resolve(s"v$v.metadata.json")
  }

  private def startImpl(
      tables: java.util.concurrent.ConcurrentHashMap[(String, String), Served],
      port: Int,
      token: Option[String],
      inlineMetadata: Boolean,
      cleanup: () => Unit = () => (),
      create: Option[(String, String) => (Int, String)] = None,
      drop: Option[(String, String) => (Int, String)] = None,
      createNs: Option[String => (Int, String)] = None,
      extraNs: () => Seq[String] = () => Seq.empty): Server = {
    import scala.jdk.CollectionConverters._
    def keys: Seq[(String, String)] = tables.keySet().asScala.toSeq
    def get(k: (String, String)): Option[Served] = Option(tables.get(k))
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    def respond(x: HttpExchange, code: Int, body: String): Unit = {
      if (code == 204 || body.isEmpty) {
        x.sendResponseHeaders(if (code == 204) 204 else code, -1)
        x.close()
      } else {
        val b = body.getBytes(StandardCharsets.UTF_8)
        x.getResponseHeaders.add("Content-Type", "application/json")
        x.sendResponseHeaders(code, b.length)
        x.getResponseBody.write(b)
        x.close()
      }
    }
    // the spec's %1F namespace-level separator, decoded by the URI class
    def decodeNs(seg: String): String = seg.replace('\u001f', '.')

    http.createContext("/v1/", (x: HttpExchange) => {
      try {
        val authOk = token.forall(t =>
          Option(x.getRequestHeaders.getFirst("Authorization"))
            .contains(s"Bearer $t"))
        val segs = x.getRequestURI.getPath.stripPrefix("/v1/")
          .split("/").toList.filter(_.nonEmpty)
        if (!authOk)
          respond(x, 401, """{"error":{"message":"missing or wrong bearer token","type":"NotAuthorizedException","code":401}}""")
        else if (x.getRequestMethod == "POST") segs match {
          // the spec's commit route — live-served tables only
          case List("namespaces", nsSeg, "tables", tbl) =>
            get((decodeNs(nsSeg), tbl)) match {
              case None => respond(x, 404,
                s"""{"error":{"message":"no such table ${decodeNs(nsSeg)}.$tbl","type":"NoSuchTableException","code":404}}""")
              case Some(s) => s.commit match {
                case None => respond(x, 405,
                  """{"error":{"message":"this table is served from a static export: commits land on live-served tables only (RestServe.startLive)","type":"UnsupportedOperationException","code":405}}""")
                case Some(h) =>
                  val body = new String(x.getRequestBody.readAllBytes(),
                    StandardCharsets.UTF_8)
                  val (code, resp) = h(body)
                  respond(x, code, resp)
              }
            }
          // the spec's namespace-create route
          case List("namespaces") =>
            createNs match {
              case None => respond(x, 405,
                """{"error":{"message":"namespace creation is not accepted here: only servers with a CreateTarget manage the catalog over REST","type":"UnsupportedOperationException","code":405}}""")
              case Some(h) =>
                val body = new String(x.getRequestBody.readAllBytes(),
                  StandardCharsets.UTF_8)
                val (code, resp) = h(body)
                respond(x, code, resp)
            }
          // the spec's create route — live servers with a CreateTarget
          case List("namespaces", nsSeg, "tables") =>
            create match {
              case None => respond(x, 405,
                """{"error":{"message":"table creation is not accepted here: start the server with RestServe.startLive(..., acceptCreates = Some(CreateTarget(...)))","type":"UnsupportedOperationException","code":405}}""")
              case Some(h) =>
                val body = new String(x.getRequestBody.readAllBytes(),
                  StandardCharsets.UTF_8)
                val (code, resp) = h(decodeNs(nsSeg), body)
                respond(x, code, resp)
            }
          case other =>
            respond(x, 405,
              s"""{"error":{"message":"POST /v1/${other.mkString("/")} is not a commit or create route","type":"UnsupportedOperationException","code":405}}""")
        }
        else if (x.getRequestMethod == "DELETE") segs match {
          // the spec's drop route — REST-managed tables only
          case List("namespaces", nsSeg, "tables", tbl) =>
            drop match {
              case None => respond(x, 405,
                """{"error":{"message":"table drops are not accepted here: only servers with a CreateTarget manage table lifecycle over REST","type":"UnsupportedOperationException","code":405}}""")
              case Some(h) =>
                val (code, resp) = h(decodeNs(nsSeg), tbl)
                respond(x, code, resp)
            }
          case other =>
            respond(x, 405,
              s"""{"error":{"message":"DELETE /v1/${other.mkString("/")} is not a drop route","type":"UnsupportedOperationException","code":405}}""")
        }
        else if (x.getRequestMethod != "GET")
          respond(x, 405, """{"error":{"message":"unsupported method: reads are GET, commits/creates POST and drops DELETE under /v1/namespaces","type":"UnsupportedOperationException","code":405}}""")
        else segs match {
          case List("config") =>
            respond(x, 200, """{"defaults":{},"overrides":{}}""")
          case List("namespaces") =>
            val nss = (keys.map(_._1) ++ extraNs()).distinct.sorted
            respond(x, 200, nss.map(n =>
              n.split('.').map(jsonStr).mkString("[", ",", "]"))
              .mkString("""{"namespaces":[""", ",", "]}"))
          case List("namespaces", nsSeg) =>
            val ns = decodeNs(nsSeg)
            if ((keys.map(_._1) ++ extraNs()).contains(ns))
              respond(x, 200, ns.split('.').map(jsonStr)
                .mkString("""{"namespace":[""", ",", """],"properties":{}}"""))
            else respond(x, 404,
              s"""{"error":{"message":"no such namespace $ns","type":"NoSuchNamespaceException","code":404}}""")
          case List("namespaces", nsSeg, "tables") =>
            val ns = decodeNs(nsSeg)
            val names = keys.collect {
              case (n, t) if n == ns => t
            }.sorted
            respond(x, 200, names.map(t =>
              s"""{"namespace":[${jsonStr(ns)}],"name":${jsonStr(t)}}""")
              .mkString("""{"identifiers":[""", ",", "]}"))
          case List("namespaces", nsSeg, "tables", tbl) =>
            get((decodeNs(nsSeg), tbl)) match {
              case None => respond(x, 404,
                s"""{"error":{"message":"no such table ${decodeNs(nsSeg)}.$tbl","type":"NoSuchTableException","code":404}}""")
              case Some(s) =>
                s.ensureCurrent()
                val f = currentMetadataFile(s.root)
                val loc = jsonStr(f.toString)
                val body =
                  if (inlineMetadata)
                    s"""{"metadata-location":$loc,"metadata":${Files.readString(f)}}"""
                  else s"""{"metadata-location":$loc}"""
                respond(x, 200, body)
            }
          case other =>
            respond(x, 404,
              s"""{"error":{"message":"no such route /v1/${other.mkString("/")}","type":"NoSuchRouteException","code":404}}""")
        }
      } catch {
        case e: Exception =>
          respond(x, 500,
            s"""{"error":{"message":${jsonStr(e.toString.take(300))},"type":"InternalServerError","code":500}}""")
      }
    })
    // a commit (manifest walk + parallel footer stats) must not block
    // reads: without an executor the JDK server dispatches every
    // request on ONE thread. Daemon pool — serving never pins the JVM.
    http.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-rest-worker")
        t.setDaemon(true)
        t
      }))
    http.start()
    new Server(http, cleanup)
  }
}
