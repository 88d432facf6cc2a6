package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Snaplog
import graft.interop.IcebergExport
import graft.pipeline.{Ingest, Upsert}
import graft.table.LakehouseTable

/** Scratch dev harness for the optimization rounds: section-level timing
  * of a gate's internals in a warm JVM (edit, re-run, read [LAB] lines).
  * Not part of the driver surface. `runMain graft.Lab <section>` where
  * section ∈ {imor, refresh, v3, jdbc, clagg, interval, mirror}.
  */
object Lab {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.EngineDefaults.session(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    // per-leg job count + summed task time: separates "many tiny Spark
    // jobs" (scheduling-latency-bound) from driver-side work (0 jobs)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            taskMs.addAndGet(t.taskMetrics.executorRunTime)
      })
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def time[T](label: String)(f: => T): T = {
      val (j0, m0, g0) = (jobs.get(), taskMs.get(), gcMs())
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      // listener is async — give it a beat to drain before reading
      Thread.sleep(50)
      println(f"[LAB] $label%-42s $dt%8.2f s  jobs=${jobs.get() - j0}%-4d taskSec=${(taskMs.get() - m0) / 1e3}%8.2f gcSec=${(gcMs() - g0) / 1e3}%6.2f")
      r
    }
    val s = spark
    val section = args.headOption.getOrElse("imor")

    // post-execution per-operator metric dump (AQE-aware): node name +
    // its non-zero time/row metrics — poor man's SQL-tab
    def planMetrics(df: DataFrame): Unit = {
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def walk(p: SparkPlan, depth: Int): Unit = {
        val ms = p.metrics.collect {
          case (k, m) if m.value > 0 &&
            (k.contains("time") || kistime(k) || k == "numOutputRows") =>
            s"$k=${m.value}"
        }.mkString(" ")
        println(s"[MET] ${"  " * depth}${p.getClass.getSimpleName} $ms")
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case _ => p.children.foreach(walk(_, depth + 1))
        }
        p.subqueries.foreach(walk(_, depth + 1))
      }
      def kistime(k: String): Boolean =
        k.contains("Time") || k.contains("duration") || k.contains("build")
      walk(df.queryExecution.executedPlan, 0)
    }

    def imor(round: Int): Unit = {
      println(s"[LAB] ===== imor round $round =====")
      val whDir = queries.Common.scratchDir("lab_imor", d)
      val cat = new Snaplog(whDir)
      val orders = queries.Common.t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val rep = time("ingest (partitioned)")(
        Ingest.ingestDf(cat, "lake", "orders_mor", orders,
          partitionColumns = Seq("o_orderpriority")))
      time("deleteEq")(rep.table.deleteEq("o_orderpriority", Seq("1-URGENT")))
      time("mergeDelta")(rep.table.mergeDelta(Seq("o_orderkey"),
        orders.filter(col("o_orderkey") < 100)
          .withColumn("o_orderpriority", lit("1-URGENT"))
          .withColumn("o_totalprice", col("o_totalprice") * 2)))
      time("deleteMor")(rep.table.deleteMor(col("o_orderkey") % 10 === 3))
      val dest = java.nio.file.Paths.get(whDir, "ice_mor")
      val exp = time("export")(IcebergExport.export(rep.table, dest))
      val rb = time("readBack")(IcebergExport.readBack(dest))
      val imp = time("register")(graft.interop.IcebergImport.register(
        cat, s, dest, "lake", "orders_mor_rt"))
      time("final scan+agg")(imp.table.scan()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), queries.Common.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority")).count())
      val _ = (exp, rb)
    }

    def refresh(round: Int): Unit = {
      println(s"[LAB] ===== refresh round $round =====")
      val whDir = queries.Common.scratchDir("lab_refresh", d)
      val cat = new Snaplog(whDir)
      val orders = queries.Common.t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val src = time("ingest era1")(Ingest.ingestDf(cat, "lake", "orders_live",
        orders.filter(col("o_orderkey") < 3000)).table)
      val dest = java.nio.file.Paths.get(whDir, "ice_live")
      time("export #1")(IcebergExport.export(src, dest))
      time("register")(graft.interop.IcebergImport.register(
        cat, s, dest, "lake", "orders_mirror"))
      time("append era2")(src.append(orders.filter(col("o_orderkey") >= 3000)))
      time("deleteEq %7")(src.deleteEq("o_orderkey",
        orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey")))
      time("export #2")(IcebergExport.export(src, dest))
      time("refresh #1")(graft.interop.IcebergImport.refresh(
        cat, s, "lake", "orders_mirror"))
      time("deleteMor %10")(src.deleteMor(col("o_orderkey") % 10 === 3))
      time("export #3")(IcebergExport.export(src, dest))
      val r2 = time("refresh #2")(graft.interop.IcebergImport.refresh(
        cat, s, "lake", "orders_mirror"))
      time("refresh #3 noop")(graft.interop.IcebergImport.refresh(
        cat, s, "lake", "orders_mirror"))
      time("final scan+agg")(r2.table.scan()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), queries.Common.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus")).count())
    }

    def v3(round: Int): Unit = {
      println(s"[LAB] ===== v3 lineage round $round =====")
      val whDir = queries.Common.scratchDir("lab_v3", d)
      val cat = new Snaplog(whDir)
      val orders = queries.Common.t(s, d, "orders")
      def oneSortedFile(df: DataFrame) =
        df.repartition(1).sortWithinPartitions("o_orderkey")
      val tbl = time("create")(LakehouseTable.create(cat, s, "lake", "orders_nl",
        orders.schema, properties = Map(Snaplog.RowLineageProp -> "true")))
      time("append e1")(tbl.append(oneSortedFile(
        orders.filter(col("o_orderkey") % 2 === 0))))
      time("append e2")(tbl.append(oneSortedFile(
        orders.filter(col("o_orderkey") % 2 === 1))))
      time("deleteMor %9==4")(tbl.deleteMor(col("o_orderkey") % 9 === 4))
      time("append e3")(tbl.append(oneSortedFile(orders.filter(col("o_orderkey") % 9 === 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2))))
      time("compact")(tbl.compact())
      time("merge-carry upsert")(Upsert.upsertTable(tbl,
        orders.filter(col("o_orderkey") % 9 === 7)
          .withColumn("o_totalprice", col("o_totalprice") * 3),
        Seq("o_orderkey")))
      val native = tbl.scanLineage()
      val dest = java.nio.file.Paths.get(whDir, "ice_nl")
      time("export v3")(IcebergExport.export(tbl, dest, formatVersion = 3))
      time("import")(graft.interop.IcebergImport.register(
        cat, s, dest, "lake", "orders_nl_rt"))
      val mirror = LakehouseTable.load(cat, s, "lake", "orders_nl_rt")
        .scanLineage()
      val rtOk = time("rtOk check") {
        val a = native.select("o_orderkey", "_row_id")
          .groupBy("o_orderkey", "_row_id").agg(count(lit(1)).as("__na"))
        val b = mirror.select("o_orderkey", "_row_id")
          .groupBy("o_orderkey", "_row_id").agg(count(lit(1)).as("__nb"))
        a.join(b, Seq("o_orderkey", "_row_id"), "full_outer")
          .filter(!(coalesce(col("__na"), lit(0L)) ===
            coalesce(col("__nb"), lit(0L))))
          .isEmpty
      }
      time("final agg")(native
        .groupBy(col("_last_updated_sequence_number").as("seq"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("_row_id")).as("distinct_ids"),
          min(col("_row_id")).as("min_row_id"),
          max(col("_row_id")).as("max_row_id"),
          sum(col("_row_id")).as("sum_row_id"))
        .withColumn("rt_ids", lit(rtOk))
        .orderBy(col("seq")).count())
      // probes: where do the lineage read's task-seconds go?
      time("probe scan().count")(tbl.scan().count())
      time("probe scanLineage().count")(tbl.scanLineage().count())
      time("probe scanLineage row_id sum")(
        tbl.scanLineage().agg(sum(col("_row_id"))).count())
      time("probe raw parquet live count")(locally {
        val paths = cat.liveFiles("lake", "orders_nl").map(_.path)
        s.read.parquet(paths: _*).count()
      })
      time("probe mirror scanLineage().count")(
        LakehouseTable.load(cat, s, "lake", "orders_nl_rt").scanLineage().count())
      if (round == 2) {
        println("[MET] ===== native scanLineage().count metrics =====")
        val df = tbl.scanLineage().groupBy().count()
        time("probe metered count")(df.count())
        planMetrics(df)
      }
    }

    def jdbc(round: Int): Unit = {
      println(s"[LAB] ===== jdbc round $round =====")
      val whDir = queries.Common.scratchDir("lab_jdbc", d)
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val url = s"jdbc:derby:$whDir/cat-$runId;create=true"
      val cat = time("JdbcCatalog boot")(
        new graft.catalog.JdbcCatalog(url, s"$whDir/wh"))
      val orders = queries.Common.t(s, d, "orders")
      val rep = time("ingest (partitioned)")(
        Ingest.ingestDf(cat, "lake", "orders_jdbc", orders,
          partitionColumns = Seq("o_orderstatus")))
      val patch = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      time("patch dedup count")(
        Upsert.dedupIncoming(patch, Seq("o_orderkey")).count())
      // sample executor-task stacks mid-upsert to find what tasks block on
      val sampler = new Thread(() => {
        import scala.jdk.CollectionConverters._
        (1 to 6).foreach { i =>
          Thread.sleep(400)
          val stacks = Thread.getAllStackTraces.asScala.toSeq
            .filter(_._1.getName.startsWith("Executor task launch"))
          val heads = stacks.map { case (t, st) =>
            val top = st.take(12).mkString(" <- ")
            s"${t.getState}: $top"
          }
          heads.groupBy(identity).toSeq.sortBy(-_._2.size).take(4).foreach {
            case (h, g) => println(s"[STK $i x${g.size}] ${h.take(600)}")
          }
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      time("upsert")(Upsert.upsertTable(rep.table, patch, Seq("o_orderkey")))
      time("cat.close")(cat.close())
      val cn = s"gjdbc_$runId"
      s.conf.set(s"spark.sql.catalog.$cn",
        classOf[graft.sql.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cn.warehouse", s"$whDir/wh")
      s.conf.set(s"spark.sql.catalog.$cn.url", url)
      time("sql cur+v1 join")(s.sql(s"""
        SELECT cur.o_orderstatus, cur.n, cur.total, v1.total_v1
        FROM (SELECT o_orderstatus, COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              FROM $cn.lake.orders_jdbc GROUP BY o_orderstatus) cur
        JOIN (SELECT o_orderstatus,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_v1
              FROM $cn.lake.orders_jdbc VERSION AS OF 1
              GROUP BY o_orderstatus) v1 USING (o_orderstatus)
        ORDER BY o_orderstatus""").count())
    }

    def clagg(round: Int): Unit = {
      println(s"[LAB] ===== changelog-agg round $round =====")
      val whDir = queries.Common.scratchDir("lab_clagg", d)
      val cat = new Snaplog(whDir)
      val orders = queries.Common.t(s, d, "orders")
      val tbl = LakehouseTable.create(cat, s, "lake", "orders_cagg", orders.schema)
      time("append %3==0")(tbl.append(orders.filter(col("o_orderkey") % 3 === 0)))
      val baseAt = tbl.currentSnapshotId
      val base = tbl.scan().groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n0"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("s0"))
      time("append %3==1")(tbl.append(orders.filter(col("o_orderkey") % 3 === 1)))
      time("deleteEq %5")(tbl.deleteEq("o_orderkey",
        orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey")))
      time("COW delete %7")(tbl.delete(col("o_orderkey") % 7 === 0))
      val tc = graft.table.LakehouseTable.ChangeTypeCol
      val sign = when(col(tc) === "insert" || col(tc) === "update_postimage",
        lit(1)).otherwise(lit(-1))
      val delta = tbl.scanChanges(baseAt)
        .groupBy(col("o_orderstatus"))
        .agg(sum(sign.cast("long")).as("dn"),
          sum((sign * col("o_totalprice")).cast("decimal(18,2)")).as("ds"))
      time("changelog delta + join")(base.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
        .filter(col("n") > 0).count())
    }

    def interval(round: Int): Unit = {
      println(s"[LAB] ===== outer interval join round $round =====")
      import graft.streaming.StreamingIngest
      val ev = queries.Common.events(s, d)
      val pDrop = queries.Common.scratchDir("lab_oij_p", d)
      val vDrop = queries.Common.scratchDir("lab_oij_v", d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"),
          col("user_id").as("p_user_id"), col("ts").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user_id"), col("ts").as("v_ts"),
          col("value").as("v_value"))
      time("write drops")(locally {
        p.coalesce(1).write.mode("append").parquet(pDrop)
        v.coalesce(1).write.mode("append").parquet(vDrop)
      })
      val maxTs = time("maxTs agg")(ev.agg(max(col("ts_ns"))).head().getLong(0))
      val nsPerDay = 24L * 3600 * 1000 * 1000 * 1000
      def sentinelTs(tsNs: Long) = timestamp_micros(lit(tsNs / 1000))
      time("sentinels")(Seq(maxTs + 100 * nsPerDay, maxTs + 200 * nsPerDay).foreach { ts =>
        s.range(1).select(lit(-1L).as("p_event_id"), lit(-1L).as("p_user_id"),
          sentinelTs(ts).as("p_ts")).coalesce(1).write.mode("append").parquet(pDrop)
        s.range(1).select(lit(-1L).as("v_user_id"), sentinelTs(ts).as("v_ts"),
          lit(0.0).as("v_value")).coalesce(1).write.mode("append").parquet(vDrop)
      })
      val sampler = new Thread(() => {
        import scala.jdk.CollectionConverters._
        (1 to 10).foreach { i =>
          Thread.sleep(700)
          val stacks = Thread.getAllStackTraces.asScala.toSeq
            .filter(_._1.getName.startsWith("Executor task launch"))
          val heads = stacks.map { case (t, st) =>
            val app = st.filter(f => f.getClassName.contains("spark") ||
              f.getClassName.contains("graft")).take(6)
            s"${t.getState}: ${app.mkString(" <- ")}"
          }
          heads.groupBy(identity).toSeq.sortBy(-_._2.size).take(3).foreach {
            case (h, g) => println(s"[STK $i x${g.size}] ${h.take(700)}")
          }
        }
      })
      if (round == 2) { sampler.setDaemon(true); sampler.start() }
      val joined = time("stream run")(StreamingIngest.intervalJoinStreams(
        StreamingIngest.readParquetStream(s, pDrop, p.schema, maxFilesPerTrigger = 2), "p_ts",
        StreamingIngest.readParquetStream(s, vDrop, v.schema, maxFilesPerTrigger = 2), "v_ts",
        "p_user_id = v_user_id AND v_ts >= p_ts - INTERVAL 10 MINUTES AND v_ts < p_ts",
        watermark = "1 day", queryName = s"lab_oij_mem_$round", joinType = "left_outer"))
      time("result agg")(joined.filter(col("p_user_id") =!= -1L)
        .groupBy(col("p_event_id"))
        .agg(count(col("v_value")).as("n_views"))
        .orderBy(col("p_event_id")).count())
    }

    def mirror(round: Int): Unit = {
      println(s"[LAB] ===== stream_mirror_cdc round $round =====")
      val whDir = queries.Common.scratchDir("lab_mcdc", d)
      val cat = new Snaplog(whDir)
      val orders = queries.Common.t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val src = time("ingest evens")(Ingest.ingestDf(cat, "lake", "orders_ext",
        orders.filter(col("o_orderkey") % 2 === 0)).table)
      val dest = java.nio.file.Paths.get(whDir, "ice_ext")
      time("export #1")(IcebergExport.export(src, dest))
      time("register")(graft.interop.IcebergImport.register(
        cat, s, dest, "lake", "orders_ext_mirror"))
      val dst = LakehouseTable.create(
        cat, s, "lake", "orders_replica", src.schema)
      val ckpt = queries.Common.scratchDir("lab_mcdc_ck", d)
      def replicateOnce(tag: String): Unit = time(s"replicate $tag") {
        val q = s.readStream.format("graft-changes")
          .option("warehouse", whDir)
          .option("table", "lake.orders_ext_mirror")
          .option("refresh", "true")
          .load()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val tc = graft.table.LakehouseTable.ChangeTypeCol
            val sc = graft.table.LakehouseTable.ChangeSnapshotCol
            val changes = batch
              .withColumn("op",
                when(col(tc) === "delete", lit("D")).otherwise(lit("U")))
              .withColumn("seq", col(sc) * 2 +
                when(col(tc) === "insert", 1L).otherwise(0L))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              if (!changes.isEmpty)
                Upsert.applyChanges(dst, changes, keys = Seq("o_orderkey"),
                  opCol = "op", tiebreak = Some("seq"))
            } finally changes.unpersist(false)
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        q.exception.foreach(throw _)
      }
      replicateOnce("#1 evens")
      time("src deleteEq %6")(src.deleteEq("o_orderkey",
        orders.filter(col("o_orderkey") % 6 === 0).select("o_orderkey")))
      time("src append odds")(src.append(orders.filter(col("o_orderkey") % 2 === 1)))
      time("export #2")(IcebergExport.export(src, dest))
      replicateOnce("#2 delta")
      time("final scan+agg")(dst.scan()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), queries.Common.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus")).count())
    }

    def cllin(round: Int): Unit = {
      println(s"[LAB] ===== changelog-lineage round $round =====")
      val whDir = queries.Common.scratchDir("lab_cllin", d)
      val cat = new Snaplog(whDir)
      val orders = queries.Common.t(s, d, "orders").select(
        col("o_orderkey"), col("o_totalprice"))
      val tbl = LakehouseTable.create(cat, s, "lake", "orders_cl",
        orders.schema,
        properties = Map(Snaplog.RowLineageProp -> "true"))
      time("append sorted")(tbl.append(orders.repartition(1)
        .sortWithinPartitions("o_orderkey")))
      time("merge %7==3")(Upsert.upsertTable(tbl,
        orders.filter(col("o_orderkey") % 7 === 3)
          .withColumn("o_totalprice", col("o_totalprice") * 3),
        Seq("o_orderkey")))
      time("deleteEq %7==5")(tbl.deleteEq("o_orderkey",
        orders.filter(col("o_orderkey") % 7 === 5).select("o_orderkey")))
      time("changes (unpaired) count")(
        tbl.scanChangesLineage(1L).count())
      time("keyed pairing + agg")(tbl.scanChangesKeyedByRowId(1L)
        .groupBy(col(LakehouseTable.ChangeTypeCol).as("change_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("_row_id")).as("distinct_ids"))
        .orderBy(col("change_type")).count())
    }

    def upsertSec(round: Int): Unit = {
      println(s"[LAB] ===== stream_upsert_ingest round $round =====")
      import graft.streaming.StreamingIngest
      val drop = queries.Common.scratchDir("lab_sui_drop", d)
      val orders = queries.Common.t(s, d, "orders")
      time("write drops")((0 until 3).foreach { i =>
        orders.filter(col("o_orderkey") % 3 === i)
          .coalesce(1).write.mode("append").parquet(drop)
      })
      val cat = new Snaplog(queries.Common.scratchDir("lab_sui_wh", d))
      val table = LakehouseTable.create(cat, s, "lake", "orders_stream",
        orders.schema)
      val stream = StreamingIngest.readParquetStream(s, drop, orders.schema,
        maxFilesPerTrigger = 1)
      time("stream upsert x3")(
        StreamingIngest.upsertEachBatch(stream, table, Seq("o_orderkey")))
      time("one standalone upsert")(Upsert.upsertTable(table,
        orders.filter(col("o_orderkey") % 3 === 0), Seq("o_orderkey")))
      time("final scan+agg")(table.scan()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), queries.Common.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus")).count())
    }

    for (round <- 1 to 2) section match {
      case "imor" => imor(round)
      case "refresh" => refresh(round)
      case "v3" => v3(round)
      case "jdbc" => jdbc(round)
      case "clagg" => clagg(round)
      case "cllin" => cllin(round)
      case "upsert" => upsertSec(round)
      case "interval" => interval(round)
      case "mirror" => mirror(round)
      case other => sys.error(s"unknown Lab section '$other'")
    }
    spark.stop()
  }
}
