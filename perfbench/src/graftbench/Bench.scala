package graftbench

import graft.analytics.GraphAnalytics
import graft.fixtures.SyntheticWorkbook
import graft.ingest.{Refresh, Workbook}
import graft.ingest.Refresh.GraphStore
import graft.model.Graph
import graft.operators.SnapshotDiff
import graft.views.GraphViews
import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Refresh-cycle and graph-report benchmark.
  *
  * `Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>` runs one
  * workload as a closed loop with one client for `--seconds` seconds (it
  * always completes at least one cycle), checks every result, and prints
  * a detail line and then the result line, both JSON, on stdout.
  *
  * A refresh cycle is: parse the `.xlsx` (`Workbook.loadXlsx`), refresh the
  * current store (`Refresh.refresh`), write a new version directory
  * (`Refresh.write`), read it back (`Refresh.load`) and build a per-label
  * change report against the previous version (`SnapshotDiff.diff`). After
  * each cycle the operator reports run on the new version.
  */
object Bench {

  final case class Workload(name: String, why: String)

  val Workloads: Seq[Workload] = Seq(
    Workload("refresh_bulk", "one large vCenter re-ingested into a store holding only the " +
      "CMDB seed: parse, statement compute, assemble shuffle and parquet write carry the data"),
    Workload("graph_reports", "read-only report mix over a generated 8-tenant store written " +
      "by Refresh.write: the refresh layers sit idle, the read side of its layout is measured"),
    Workload("refresh_tenant", "one small tenant with seeded churn refreshed into a " +
      "multi-tenant store: per-refresh fixed cost, other-tenant pass-through and the diff"))

  /** Inventory sizes. The refresh's cost is mostly fixed per call (jobs,
    * planning, code generation), so sizes are chosen to keep one cold cycle
    * within the per-run budget rather than to fill memory.
    */
  object Size {
    val BulkHosts = 50
    val BulkVms = 1000
    val Tenants = 8
    val TenantHosts = 20
    val TenantVms = 500
    val SmallHosts = 5
    val SmallVms = 200
    val ReportHosts = 50
    val ReportVms = 500
    val Churn = 10
    val BlastHops = 3
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_s" -> "s", "rows_per_s" -> "1/s",
    "store_bytes_per_input_byte" -> "ratio", "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "xlsx.parse_s" -> "s", "xlsx.rows" -> "count", "xlsx.bytes" -> "bytes",
    "refresh.build_s" -> "s", "refresh.jobs" -> "count", "refresh.stages" -> "count",
    "refresh.tasks" -> "count", "refresh.task_cpu_s" -> "s", "refresh.task_wait_ratio" -> "ratio",
    "refresh.empty_task_ratio" -> "ratio", "refresh.shuffle_bytes" -> "bytes",
    "refresh.gc_s" -> "s",
    "write.s" -> "s", "write.jobs" -> "count", "write.tasks" -> "count",
    "write.task_cpu_s" -> "s", "write.empty_task_ratio" -> "ratio", "write.files" -> "count",
    "write.bytes" -> "bytes", "write.shuffle_bytes" -> "bytes",
    "load.files_read" -> "count", "load.bytes_read" -> "bytes",
    "diff.s" -> "s", "diff.jobs" -> "count", "diff.rows_added" -> "count",
    "diff.rows_removed" -> "count", "diff.rows_changed" -> "count",
    "views.vm_placement_s" -> "s", "views.datastore_report_s" -> "s",
    "views.snapshot_report_s" -> "s", "views.jobs" -> "count", "views.tasks" -> "count",
    "analytics.blast_radius_s" -> "s", "analytics.blast_radius_jobs" -> "count",
    "analytics.blast_radius_hops" -> "count", "analytics.components_s" -> "s",
    "trace.layer_share" -> "ratio")

  val BlastRels: Set[String] = Set("CONNECTED_DATASTORE", "ON_DATASTORE", "VDISK_FOR_VM")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parseArgs(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace")
    require(unknown.isEmpty, s"unknown options ${unknown.mkString(", ")}")
    val w = kv.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.exists(_.name == w),
      s"unknown workload $w (known: ${Workloads.map(_.name).mkString(", ")})")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    val seconds = kv.getOrElse("seconds", "10").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(w, kv.getOrElse("seed", "1").toLong, seconds, trace == "1")
  }

  def main(args: Array[String]): Unit = {
    val opts =
      try parseArgs(args)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"graftbench: ${e.getMessage}")
          sys.exit(2)
      }
    val loadStart = loadAvg()
    val work = new File(s".bench_build/work/${opts.workload}-${opts.seed}-${ProcessHandle.current.pid}")
    deleteTree(work)
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(opts.trace)
    if (opts.trace) spark.sparkContext.addSparkListener(tracer.listener)
    val run = new Run(spark, tracer, work, opts)
    val outcome =
      try Right(run.execute())
      catch { case NonFatal(e) => Left(e) }
    if (opts.trace) tracer.listener.drain(spark.sparkContext)
    val status = outcome match {
      case Left(e) =>
        System.err.println(s"graftbench: run failed: $e")
        e.printStackTrace()
        1
      case Right(metrics) =>
        val record = Map(
          "workload" -> opts.workload,
          "why" -> Workloads.find(_.name == opts.workload).get.why,
          "seed" -> opts.seed, "seconds" -> opts.seconds, "clients" -> 1,
          "nproc" -> cpus, "spark_version" -> spark.version,
          "commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"),
          "source_sha256" -> sys.env.getOrElse("GRAFTBENCH_SOURCE", "unknown"),
          "loadavg_1m_start" -> loadStart, "loadavg_1m_end" -> loadAvg(),
          "sizes" -> run.sizes.toMap)
        val e2e = metrics ++ Map("rss_peak_mb" -> rssPeakMb())
        val tail = Stats.tail(run.reportLatencies.toSeq)
        val detail = Map(
          "record" -> record,
          "attempted" -> run.attempted, "failed" -> run.failed,
          "error_rate" -> run.failed.toDouble / math.max(run.attempted, 1),
          "failures" -> run.failures.toSeq,
          "samples" -> Map("cycles" -> run.cycleTimes.size, "reports" -> run.reportLatencies.size),
          "report_p50_s" -> Stats.median(run.reportLatencies.toSeq),
          "report_tail_s" -> tail.map(_._2), "report_tail_percentile" -> tail.map(_._1),
          "end_to_end" -> e2e)
        val (names, units, values) =
          if (opts.trace) {
            val layer = run.perLayer()
            writeTrace(run, tracer, record)
            (PerLayer, PerLayer.toMap, layer)
          } else (EndToEnd, EndToEnd.toMap, e2e)
        Stats.checkNames(names.map(_._1))
        val missing = names.map(_._1).filterNot(values.contains)
        if (missing.nonEmpty) {
          System.err.println(s"graftbench: no value for ${missing.mkString(", ")}")
          1
        } else {
          println(Json(detail))
          println(Json(Map(
            "correct" -> (run.failed == 0), "attempted" -> run.attempted, "failed" -> run.failed,
            "metrics" -> mutable.LinkedHashMap(names.map { case (n, _) =>
              n -> Map("value" -> values(n), "unit" -> units(n))
            }: _*))))
          0
        }
    }
    spark.stop()
    deleteTree(work)
    sys.exit(status)
  }

  private def writeTrace(run: Run, tracer: Tracer, record: Map[String, Any]): Unit = {
    val counts = tracer.counts
    val spans = tracer.spans
    val children = spans.groupBy(_.parent)
    val rows = spans.sortBy(_.start).map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_s" -> Tracer.selfTime(s, children.getOrElse(s.id, Nil)) / 1e3,
        "counts" -> counts.get(s.id).map(_.toMap).getOrElse(Map.empty))
    }
    val dir = new File(".bench_build/traces")
    dir.mkdirs()
    val f = new File(dir, s"${run.opts.workload}-seed${run.opts.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Json(Map("record" -> record, "spans" -> rows)))
    finally w.close()
    val byName = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(s => Tracer.selfTime(s, children.getOrElse(s.id, Nil))).sum / 1e3)
    }.sortBy(-_._3)
    System.err.println(s"graftbench: trace written to ${f.getPath}; self time by span:")
    byName.foreach { case (n, k, self) => System.err.println(f"  $n%-28s $k%4d spans $self%9.3f s") }
  }

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** Peak resident set (`VmHWM`) of this process in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Data files and their bytes under a store version directory. */
  def storeFiles(dir: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    val fs = walk(dir)
    (fs.size.toLong, fs.map(_.length).sum)
  }

  /** Files the parquet scans of an executed query opened. */
  def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}

/** What the generator says a store must contain. */
final case class Expect(tenants: Seq[Gen.Tenant]) {
  def vms: Int = tenants.map(_.vms.size).sum
  def datastores: Int = tenants.map(_.datastores).sum
  def snapshots: Int = tenants.map(_.vms.count(_.snapshot)).sum
}

/** One benchmark run: set-up, the measured closed loop, and the checks. */
final class Run(spark: SparkSession, tracer: Tracer, work: File, val opts: Bench.Opts) {
  import Bench._

  val rnd = new SplittableRandom(opts.seed)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val cycleTimes = mutable.ArrayBuffer.empty[Double]
  val reportLatencies = mutable.ArrayBuffer.empty[Double]
  val sizes = mutable.LinkedHashMap.empty[String, Any]
  private val rowsPerS = mutable.ArrayBuffer.empty[Double]
  private val storeRatio = mutable.ArrayBuffer.empty[Double]
  // per-span facts measured from outside (files on disk, diff counts, hops)
  private val facts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var version = 0

  private def fact(k: String, v: Double): Unit =
    if (tracer.on) facts.getOrElseUpdate(tracer.current, mutable.Map.empty)(k) = v

  /** One operation: any exception or failed check counts it as failed. */
  private def operation(what: String)(f: (String => Boolean => Unit) => Unit): Unit = {
    attempted += 1
    var ok = true
    val check: String => Boolean => Unit = name => pass =>
      if (!pass) { ok = false; failures += s"$what: $name" }
    try f(check)
    catch {
      case NonFatal(e) =>
        ok = false
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    if (!ok) failed += 1
    // Release checkpointed and cached blocks between operations, outside
    // the timed calls, so that memory held by one operation does not slow
    // the next. Stores are read back from parquet and never depend on them.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def nextDir(): File = { version += 1; new File(work, s"store/v=$version") }

  private def writeXlsx(name: String, tenants: Seq[Gen.Tenant]): (File, Long) = {
    val f = new File(work, name)
    val sheets = Gen.sheets(tenants)
    Gen.writeXlsx(f.getPath, sheets)
    (f, Gen.rowCount(sheets))
  }

  private def nodeCmp(s: GraphStore): DataFrame =
    s.nodes.select(col("id"), col("label"), col("key"), to_json(col("props")).as("props"))

  final case class Cycle(store: GraphStore, diff: DataFrame, report: Map[(String, String), Long])

  /** parse → refresh → write new version → load → per-label diff. */
  private def cycle(xlsx: File, rows: Long, base: GraphStore, prev: GraphStore): Cycle =
    tracer.op("cycle") {
      val (c, secs) = seconds {
        val wb = tracer.span("xlsx") {
          val r = Workbook.loadXlsx(spark, xlsx.getPath)
          fact("rows", rows.toDouble); fact("bytes", xlsx.length.toDouble); r
        }
        val next = tracer.span("refresh")(Refresh.refresh(base, wb))
        val dir = nextDir()
        tracer.span("write") {
          Refresh.write(next, dir.getPath)
          val (files, bytes) = storeFiles(dir)
          fact("files", files.toDouble); fact("bytes", bytes.toDouble)
          storeRatio += bytes.toDouble / xlsx.length
        }
        val cur = tracer.span("load")(Refresh.load(spark, dir.getPath))
        val (d, report) = tracer.span("diff") {
          val d = SnapshotDiff.diff(nodeCmp(prev), nodeCmp(cur), Seq("id"),
            Seq("label", "key", "props"))
            .withColumn("label", coalesce(col("new_label"), col("old_label")))
            .withColumn("key", coalesce(col("new_key"), col("old_key")))
          val report = d.groupBy("label", "change_type").count().collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
          for (t <- Seq("added", "removed", "changed"))
            fact(t, report.collect { case ((_, `t`), n) => n }.sum.toDouble)
          (d, report)
        }
        Cycle(cur, d, report)
      }
      cycleTimes += secs
      rowsPerS += rows / secs
      c
    }

  /** Graph invariants of any written store. */
  private def checkGraph(check: String => Boolean => Unit, store: GraphStore): Unit = {
    check("no node id appears twice")(
      store.nodes.groupBy("id").count().filter(col("count") > 1).isEmpty)
    val ends = store.edges.select(col("src").as("id"))
      .union(store.edges.select(col("dst").as("id"))).distinct()
    check("every edge endpoint exists")(
      ends.join(store.nodes.select("id"), Seq("id"), "left_anti").isEmpty)
  }

  /** Checks on a freshly refreshed store version. */
  private def checkStore(check: String => Boolean => Unit, c: Cycle, refreshed: Seq[Gen.Tenant],
      churn: Option[Map[String, Set[String]]]): Unit = tracer.span("check") {
    val nodes = c.store.nodes
    checkGraph(check, c.store)
    val vmUuids = nodes.filter(col("label") === "Virtualmachine")
      .select(col("tenant"), col("props")("uuid")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getString(1)).toSeq }
    for (t <- refreshed) {
      val got = vmUuids.getOrElse(t.uid, Nil)
      check(s"${t.uid} has one Virtualmachine per workbook VM UUID")(
        got.size == got.distinct.size && got.toSet == t.vmUuids)
    }
    val vmDiff = c.diff.filter(col("label") === "Virtualmachine")
      .select(col("key"), col("change_type")).collect()
      .groupBy(_.getString(1)).map { case (k, rs) =>
        k -> rs.map(_.getString(0).split(Graph.KeySep)(0)).toSet
      }
    churn match {
      case Some(expected) =>
        check("Virtualmachine diff equals the generator's churn")(
          Seq("added", "removed", "changed").forall(k =>
            vmDiff.getOrElse(k, Set.empty) == expected.getOrElse(k, Set.empty)))
      case None =>
        check("refreshing an unchanged workbook yields an empty diff")(c.report.isEmpty)
    }
  }

  /** Order-independent digest of each tenant's nodes and edges. A tenant's
    * edges are those incident to its nodes, the edges a refresh of the
    * tenant marks. Edges between two untenanted nodes (a port group's VLAN,
    * say) are shared: every tenant's load upserts them, and the last writer's
    * tenant tag wins, as `Refresh.refresh` documents.
    */
  private def tenantDigest(store: GraphStore, uids: Seq[String]): Map[String, Seq[Any]] = {
    def digest(df: DataFrame, cols: Seq[String]): Map[String, Seq[Any]] =
      df.groupBy("tenant")
        .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
        .collect().map(r => r.getString(0) -> Seq(r.get(1), r.get(2))).toMap
    val owned = store.nodes.filter(col("tenant").isin(uids: _*))
    val n = digest(owned.withColumn("props", to_json(col("props"))),
      Seq("id", "label", "key", "props"))
    val edges = store.edges.select(col("src"), col("dst"), col("relType"),
      to_json(col("props")).as("props"))
    val owner = owned.select(col("id"), col("tenant"))
    val incident = Seq("src", "dst").map(end =>
      edges.join(owner, edges(end) === owner("id")).drop("id")).reduce(_ union _).distinct()
    val e = digest(incident, Seq("src", "dst", "relType", "props"))
    uids.map(u => u -> (n.getOrElse(u, Nil) ++ e.getOrElse(u, Nil))).toMap
  }

  /** The operator report mix, each report checked against the generator.
    * The views run twice per pass so that the median latency is a views
    * latency, not whichever kind lands in the middle.
    */
  private val Views = Set("vm_placement", "datastore_report", "snapshot_report")
  private val ReportKinds = Seq("vm_placement", "datastore_report", "snapshot_report",
    "vm_placement", "datastore_report", "snapshot_report", "blast_radius", "components")

  private def report(kind: String, store: GraphStore, expect: Expect, nodeCount: Long): Unit =
    operation(s"report $kind") { check =>
      val layer = if (Views(kind)) "views" else "analytics"
      var result: Array[org.apache.spark.sql.Row] = null
      val (_, secs) = seconds(tracer.span(s"$layer.$kind") {
        kind match {
          case "vm_placement" | "datastore_report" | "snapshot_report" =>
            val df = kind match {
              case "vm_placement" => GraphViews.vmPlacement(store)
              case "datastore_report" => GraphViews.datastoreReport(store)
              case _ => GraphViews.snapshotReport(store)
            }
            result = df.collect()
            fact("files_read", filesRead(df).toDouble)
          case "blast_radius" =>
            val t = expect.tenants(rnd.nextInt(expect.tenants.size))
            val d = rnd.nextInt(t.datastores)
            val start = store.nodes
              .filter(col("label") === "Vdatastore" && col("key") === t.dsUrl(d)).select("id")
            result = GraphAnalytics.blastRadius(store, start, BlastRels, Size.BlastHops).collect()
            val vms = result.filter(_.getString(1) == "Virtualmachine")
              .map(_.getString(2).split(Graph.KeySep)(0)).toSet
            check("blast radius reaches the datastore's VMs")(
              vms == t.vms.filter(_.host / 10 == d).map(t.vmUuid).toSet)
            fact("hops", result.map(_.getInt(3)).max.toDouble)
          case _ =>
            val n = GraphAnalytics.connectedComponents(spark, GraphAnalytics.toGraphX(store)).count()
            check("components cover every node")(n == nodeCount)
        }
      })
      reportLatencies += secs
      kind match {
        case "vm_placement" => check("one placement row per VM")(result.length == expect.vms)
        case "datastore_report" => check("one row per datastore")(result.length == expect.datastores)
        case "snapshot_report" => check("one row per snapshot")(result.length == expect.snapshots)
        case _ =>
      }
    }

  private def timeUp(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 >= opts.seconds

  /** Set up, run the closed loop, and return the end-to-end metrics. */
  def execute(): Map[String, Double] = opts.workload match {
    case "refresh_bulk" =>
      var state: (Gen.Tenant, File, Long, GraphStore) = null
      // Set-up (inputs and the CMDB seed store) is cheap here, so it runs
      // three times and reports the median.
      val setups = (1 to 3).map { i =>
        seconds(tracer.op("setup") {
          val t = Gen.tenant(0, Size.BulkHosts, Size.BulkVms, new SplittableRandom(opts.seed))
          val (xlsx, rows) = writeXlsx(s"bulk-$i.xlsx", Seq(t))
          state = (t, xlsx, rows, SyntheticWorkbook.seededStore(spark))
        })._2
      }
      val (t, xlsx, rows, seed) = state
      sizes ++= Seq("hosts" -> Size.BulkHosts, "vms" -> Size.BulkVms, "workbook_rows" -> rows,
        "xlsx_bytes" -> xlsx.length)
      val expect = Expect(Seq(t))
      var prev = seed
      var first = true
      val t0 = System.nanoTime()
      while (first || !timeUp(t0)) {
        var c: Cycle = null
        operation("refresh cycle") { check =>
          c = cycle(xlsx, rows, seed, prev)
          checkStore(check, c, Seq(t), if (first) Some(Map("added" -> t.vmUuids)) else None)
        }
        if (c != null) {
          reportPass(c.store, expect)
          prev = c.store
        }
        first = false
      }
      summary(Stats.median(setups), cycleTimes.toSeq)

    case "graph_reports" =>
      var gs: Setup = null
      val setups = (1 to 3).map(i => seconds(tracer.op("setup") { gs = generatedStore(i) })._2)
      operation("store set-up") { check =>
        tracer.span("check") {
          checkGraph(check, gs.store)
          check("store holds the generated nodes and edges")(
            gs.store.nodes.count() == gs.nodes && gs.store.edges.count() == gs.edges)
        }
      }
      // Set-up ends with one warm-up pass; its reports are checked but not
      // sampled, and its time counts into set-up.
      val warmUp = seconds(tracer.op("setup") {
        shuffle(ReportKinds).foreach(k => report(k, gs.store, gs.expect, gs.nodes))
      })._2
      reportLatencies.clear()
      // one cycle of the loop is one pass over the report kinds, in seeded order
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[Double]
      while (passes.isEmpty || !timeUp(t0)) {
        passes += seconds(tracer.op("cycle") {
          shuffle(ReportKinds).foreach(k => report(k, gs.store, gs.expect, gs.nodes))
        })._2
      }
      rowsPerS ++= passes.map(s => (gs.nodes + gs.edges) / s)
      summary(Stats.median(setups) + warmUp, passes.toSeq)

    case "refresh_tenant" =>
      val (mt, setup) = seconds(multiTenantSetup())
      var tenants = mt.expect.tenants
      val others = tenants.tail.map(_.uid)
      val baseline = tenantDigest(mt.store, others)
      var prev = mt.store
      var i = 0
      val t0 = System.nanoTime()
      // Odd cycles churn tenant 0; even cycles re-apply the same workbook,
      // whose diff must be empty.
      var churn: Option[Map[String, Set[String]]] = None
      var xlsx: (File, Long) = null
      while (i == 0 || !timeUp(t0)) {
        i += 1
        if (i % 2 == 1) {
          val (next, ch) = Gen.churn(tenants.head, Size.Churn, rnd)
          tenants = next +: tenants.tail
          churn = Some(Map("added" -> ch.added, "removed" -> ch.removed, "changed" -> ch.changed))
          xlsx = writeXlsx(s"tenant-$i.xlsx", Seq(next))
        } else churn = None
        var c: Cycle = null
        operation("tenant refresh cycle") { check =>
          c = cycle(xlsx._1, xlsx._2, prev, prev)
          checkStore(check, c, Seq(tenants.head), churn)
          tracer.span("check") {
            check("other tenants unchanged")(tenantDigest(c.store, others) == baseline)
          }
        }
        if (c != null) {
          reportPass(c.store, Expect(tenants))
          prev = c.store
        }
      }
      summary(setup, cycleTimes.toSeq)
  }

  /** The views an operator runs after a refresh, each three times so that
    * the median is a warm run; the analytics are left to `graph_reports`.
    */
  private def reportPass(store: GraphStore, expect: Expect): Unit =
    shuffle(Seq.fill(3)(Views.toSeq).flatten).foreach(k => report(k, store, expect, -1L))

  private def shuffle[T](xs: Seq[T]): Seq[T] =
    xs.indices.reverse.foldLeft(xs.toVector) { (v, i) =>
      val j = rnd.nextInt(i + 1)
      v.updated(i, v(j)).updated(j, v(i))
    }

  /** A written store, what it must hold, and its node and edge counts. */
  final case class Setup(store: GraphStore, expect: Expect, nodes: Long, edges: Long)

  /** A generated multi-tenant store written with `Refresh.write` and read
    * back with `Refresh.load`; the `.xlsx` of the same inventory is written
    * too, as the input the store's size is compared with.
    */
  private def generatedStore(rep: Int): Setup = {
    val tenants = (0 until Size.Tenants).map(i =>
      Gen.tenant(i, Size.ReportHosts, Size.ReportVms, new SplittableRandom(opts.seed * 31 + i)))
    val (xlsx, rows) = writeXlsx(s"reports-$rep.xlsx", tenants)
    val graph = Store.build(spark, tenants)
    val dir = nextDir()
    tracer.span("write") {
      Refresh.write(graph, dir.getPath)
      val (files, bytes) = storeFiles(dir)
      fact("files", files.toDouble); fact("bytes", bytes.toDouble)
      storeRatio += bytes.toDouble / xlsx.length
    }
    val store = tracer.span("load")(Refresh.load(spark, dir.getPath))
    val s = Setup(store, Expect(tenants), Store.nodeCount(tenants), Store.edgeCount(tenants))
    sizes ++= Seq("tenants" -> Size.Tenants, "tenant_hosts" -> Size.ReportHosts,
      "tenant_vms" -> Size.ReportVms, "workbook_rows" -> rows, "xlsx_bytes" -> xlsx.length,
      "store_nodes" -> s.nodes, "store_edges" -> s.edges)
    s
  }

  /** Eight vCenters (tenant 0 small) refreshed into the seed store in one
    * cycle; the written version is the store the loop works on.
    */
  private def multiTenantSetup(): Setup = tracer.op("setup") {
    val tenants = (0 until Size.Tenants).map { i =>
      val r = new SplittableRandom(opts.seed * 31 + i)
      if (i == 0) Gen.tenant(i, Size.SmallHosts, Size.SmallVms, r)
      else Gen.tenant(i, Size.TenantHosts, Size.TenantVms, r)
    }
    val (xlsx, rows) = writeXlsx("tenants.xlsx", tenants)
    sizes ++= Seq("tenants" -> Size.Tenants, "tenant_hosts" -> Size.TenantHosts,
      "tenant_vms" -> Size.TenantVms, "small_tenant_hosts" -> Size.SmallHosts,
      "small_tenant_vms" -> Size.SmallVms, "churn" -> Size.Churn,
      "workbook_rows" -> rows, "xlsx_bytes" -> xlsx.length)
    val seed = SyntheticWorkbook.seededStore(spark)
    var out: Setup = null
    operation("initial refresh") { check =>
      val c = cycle(xlsx, rows, seed, seed)
      checkStore(check, c, tenants, Some(Map("added" -> tenants.flatMap(_.vmUuids).toSet)))
      out = Setup(c.store, Expect(tenants), c.store.nodes.count(), c.store.edges.count())
      sizes ++= Seq("store_nodes" -> out.nodes, "store_edges" -> out.edges)
    }
    // the set-up cycle is not a measured cycle
    cycleTimes.clear()
    rowsPerS.clear()
    storeRatio.clear()
    require(out != null, s"initial refresh failed: ${failures.mkString("; ")}")
    out
  }

  private def summary(setup: Double, cycles: Seq[Double]): Map[String, Double] = {
    require(cycles.nonEmpty, s"no cycle completed: ${failures.mkString("; ")}")
    require(reportLatencies.nonEmpty, s"no report completed: ${failures.mkString("; ")}")
    Map("setup_s" -> setup, "cycle_s" -> Stats.median(cycles),
      "rows_per_s" -> Stats.median(rowsPerS.toSeq),
      "store_bytes_per_input_byte" -> Stats.median(storeRatio.toSeq))
  }

  /** Per-layer metrics: for each layer, the median over its spans. */
  def perLayer(): Map[String, Double] = {
    val counts = tracer.counts
    val spans = tracer.spans
    val empty = new Counts
    def of(name: String): Seq[Span] = spans.filter(_.name == name)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def durS(name: String): Double = med(of(name).map(s => (s.end - s.start) / 1e3))
    def cnt(name: String)(f: Counts => Double): Double =
      med(of(name).map(s => f(counts.getOrElse(s.id, empty))))
    def sumC(ss: Seq[Span]): Counts = {
      val c = new Counts; ss.foreach(s => counts.get(s.id).foreach(c.add)); c
    }
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def factOf(name: String, k: String): Double =
      med(of(name).flatMap(s => facts.get(s.id).flatMap(_.get(k))))
    val views = spans.filter(_.name.startsWith("views."))
    val refresh = sumC(of("refresh"))
    val write = sumC(of("write"))
    val cycles = of("cycle")
    val children = spans.groupBy(_.parent)
    val cycleTotal = cycles.map(s => s.end - s.start).sum
    val cycleSelf = cycles.map(s => Tracer.selfTime(s, children.getOrElse(s.id, Nil))).sum
    Map(
      "xlsx.parse_s" -> durS("xlsx"), "xlsx.rows" -> factOf("xlsx", "rows"),
      "xlsx.bytes" -> factOf("xlsx", "bytes"),
      "refresh.build_s" -> durS("refresh"),
      "refresh.jobs" -> cnt("refresh")(_.jobs), "refresh.stages" -> cnt("refresh")(_.stages),
      "refresh.tasks" -> cnt("refresh")(_.tasks),
      "refresh.task_cpu_s" -> cnt("refresh")(_.cpuNs / 1e9),
      "refresh.task_wait_ratio" ->
        (if (refresh.runMs == 0) 0.0 else 1 - refresh.cpuNs / 1e6 / refresh.runMs),
      "refresh.empty_task_ratio" -> ratio(refresh.emptyTasks, refresh.tasks),
      "refresh.shuffle_bytes" -> cnt("refresh")(_.shuffleBytes),
      "refresh.gc_s" -> cnt("refresh")(_.gcMs / 1e3),
      "write.s" -> durS("write"), "write.jobs" -> cnt("write")(_.jobs),
      "write.tasks" -> cnt("write")(_.tasks),
      "write.task_cpu_s" -> cnt("write")(_.cpuNs / 1e9),
      "write.empty_task_ratio" -> ratio(write.emptyTasks, write.tasks),
      "write.files" -> factOf("write", "files"), "write.bytes" -> factOf("write", "bytes"),
      "write.shuffle_bytes" -> cnt("write")(_.shuffleBytes),
      "load.files_read" -> med(views.flatMap(s => facts.get(s.id).flatMap(_.get("files_read")))),
      "load.bytes_read" -> med(views.map(s => counts.getOrElse(s.id, empty).inputBytes.toDouble)),
      "diff.s" -> durS("diff"), "diff.jobs" -> cnt("diff")(_.jobs),
      "diff.rows_added" -> factOf("diff", "added"),
      "diff.rows_removed" -> factOf("diff", "removed"),
      "diff.rows_changed" -> factOf("diff", "changed"),
      "views.vm_placement_s" -> durS("views.vm_placement"),
      "views.datastore_report_s" -> durS("views.datastore_report"),
      "views.snapshot_report_s" -> durS("views.snapshot_report"),
      "views.jobs" -> med(views.map(s => counts.getOrElse(s.id, empty).jobs.toDouble)),
      "views.tasks" -> med(views.map(s => counts.getOrElse(s.id, empty).tasks.toDouble)),
      "analytics.blast_radius_s" -> durS("analytics.blast_radius"),
      "analytics.blast_radius_jobs" -> cnt("analytics.blast_radius")(_.jobs),
      "analytics.blast_radius_hops" -> factOf("analytics.blast_radius", "hops"),
      "analytics.components_s" -> durS("analytics.components"),
      "trace.layer_share" -> (1 - ratio(cycleSelf, cycleTotal)))
  }
}
