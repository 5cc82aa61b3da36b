package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.{Caches, SparkEntry, Tables}
import graft.operators.Aggregates
import graft.streaming.ViewStream

/** One benchmark run inside one JVM: set up, run a workload's clients
  * for the measured window, check answers, and write the raw record
  * (`--out`) that `run.py` turns into metrics.
  *
  * Both workloads run the app as deployed: one shared session serves
  * closed-loop readers while a `ViewStream` folds landed quote batches
  * (written by the separate generator in `run.py`) into the base
  * `DocTable` and its `MaterializedAgg` view.
  *
  * Handshake with the generator, all files under `--work`:
  * the harness writes `ready` (epoch ms) when set-up ends; the
  * generator lands `landing/batch-*.parquet` and finally writes
  * `landed.json`; the harness waits for it, drains the stream, checks,
  * and writes `--out`.
  */
object Harness {

  /** Interactive reads of the reference's REST and dashboard views whose
    * wall time is mostly fixed per-action cost: page scans and offsets,
    * filters and a point lookup, latest per key, percentiles, the impact
    * score and an ANN top-k.
    */
  val DashboardQueries: Seq[String] = Seq(
    "s1_scan_page", "o1_page2", "o5_next_offset", "f1_range_filter",
    "f2_journal_filter", "f3_point_lookup", "a2_latest_per_key",
    "a10_percentiles", "x3_impact_score", "n1_ann_topk")

  /** A run measures at least this many rounds, so every read has a
    * median of at least this many samples.
    */
  val MinRounds = 3

  /** Rounds the clients run in set-up, untimed, so that the window
    * measures JIT-compiled driver code rather than its warm-up.
    */
  val WarmRounds = 2

  /** The two live-quote reads over the streamed tables. */
  val LiveReads: Seq[String] = Seq("serve", "latest")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, work: String,
                        out: String, cpus: Int, triggerMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("data"), m("work"), m("out"), m("cpus").toInt,
      m("trigger-ms").toLong)
  }

  /** One measured operation. */
  final case class Op(id: String, client: Int, name: String, startNs: Long,
                      buildNs: Long, endNs: Long, error: Option[String],
                      tinyPlan: Boolean, analysisMs: Long, threadCpuNs: Long)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sessionS = sinceStart
    val trace = if (args.trace) Some(Trace.install(spark)) else None
    val work = args.work
    val landing = s"$work/landing"
    val baseRoot = s"$work/base"
    val viewRoot = s"$work/view"
    new File(landing).mkdirs()

    val base = ViewStream.baseTable(spark, baseRoot)
    val view = ViewStream.view(spark, baseRoot, viewRoot, Seq("symbol"), "price")

    val reads: Seq[String] = args.workload match {
      case "dashboard" => DashboardQueries
      case "ingest"    => LiveReads
      case w           => sys.error(s"unknown workload $w")
    }
    val clients = if (args.workload == "dashboard") 2 else 1

    def action(name: String): () => DataFrame = name match {
      case "serve"  => () => view.serve()
      case "latest" => () => Aggregates.latestPerKey(
        base.read(), "symbol", col("as_of"), col("doc_id"), col("price"))
      case q        => { val fn = SparkEntry.queries(q); () => fn(spark, args.data) }
    }

    // Set-up on four threads: seed the base table with the prices and
    // fold the view over it, beside a cold pass (untimed) that runs every
    // catalogue read once and keeps its answer for the oracle check.
    val checkDir = s"$work/results"
    val coldErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    var seededS = 0.0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def submit(name: String)(f: => Unit): Unit = pool.submit(new Runnable {
      def run(): Unit = try Caches.withCaches(_ => f)
      catch { case t: Throwable => coldErrors.put(name, describe(t)) }
    })
    submit("seed") {
      base.init(Tables(spark, args.data).pricesFromEvents
        .withColumnRenamed("id", "doc_id"))
      view.refresh()
      seededS = sinceStart
    }
    reads.filterNot(LiveReads.contains).foreach { name =>
      submit(name)(action(name)().coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/$name"))
    }
    pool.shutdown()
    pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    if (coldErrors.containsKey("seed")) sys.error("seeding failed: " + coldErrors.get("seed"))
    val coldS = sinceStart

    // Closed loop, round robin: the clients take reads in turn from one
    // seeded permutation of the workload's reads, repeated, and start a
    // read until the deadline has passed, at least `minRounds` rounds
    // have started and the current round is done, so every read runs the
    // same number of times.
    val round = new scala.util.Random(args.seed).shuffle(reads)
    def closedLoop(deadline: Long, minRounds: Int, tag: String): Seq[Op] = {
      val ops = new ConcurrentLinkedQueue[Op]()
      var seq = 0L
      def next(): Option[(String, Long)] = round.synchronized {
        if (System.nanoTime() < deadline || seq % round.size != 0 ||
            seq < minRounds * round.size) {
          seq += 1
          Some((round(((seq - 1) % round.size).toInt), seq))
        } else None
      }
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var n = next()
          while (n.isDefined) {
            val (name, i) = n.get
            ops.add(runOp(spark, s"$tag-$i", c, name, action(name)))
            n = next()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      ops.asScala.toSeq
    }
    val warmErrors = closedLoop(System.nanoTime(), WarmRounds, "warm")
      .flatMap(o => o.error.map(o.name -> _))
    if (warmErrors.nonEmpty) sys.error("warm-up failed: " + warmErrors.head)

    // the stream starts on an empty landing dir and stays up for the run
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          progress.add(Map("end_ms" -> System.currentTimeMillis(),
            "batch" -> p.batchId, "rows" -> p.numInputRows,
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
    val query: StreamingQuery = ViewStream.start(spark, landing, base.read().schema,
      baseRoot, viewRoot, Seq("symbol"), "price", s"$work/checkpoint",
      Trigger.ProcessingTime(args.triggerMs))

    val sc = spark.sparkContext
    val cached0 = sc.getPersistentRDDs.size
    val baseBytes0 = treeBytes(baseRoot)
    val viewBytes0 = treeBytes(viewRoot)
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    trace.foreach(_.reset())
    val setupS = sinceStart
    // Spark fires a ProcessingTime trigger on multiples of its interval
    // since the epoch; the window (and the generator's schedule) opens
    // 100 ms after such a tick, so landings, batches and reads keep the
    // same phase in every run
    val now = System.currentTimeMillis()
    Thread.sleep((now / args.triggerMs + 1) * args.triggerMs + 100 - now)
    val t0 = System.nanoTime()
    val readyMs = System.currentTimeMillis()
    Files.writeString(Paths.get(s"$work/ready"), readyMs.toString)

    val ops = closedLoop(t0 + args.seconds * 1000000000L, MinRounds, "op")
    val measuredNs = System.nanoTime() - t0
    val cpuMs = (cpuNs() - cpu0) / 1e6
    val gcMsRun = gcMs() - gc0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val traced = trace.map(_.snapshot(ops))

    // drain: wait for the generator's manifest, then for the stream to
    // take in every landed row
    val landedFile = Paths.get(s"$work/landed.json")
    val waitUntil = System.nanoTime() + 120000000000L
    while (!Files.exists(landedFile) && System.nanoTime() < waitUntil) Thread.sleep(20)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val landed = mapper.readValue(landedFile.toFile, classOf[Map[String, Any]])
    val landedRows = landed("rows").asInstanceOf[Number].longValue
    def taken = progress.asScala.map(_("rows").asInstanceOf[Long]).sum
    while (taken < landedRows && System.nanoTime() < waitUntil && query.isActive)
      Thread.sleep(20)
    val streamError = query.exception.map(e => describe(e))
    query.stop()
    // what the reads and the stream left cached once all of them ended
    val leaked = sc.getPersistentRDDs.size - cached0

    // final state, untimed: the view and the base row count
    view.serve().coalesce(1).write.mode("overwrite").parquet(s"$checkDir/serve_final")
    val baseRows = base.read().count()

    val record = Map(
      "cpus" -> args.cpus, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup_s" -> setupS,
      "setup_phases_s" -> Map("session" -> sessionS, "seeded" -> seededS, "cold" -> coldS),
      "measured_s" -> measuredNs / 1e9, "ready_ms" -> readyMs,
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMsRun, "caches_leaked" -> leaked,
      "heap_peak_mb" -> heapPeakMb, "rss_peak_mb" -> vmHwmMb(),
      "cold_errors" -> coldErrors.asScala.toMap,
      "stream_error" -> streamError, "base_rows" -> baseRows,
      "base_dirs" -> base.dataDirCount, "view_dirs" -> view.table.dataDirCount,
      "base_bytes" -> treeBytes(baseRoot), "view_bytes" -> treeBytes(viewRoot),
      "base_bytes0" -> baseBytes0, "view_bytes0" -> viewBytes0,
      "oracle_sql" -> reads.filterNot(LiveReads.contains)
        .map(q => q -> SparkEntry.oracleSql(q)).toMap,
      "progress" -> progress.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]),
      "ops" -> ops.sortBy(_.startNs).map { o =>
        Map("id" -> o.id, "client" -> o.client, "name" -> o.name,
          "start_ms" -> (o.startNs - t0) / 1e6, "build_ms" -> (o.buildNs - o.startNs) / 1e6,
          "end_ms" -> (o.endNs - t0) / 1e6, "error" -> o.error,
          "tiny_plan" -> o.tinyPlan,
          "analysis_ms" -> o.analysisMs, "thread_cpu_ms" -> o.threadCpuNs / 1e6)
      },
      "trace" -> traced.map(_ + ("t0_ms" -> readyMs)))
    Files.writeString(Paths.get(args.out), mapper.writeValueAsString(record))
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Time one read: build its DataFrame (the query closure), then run
    * it to completion into the noop sink, as `graft.Bench` does. Its
    * Spark jobs carry the op id as their job group.
    */
  def runOp(spark: SparkSession, id: String, client: Int, name: String,
            build: () => DataFrame): Op = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val tiny = spark.conf.get("spark.sql.adaptive.enabled") == "false"
    val threads = ManagementFactory.getThreadMXBean
    val cpu0 = threads.getCurrentThreadCpuTime
    val s = System.nanoTime()
    var b = s
    var analysisMs = 0L
    val err = try {
      Caches.withCaches { _ =>
        val df = build()
        b = System.nanoTime()
        // the closure's DataFrame was analysed as it was built
        analysisMs = df.queryExecution.tracker.phases.get("analysis")
          .map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
        noop(df)
      }
      None
    } catch { case t: Throwable => Some(describe(t)) }
    finally sc.clearJobGroup()
    if (b == s) b = System.nanoTime()
    Op(id, client, name, s, b, System.nanoTime(), err, tiny, analysisMs,
      threads.getCurrentThreadCpuTime - cpu0)
  }

  def describe(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse("")).take(400)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Peak resident set size of this process (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
  }
}
