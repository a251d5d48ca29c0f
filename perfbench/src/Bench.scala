package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageShim
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The benchmark process: builds the session, makes the seeded inputs,
  * runs one check pass (the warm-up, part of setup_s), then timed passes for
  * `--seconds`, then checks every pass's output and writes one JSON
  * document for perfbench/run.py.
  *
  * With `--trace 1` the timed passes still run without listeners; one extra
  * pass then runs with the span listeners on and yields the per-layer
  * numbers. Arguments: --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--catalog DIR] [--passes N] [--corrupt 1]. */
object Bench {
  private implicit val formats: Formats = DefaultFormats

  /** JSON text of plain Maps, Seqs and numbers. */
  def json(x: AnyRef): String = Serialization.write(x)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val fixedPasses = args.get("passes").map(_.toInt)
    val work = new File(args("work")).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // No GC-driven cleanup: blocks of RDDs the engine drops without
      // unpersisting (a superstep operator's abandoned checkpoint) stay in
      // storage until the pass ends, so peak_storage_mb counts them in every
      // run instead of only in runs where no GC ran first.
      .config("spark.cleaner.referenceTracking", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val loadBefore = loadavg()

    val wl: Workload = workloadName match {
      case "catalog" => new Catalog(spark, work, seed, new File(args("catalog")))
      case "web_links" => new WebLinks(spark, work, seed)
      case "clusty_cli" => new ClustyCli(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - g0) / 1e9

    val tr = new Tracer(spark.sparkContext, traced = false)
    tr.run = "warmup"
    val warm = wl.pass(tr, 0, check = true)
    val setupS = sessionS + warm.wall

    tr.run = "timed"
    tr.peakStorageB = 0L
    val timed = mutable.ArrayBuffer.empty[PassResult]
    val stolen = mutable.Map.empty[Int, Double] // pass index -> seconds of CPU the hypervisor took
    def timedPass(): Unit = {
      val s0 = stealS()
      val p = wl.pass(tr, timed.size + 1, check = false)
      stolen(p.index) = stealS() - s0
      timed += p
    }
    def disturbed(p: PassResult) = stolen(p.index) > StealShare * cpus * p.wall
    val t0 = System.nanoTime()
    def more = fixedPasses match {
      case Some(n) => timed.size < n
      case None => timed.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds
    }
    while (more) timedPass()
    // A pass during which the hypervisor took a share of the CPUs (other
    // guests on the host) is measured again, at most twice; run.py then
    // reports the undisturbed passes. A retry is further into the JIT
    // warm-up, so it reads a few percent faster than a first timed pass.
    while (fixedPasses.isEmpty && timed.forall(disturbed) && timed.size < 3) timedPass()
    val peakStorageMb = tr.peakStorageB / 1048576.0

    // the traced pass is bracketed by untraced ones; the tracing overhead is
    // its wall time minus their mean (passes still speed up as the JIT warms)
    val layers = if (traced) Some(tracedPass(spark, wl, work, timed.size + 1)) else None
    val bracket = layers.map(_ => wl.pass(tr, timed.size + 2, check = false))
    for ((p, m) <- layers; b <- bracket) m("trace.overhead_s") = p.wall - (timed.last.wall + b.wall) / 2
    val kinds = Seq(warm -> "warmup") ++
      timed.map(p => p -> (if (disturbed(p)) "disturbed" else "timed")) ++
      layers.map(_._1 -> "traced") ++ bracket.map(_ -> "bracket")
    val all = kinds.map(_._1)
    if (args.get("corrupt").contains("1")) wl.corrupt(timed.head)
    wl.verify(all)
    val loadAfter = loadavg()

    val out = new PrintWriter(args("out"), "UTF-8")
    try out.print(json(ListMap(
      "workload" -> workloadName, "seed" -> seed,
      "env" -> ListMap(
        "nproc" -> cpus, "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version")),
      "inputs" -> ListMap(wl.inputs.toSeq: _*),
      "session_s" -> sessionS, "prepare_s" -> prepareS, "warm_s" -> warm.wall, "setup_s" -> setupS,
      "peak_storage_mb" -> peakStorageMb,
      "passes" -> kinds.map { case (p, k) => passJson(p, k, stolen.getOrElse(p.index, 0.0)) },
      "layers" -> ListMap(layers.map(_._2.toSeq).getOrElse(Nil): _*))))
    finally out.close()
    graft.Queries.clearCaches()
    spark.stop()
  }

  private def passJson(p: PassResult, kind: String, steal: Double) = ListMap(
    "index" -> p.index, "kind" -> kind, "wall_s" -> p.wall, "steal_s" -> steal,
    "ops" -> p.ops.map(o => ListMap("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok, "note" -> o.note)),
    "pr" -> p.pr.map(r => ListMap("edges" -> r.directedEdges, "supersteps" -> r.supersteps,
      "s" -> r.seconds, "step_s" -> r.stepSeconds)))

  /** One pass with the listeners on; returns it and the per-layer metrics. */
  private def tracedPass(spark: SparkSession, wl: Workload, work: File, index: Int)
      : (PassResult, mutable.LinkedHashMap[String, Double]) = {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, traced = true)
    tr.run = "traced"
    val lis = new Listener(tr)
    val ql = new PlanListener
    tr.onLayer = (layer, entering) => if (layer == "doc") { StorageShim.drain(sc); ql.docActive = entering }
    sc.addSparkListener(lis)
    spark.listenerManager.register(ql)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val cpu0 = os.getProcessCpuTime; val gc0 = gcMs
    val p = wl.pass(tr, index, check = false)
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9; val gcS = (gcMs - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    StorageShim.drain(sc)
    sc.removeSparkListener(lis)
    spark.listenerManager.unregister(ql)
    val spanLog = new PrintWriter(new File(work, s"trace-${wl.name}-${wl.seed}.jsonl"), "UTF-8")
    try tr.spans.sortBy(_.start).foreach { sp =>
      val x = tr.statsFor(sp.id)
      spanLog.println(json(ListMap("id" -> sp.id, "name" -> sp.name, "layer" -> sp.layer, "parent" -> sp.parent,
        "run" -> sp.run, "start_ms" -> tr.epochMs(sp.start), "end_ms" -> tr.epochMs(sp.end),
        "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks, "shuffle_read_b" -> x.shuffleReadB,
        "shuffle_write_b" -> x.shuffleWriteB, "spill_b" -> x.spillB, "gc_ms" -> x.gcMs)))
    } finally spanLog.close()

    val m = mutable.LinkedHashMap.empty[String, Double]
    val mb = 1048576.0
    def layerSpans(l: String) = tr.spans.filter(_.layer == l)
    def st(l: String) = layerSpans(l).map(s => tr.statsFor(s.id))
    def secs(l: String) = layerSpans(l).map(s => (s.end - s.start) / 1e9).sum
    def skew(l: String) = {
      val mm = st(l).flatMap(_.stageMaxMed)
      val med = mm.map(_._2).sum
      if (med > 0) mm.map(_._1).sum.toDouble / med else 0.0
    }
    def jobIntervals(l: String) = st(l).flatMap(_.jobIntervals)

    m("ingest.s") = secs("ingest")
    m("ingest.jobs") = st("ingest").map(_.jobs).sum
    m("ingest.rows_in") = st("ingest").map(_.rowsIn).sum
    m("ingest.edges_out") = tr.counters.getOrElse("ingest.edges_out", 0.0)
    m("ingest.dict_s") = tr.spans.filter(_.name == "ingest.dict").map(s => (s.end - s.start) / 1e9).sum
    m("ingest.shuffle_write_mb") = st("ingest").map(_.shuffleWriteB).sum / mb
    m("ingest.spill_mb") = st("ingest").map(_.spillB).sum / mb

    m("graph.s") = secs("graph")
    m("graph.jobs") = st("graph").map(_.jobs).sum
    m("graph.stages") = st("graph").map(_.stages).sum
    m("graph.tasks") = st("graph").map(_.tasks).sum
    val gj = jobIntervals("graph")
    m("graph.job_s_mean") = if (gj.isEmpty) 0.0 else gj.map { case (a, b) => b - a }.sum / 1000.0 / gj.size
    m("graph.driver_gap_s") = layerSpans("graph").map { s =>
      val (a, b) = (tr.epochMs(s.start), tr.epochMs(s.end))
      val busy = unionLength(tr.statsFor(s.id).jobIntervals.toSeq.map { case (x, y) => (math.max(x, a), math.min(y, b)) })
      math.max(0.0, (b - a - busy) / 1000.0)
    }.sum
    val steps = p.pr.flatMap(_.stepSeconds)
    m("graph.supersteps") = p.pr.map(_.supersteps).sum
    m("graph.pr_step_s") = if (steps.isEmpty) 0.0 else median(steps)
    m("graph.shuffle_read_mb") = st("graph").map(_.shuffleReadB).sum / mb
    m("graph.shuffle_write_mb") = st("graph").map(_.shuffleWriteB).sum / mb
    m("graph.spill_mb") = st("graph").map(_.spillB).sum / mb
    m("graph.task_skew") = skew("graph")
    m("graph.gc_s") = st("graph").map(_.gcMs).sum / 1000.0

    m("tail.s") = secs("tail")
    m("tail.jobs") = st("tail").map(_.jobs).sum
    m("tail.shuffle_mb") = st("tail").map(_.shuffleWriteB).sum / mb
    m("tail.max_task_s") = st("tail").map(_.maxTaskMs).foldLeft(0L)(math.max) / 1000.0
    m("tail.task_skew") = skew("tail")

    m("sink.s") = secs("sink")
    m("sink.rows") = tr.counters.getOrElse("sink.rows", 0.0)
    m("sink.bytes") = tr.counters.getOrElse("sink.bytes", 0.0)
    m("sink.files") = tr.counters.getOrElse("sink.files", 0.0)

    m("cache.storage_mb") = tr.peakStorageB / mb
    m("cache.checkpoint_mb") = tr.peakCheckpointB / mb
    m("cache.blocks_dropped") = lis.blocksDropped
    m("cache.unpersists") = lis.unpersists
    m("cache.scan_hits") = ql.scanHits

    m("doc.s") = secs("doc")
    m("doc.shuffle_mb") = st("doc").map(_.shuffleWriteB).sum / mb
    m("doc.pairs_per_candidate") = if (ql.candidates > 0) ql.verified.toDouble / ql.candidates else 0.0

    val opSecs = p.ops.map(o => o.name -> o.seconds).toMap
    (OpNames.catalog ++ (if (wl.name == "clusty_cli") OpNames.cli else Nil))
      .foreach(o => m(s"$o.s") = opSecs.getOrElse(o, 0.0))

    m("proc.cpu_s") = cpuS
    m("proc.gc_s") = gcS
    m("proc.heap_peak_mb") = heapPeakMb
    (p, m)
  }

  /** Share of the CPUs' time the hypervisor may take during a timed pass
    * before the pass counts as disturbed. Undisturbed runs here show 0.3%. */
  val StealShare = 0.03

  /** CPU seconds the hypervisor has taken from this machine (/proc/stat). */
  def stealS(): Double =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .split("\\s+")(8).toDouble / ClockTicks
    catch { case _: Exception => 0.0 }

  private val ClockTicks = 100.0 // USER_HZ, 100 on Linux

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
}

/** The per-operation metric names, fixed for every workload. */
object OpNames {
  val catalog: Seq[String] = Seq(
    "q_edges_build", "q_cc", "q_cluster_shape", "q_triangles", "q_minhash_pairs",
    "q_text_quality", "q_sessions", "q_pagerank_full").map("op." + _)
  val cli: Seq[String] = Seq("single", "set-cover", "cd-hit", "leiden").map("op.cli_" + _)
}

/** Writes the DuckDB oracle SQL of the catalog rows as one JSON object. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val rows = OpNames.catalog.map(_.stripPrefix("op.")).filter(graft.SparkEntry.oracleSql.contains)
      .filterNot(_ == "q_pagerank_full") // the north-rule run is checked in the JVM
    val out = new PrintWriter(args(0), "UTF-8")
    try out.print(Bench.json(rows.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
    finally out.close()
  }
}
