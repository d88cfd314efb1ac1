package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: the set-up (session start plus the cold
  * first operation of a fresh JVM, timed as `setup_s`), then a closed loop
  * with one client for `seconds` of operations. Untraced runs print the end-to-end
  * metrics. Traced runs alternate an untraced and a traced operation, print
  * the per-layer metrics of the traced ones and the difference between the
  * two as the tracing overhead. The last line of standard output is the
  * result JSON.
  */
object Main {
  import Workloads.seconds

  final case class Metric(name: String, unit: String, value: Double)

  /** Spans whose self time is a per-layer metric, by span name. */
  val spanMetrics: Seq[(String, String)] = Seq(
    "sources.discover" -> "sources.discover_s",
    "sources.read" -> "sources.read_s",
    "sync.engine" -> "sync.engine_s",
    "sync.parquet_write" -> "sync.parquet_write_s",
    "state.load" -> "state.load_s",
    "state.save" -> "state.save_s",
    "queries.build" -> "queries.build_s",
    "queries.exec" -> "queries.exec_s")

  /** `--key value` pairs. */
  def parseArgs(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** The generated inputs' expectations, the testdata directory they were
    * made from, and the query pins for that scale.
    */
  def loadInputs(args: Map[String, String]): (Path, JsonNode, String, JsonNode) = {
    val inputs = Paths.get(args("inputs"))
    val expected = Workloads.mapper.readTree(Files.readString(inputs.resolve("expected.json")))
    val sfDir = expected.get("sf_dir").asText
    val pins = Workloads.mapper.readTree(Files.readString(Paths.get(args("pins"))))
      .get(Paths.get(sfDir).getFileName.toString)
    (inputs, expected, sfDir, pins)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val workload = args("workload")
    val runSeconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = Paths.get(args("work"))
    val (inputs, expected, sfDir, pins) = loadInputs(args)
    Files.createDirectories(work)

    val tracer = new Tracer(trace)
    var attempted, failed = 0
    // An operation that throws counts as failed, like one whose output
    // check fails; the run goes on so that the result line is printed.
    def attempt(op: => OpResult): Option[OpResult] = {
      attempted += 1
      val r = try op catch {
        case e: Exception => OpResult(0L, 0L, 0L, 0.0, 0.0, Nil, Seq(s"operation failed: $e"))
      }
      if (r.errors.nonEmpty) {
        failed += 1
        r.errors.foreach(e => System.err.println(s"[perfbench] output check failed: $e"))
        None
      } else Some(r)
    }

    // ---- set-up: session start plus the cold first operation ----
    val setupStart = System.nanoTime()
    val spark = session(cores, work)
    val started = seconds(setupStart, System.nanoTime())
    val ctx = new Ctx(spark, tracer, SparkCounters.register(spark), inputs, expected, pins, sfDir, work)
    val wl = Workloads(workload, ctx)
    val setupS = attempt(wl.op(0)).map(r => started + seconds(r.start, r.end))
    var opId = 1
    // A traced run compares an untraced and a traced operation; one more
    // untimed operation first, so that the JIT warm-up still going on after
    // the set-up does not favour whichever of the two comes second.
    if (trace) {
      attempt(wl.op(opId))
      opId += 1
    }

    // ---- closed loop ----
    val untraced = ArrayBuffer.empty[OpResult]
    val traced = ArrayBuffer.empty[(OpResult, Map[String, Double])]
    val start = System.nanoTime()
    var checkS = 0.0
    var k = 0
    // The run measures `seconds` of operations; the output checks of passed
    // operations do not count, so the number of operations does not depend
    // on how long the checks take.
    def done = seconds(start, System.nanoTime()) - checkS >= runSeconds &&
      (failed > 0 || untraced.nonEmpty && (!trace || traced.nonEmpty))
    while (!done) {
      val tracedOp = trace && k % 2 == 1
      tracer.beginOp(if (tracedOp) opId else -1)
      // Spark counters summed over the operation's timed sections.
      var counted = Map.empty[String, Long]
      if (tracedOp) {
        var before = Map.empty[String, Long]
        ctx.timedStart = () => { SparkCounters.drain(spark); before = ctx.counters.snapshot }
        ctx.timedEnd = () => {
          SparkCounters.drain(spark)
          counted = ctx.counters.snapshot.map { case (k, v) => k -> (counted.getOrElse(k, 0L) + v - before(k)) }
        }
      } else {
        ctx.timedStart = () => ()
        ctx.timedEnd = () => ()
      }
      attempt(wl.op(opId)).foreach { r =>
        checkS += seconds(r.end, System.nanoTime())
        if (tracedOp) traced += r -> (layerMetrics(r, opId, tracer, counted, cores) ++ wl.layers(opId))
        else untraced += r
      }
      tracer.beginOp(-1)
      opId += 1
      k += 1
    }
    val peakRssMb = peakRss()
    stop(spark)
    val jvmS = (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] jvm=$jvmS%.1f s loop=${seconds(start, System.nanoTime())}%.1f s " +
      f"checks in loop=$checkS%.1f s setup=${setupS.fold("failed")(t => f"$t%.2f s")}")

    val metrics =
      if (trace) perLayer(workload, pins, untraced.toSeq, traced.toSeq, tracer, work)
      else endToEnd(workload, setupS.getOrElse(0.0), untraced.toSeq, peakRssMb, attempted, failed)
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, but never
    * below the upper quartile (nearest rank), which is what fewer than 40
    * samples give; with its percentile and the sample count.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val i = math.max(s.size - 11, math.ceil(0.75 * s.size).toInt - 1)
    if (s.isEmpty) (0.0, 0.0, 0) else (s(i), 100.0 * (i + 1) / s.size, s.size)
  }

  def peakRss(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def endToEnd(workload: String, setup: Double, ops: Seq[OpResult], rssMb: Double, attempted: Int, failed: Int): Seq[Metric] = {
    val walls = ops.map(r => seconds(r.start, r.end))
    val byPart = ops.flatMap(_.parts).groupBy(_._1).map { case (p, ts) => p -> median(ts.map(_._2)) }
    val (tailS, pct, n) = tail(walls)
    // A pass is every part once: for query_mix the sum of the per-query
    // medians, for a sync the delivery of all its streams.
    val pass = if (workload == "query_mix") byPart.values.sum else median(ops.map(_.deliver))
    System.err.println(f"[perfbench] op walls ${walls.map(w => f"$w%.3f").mkString(",")}")
    System.err.println(f"[perfbench] ops=$n tail=p$pct%.1f of $n samples " +
      f"failed_ratio=${failed.toDouble / attempted}%.4f parts=${byPart.toSeq.sortBy(_._1).map { case (p, t) => f"$p=$t%.3f" }.mkString(",")}")
    Seq(
      Metric("setup_s", "s", setup),
      Metric("records_per_s", "1/s", median(ops.map(r => r.records / seconds(r.start, r.end)))),
      Metric("first_record_s", "s", median(ops.map(_.firstRecord))),
      Metric("sync_s", "s", median(walls)),
      Metric("sync_s_tail", "s", tailS),
      Metric("pass_s", "s", pass),
      Metric("query_s_geomean", "s", math.exp(byPart.values.map(math.log).sum / byPart.size)),
      Metric("peak_rss_mb", "MB", rssMb))
  }

  /** Per-layer numbers of one traced operation. */
  def layerMetrics(
      r: OpResult,
      id: Int,
      tracer: Tracer,
      counted: Map[String, Long],
      cores: Int): Map[String, Double] = {
    val wall = seconds(r.start, r.end)
    val self = tracer.selfTimes(id)
    val spans = tracer.opSpans(id)
    val covered = spans.filter(_.parent == -1).map(_.seconds).sum
    def d(k: String): Double = counted.getOrElse(k, 0L).toDouble
    val taskS = d("task_ms") / 1e3
    spanMetrics.map { case (span, metric) => metric -> self.getOrElse(span, 0.0) }.toMap ++ Map(
      "sources.discover_calls" -> spans.count(_.name == "sources.discover").toDouble,
      "sync.engine_jobs" -> d("engine_jobs"),
      "queries.analysis_s" -> d("analysis_ns") / 1e9,
      "queries.optimization_s" -> d("optimization_ns") / 1e9,
      "queries.planning_s" -> d("planning_ns") / 1e9,
      "queries.plan_s" -> (d("analysis_ns") + d("optimization_ns") + d("planning_ns")) / 1e9,
      "spark.jobs" -> d("jobs"),
      "spark.stages" -> d("stages"),
      "spark.tasks" -> d("tasks"),
      "spark.task_s" -> taskS,
      "spark.parallelism" -> taskS / (wall * cores),
      "spark.shuffle_read_mb" -> d("shuffle_read") / 1e6,
      "spark.shuffle_write_mb" -> d("shuffle_write") / 1e6,
      "spark.spill_mb" -> d("spill") / 1e6,
      "trace.unattributed_s" -> (wall - covered),
      "trace.coverage" -> covered / wall)
  }

  /** Every per-layer metric; a layer the workload does not run reads 0. */
  def perLayerUnits(pins: JsonNode): Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.read_records_per_s" -> "1/s", "sources.pipe_floor_s" -> "s",
    "sources.spill_bytes_per_input_byte" -> "ratio", "sources.discover_calls" -> "count",
    "sources.discover_s" -> "s",
    "protocol.parse_s" -> "s", "protocol.undecodable" -> "count",
    "state.merges" -> "count", "state.merge_s" -> "s", "state.load_s" -> "s", "state.save_s" -> "s",
    "sync.engine_s" -> "s", "sync.engine_jobs" -> "count", "sync.typed_parse_s" -> "s",
    "sync.maps_flatten_s" -> "s", "sync.serialize_s" -> "s", "sync.collect_s" -> "s",
    "sync.parquet_write_s" -> "s",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.analysis_s" -> "s",
    "queries.optimization_s" -> "s", "queries.planning_s" -> "s", "queries.exec_s" -> "s") ++
    pins.get("queries").fieldNames().asScala.toSeq.sorted.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.parallelism" -> "ratio", "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "trace.coverage" -> "ratio", "trace.unattributed_s" -> "s", "trace.overhead_s" -> "s")

  def perLayer(
      workload: String,
      pins: JsonNode,
      untraced: Seq[OpResult],
      traced: Seq[(OpResult, Map[String, Double])],
      tracer: Tracer,
      work: Path): Seq[Metric] = {
    val rows = traced.map(_._2)
    val med = mutable.Map.empty[String, Double]
    rows.flatMap(_.keySet).distinct.foreach(k => med(k) = median(rows.map(_.getOrElse(k, 0.0))))
    val recs = med.getOrElse("sources.records", 0.0)
    if (med.getOrElse("sources.read_s", 0.0) > 0) med("sources.read_records_per_s") = recs / med("sources.read_s")
    // Parse and serialize as measured apart from the operation; the emit
    // span holds the collection on top of the serialize pass.
    val all = untraced ++ traced.map(_._1)
    all.flatMap(_.parts).groupBy(_._1).foreach { case (p, ts) =>
      if (workload == "query_mix") med(s"queries.${p}_s") = median(ts.map(_._2))
    }
    val plain = median(untraced.map(r => seconds(r.start, r.end)))
    val withSpans = median(traced.map(t => seconds(t._1.start, t._1.end)))
    med("trace.overhead_s") = withSpans - plain
    val spansFile = work.resolve(s"spans-$workload.jsonl")
    tracer.writeJsonl(spansFile)
    System.err.println(f"[perfbench] traced ops=${traced.size} untraced ops=${untraced.size} " +
      f"op=$withSpans%.4f s untraced=$plain%.4f s overhead=${withSpans - plain}%.4f s " +
      f"coverage=${med.getOrElse("trace.coverage", 0.0)}%.4f spans=$spansFile")
    perLayerUnits(pins).map { case (n, u) => Metric(n, u, med.getOrElse(n, 0.0)) }
  }
}
