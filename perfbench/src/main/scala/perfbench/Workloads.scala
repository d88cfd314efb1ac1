package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.catalog.{AirbyteCatalog, ConfiguredCatalog}
import graft.cli.ParquetSink
import graft.protocol.AirbyteMessage
import graft.sources.{AirbyteSource, FileNativeSource, SubprocessSource}
import graft.state.StateStore
import graft.sync.{SingerSink, StreamMaps, SyncEngine}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What one operation did. `start` and `end` (nanoTime) bracket the timed
  * section, the engine calls only; input preparation and output checks fall
  * outside it. `deliver` is the delivery pass and `parts` the time per
  * stream or query.
  */
final case class OpResult(
    start: Long,
    end: Long,
    records: Long,
    firstRecord: Double,
    deliver: Double,
    parts: Seq[(String, Double)],
    errors: Seq[String])

/** Everything a workload needs from the run. A workload calls `timedStart`
  * right before each timed section and `timedEnd` right after it, so that
  * traced runs count the Spark work of the timed sections only, not that of
  * the output checks.
  */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val counters: SparkCounters,
    val inputs: Path,
    val expected: JsonNode,
    val pins: JsonNode,
    val sfDir: String,
    val work: Path) {
  var timedStart: () => Unit = () => ()
  var timedEnd: () => Unit = () => ()
}

trait Workload {
  def op(id: Int): OpResult

  /** Traced runs only: the layer measurements made apart from the operation
    * (a call timed alone, or a noop pass over an intermediate frame), after
    * traced operation `id`.
    */
  def layers(id: Int): Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("connector_singer", "file_parquet", "incremental_resume", "query_mix")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "connector_singer"   => new ConnectorSinger(ctx)
    case "file_parquet"       => new FileParquet(ctx)
    case "incremental_resume" => new IncrementalResume(ctx)
    case "query_mix"          => new QueryMix(ctx)
    case other                => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The `events` stream map of both sync workloads; `gen.py` applies the
    * same map to compute the expected output.
    */
  val eventsMap: StreamMaps.StreamMap = StreamMaps.StreamMap(
    filter = Some("value >= 2.0"),
    computed = Seq("user_bucket" -> "user_id % 16"),
    renames = Map("event_type" -> "kind"),
    drops = Seq("user_id"))

  val mapper = new ObjectMapper()

  def seconds(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Time of a noop write, which evaluates every column of `df`: the
    * faster of two, so that the first run's code generation is not counted.
    */
  def noop(df: org.apache.spark.sql.Dataset[_]): Double =
    Seq.fill(2) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      seconds(t0, System.nanoTime())
    }.min

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Delegates to the real source, timing discover and read as spans of the
  * sources layer and keeping the catalog and the raw frames they return.
  */
final class TracedSource(inner: AirbyteSource, tracer: Tracer) extends AirbyteSource {
  var catalog: AirbyteCatalog = AirbyteCatalog(Seq.empty)
  var raw: Map[String, DataFrame] = Map.empty

  override def spec: JsonNode = inner.spec
  override def check(spark: SparkSession): Boolean = inner.check(spark)
  override def discover(spark: SparkSession): AirbyteCatalog = tracer.span("sources.discover") {
    catalog = inner.discover(spark)
    catalog
  }
  override def read(
      spark: SparkSession,
      configured: Seq[ConfiguredCatalog.Entry],
      state: StateStore): Map[String, DataFrame] = tracer.span("sources.read") {
    raw = inner.read(spark, configured, state)
    raw
  }

  def keys(stream: String): Seq[String] = catalog.stream(stream).map(_.primaryKeys).getOrElse(Seq.empty)
}

/** Collects Singer lines as `SingerSink.emit` writes them. */
final class LineSink(t0: Long) extends (String => Unit) {
  val lines = ArrayBuffer.empty[String]
  var records = 0L
  var firstRecordNs = -1L

  def apply(l: String): Unit = {
    lines += l
    if (l.startsWith("{\"type\":\"RECORD\"")) {
      records += 1
      if (firstRecordNs < 0) firstRecordNs = System.nanoTime() - t0
    }
  }

  /** Per-stream (count, digest sum) of the RECORD lines, and the last STATE. */
  def summary: (Map[String, (Long, Long)], Option[JsonNode]) = {
    val per = mutable.Map.empty[String, (Long, Long)]
    var state: Option[JsonNode] = None
    lines.foreach { l =>
      val n = Workloads.mapper.readTree(l)
      n.path("type").asText match {
        case "RECORD" =>
          val s = n.path("stream").asText
          val (c, d) = per.getOrElse(s, (0L, 0L))
          per(s) = (c + 1, d + Digest.recordHash(n.get("record")))
        case "STATE" => state = Some(n.get("value"))
        case _       =>
      }
    }
    (per.toMap, state)
  }
}

/** Singer emission of every stream, in name order, the way the CLI does it. */
trait SingerEmit {
  def ctx: Ctx

  def emitAll(
      dfs: Map[String, DataFrame],
      src: TracedSource,
      state: StateStore,
      sink: LineSink,
      errors: ArrayBuffer[String]): Seq[(String, Double)] =
    dfs.toSeq.sortBy(_._1).map { case (name, df) =>
      val t0 = System.nanoTime()
      val ok = ctx.tracer.span("sync.emit")(SingerSink.emit(name, df, src.keys(name), state, sink))
      if (!ok) errors += s"$name: downstream closed"
      name -> Workloads.seconds(t0, System.nanoTime())
    }
}

// ---------------------------------------------------------------------------

/** Mock connector (`sh` + `cat`) → SubprocessSource → SyncEngine →
  * SingerSink.emit into a collecting sink.
  */
final class ConnectorSinger(val ctx: Ctx) extends Workload with SingerEmit {
  import Workloads._
  private val exp = ctx.expected.get("connector_singer")
  private val dir = ctx.inputs.resolve("connector")
  private val script = dir.resolve("connector.sh").toString
  private val workDir = ctx.work.resolve("connector")
  private var last: Option[(TracedSource, Map[String, DataFrame], Seq[(String, Double)])] = None

  private def replication(stream: String): String = if (stream == "events") "INCREMENTAL" else "FULL_TABLE"

  def op(id: Int): OpResult = {
    val src = new TracedSource(
      new SubprocessSource(Seq("sh", script), mapper.createObjectNode(), workDir), ctx.tracer)
    val engine = new SyncEngine(src, Map("events" -> eventsMap), Some(1))
    val state = new StateStore()
    val errors = ArrayBuffer.empty[String]
    ctx.timedStart()
    val t0 = System.nanoTime()
    val sink = new LineSink(t0)
    val dfs = ctx.tracer.span("sync.engine") {
      SparkCounters.inEngine(ctx.spark)(engine.sync(ctx.spark, _ => true, replication, state))
    }
    val td = System.nanoTime()
    val parts = emitAll(dfs, src, state, sink, errors)
    val t1 = System.nanoTime()
    ctx.timedEnd()
    last = Some((src, dfs, parts))

    val (per, finalState) = sink.summary
    exp.get("streams").properties().asScala.foreach { e =>
      val want = (e.getValue.get("records").asLong, e.getValue.get("digest").asText)
      val got = per.get(e.getKey).map { case (c, d) => (c, Digest.hex(d)) }.getOrElse((0L, "0"))
      if (got != want) errors += s"${e.getKey}: got (records, digest) $got, expected $want"
    }
    if (!finalState.contains(exp.get("final_state")))
      errors += s"final STATE ${finalState.getOrElse("missing")} != ${exp.get("final_state")}"
    OpResult(t0, t1, sink.records, sink.firstRecordNs / 1e9, seconds(td, t1), parts, errors.toSeq)
  }

  override def layers(id: Int): Map[String, Double] = {
    val (src, dfs, parts) = last.get
    // A plain readLine pass over the same child, then the parse and the
    // state merges timed alone over the lines it read.
    val lines = ArrayBuffer.empty[String]
    val tp = System.nanoTime()
    val proc = new ProcessBuilder("sh", script, "read").redirectErrorStream(true).start()
    val in = new BufferedReader(new InputStreamReader(proc.getInputStream, StandardCharsets.UTF_8))
    try {
      var l = in.readLine()
      while (l != null) { lines += l; l = in.readLine() }
    } finally in.close()
    proc.waitFor()
    val pipeFloor = seconds(tp, System.nanoTime())
    val tq = System.nanoTime()
    val parsed = lines.map(AirbyteMessage.parse)
    val parse = seconds(tq, System.nanoTime())
    val states = parsed.flatten.flatMap(_.state)
    val store = new StateStore()
    val ts = System.nanoTime()
    states.foreach(store.merge)
    store.setBookmark("events", "event_id", exp.at("/final_state/stream_state/event_id").asText)
    val merge = seconds(ts, System.nanoTime())

    val typed = src.raw.values.map(noop).sum
    val transformed = dfs.values.map(noop).sum
    val serialized = dfs.map { case (n, df) => noop(SingerSink.recordLines(n, df, "1970-01-01T00:00:00.000000Z")) }.sum
    val emit = parts.map(_._2).sum
    Map(
      "sources.pipe_floor_s" -> pipeFloor,
      "protocol.parse_s" -> parse,
      "protocol.undecodable" -> parsed.count(_.isEmpty).toDouble,
      "sources.spill_bytes_per_input_byte" ->
        dirBytes(workDir.resolve("spill")).toDouble / exp.get("input_bytes").asDouble,
      "state.merges" -> (states.size + 1).toDouble,
      "state.merge_s" -> merge,
      "sync.typed_parse_s" -> typed,
      "sync.maps_flatten_s" -> (transformed - typed),
      "sync.serialize_s" -> (serialized - transformed),
      "sync.collect_s" -> (emit - serialized),
      "sources.records" -> exp.get("input_records").asDouble)
  }
}

/** FileNativeSource over lineitem, orders and events → SyncEngine →
  * `Main.writeParquetCounted` into a fresh directory per operation.
  */
final class FileParquet(val ctx: Ctx) extends Workload {
  import Workloads._
  private val exp = ctx.expected.get("file_parquet")
  private val streams = Seq("lineitem" -> None, "orders" -> Some("o_orderkey"), "events" -> Some("event_id"))
    .map { case (n, c) => FileNativeSource.FileStream(n, "parquet", s"${ctx.sfDir}/$n.parquet", cursorField = c) }
  private var last: Option[(TracedSource, Map[String, DataFrame])] = None

  def op(id: Int): OpResult = {
    val src = new TracedSource(new FileNativeSource(streams), ctx.tracer)
    val engine = new SyncEngine(src, Map("events" -> eventsMap), Some(1))
    val state = new StateStore()
    val out = ctx.work.resolve(s"parquet_out/op$id")
    val errors = ArrayBuffer.empty[String]
    ctx.timedStart()
    ctx.counters.resetFirstDeliver()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val dfs = ctx.tracer.span("sync.engine") {
      SparkCounters.inEngine(ctx.spark)(engine.sync(ctx.spark, _ => true,
        n => if (n == "lineitem") "FULL_TABLE" else "INCREMENTAL", state))
    }
    val td = System.nanoTime()
    val written = dfs.toSeq.sortBy(_._1).map { case (name, df) =>
      val ts = System.nanoTime()
      val (_, n) = ctx.tracer.span("sync.parquet_write") {
        SparkCounters.delivering(ctx.spark)(ParquetSink.writeCounted(name, df, out.toString))
      }
      (name, n, seconds(ts, System.nanoTime()))
    }
    val t1 = System.nanoTime()
    ctx.timedEnd()
    last = Some((src, dfs))
    SparkCounters.drain(ctx.spark)
    val first = ctx.counters.firstDeliver.map(ms => (ms - startMs) / 1e3).getOrElse(seconds(t0, t1))

    val readBack = Digest.of(written.map(w => w._1 -> ctx.spark.read.parquet(out.resolve(w._1).toString)))
    exp.get("streams").properties().asScala.foreach { e =>
      val want = (e.getValue.get("records").asLong, e.getValue.get("digest").asText)
      val observed = written.find(_._1 == e.getKey).map(_._2).getOrElse(-1L)
      val got = readBack.get(e.getKey)
      if (observed != want._1 || !got.contains(want))
        errors += s"${e.getKey}: observed $observed, read back $got, expected $want"
    }
    exp.get("bookmarks").properties().asScala.foreach { e =>
      val cursor = streams.find(_.name == e.getKey).flatMap(_.cursorField).get
      val got = state.bookmark(e.getKey, cursor)
      if (!got.contains(e.getValue.asText)) errors += s"${e.getKey} bookmark $got != ${e.getValue.asText}"
    }
    deleteTree(out)
    OpResult(t0, t1, written.map(_._2).sum, first, seconds(td, t1),
      written.map(w => w._1 -> w._3), errors.toSeq)
  }

  override def layers(id: Int): Map[String, Double] = {
    val (src, dfs) = last.get
    val typed = src.raw.values.map(noop).sum
    val transformed = dfs.values.map(noop).sum
    val store = new StateStore()
    val ts = System.nanoTime()
    exp.get("bookmarks").properties().asScala.foreach { e =>
      store.setBookmark(e.getKey, streams.find(_.name == e.getKey).flatMap(_.cursorField).get, e.getValue.asText)
    }
    Map(
      "sync.typed_parse_s" -> typed,
      "sync.maps_flatten_s" -> (transformed - typed),
      "state.merges" -> exp.get("bookmarks").size.toDouble,
      "state.merge_s" -> seconds(ts, System.nanoTime()),
      "sources.records" -> exp.get("streams").elements().asScala.map(_.get("records").asDouble).sum)
  }
}

/** Committed state; each operation appends one delta file past the bookmark
  * and runs an incremental sync to Singer output. Every
  * `deltas.size` operations the stream directory goes back to the base file
  * and the state to the base bookmark, so the directory an operation scans
  * does not grow with the run's length.
  */
final class IncrementalResume(val ctx: Ctx) extends Workload with SingerEmit {
  import Workloads._
  private val exp = ctx.expected.get("incremental_resume")
  private val deltas = exp.get("deltas").elements().asScala.toVector
  private val streamDir = ctx.work.resolve("resume/events")
  private val stateFile = ctx.work.resolve("resume/state.json")
  private var n = 0

  private def reset(): Unit = {
    deleteTree(streamDir)
    Files.createDirectories(streamDir)
    Files.copy(Paths.get(exp.get("base_file").asText), streamDir.resolve("base.parquet"))
    val st = new StateStore()
    st.setBookmark("events", "event_id", exp.get("base_bookmark").asText)
    st.save(stateFile)
  }

  def op(id: Int): OpResult = {
    val delta = deltas(n % deltas.size)
    if (n % deltas.size == 0) reset()
    n += 1
    val file = Paths.get(delta.get("file").asText)
    Files.copy(file, streamDir.resolve(file.getFileName), StandardCopyOption.REPLACE_EXISTING)

    val src = new TracedSource(new FileNativeSource(Seq(FileNativeSource.FileStream(
      "events", "parquet", streamDir.toString, cursorField = Some("event_id")))), ctx.tracer)
    val engine = new SyncEngine(src)
    val errors = ArrayBuffer.empty[String]
    ctx.timedStart()
    val t0 = System.nanoTime()
    val sink = new LineSink(t0)
    val state = ctx.tracer.span("state.load")(StateStore.load(stateFile))
    val dfs = ctx.tracer.span("sync.engine") {
      SparkCounters.inEngine(ctx.spark)(engine.sync(ctx.spark, _ => true, _ => "INCREMENTAL", state))
    }
    val td = System.nanoTime()
    val parts = emitAll(dfs, src, state, sink, errors)
    ctx.tracer.span("state.save")(state.save(stateFile))
    val t1 = System.nanoTime()
    ctx.timedEnd()

    val ids = sink.lines.iterator.filter(_.startsWith("{\"type\":\"RECORD\""))
      .map(l => mapper.readTree(l).at("/record/event_id").asLong).toVector
    val (first, lastId, count) = (delta.get("first_id").asLong, delta.get("last_id").asLong, delta.get("records").asLong)
    if (ids.size != count || ids.distinct.size != ids.size || ids.nonEmpty && (ids.min != first || ids.max != lastId))
      errors += s"delta ${file.getFileName}: ${ids.size} records (${ids.distinct.size} distinct, " +
        s"ids ${ids.minOption.getOrElse(-1)}..${ids.maxOption.getOrElse(-1)}), expected $count ids $first..$lastId"
    val bookmark = StateStore.load(stateFile).bookmark("events", "event_id")
    if (!bookmark.contains(lastId.toString)) errors += s"bookmark $bookmark != $lastId"
    OpResult(t0, t1, sink.records, sink.firstRecordNs / 1e9, seconds(td, t1), parts, errors.toSeq)
  }

  override def layers(id: Int): Map[String, Double] = {
    val store = StateStore.load(stateFile)
    val ts = System.nanoTime()
    store.setBookmark("events", "event_id", "0")
    Map(
      "state.merges" -> 1.0,
      "state.merge_s" -> seconds(ts, System.nanoTime()),
      "sources.records" -> deltas.head.get("records").asDouble)
  }
}

/** The query set: one operation is one pass over the pinned queries in
  * name order. Each query runs to a noop sink, which evaluates every output
  * column; after the timed write, an untimed aggregation over the same frame
  * gives its row count and an xxhash64 digest, which are checked against the
  * pinned values.
  */
final class QueryMix(val ctx: Ctx) extends Workload {
  import Workloads._
  private val pins = ctx.pins
  val queries: Vector[String] = pins.get("queries").fieldNames().asScala.toVector.sorted

  /** A pass's time is the sum of its queries' timed sections; the
    * bookkeeping and checks between queries are not part of it.
    */
  def op(id: Int): OpResult = {
    val runs = queries.map(run)
    OpResult(runs.head.start, runs.head.start + runs.map(r => r.end - r.start).sum, runs.map(_.records).sum,
      Main.median(runs.map(_.firstRecord)), runs.map(_.deliver).sum, runs.flatMap(_.parts),
      runs.flatMap(_.errors))
  }

  def run(name: String): OpResult = {
    val (r, rows, dig) = measure(name)
    val pin = pins.get("queries").get(name)
    val errors = ArrayBuffer.empty[String]
    if (rows != pin.get("rows").asLong) errors += s"$name: $rows rows, pinned ${pin.get("rows").asLong}"
    if (pin.hasNonNull("digest") && dig != pin.get("digest").asText)
      errors += s"$name: digest $dig, pinned ${pin.get("digest").asText}"
    r.copy(errors = errors.toSeq)
  }

  /** Runs one query; returns its result with the row count and digest. */
  def measure(name: String): (OpResult, Long, String) = {
    val fn = SparkEntry.queries(name)
    ctx.timedStart()
    ctx.counters.resetFirstDeliver()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = ctx.tracer.span("queries.build")(fn(ctx.spark, ctx.sfDir))
    val td = System.nanoTime()
    ctx.tracer.span("queries.exec") {
      SparkCounters.delivering(ctx.spark)(df.write.format("noop").mode("overwrite").save())
    }
    val t1 = System.nanoTime()
    ctx.timedEnd()
    SparkCounters.drain(ctx.spark)
    val first = ctx.counters.firstDeliver.map(ms => (ms - startMs) / 1e3).getOrElse(seconds(t0, t1))
    val (rows, dig) = Digest.ofQuery(df)
    (OpResult(t0, t1, rows, first, seconds(td, t1), Seq(name -> seconds(t0, t1)), Nil), rows, dig)
  }
}
