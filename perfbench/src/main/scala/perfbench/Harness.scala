package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.{Checkpoints, IndexCache, MultiSeriesEngine, RefinementEngine, SeriesOps}
import graft.model.QuerySpec
import graft.parser.QueryParser
import graft.queries.TimeSeriesQueries
import graft.sources.Ingest

/** The benchmark's JVM side. `run.py` generates the inputs and a plan file
  * (workload, seconds, the request deck), runs this main, then checks the
  * digests it wrote against DuckDB and reduces the timings to metrics.
  *
  * Usage: perfbench.Harness <plan.json> <result.json>
  *        perfbench.Harness --catalog <catalog.json>
  *
  * The process sets up once (session, the workload's pre-built index),
  * warms up, then runs the deck as a closed loop with one client until
  * `seconds` have passed and every deck entry was visited at least once. A
  * request that throws is recorded as failed with its error, never as a
  * timing.
  *
  * Without `trace` every request is `untraced`: the plain path, no listener
  * attached. With `trace` requests take three kinds in turn: `untraced`;
  * `plain` (the plain path with the benchmark's listeners attached: the
  * Spark-layer counters); `traced` (listeners attached and the public
  * phases timed as nested spans; the CP engine's `execute` is replaced by
  * bind -> index -> constraintGrid -> top-k). Deck entry d runs as kind
  * (d + pass) % 3, so three passes see every entry once in each kind and
  * no entry runs twice in a row; the loop runs at least those passes.
  */
object Harness {

  final case class Item(kind: String, text: String, csv: String, name: String)
  final case class Outcome(columns: Seq[String], rows: Array[Row],
      indexHit: Option[Boolean] = None, gridCells: Option[Long] = None,
      engineMs: Option[Double] = None)

  /** `body`'s result with its wall time in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def str(n: JsonNode, k: String): String =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText).orNull

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--catalog")) { catalog(args(1)); return }
    val mainStartMs = System.currentTimeMillis()
    val plan = new ObjectMapper().readTree(new File(args(0)))
    new Harness(plan, mainStartMs).run(args(1))
  }

  /** Every `SparkEntry.queries` name with the object that defines it and its
    * DuckDB oracle SQL: the pipeline draw and the oracle check read this. */
  def catalog(out: String): Unit = {
    val llm = graft.queries.LlmQueries.queries.keySet
    val rel = graft.queries.RelationalQueries.queries.keySet
    val oracle = SparkEntry.oracleSql
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      // SparkEntry's own entries: q17-q24 delegate to TimeSeriesQueries
      val module =
        if (llm(n)) "llm" else if (rel(n)) "relational"
        else if (n.contains("_ts_") || n.contains("_cp_")) "timeseries" else "relational"
      s"${Json.str(n)}:{${Json.str("module")}:${Json.str(module)}," +
        s"${Json.str("oracle")}:${oracle.get(n).map(Json.str).getOrElse("null")}}"
    }
    Json.write(out, rows.mkString("{", ",\n", "}"))
  }

  /** The q47 multi-series split of `events`: four series by user_id % 4. */
  def multiSeries(s: SparkSession, dir: String): DataFrame =
    TimeSeriesQueries.events(s, dir)
      .select((col("user_id") % 4).as("sid"), col("event_id"), col("value"))
      .withColumn("t",
        row_number().over(Window.partitionBy("sid").orderBy("event_id")).cast("long"))
      .select(col("sid"), col("t"), col("value").as("y"))

  /** The engine's unrefined branch over a grid: cells satisfying every
    * constraint, in (x, lx) order, optionally limited. */
  def unrefined(grid: DataFrame, spec: QuerySpec): DataFrame = {
    val allSat = spec.constraints.zipWithIndex.map { case (c, i) =>
      val v = col(s"c$i")
      c.lo.map(v >= lit(_)).getOrElse(lit(true)) && c.hi.map(v <= lit(_)).getOrElse(lit(true))
    }.reduce(_ && _)
    val sat = grid.where(allSat).orderBy("x", "lx")
    spec.limit.map(sat.limit).getOrElse(sat)
      .select(col("x").as("time_id"), col("lx").as("offset"))
  }
}

final class Harness(plan: JsonNode, mainStartMs: Long) {
  import Harness._

  private val workload = plan.get("workload").asText
  private val seconds = plan.get("seconds").asDouble
  private val trace = plan.get("trace").asBoolean
  private val cores = plan.get("cores").asInt
  private val maxRequests = plan.get("max_requests").asInt
  private val dataDir = plan.get("data_dir").asText
  private val workDir = plan.get("work_dir").asText
  private def items(k: String): Seq[Item] = plan.get(k).elements.asScala.toSeq.map(n =>
    Item(n.get("kind").asText, str(n, "text"), str(n, "csv"), str(n, "name")))
  private val deck = items("deck")
  private val warmup = items("warmup")

  private val tracer = new Tracer
  @volatile private var currentReq = -1
  private var spark: SparkSession = _
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  // ------------------------------------------------------------ requests

  private def cp(text: String, traced: Boolean): Outcome = {
    val spec = span("parser.parse")(QueryParser.parse(text))
    if (!traced) {
      val idx = TimeSeriesQueries.cachedIndex(spark, dataDir)
      val ((cols, rows), ms) = timed {
        val df = RefinementEngine.execute(spark, TimeSeriesQueries.series(spark, dataDir), spec,
          prebuilt = Some(idx))
        (df.columns.toSeq, df.collect())
      }
      Outcome(cols, rows, indexHit = Some(idx eq setupIndex), engineMs = Some(ms))
    } else {
      val idx = span("engine.index")(TimeSeriesQueries.cachedIndex(spark, dataDir))
      phases(spec, idx).copy(indexHit = Some(idx eq setupIndex))
    }
  }

  /** `RefinementEngine.execute` split into its public phases, each timed. */
  private def phases(spec: QuerySpec, idx: SeriesOps.SeriesIndex): Outcome = {
    val b = span("engine.bind")(RefinementEngine.bindDomains(spec, idx.tMin, idx.tMax))
    val need = RefinementEngine.maxWindow(spec, b) max (b.lxHi + 1)
    require((1L << idx.levels) > need, s"index depth ${idx.levels} too shallow for $need")
    val (grid, cells) = span("engine.grid") {
      val g = RefinementEngine.constraintGrid(spark, idx, spec, b).persist()
      (g, g.count())
    }
    try span("engine.topk") {
      val df = if (spec.refined) RefinementEngine.refinedTopK(grid, spec, spec.limit)
        else unrefined(grid, spec)
      Outcome(df.columns.toSeq, df.collect(), gridCells = Some(cells))
    } finally span("engine.release")(grid.unpersist())
  }

  private def multi(text: String): Outcome = {
    val spec = span("parser.parse")(QueryParser.parse(text))
    val ((cols, rows), ms) = span("engine.multiseries")(timed {
      val df = MultiSeriesEngine.execute(spark, multiSeries(spark, dataDir), spec)
      (df.columns.toSeq, df.collect())
    })
    Outcome(cols, rows, engineMs = Some(ms))
  }

  private var coldIndex: Option[SeriesOps.SeriesIndex] = None

  /** The reference's load-then-query flow on one fresh csv: ingest, parquet
    * write, variability guard, index build into an empty cache, execute. */
  private def cold(item: Item, dir: String, traced: Boolean): Outcome = {
    val spec = span("parser.parse")(QueryParser.parse(item.text))
    val table = s"$dir/emg_data.parquet"
    span("sources.ingest")(Ingest.toParquet(Ingest.emgCsv(spark, item.csv), table))
    val series = spark.read.parquet(table).selectExpr("time_id as t", s"`${spec.column}` as y")
    val variance = span("engine.variability_guard") {
      series.selectExpr("var_pop(y)").head().getDouble(0)
    }
    require(variance > 5e-28, "no variability in data")
    val (idx, hit) = span("engine.index") {
      IndexCache.getOrBuild(spark, s"$dir/index_cache", table, spec.column, series, spec)
    }
    coldIndex = Some(idx)
    if (!traced) {
      val ((cols, rows), ms) = timed {
        val df = RefinementEngine.execute(spark, series, spec, prebuilt = Some(idx))
        (df.columns.toSeq, df.collect())
      }
      Outcome(cols, rows, indexHit = Some(hit), engineMs = Some(ms))
    } else phases(spec, idx).copy(indexHit = Some(hit))
  }

  private def pipe(name: String): Outcome = {
    val df = span("query.build")(SparkEntry.queries(name)(spark, dataDir))
    try span("query.collect")(Outcome(df.columns.toSeq, df.collect()))
    finally span("query.release")(Checkpoints.release(df))
  }

  private def execute(item: Item, dir: String, traced: Boolean): Outcome = item.kind match {
    case "cp" => cp(item.text, traced)
    case "ms" => multi(item.text)
    case "cold" => cold(item, dir, traced)
    case "pipe" => pipe(item.name)
  }

  /** Untimed per-request cleanup: a cold request's cached index blocks and
    * its parquet + index directories. */
  private def release(dir: String): Unit = {
    coldIndex.foreach(_.df.unpersist())
    coldIndex = None
    deleteTree(new File(dir))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  // --------------------------------------------------------------- setup

  private var setupIndex: SeriesOps.SeriesIndex = _
  private var sessionReadyMs = 0L
  private val coldFirst = mutable.ArrayBuffer.empty[String]

  /** The session and the workload's pre-built state. */
  private def setup(): Unit = {
    spark = session()
    sessionReadyMs = System.currentTimeMillis()
    workload match {
      case "cp_interactive" =>
        TimeSeriesQueries.events(spark, dataDir).agg(count(lit(1))).collect()
        setupIndex = TimeSeriesQueries.cachedIndex(spark, dataDir)
        setupIndex.df.count()
      case "cp_cold" => ()
      case "pipeline_batch" => // graft.Bench's session warm-up
        val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
        li.groupBy("l_returnflag").count().collect()
        li.limit(10).collect()
    }
  }

  /** Untimed warm-up in the kept session: the warm-up requests, and on
    * pipeline_batch the first (cold) call of every drawn query. */
  private def warm(): Unit = {
    warmup.zipWithIndex.foreach { case (w, j) =>
      execute(w, s"$workDir/warm$j", traced = false)
      release(s"$workDir/warm$j")
    }
    if (workload == "pipeline_batch") deck.map(_.name).distinct.foreach { n =>
      val t0 = System.nanoTime()
      val err = try { pipe(n); "null" } catch { case NonFatal(e) => Json.str(e.toString) }
      coldFirst += s"""{"name":${Json.str(n)},"ms":${(System.nanoTime() - t0) / 1e6},"error":$err}"""
    }
  }

  // ----------------------------------------------------------------- run

  private val records = mutable.ArrayBuffer.empty[String]
  private val walls = mutable.ArrayBuffer.empty[(Long, Long)] // request (start, end) epoch ms

  /** One timed request of deck entry `d`; its record goes to `records`. */
  private def request(i: Int, d: Int, kind: String): Unit = {
    val traced = kind == "traced"
    val dir = s"$workDir/req$i"
    currentReq = i
    spark.sparkContext.setLocalProperty("perfbench.req", i.toString)
    tracer.req = i
    tracer.enabled = traced
    val gc0 = gcMs()
    val startMs = System.currentTimeMillis()
    val s0 = System.nanoTime()
    val res = try Right(span("request")(execute(deck(d), dir, traced)))
      catch { case NonFatal(e) => Left(e) }
    val s1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    tracer.enabled = false
    val gc = gcMs() - gc0
    // outside the request wall: digest the result, clean up
    val body = res match {
      case Right(o) =>
        s""""ok":true,"error":null,"rows":${o.rows.length},""" +
          s""""digest":${Json.str(Digest.of(o.columns, o.rows))},""" +
          s""""index_hit":${o.indexHit.map(_.toString).getOrElse("null")},""" +
          s""""grid_cells":${o.gridCells.map(_.toString).getOrElse("null")},""" +
          s""""engine_ms":${o.engineMs.map(_.toString).getOrElse("null")}"""
      case Left(e) =>
        s""""ok":false,"error":${Json.str(e.toString.take(500))},"rows":0,""" +
          """"digest":null,"index_hit":null,"grid_cells":null,"engine_ms":null"""
    }
    release(dir)
    walls += ((startMs, endMs))
    records += s"""{"i":$i,"deck":$d,"kind":"$kind","wall_ns":${s1 - s0},""" +
      s""""wall_ms":${(s1 - s0) / 1e6},"start_ms":$startMs,"end_ms":$endMs,"gc_ms":$gc,$body}"""
  }

  def run(out: String): Unit = {
    graft.tools.CodegenGuard.install()
    setup()
    val setupDoneMs = System.currentTimeMillis()
    warm()
    val sc = spark.sparkContext
    val layers = new LayerListener(() => currentReq)
    val planning = new PlanningListener
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val kinds = if (trace) Seq("untraced", "plain", "traced") else Seq("untraced")
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      if (on) {
        sc.addSparkListener(layers)
        spark.listenerManager.register(planning)
      } else { // detach once the listeners have seen every event so far
        layers.drain(10000)
        sc.removeSparkListener(layers)
        spark.listenerManager.unregister(planning)
      }
      listening = on
    }
    var i = 0
    while ((System.nanoTime() < deadline || i < deck.size * kinds.size) && i < maxRequests) {
      val d = i % deck.size
      val kind = kinds((d + i / deck.size) % kinds.size)
      listen(kind != "untraced")
      request(i, d, kind)
      i += 1
    }
    listen(false)
    val windowEndMs = System.currentTimeMillis()
    currentReq = -1
    sc.setLocalProperty("perfbench.req", null)
    val loadEnd = os.getSystemLoadAverage

    val layerJson = layers.byReq.asScala.toSeq.sortBy(_._1).map { case (r, a) =>
      val busy = unionMs(a.intervals.toSeq)
      s""""$r":{"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
        s""""failed_tasks":${a.failedTasks},"busy_ms":$busy,"run_ms":${a.runMs},""" +
        s""""cpu_ms":${a.cpuNs / 1e6},"shuffle_read":${a.shuffleRead},""" +
        s""""shuffle_write":${a.shuffleWrite},"spill":${a.spill},"input":${a.input}}"""
    }.mkString("{", ",", "}")
    val planningJson = walls.map { case (s, e) => planning.within(s, e) }.mkString("[", ",", "]")
    val spansJson = tracer.spans.map { s =>
      s"""{"req":${s.req},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}"""
    }.mkString("[", ",\n", "]")
    val rt = Runtime.getRuntime
    val health =
      s"""{"load_start":$loadStart,"load_end":$loadEnd,"nproc":${os.getAvailableProcessors},""" +
        s""""cores":$cores,"default_parallelism":${sc.defaultParallelism},""" +
        s""""max_heap_mb":${rt.maxMemory / 1048576},""" +
        s""""codegen_failures":${graft.tools.CodegenGuard.failureCount}}"""
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Json.write(out,
      s"""{"jvm_start_ms":$jvmStartMs,"main_start_ms":$mainStartMs,""" +
        s""""session_ready_ms":$sessionReadyMs,"setup_done_ms":$setupDoneMs,""" +
        s""""cold_first":${coldFirst.mkString("[", ",", "]")},""" +
        s""""window_start_ms":$windowStartMs,"window_end_ms":$windowEndMs,""" +
        s""""window_s":${(System.nanoTime() - t0) / 1e9},""" +
        s""""peak_rss_kb":${peakRssKb()},"health":$health,""" +
        s""""requests":${records.mkString("[", ",\n", "]")},""" +
        s""""layers":$layerJson,"planning_ms":$planningJson,"spans":$spansJson}""")
    spark.stop()
  }

  /** Length of the union of [start, end] intervals (ms). */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(path: String, body: String): Unit =
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
}
