package lakebench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.api.{GraftHttpServer, GraftSession}
import graft.catalog.GraftCatalog

/**
 * JVM side of the benchmark: the program under test (a warehouse, its HTTP
 * server and CDC stream, or the in-process query pass) plus the traced
 * probes that time calls into each module.
 *
 * Usage: `lakebench.Main --work <dir>`. The process starts a Spark session,
 * prints `@@ {"event":"session",...}`, then executes one JSON command per
 * stdin line and answers each with one `@@ {...}` line on stdout, until
 * `{"cmd":"quit"}` or end of input.
 */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 && args(0) == "--work", "usage: lakebench.Main --work <dir>")
    val work = Paths.get(args(1)).toAbsolutePath
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runner = new Runner(spark, work)
    emit(Map("event" -> "session",
      "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0))
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    var done = false
    while (line != null && !done) {
      if (line.trim.nonEmpty) {
        val cmd = Json.parse(line).asInstanceOf[Map[String, Any]]
        if (cmd("cmd") == "quit") done = true
        else emit(try runner.run(cmd) catch {
          case e: Throwable =>
            e.printStackTrace()
            Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
        })
      }
      if (!done) line = in.readLine()
    }
    runner.close()
    spark.stop()
  }

  def emit(m: Map[String, Any]): Unit = {
    System.out.println("@@ " + Json.enc(m))
    System.out.flush()
  }
}

final class Runner(spark: SparkSession, work: Path) {
  private var session: GraftSession = _
  private var server: GraftHttpServer = _
  private var port = 0
  private lazy val tracer = new Tracer(spark.sparkContext)
  private lazy val http = HttpClient.newHttpClient()
  // Spans of the probes for one key share a request id.
  private val requests = new java.util.concurrent.atomic.AtomicLong(0)

  def run(cmd: Map[String, Any]): Map[String, Any] = cmd("cmd") match {
    case "build" => build(cmd)
    case "calib" => Map("calib_ms" -> calibMs())
    case "jvm" => Map("gc_ms" -> gcMs(), "live_heap_mb" -> liveHeapMb())
    case "ev_check" => evCheck()
    case "batch" => batch(cmd)
    case "trace" =>
      tracer.enabled = cmd("on").asInstanceOf[Boolean]
      Map("tracing" -> tracer.enabled)
    case "probe_serve" => probeServe(cmd)
    case "probe_ingest" => probeIngest(cmd)
    case "probe_batch" => probeBatch(cmd)
    case "report" => report()
    case other => throw new IllegalArgumentException(s"unknown command $other")
  }

  def close(): Unit = if (server != null) server.stop()

  // ------------------------------------------------------------ helpers

  private def str(cmd: Map[String, Any], k: String): String = cmd(k).toString
  private def num(cmd: Map[String, Any], k: String): Double = cmd(k) match {
    case d: Double => d
    case l: Long => l.toDouble
    case other => other.toString.toDouble
  }
  private def longs(cmd: Map[String, Any], k: String): Seq[Long] =
    cmd(k).asInstanceOf[Vector[Any]].map {
      case l: Long => l
      case d: Double => d.toLong
      case s => s.toString.toLong
    }
  private def strs(cmd: Map[String, Any], k: String): Seq[String] =
    cmd(k).asInstanceOf[Vector[Any]].map(_.toString)

  private def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The fixed single-threaded integer loop `graft.Bench` reports as
    * `calib_ms`: its wall time depends only on how much CPU the process
    * gets, so it brackets a run with an ambient-load reading. */
  private def calibMs(): Double = {
    var acc = 0L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) {
      acc ^= java.lang.Long.rotateLeft(acc + i * 0x9E3779B97F4A7C15L, 13)
      i += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e6
    if (acc == 42L) println("calib")
    elapsed
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections: the memory the program keeps.
    * One collection is not enough: objects with cleaners or finalizers are
    * freed only by a collection after the one that finds them unreachable. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ =>
      System.gc()
      Thread.sleep(100)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  private def get(path: String): String = {
    val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    require(r.statusCode == 200, s"GET $path -> ${r.statusCode}: ${r.body.take(200)}")
    r.body
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  // ---------------------------------------------------------- warehouse

  /** The serving warehouse: `ev`, an events-shaped table keyed by
    * event_id, hash-bucketed 16 ways, with snapshot history from the given
    * upserts and a bloom index on user_id. */
  private def buildWarehouse(data: String, updates: Seq[String], wh: Path,
      steps: mutable.Map[String, Double]): GraftSession = {
    val cat = new GraftCatalog(spark, wh)
    val ev = cat.materialized("ev")
    step(steps, "ev_overwrite_ms")(ev.overwriteBucketed(
      spark.read.parquet(s"$data/ev_base.parquet"), "event_id", 16))
    step(steps, "ev_upserts_ms")(updates.foreach(u =>
      ev.upsert(spark.read.parquet(u), "event_id")))
    step(steps, "ev_bloom_ms")(ev.buildBloomIndex("user_id"))
    val s = new GraftSession(cat)
    step(steps, "views_ms")(s.refreshViews())
    s
  }

  /** Builds the warehouse once and starts the server: in a fresh JVM this
    * is the cold set-up a user waits for. */
  private def build(cmd: Map[String, Any]): Map[String, Any] = {
    val wh = work.resolve("wh")
    val steps = mutable.LinkedHashMap.empty[String, Double]
    val (_, buildMs) = ms {
      session = buildWarehouse(str(cmd, "data"), strs(cmd, "updates"), wh, steps)
      server = step(steps, "server_start_ms")(new GraftHttpServer(session, 0).start())
    }
    port = server.boundPort
    spark.conf.set("spark.sql.catalog.lake", classOf[graft.connector.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", wh.toString)
    Map("build_s" -> buildMs / 1000.0, "port" -> port, "build_steps_ms" -> steps)
  }

  private def step[T](steps: mutable.Map[String, Double], name: String)(body: => T): T = {
    val (r, d) = ms(body)
    steps(name) = steps.getOrElse(name, 0.0) + d
    r
  }

  /** Live rows of `ev` and the key/value checksum the ingest model keeps. */
  private def evCheck(): Map[String, Any] = {
    val r = session.catalog.table("ev").read()
      .agg(count(lit(1)), sum(col("event_id") * 1000003L + round(col("value") * 100).cast("long")))
      .collect().head
    val (files, bytes) = dirBytes(work.resolve("wh").resolve("ev"))
    val (cpFiles, cpBytes) = dirBytes(work.resolve("wh").resolve("ev").resolve("_cdc_checkpoint"))
    Map("rows" -> r.getLong(0), "checksum" -> r.getLong(1),
      "table_files" -> (files - cpFiles), "table_bytes" -> (bytes - cpBytes))
  }

  // -------------------------------------------------------------- batch

  /** One graded entry, from building its DataFrame to its collected
    * result; returns the rows, their schema and the wall seconds. */
  private def runEntry(name: String, data: String)
      : (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType, Double) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, data)
    val rows = df.collect()
    (rows, df.schema, (System.nanoTime() - t0) / 1e9)
  }

  /** The cold pass, then warm passes until `seconds` have passed since it
    * began (at least `MinWarm` of them).
    * The cold pass's collected results are written under `out`, outside
    * the timed region, with the entries' DuckDB oracle SQL. */
  private def batch(cmd: Map[String, Any]): Map[String, Any] = {
    val data = str(cmd, "data")
    val out = str(cmd, "out")
    val entries = strs(cmd, "entries")
    val seconds = num(cmd, "seconds")
    val t0 = System.nanoTime()
    val coldRuns = entries.map(e => e -> runEntry(e, data))
    val cold = coldRuns.map { case (e, (_, _, s)) => Seq[Any](e, s) }
    val warm = mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    while (warm.size < Runner.MinWarm || (System.nanoTime() - t0) / 1e9 < seconds)
      warm += entries.map(e => Seq[Any](e, runEntry(e, data)._3))
    coldRuns.foreach { case (e, (rows, schema, _)) =>
      spark.createDataFrame(rows.toList.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$e")
    }
    Map("cold" -> cold, "warm" -> warm.toSeq,
      "oracle" -> entries.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _)).toMap)
  }

  // ------------------------------------------------------------- probes

  /** Serve-side probes over groups of keys, alternately untraced and
    * traced: HTTP /point and /query against the direct calls they wrap,
    * the table point reads, the connector's SQL point query, search and
    * the log. */
  private def probeServe(cmd: Map[String, Any]): Map[String, Any] = {
    val cat = session.catalog
    def pass(keys: Seq[Long], users: Seq[Long]): mutable.Map[String, mutable.ArrayBuffer[Double]] = {
      val t = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      var request = 0L
      def time(name: String, layer: String)(body: => Any): Unit = {
        val (_, d) = ms(tracer.span(name, layer, request)(body))
        t.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += d
      }
      keys.zip(users).foreach { case (k, u) =>
        request = requests.incrementAndGet()
        val sql = s"SELECT * FROM lake.ev WHERE event_id = $k"
        time("api.http_point", "api")(get(s"/point/ev?col=event_id&value=$k"))
        time("table.read_point_key", "table")(cat.table("ev").readPointRows("event_id", k))
        time("table.lookup_key", "table")(cat.table("ev").lookupKeyRows(k))
        time("table.read_point_nonkey", "table")(cat.table("ev").readPointRows("user_id", u))
        time("api.http_query", "api")(get("/query?query=" + enc(sql)))
        time("api.session_sql", "api")(session.sql(sql).collect())
        time("connector.sql_point", "connector") {
          val n = spark.sql(sql).collect().length
          t.getOrElseUpdate("connector.rows_returned", mutable.ArrayBuffer.empty) += n
        }
        time("search.view_search", "search")(session.view("ev", search = Some(u.toString)).collect())
        time("log.latest", "log")(cat.table("ev").log.latest())
        time("log.snapshots", "log")(cat.table("ev").snapshotsDF.collect())
      }
      t
    }
    // Untraced and traced passes alternate over groups of keys, so warm-up
    // drift does not land on one side of the overhead comparison.
    val wasOn = tracer.enabled
    tracer.enabled = false
    pass(longs(cmd, "warm_keys"), longs(cmd, "warm_users"))
    val groups = longs(cmd, "keys").zip(longs(cmd, "users")).grouped(2).toSeq
    val (off, on) = (mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]],
      mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]])
    groups.zipWithIndex.foreach { case (g, i) =>
      tracer.enabled = i % 2 == 1
      pass(g.map(_._1), g.map(_._2)).foreach { case (k, v) =>
        (if (i % 2 == 1) on else off).getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v
      }
    }
    tracer.enabled = wasOn
    tracer.settle()
    val timed = on.keySet.filter(_ != "connector.rows_returned").toSeq
    def perCall(name: String, counter: String): Double = {
      val ss = tracer.byName(name)
      tracer.total(ss, counter).toDouble / math.max(1, ss.size)
    }
    val returned = on("connector.rows_returned").sum
    Map(
      "untraced_ms" -> timed.map(n => n -> median(off(n).toSeq)).toMap,
      "traced_ms" -> timed.map(n => n -> median(on(n).toSeq)).toMap,
      "jobs_per_call" -> timed.map(n => n -> perCall(n, "jobs")).toMap,
      "connector_records_read" -> tracer.total(tracer.byName("connector.sql_point"), "input_records"),
      "connector_rows_returned" -> returned)
  }

  /** Ingest-side probes while the CDC stream runs: MOR point lookups on the
    * ingesting table, the stream's own progress durations, the DML verbs on
    * a scratch copy of the table, and the table's log. */
  private def probeIngest(cmd: Map[String, Any]): Map[String, Any] = {
    val cat = session.catalog
    val out = mutable.LinkedHashMap.empty[String, Any]
    val lookups = longs(cmd, "keys").map(k =>
      ms(tracer.span("table.lookup_mor", "table")(cat.table("ev").lookupKeyRows(k)))._2)
    out("lookup_mor_ms") = median(lookups)
    val q = spark.streams.active.headOption
    val prog = q.toSeq.flatMap(_.recentProgress).filter(_.numInputRows > 0)
    def dur(k: String): Double =
      median(prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    out("cdc_batches") = prog.size
    out("cdc_add_batch_ms") = dur("addBatch")
    out("cdc_trigger_ms") = dur("triggerExecution")
    out("cdc_planning_ms") = dur("queryPlanning")
    out("cdc_rows_per_batch") = median(prog.map(_.numInputRows.toDouble))
    val waves = strs(cmd, "waves")
    val waveBytes = waves.map(w => Files.size(Paths.get(w))).sum.toDouble
    val scratch = cat.materialized("ev_probe", overwrite = true)
    scratch.overwriteBucketed(spark.read.parquet(str(cmd, "base")), "event_id", 16)
    val deferred = waves.map(w => ms(tracer.span("dml.upsert_deferred", "dml")(
      scratch.upsertDeferred(spark.read.parquet(w), "event_id")))._2)
    val compactMs = ms(tracer.span("dml.compact", "dml")(scratch.compact()))._2
    val upserts = waves.map(w => ms(tracer.span("dml.upsert", "dml")(
      scratch.upsert(spark.read.parquet(w), "event_id")))._2)
    tracer.settle()
    val dmlOut = tracer.total(tracer.all.filter(_.layer == "dml"), "output_bytes")
    out("upsert_deferred_ms") = median(deferred)
    out("compact_ms") = compactMs
    out("upsert_ms") = median(upserts)
    out("dml_output_bytes") = dmlOut
    // Input bytes: each wave is fed once to upsertDeferred and once to upsert.
    out("dml_input_bytes") = 2 * waveBytes
    val ev = cat.table("ev")
    out("log_latest_ms") = median((1 to 5).map(_ =>
      ms(tracer.span("log.latest_ev", "log")(cat.table("ev").log.latest()))._2))
    out("log_snapshots_ms") = median((1 to 5).map(_ =>
      ms(tracer.span("log.snapshots_ev", "log")(ev.snapshotsDF.collect()))._2))
    val (f, b) = dirBytes(work.resolve("wh").resolve("ev").resolve("_log"))
    out("log_files") = f
    out("log_bytes") = b
    out.toMap
  }

  /** One pass over the batch entries, each under its own span, with
    * planning forced before the result is collected. */
  private def probeBatch(cmd: Map[String, Any]): Map[String, Any] = {
    val data = str(cmd, "data")
    val rows = strs(cmd, "entries").map { e =>
      var planMs = 0.0
      val (_, total) = ms(tracer.span(s"queries.$e", "queries") {
        val df = SparkEntry.queries(e)(spark, data)
        planMs = ms(tracer.span(s"plans.$e", "plans")(df.queryExecution.executedPlan))._2
        tracer.span(s"spark.$e", "spark")(df.collect())
      })
      e -> Map("planning_ms" -> planMs, "s" -> total / 1000.0)
    }
    Map("entries" -> rows.toMap)
  }

  private def report(): Map[String, Any] = {
    tracer.settle()
    val spans = tracer.all.filter(_.id > 0)
    val spark = Counts.names.map(n => n -> tracer.total(spans, n)).toMap
    val file = work.resolve("spans.json")
    Files.writeString(file, Json.enc(tracer.spanRecords))
    Map("self_ms" -> tracer.selfMsByLayer, "spark" -> spark,
      "stream" -> Counts.names.map(n => n -> tracer.total(Seq(tracer.stream), n)).toMap,
      "spans" -> spans.size, "spans_file" -> file.toString, "gc_ms" -> gcMs())
  }
}

object Runner {
  /** Warm passes of the batch workload, at the least. */
  val MinWarm = 2
}
