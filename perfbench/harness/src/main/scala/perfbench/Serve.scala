package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** Serves queries through the program's public query entry point,
  * `SparkEntry.queries(name)(spark, dir)`, to a closed loop of
  * `--clients` threads. Each client has its own session and sends the
  * queries in its own seeded order; `collect()` materialises every
  * column of each result, as a user receives it.
  *
  * Set-up ends before the first timed op: session start, one run of every
  * query, then `--warmup` seconds of the closed loop, untimed, so JIT and
  * caches settle. The first run's result is the reference every later
  * run must reproduce, and its canonical digest is what the caller
  * compares with the DuckDB oracle. With `--trace 1` the measured
  * seconds are split into an untraced and a traced window, so the
  * per-layer numbers and the tracing overhead come from one process.
  *
  * Writes one JSON file (`--out`, plus `--spans` when traced); the caller
  * turns it into metrics.
  */
object Serve {
  final case class Op(window: String, client: Int, name: String, buildUs: Long,
      actionUs: Long, rows: Long, ok: Boolean)

  final case class Ref(quick: (Long, Int), canonical: Digest.Result)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val dir = a("dir")
    val names = a("queries").split(",").toSeq
    val clients = a("clients").toInt
    val seconds = a("seconds").toDouble
    val warmup = a("warmup").toDouble
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cpus = a("cpus")

    // the session settings of graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessions = (0 until clients).map(_ => spark.newSession())
    val queries = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"no such query: $n"))).toMap
    val errors = new ConcurrentLinkedQueue[String]()

    /** (build µs, action µs, rows, columns) of one run of `name`; the
      * op's Spark jobs carry `span` as their job group. */
    def run(client: Int, name: String, span: String): (Long, Long, Array[Row], Seq[String]) = {
      val session = sessions(client)
      session.sparkContext.setJobGroup(span, name, interruptOnCancel = false)
      try {
        val t0 = System.nanoTime()
        val df = queries(name)(session, dir)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1000, (t2 - t1) / 1000, rows, df.columns.toSeq)
      } finally session.sparkContext.clearJobGroup()
    }

    val ops = new ConcurrentLinkedQueue[Op]()

    // ---- set-up: one reference run of every query ------------------------
    val refs = new ConcurrentHashMap[String, Ref]()
    val digestNs = new java.util.concurrent.atomic.AtomicLong()
    val todo = new ConcurrentLinkedQueue[String](names.distinct.asJava)
    parallel(clients) { c =>
      var name = todo.poll()
      while (name != null) {
        try {
          val (b, act, rows, cols) = run(c, name, s"setup-$name")
          ops.add(Op("setup", c, name, b, act, rows.length, ok = true))
          val t0 = System.nanoTime()
          refs.put(name, Ref(Digest.quick(rows), Digest.canonical(cols, rows)))
          digestNs.addAndGet(System.nanoTime() - t0)
        } catch {
          case e: Throwable =>
            errors.add(s"setup $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            ops.add(Op("setup", c, name, 0, 0, 0, ok = false))
        }
        name = todo.poll()
      }
    }
    System.gc()

    // ---- warm-up and measurement ------------------------------------------
    var firstOpEpochMs = 0L
    val windows = mutable.ArrayBuffer[(String, Double)]()
    val layerWindows = mutable.ArrayBuffer[(Double, Map[String, Double])]()
    val spans = mutable.ArrayBuffer[Span]()
    val collector = new Collector
    val qeListener = new QeListener

    def op(window: String, c: Int, name: String, span: String, parent: String): Unit = {
      val start = Trace.epochMicros()
      try {
        val (b, act, rows, cols) = run(c, name, span)
        // untimed: the result must equal the reference run's
        val ok = Option(refs.get(name)).exists { ref =>
          cols.sorted == ref.canonical.columns && Digest.quick(rows) == ref.quick
        }
        if (!ok) errors.add(s"$name: result differs from the reference run")
        ops.add(Op(window, c, name, b, act, rows.length, ok))
        if (window == "traced") Trace.record(Span(span, parent, name, start, start + b + act))
      } catch {
        case e: Throwable =>
          errors.add(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          ops.add(Op(window, c, name, 0, Trace.epochMicros() - start, 0, ok = false))
      }
    }

    val plan = Seq("warmup" -> warmup) ++
      (if (trace) Seq("untraced" -> seconds / 2, "traced" -> seconds / 2)
       else Seq("untraced" -> seconds))
    plan.zipWithIndex.foreach { case ((window, len), w) =>
      val traced = window == "traced"
      if (window != "warmup" && firstOpEpochMs == 0L) firstOpEpochMs = System.currentTimeMillis()
      if (traced) {
        spark.sparkContext.addSparkListener(collector)
        sessions.foreach(_.listenerManager.register(qeListener))
        Trace.take()
      }
      val before = Trace.processCounters()
      val wStart = System.nanoTime()
      val deadline = wStart + (len * 1e9).toLong
      parallel(clients) { c =>
        val clientSpan = s"w$w-c$c"
        val cStart = Trace.epochMicros()
        val order = new scala.util.Random(seed * 1000 + c).shuffle(names)
        var i = 0
        while (System.nanoTime() < deadline) {
          op(window, c, order(i % order.size), s"$clientSpan-o$i", clientSpan)
          i += 1
        }
        if (traced) Trace.record(Span(clientSpan, s"w$w", "client", cStart, Trace.epochMicros()))
      }
      val wallS = (System.nanoTime() - wStart) / 1e9
      if (traced) {
        Trace.drain()
        val after = Trace.processCounters()
        val (groups, windowSpans, peak) = Trace.take()
        spark.sparkContext.removeSparkListener(collector)
        sessions.foreach(_.listenerManager.unregister(qeListener))
        spans ++= windowSpans
        val counters = Layers.sum(groups.values) ++
          after.map { case (k, v) => k -> (v - before(k)) } +
          ("cached_bytes_peak" -> peak.toDouble)
        layerWindows += ((wallS, counters))
      }
      windows += ((window, wallS))
    }

    val json = Json.obj(
      "first_op_epoch_ms" -> firstOpEpochMs,
      "digest_s" -> digestNs.get / 1e9,
      "windows" -> windows.map { case (k, s) => Json.Raw(Json.obj("window" -> k, "wall_s" -> s)) },
      "ops" -> ops.asScala.toSeq.map(o => Json.Raw(Json.obj(
        "window" -> o.window, "client" -> o.client, "name" -> o.name,
        "build_s" -> o.buildUs / 1e6, "action_s" -> o.actionUs / 1e6, "rows" -> o.rows,
        "ok" -> o.ok))),
      "refs" -> refs.asScala.toMap.map { case (n, r) => n -> Json.Raw(Json.obj(
        "rows" -> r.canonical.rows, "digest" -> r.canonical.digest,
        "columns" -> r.canonical.columns)) },
      "oracle" -> names.distinct.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "layers" -> layerWindows.map { case (wall, c) =>
        Json.Raw(Json.obj("wall_s" -> wall, "counters" -> c)) },
      "errors" -> errors.asScala.toSeq.take(50),
      "error_count" -> errors.size)
    Files.write(Paths.get(a("out")), json.getBytes(UTF_8))
    if (trace) {
      val lines = spans.map(s => Json.value(Json.span(s))).mkString("", "\n", "\n")
      Files.write(Paths.get(a("spans")), lines.getBytes(UTF_8))
    }
    spark.stop()
  }

  /** Run `body(c)` for c in 0 until n, each on its own thread, and wait. */
  private def parallel(n: Int)(body: Int => Unit): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => failures.add(e) })
      t.start(); t
    }
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }
}
