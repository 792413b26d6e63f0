package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.cli.{GraftConfig, TableOpts, Warehouse}

/** One benchmark run in one JVM: builds the session the engine's own
  * tools use (`graft.LocalSession.build`), runs one workload as a
  * closed loop with a single client, checks every op's output outside the
  * timed window, and writes a JSON result for `perfbench/run.py`.
  *
  * {{{
  * Main --workload sync_bulk|sync_incremental|sync_tick|query_mix --seconds N
  *      --trace 0|1 --work DIR --out FILE
  * }}}
  * `DIR` holds the generated inputs and `inputs.properties` (written by
  * `perfbench/gen.py`); the program sees only those files.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$work/inputs.properties")
    try props.load(in) finally in.close()
    val tracer = new Tracer(a("trace") == "1")
    val run = new Run(tracer, work, props, a("seconds").toDouble)
    val result = a("workload") match {
      case "sync_bulk" => run.syncBulk()
      case "sync_incremental" => run.syncIncremental(duckUpsert = true)
      case "sync_tick" => run.syncIncremental(duckUpsert = false)
      case "query_mix" => run.queryMix()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.spark.stop()
    Files.writeString(Paths.get(a("out")), result)
    if (tracer.on) Files.writeString(Paths.get(a("out") + ".spans.json"), run.spansJson)
  }
}

/** Tally of closed-loop ops and the cause of each failure. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val causes = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  def record(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; causes(p) += 1 }
  }
}

final class Run(tracer: Tracer, work: String, props: java.util.Properties,
                seconds: Double) {
  /** Timed cycles per run: `seconds` of nominal cycle time, at least
    * `least`. The count is fixed rather than time-bound: a time-bound loop
    * would give a faster run more cycles further down the JIT's warm-up
    * curve, and widen the run-to-run spread of the median. */
  private def cyclesFor(nominalS: Double, least: Int): Int =
    math.max(least, math.round(seconds / nominalS).toInt)

  private def prop(k: String): String =
    Option(props.getProperty(k)).getOrElse(sys.error(s"inputs.properties lacks $k"))

  private val setupStart = System.nanoTime()
  private val cpus = Runtime.getRuntime.availableProcessors().toString
  val spark: SparkSession = tracer.span("session.build")(graft.LocalSession.build(cpus))
  private val sessionS = (System.nanoTime() - setupStart) / 1e9
  private val probe: Option[Probe] = if (!tracer.on) None else {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    Some(p)
  }
  private val ops = new Ops
  /** Seconds spent checking or computing oracles during set-up; taken out
    * of setup_s, which covers only session, warm-up and bootstrap. */
  private var setupChecksS = 0.0
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  /** timed seconds of every counted op, by op name */
  private val opSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def secs[A](body: => A): (Double, A) = {
    val s = System.nanoTime()
    val r = body
    ((System.nanoTime() - s) / 1e9, r)
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).linesIterator.toSeq.headOption.getOrElse("").take(160)}"
  }

  /** One closed-loop op: time `body` under a span named `name`, then run
    * `check` outside the timed interval. Returns the op's seconds. */
  private def op(name: String, counted: Boolean)(body: => Unit)(
      check: => Option[String]): Double = {
    tracer.op += 1
    val c0 = processCpuS()
    val (t, err) = secs {
      try { tracer.span(name)(body); None }
      catch { case e: Throwable => Some(s"$name threw ${describe(e)}") }
    }
    if (counted) opCpu += processCpuS() - c0
    val (ct, problem) = secs {
      err.orElse(try check catch { case e: Throwable => Some(s"$name check threw ${describe(e)}") })
    }
    ops.record(problem)
    if (counted) opSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
    else setupChecksS += ct
    problem.foreach(p => System.err.println(s"[perfbench] op failed: $p"))
    t
  }

  /** Every span of the run (harness and engine), for the traced run's
    * spans file. */
  def spansJson: String = tracer.withEngine(probe.toSeq.flatMap(p =>
    p.executions.map(e => (s"sql:${e.module}:${e.description}", e.startMs, e.endMs)) ++
      p.jobIntervals)).map(s => Json.obj(ListMap("id" -> s.id, "parent" -> s.parent,
    "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    .mkString("[", ",\n", "]")

  private def withConn[A](path: String)(f: java.sql.Connection => A): A = {
    val c = Duck.connect(path)
    try f(c) finally c.close()
  }

  private def compare(what: String, got: Duck.Print, want: Duck.Print): Option[String] =
    if (got == want) None else Some(s"$what mismatch: warehouse $got, oracle $want")

  // ───────────────────────── window accounting ─────────────────────────

  private final case class Mark(ms: Double, cpuS: Double, gcMs: Long, codegenNs: Long,
                                totals: Option[Totals])

  private def mark(): Mark = {
    probe.foreach(_ => org.apache.spark.graftbench.Bus.drain(spark.sparkContext))
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Mark(tracer.nowMs, processCpuS(), gc,
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
      probe.map(_.snapshot))
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Process CPU seconds of each timed cycle's ops (planning, task
    * threads, JIT and GC together; the checks excluded), the
    * contention-robust companion of the wall time. */
  private val cycleCpu = mutable.ArrayBuffer.empty[Double]
  private var opCpu = 0.0

  /** Run `cycle` and record the process CPU of its ops. */
  private def cpuOf[A](cycle: => A): A = {
    opCpu = 0.0
    val r = cycle
    cycleCpu += opCpu
    r
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(-1.0)

  /** Engine-side per-layer metrics for the window [a, b], per cycle. */
  private def engineLayers(a: Mark, b: Mark, cycles: Int, setupCodegenNs: Long): Unit = {
    val p = probe.get
    val (x, y) = (a.totals.get, b.totals.get)
    val n = cycles.toDouble
    val execs = p.executions.filter(e => e.startMs >= a.ms && e.endMs <= b.ms + 1)
    def sumS(f: Execution => Boolean) = execs.filter(f).map(_.ms).sum / 1000 / n
    layer("cli.write_s") = sumS(e => CallSite.inMethod(e.details, "writeAtomic"))
    layer("cli.readback_s") = sumS(e => CallSite.inMethod(e.details, "load"))
    val recount = (e: Execution) => e.details.contains("observedCount")
    layer("io.csv_write_s") = sumS(e => CallSite.inMethod(e.details, "writeCsvChunks") && !recount(e))
    layer("io.csv_read_s") = sumS(_.scansCsv)
    layer("io.recount_scans") = execs.count(recount) / n
    layer("sync.watermark_s") = sumS(e => CallSite.inMethod(e.details, "maxOf"))
    Layers.modules.foreach { m =>
      layer(s"module.$m.sql_s") = sumS(e =>
        if (m == "other") !Layers.modules.contains(e.module) else e.module == m)
    }
    val cpuS = (y.taskCpuNs - x.taskCpuNs) / 1e9
    val procS = b.cpuS - a.cpuS
    layer("spark.planning_s") = (y.planningMs - x.planningMs) / 1000.0 / n
    layer("spark.codegen_s") = (b.codegenNs - a.codegenNs) / 1e9 / n
    layer("spark.setup_codegen_s") = setupCodegenNs / 1e9
    layer("spark.sql_executions") = (y.executions - x.executions) / n
    layer("spark.jobs") = (y.jobs - x.jobs) / n
    layer("spark.tasks") = (y.tasks - x.tasks) / n
    layer("spark.scheduler_delay_s") = (y.schedulerDelayMs - x.schedulerDelayMs) / 1000.0 / n
    layer("spark.task_cpu_s") = cpuS / n
    layer("spark.process_cpu_s") = procS / n
    layer("spark.non_task_cpu_s") = (procS - cpuS) / n
    layer("spark.gc_s") = (b.gcMs - a.gcMs) / 1000.0 / n
    layer("spark.shuffle_write_bytes") = (y.shuffleWrite - x.shuffleWrite) / n
    layer("spark.shuffle_read_bytes") = (y.shuffleRead - x.shuffleRead) / n
    layer("spark.spill_bytes") = (y.spill - x.spill) / n
    layer("spark.input_bytes") = (y.input - x.input) / n
    layer("spark.output_bytes") = (y.output - x.output) / n
    // harness spans: cli calls, DuckDB backend calls, per-layer self time
    val own = tracer.harnessSpans.filter(s => s.startMs >= a.ms && s.endMs <= b.ms + 1)
    Layers.spanMetrics.foreach { case (metric, span) =>
      layer(metric) = own.filter(_.name == span).map(_.ms).sum / 1000 / n
    }
    val all = tracer.withEngine(
      execs.map(e => (s"sql:${e.module}", e.startMs, e.endMs)) ++
        p.jobIntervals.filter(j => j._2 >= a.ms && j._3 <= b.ms + 1))
    val self = Tracer.selfMs(all)
    all.filter(s => s.startMs >= a.ms && s.endMs <= b.ms + 1).groupBy(s => s.name.takeWhile(c => c != '.' && c != ':')).foreach { case (k, ss) =>
      layer(s"self.${k}_s") = ss.map(s => self(s.id)).sum / 1000 / n
    }
  }

  /** Executions inside harness spans whose name satisfies `host`, with
    * their task CPU and written records. */
  private def execsUnder(a: Mark, b: Mark, host: String => Boolean): Seq[(Execution, Span, Long, Long)] = {
    val p = probe.get
    val own = tracer.harnessSpans.filter(s => s.startMs >= a.ms && s.endMs <= b.ms + 1)
    p.executions.filter(e => e.startMs >= a.ms && e.endMs <= b.ms + 1).flatMap { e =>
      own.filter(h => h.startMs <= e.startMs && e.endMs <= h.endMs + 1.0)
        .sortBy(_.ms).find(h => host(h.name)).map { h =>
          val (cpu, rec) = p.execCpuAndRecords(e.id)
          (e, h, cpu, rec)
        }
    }
  }

  /** `cycleBytes(i)` is the source bytes cycle i consumed; the rate is the
    * median of the per-cycle rates, so one slow cycle moves it no more
    * than it moves `tick_p50_s`. */
  private def result(setupS: Double, cycles: Seq[Double], cycleBytes: Seq[Double],
                     detail: Map[String, Any]): String = {
    val (pct, tail) = Stats.tail(cycles)
    val e2e = ListMap[String, Double](
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "bulk_gb_per_h" -> Stats.median(cycleBytes.zip(cycles).map { case (b, t) => b / 1e9 / (t / 3600) }),
      "tick_p50_s" -> Stats.median(cycles),
      "tick_tail_s" -> tail,
      "tick_cpu_s" -> Stats.median(cycleCpu.toSeq))
    layer("session.build_s") = sessionS
    Json.obj(ListMap(
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "causes" -> ListMap(ops.causes.toSeq: _*),
      "end_to_end" -> e2e, "per_layer" -> (if (tracer.on) ListMap(layer.toSeq: _*) else ListMap()),
      "cycles" -> cycles, "cycle_cpu_s" -> cycleCpu, "tick_tail_pct" -> pct,
      "op_s" -> opSamples,
      "spark_conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1): _*),
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)) ++ detail)
  }

  /** Raw (ISIZE) and compressed bytes of the archived CSV chunks of a table. */
  private def chunkBytes(dataDir: String, table: String): (Long, Long) = {
    val dir = new File(s"$dataDir/${table}_data/archive")
    val gz = Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".csv.gz"))
    (gz.map(Gz.isize).sum, gz.map(_.length()).sum)
  }

  // ───────────────────────────── sync_bulk ─────────────────────────────

  def syncBulk(): String = {
    val tables = prop("tables").split(",").toSeq
    val src = s"$work/src"
    val cfg = GraftConfig(src, s"$work/wh", s"$work/data", None,
      ListMap(tables.map(_ -> TableOpts()): _*))
    new File(cfg.warehouseDir).mkdirs()
    val wh = new Warehouse(spark, cfg)
    val duckPath = s"${cfg.warehouseDir}/duck.db"
    val duck = new TracedDuck(duckPath, tracer)
    val (oracleS, expect) = secs(withConn("") { c =>
      tables.map(t => t -> Duck.fingerprint(c, Duck.parquet(s"$src/$t.parquet"))).toMap
    })
    setupChecksS += oracleS
    val bytes = tables.map(t => t -> prop(s"bytes.$t").toDouble).toMap
    var raw, gz = 0L
    def cycle(counted: Boolean): Double = tables.map { t =>
      val p = op("cli.reload_parquet", counted)(wh.reload(t)) {
        withConn("")(c => compare(s"parquet $t",
          Duck.fingerprint(c, Duck.parquet(s"${cfg.warehouseDir}/$t.parquet")), expect(t)))
      }
      if (counted && tracer.on) { val (r, g) = chunkBytes(cfg.dataDir, t); raw += r; gz += g }
      val d = op("cli.reload_duck", counted)(wh.reloadDuck(t, duck)) {
        withConn(duckPath)(c => compare(s"duck $t", Duck.fingerprint(c, t), expect(t)))
      }
      if (counted && tracer.on) { val (r, g) = chunkBytes(cfg.dataDir, t); raw += r; gz += g }
      p + d
    }.sum
    val setupCodegen0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
    cycle(counted = false)
    val setupCodegen = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - setupCodegen0
    val setupS = (System.nanoTime() - setupStart) / 1e9 - setupChecksS
    val a = mark()
    val cycles = mutable.ArrayBuffer.empty[Double]
    (0 until cyclesFor(7.0, 3)).foreach(_ => cycles += cpuOf(cycle(counted = true)))
    val b = mark()
    if (tracer.on) {
      engineLayers(a, b, cycles.size, setupCodegen)
      layer("io.csv_raw_bytes") = raw.toDouble / cycles.size
      layer("io.gz_bytes") = gz.toDouble / cycles.size
    }
    result(setupS, cycles.toSeq, cycles.map(_ => bytes.values.sum * 2).toSeq, Map(
      "source_bytes_per_cycle" -> bytes.values.sum * 2,
      "isize_verified" -> verifyIsize(cfg.dataDir, tables.head)))
  }

  /** ISIZE against full decompression on one chunk file (traced runs). */
  private def verifyIsize(dataDir: String, table: String): Any =
    if (!tracer.on) "not checked (untraced run)"
    else Option(new File(s"$dataDir/${table}_data/archive").listFiles())
      .flatMap(_.find(_.getName.endsWith(".csv.gz")))
      .map(f => Gz.isize(f) == Gz.inflatedLength(f)).getOrElse("no chunk file")

  // ──────────────────── sync_incremental, sync_tick ────────────────────

  /** Cron ticks over an append table and an upsert table. `duckUpsert`
    * false leaves out the DuckDB upsert sync (`sync_tick`): on this engine
    * it can land an older version of a key over a newer one, so
    * `sync_incremental` fails some of its ops. */
  def syncIncremental(duckUpsert: Boolean): String = {
    val src = s"$work/src"
    val cfg = GraftConfig(src, s"$work/wh", s"$work/data", None, ListMap(
      "events_ao" -> TableOpts(primaryKey = Some("event_id")),
      "orders_up" -> TableOpts(primaryKey = Some("o_orderkey"),
        lastModified = Some("updated_at"))))
    new File(cfg.warehouseDir).mkdirs()
    val wh = new Warehouse(spark, cfg)
    val duckPath = s"${cfg.warehouseDir}/duck.db"
    val duck = new TracedDuck(duckPath, tracer)
    val ticks = prop("ticks").toInt
    val oracle = Map(
      "events_ao" -> Duck.parquet(s"$src/events_ao.parquet"),
      "orders_up" -> Duck.lastWriter(s"$src/orders_up.parquet", "o_orderkey", "updated_at"))
    val kind = Map("events_ao" -> "append", "orders_up" -> "upsert")
    val toDuck = (t: String) => duckUpsert || kind(t) == "append"
    var raw, gz = 0L

    def land(k: Int): Unit = cfg.tables.keys.foreach { t =>
      val from = new File(s"$work/deltas/$k/$t")
      from.listFiles().foreach(f => Files.move(f.toPath,
        Paths.get(s"$src/$t.parquet/${f.getName}"), StandardCopyOption.ATOMIC_MOVE))
    }
    /** One tick: every table to each of its warehouses, then the checks. */
    def tick(counted: Boolean): Double = {
      val want = mutable.Map.empty[String, Duck.Print]
      def expect(t: String): Duck.Print = want.getOrElseUpdate(t,
        withConn("")(c => Duck.fingerprint(c, oracle(t))))
      cfg.tables.keys.toSeq.map { t =>
        op(s"cli.sync_parquet_${kind(t)}", counted)(wh.sync(t)) {
          withConn("")(c => compare(s"parquet $t",
            Duck.fingerprint(c, Duck.parquet(s"${cfg.warehouseDir}/$t.parquet")), expect(t)))
        } + (if (!toDuck(t)) 0.0 else {
          val d = op(s"cli.sync_duck_${kind(t)}", counted)(wh.syncDuck(t, duck)) {
            withConn(duckPath)(c => compare(s"duck $t", Duck.fingerprint(c, t), expect(t)))
          }
          if (counted && tracer.on) { val (r, g) = chunkBytes(cfg.dataDir, t); raw += r; gz += g }
          d
        })
      }.sum
    }
    val setupCodegen0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
    tick(counted = false) // bootstrap: both warehouses created from the sources
    // untimed steady-state ticks: the bootstrap runs none of the
    // incremental code paths, and tick CPU still falls by a quarter over
    // the next ten ticks while the JIT compiles them
    val warmTicks = 5
    (0 until warmTicks).foreach { k => land(k); tick(counted = false) }
    val setupCodegen = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - setupCodegen0
    val setupS = (System.nanoTime() - setupStart) / 1e9 - setupChecksS
    val a = mark()
    val cycles = mutable.ArrayBuffer.empty[Double]
    var k = warmTicks
    var deltaRows = 0L
    var deltaRowsDuck = 0L
    var landedS = 0.0
    val moved = mutable.ArrayBuffer.empty[Double]
    val n = cyclesFor(1.5, 7)
    require(warmTicks + n <= ticks, s"only $ticks deltas generated for $n timed ticks")
    while (cycles.size < n) {
      landedS += secs(land(k))._1
      cfg.tables.keys.foreach { t =>
        deltaRows += prop(s"delta_rows.$k.$t").toLong
        if (toDuck(t)) deltaRowsDuck += prop(s"delta_rows.$k.$t").toLong
      }
      moved += cfg.tables.keys.map(t =>
        prop(s"delta_bytes.$k.$t").toDouble * (if (toDuck(t)) 2 else 1)).sum
      cycles += cpuOf(tick(counted = true))
      k += 1
    }
    val b = mark()
    if (tracer.on) {
      engineLayers(a, b, cycles.size, setupCodegen)
      val under = execsUnder(a, b, _.startsWith("cli.sync_"))
      def written(host: String, f: Execution => Boolean) =
        under.filter(x => x._2.name.startsWith(host) && f(x._1)).map(_._4).sum.toDouble
      layer("sync.write_amp_rows") =
        written("cli.sync_parquet", e => CallSite.inMethod(e.details, "writeAtomic")) / deltaRows
      layer("sync.write_amp_rows_duck") =
        written("cli.sync_duck", e => CallSite.inMethod(e.details, "writeCsvChunks")) / deltaRowsDuck
      layer("io.csv_raw_bytes") = raw.toDouble / cycles.size
      layer("io.gz_bytes") = gz.toDouble / cycles.size
    }
    result(setupS, cycles.toSeq, moved.toSeq, Map(
      "ticks_timed" -> cycles.size, "delta_rows" -> deltaRows,
      "land_s" -> landedS, "isize_verified" -> verifyIsize(cfg.dataDir, "events_ao")))
  }

  // ───────────────────────────── query_mix ─────────────────────────────

  def queryMix(): String = {
    val corpus = s"$work/corpus"
    val fns = graft.SparkEntry.queries
    val missing = Layers.mix.filterNot(fns.contains)
    require(missing.isEmpty, s"mix queries absent from SparkEntry.queries: ${missing.mkString(",")}")
    // The cold pass writes each result Verify-style (the input of the
    // oracle check, tools/check.py); every timed op's row count must match
    // the dumped result's
    val out = s"$work/verify"
    val dumpErr = mutable.LinkedHashMap.empty[String, String]
    val setupCodegen0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
    val coldS = Layers.mix.map { q =>
      q -> secs {
        try tracer.span(s"q.$q") {
          fns(q)(spark, corpus).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        } catch { case e: Throwable => dumpErr(q) = describe(e) }
      }._1
    }
    val (rowsS, rows) = secs(withConn("") { c =>
      Layers.mix.filterNot(dumpErr.contains).map(q =>
        q -> Duck.scalar(c, s"SELECT count(*) FROM ${Duck.parquet(s"$out/$q")}")).toMap
    })
    setupChecksS += rowsS
    Json.writeMap(s"$out/oracle_sql.json",
      graft.SparkEntry.oracleSql.filter(kv => Layers.mix.contains(kv._1)))
    Json.writeMap(s"$out/oracle_scope.json",
      graft.SparkEntry.oracleScope.filter(kv => Layers.mix.contains(kv._1)))
    Json.writeMap(s"$out/verify_errors.json", dumpErr.toMap)
    def pass(counted: Boolean): Seq[(String, Double)] = Layers.mix.map { q =>
      var n = -1L
      q -> op(s"q.$q", counted) { n = fns(q)(spark, corpus).count() } {
        dumpErr.get(q).map(e => s"q.$q verify dump threw $e").orElse(
          rows.get(q).filter(_ != n).map(r => s"q.$q returned $n rows, verified result has $r"))
      }
    }
    // untimed warm passes: the cold pass compiles the dump's plans, not
    // the timed action's, and pass time still falls by up to a quarter over
    // the next three passes while the JIT compiles them
    val warmPasses = 3
    (0 until warmPasses).foreach(_ => pass(counted = false))
    val setupCodegen = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - setupCodegen0
    val setupS = (System.nanoTime() - setupStart) / 1e9 - setupChecksS
    val a = mark()
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    while (passes.size < cyclesFor(3.3, 3)) passes += cpuOf(pass(counted = true))
    val b = mark()
    val cycles = passes.map(_.map(_._2).sum).toSeq
    if (tracer.on) {
      engineLayers(a, b, cycles.size, setupCodegen)
      Layers.mix.foreach { q =>
        layer(s"q.${q}_s") = Stats.median(passes.toSeq.map(_.toMap.apply(q)))
      }
      Layers.families.foreach { f =>
        layer(s"$f.pass_s") = Stats.median(passes.toSeq.map(
          _.filter(x => Layers.family(x._1) == f).map(_._2).sum))
        layer(s"$f.task_cpu_s") = execsUnder(a, b, h =>
          h.startsWith("q.") && Layers.family(h.stripPrefix("q.")) == f)
          .map(_._3).sum / 1e9 / cycles.size
      }
      layer("mix.pass_s") = Stats.median(cycles)
    }
    result(setupS, cycles, cycles.map(_ => prop("corpus_bytes").toDouble), Map(
      "passes" -> cycles.size, "ops_per_query" -> (cycles.size + warmPasses), "verify_dir" -> out,
      "cold_s" -> ListMap(coldS: _*),
      "mix" -> Layers.mix))
  }
}

/** The fixed names the benchmark reports under. */
object Layers {
  /** The query_mix list, one flagship per operator family, copied here so
    * an edit to the engine's own bench list cannot change the workload. */
  val mix: Seq[String] = Seq(
    "q3_top_revenue", "s2_csv_roundtrip", "x_dedup_minhash_lsh", "stream_dedup")

  val families: Seq[String] = Seq("tpch", "relational", "pipeline", "stream")

  def family(q: String): String =
    if (q.matches("q\\d+_.*")) "tpch"
    else if (q.startsWith("x_")) "pipeline"
    else if (q.startsWith("stream_")) "stream"
    else "relational"

  val modules: Seq[String] = Seq("harness", "cli", "io", "sync", "catalog", "queries",
    "operators", "functions", "streaming", "other")

  /** per-layer metric → harness span it sums */
  val spanMetrics: Seq[(String, String)] = Seq(
    "cli.reload_parquet_s" -> "cli.reload_parquet",
    "cli.reload_duck_s" -> "cli.reload_duck",
    "cli.sync_parquet_upsert_s" -> "cli.sync_parquet_upsert",
    "cli.sync_parquet_append_s" -> "cli.sync_parquet_append",
    "cli.sync_duck_upsert_s" -> "cli.sync_duck_upsert",
    "cli.sync_duck_append_s" -> "cli.sync_duck_append",
    "warehouse.copy_s" -> "warehouse.copy",
    "warehouse.merge_s" -> "warehouse.merge",
    "warehouse.maxscalar_s" -> "warehouse.maxscalar",
    "warehouse.catalog_s" -> "warehouse.catalog")
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: scala.collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def writeMap(path: String, m: Map[String, String]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), obj(m))
  }
}
