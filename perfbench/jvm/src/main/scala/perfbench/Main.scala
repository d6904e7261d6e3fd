package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. run.py launches it with
  * `--workload W --seed N --seconds S --trace 0|1 --dir D --cores K`
  * and reads `D/result.json` when it exits.
  *
  * A run (run.py has generated the inputs from the seed under D/in): set
  * up `Setups` times (a fresh SparkSession plus the workload's warm-up,
  * the first also paying JVM start); then run ceil(seconds / passSeconds)
  * whole passes of the workload on one driver thread, one op after the
  * other (a closed loop with one client); then check every output. With
  * `--trace 1` an untimed pass comes first, then each pass becomes a
  * pair, one pass with spans and Spark listeners on and one without, so
  * the tracing overhead is measured, not assumed.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      // the session settings of the library's own harnesses (Bench,
      // Verify), pinned here so the environment cannot change them
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Progress line on the JVM's stdout (run.py keeps it in the run's
    * log and shows its tail when a run fails). */
  def log(msg: String): Unit = println(s"[perfbench] $msg")

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def pass(w: Workload, ctx: Ctx, phase: String): Unit = {
    ctx.phase = phase
    val tp = now()
    w.pass(ctx, ctx.passes.size + 1)
    ctx.passes += ((secs(tp), phase))
  }

  /** The figures of a traced run's passes. */
  final case class Traced(layer: Map[String, Double], spans: Seq[Span],
      selfTimes: Map[Int, Double], epochOffsetMs: Double)

  /** One untimed pass to finish warming up, then `passes` pairs of one
    * traced and one untraced pass in alternating order, so both sides see
    * the same warmth and table history. */
  private def tracedPasses(w: Workload, ctx: Ctx, passes: Int, cores: Int): Traced = {
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    pass(w, ctx, "warm")
    val off = ctx.tracer
    val on = new Tracer(true)
    val counters = new SparkCounters
    var fsOps = 0L
    def traced(): Unit = {
      counters.register(ctx.spark)
      ctx.tracer = on
      val ops0 = CountingLocalFileSystem.ops.get
      pass(w, ctx, "traced")
      fsOps += CountingLocalFileSystem.ops.get - ops0
      ctx.tracer = off
      counters.unregister(ctx.spark)
    }
    (0 until passes).foreach { i =>
      if (i % 2 == 0) { traced(); pass(w, ctx, "untraced") }
      else { pass(w, ctx, "untraced"); traced() }
    }
    val spans = on.spans.toSeq
    val selfTimes = Intervals.selfTimes(spans)
    Traced(Layers.metrics(w, counters, spans, selfTimes,
      ctx.ops.filter(_.phase == "traced").toSeq, ctx.ops.filter(_.phase == "untraced").toSeq,
      epochOffsetMs, cores, fsOps), spans, selfTimes, epochOffsetMs)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = new File(opts("dir")).getAbsolutePath
    val cores = opts("cores").toInt
    val scale = opts("scale").toDouble
    val tableRows = opts.get("table-rows").toSeq.flatMap(_.split(",")).map { kv =>
      val Array(k, v) = kv.split("=")
      k -> v.toLong
    }.toMap

    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val w = Workload(workload, scale, seed)

    // set-up 1 also pays JVM start, class loading and the first JIT
    var t = now()
    var spark = session(cores, dir)
    val ctx = new Ctx(spark, new Tracer(false), dir)
    w.prepare(ctx, tableRows)
    w.warmup(ctx)
    val setupS = scala.collection.mutable.ArrayBuffer(jvmStartS + secs(t))
    log(f"setup 1: ${setupS.last}%.3f s")
    (2 to Setups).foreach { _ =>
      stop(spark)
      System.gc()
      t = now()
      spark = session(cores, dir)
      ctx.spark = spark
      val sessionS = secs(t)
      w.warmup(ctx)
      setupS += secs(t)
      log(f"setup ${setupS.size}: ${setupS.last}%.3f s (session $sessionS%.3f s)")
    }

    w.initState(ctx)
    t = now()
    w.prime(ctx)
    val primeS = secs(t)
    val timedStart = now()
    val passes = math.max(1, math.ceil(seconds / w.passSeconds).toInt)
    val traced =
      if (trace) Some(tracedPasses(w, ctx, passes, cores))
      else { (1 to passes).foreach(_ => pass(w, ctx, "timed")); None }
    val timedS = secs(timedStart)
    val rss = peakRssMb()
    log(f"timed region: $timedS%.3f s")

    val (checks, oracles) =
      try w.check(ctx)
      catch { case e: Throwable =>
        (Seq(Check("check_ran", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")), Nil)
      }
    log("checks done")
    val extra = w.extra(ctx)
    stop(spark)

    def ops(phases: String*) = ctx.ops.filter(o => phases.contains(o.phase)).toSeq
    def passSeconds(phases: String*) =
      ctx.passes.filter(p => phases.contains(p._2)).map(_._1).toSeq
    val tr = traced.getOrElse(Traced(Map.empty, Nil, Map.empty, 0.0))
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_start_s" -> jvmStartS, "setup_s" -> setupS.toSeq, "prime_s" -> primeS,
      "timed_s" -> timedS, "peak_rss_mb" -> rss,
      "ops" -> ops("timed", "untraced"), "passes" -> passSeconds("timed", "untraced"),
      "traced_ops" -> ops("traced"), "traced_passes" -> passSeconds("traced"),
      "layer" -> tr.layer, "extra" -> extra, "checks" -> checks, "oracles" -> oracles,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> (tr.epochOffsetMs + s.startNs / 1e6),
        "end_ms" -> (tr.epochOffsetMs + s.endNs / 1e6),
        "self_s" -> tr.selfTimes.getOrElse(s.id, 0.0))))
    val out = new PrintWriter(s"$dir/result.json")
    try out.write(org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
    finally out.close()
  }
}

/** Per-layer figures of a traced phase. Spans give the benchmark's view
  * of each layer; the listeners divide span time between Spark jobs and
  * the driver. */
object Layers {
  private val CommitSpans = Set("AtomicParquet.overwrite", "Snapshots.commit",
    "Deletes.commitUpsert", "Deletes.commitDeletes")

  def metrics(w: Workload, c: SparkCounters, spans: Seq[Span],
      self: Map[Int, Double], traced: Seq[OpSample], untraced: Seq[OpSample],
      offsetMs: Double, cores: Int, fsOps: Long): Map[String, Double] = {
    val jobs = c.jobs.toSeq.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    def ms(ns: Long) = offsetMs + ns / 1e6
    def sum(p: Span => Boolean) = spans.filter(p).map(_.seconds).sum
    def named(n: String*) = sum(s => n.contains(s.name))
    def jobsIn(p: Span => Boolean) = spans.filter(p).map { s =>
      jobs.count { case (a, _) => a >= ms(s.startNs) && a <= ms(s.endNs) }
    }.sum.toDouble
    def gap(p: Span => Boolean) = spans.filter(p).map { s =>
      s.seconds - Intervals.covered(ms(s.startNs), ms(s.endNs), jobs) / 1000
    }.sum
    val roots: Span => Boolean = _.parent == 0
    val tracedS = traced.map(_.seconds).sum
    val untracedS = untraced.map(_.seconds).sum
    val qaRows = c.writes.filter(_.path.contains("/qa_")).map(_.rows).sum
    val cleanInputs = traced.filter(_.kind == "refresh").map(_.rows).sum
    val families = Seq("fixpoint", "window", "relational")
    Map(
      "spark.plan_s" -> c.planMs / 1000.0,
      "spark.jobs" -> c.jobs.size.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_run_s" -> c.taskRunMs / 1000.0,
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9,
      "spark.task_wait_s" -> c.taskWaitMs / 1000.0,
      "spark.busy_ratio" -> (if (tracedS > 0) c.taskRunMs / 1000.0 / (tracedS * cores) else 0.0),
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> c.spillBytes / 1e6,
      "spark.gc_s" -> c.gcMs / 1000.0,
      "spark.output_mb" -> c.outputBytes / 1e6,
      "spark.scan_mb" -> c.inputBytes / 1e6,
      "spark.driver_gap_s" -> gap(roots),
      "tables.load_s" -> named("Tables.load"),
      "operators.watermark_s" -> named("IncrementalSync.watermark"),
      "operators.watermark_jobs" -> jobsIn(_.name == "IncrementalSync.watermark"),
      "operators.plan_build_s" -> named("IncrementalSync.sync"),
      "operators.copy_s" -> named("FullCopy.copyToPath"),
      "clean.chain_s" -> named("Cleaner.chain"),
      "clean.consolidate_s" -> named("PatchMerge.consolidate"),
      "clean.qa_rows" -> qaRows.toDouble,
      "clean.qa_per_input_row" -> (if (cleanInputs > 0) qaRows.toDouble / cleanInputs else 0.0),
      "core.commit_s" -> sum(s => CommitSpans(s.name)),
      "core.commit_driver_s" -> gap(s => CommitSpans(s.name)),
      "core.fs_ops" -> fsOps.toDouble,
      "core.files_written" -> c.writes.map(_.files).sum.toDouble,
      "core.read_merged_s" -> named("Deletes.readMerged"),
      "core.versions_live" -> w.versionsLive,
      "core.maintenance_s" -> named("maintenance"),
      "meta.audit_s" -> sum(_.layer == "meta"),
      "meta.audit_rows" -> c.writes.filter(_.path.contains("/_audit")).map(_.rows).sum.toDouble,
      "trace.spans" -> spans.size.toDouble,
      "trace.traced_s" -> tracedS,
      "trace.untraced_s" -> untracedS,
      "trace.self_s" -> self.values.sum,
      "trace.overhead_ratio" -> (if (untracedS > 0) tracedS / untracedS - 1 else 0.0)
    ) ++ families.flatMap { f =>
      Seq(s"queries.${f}_s" -> sum(s => s.layer == "queries" && s.name == f),
        s"queries.${f}_jobs" -> jobsIn(s => s.layer == "queries" && s.name == f))
    }
  }
}
