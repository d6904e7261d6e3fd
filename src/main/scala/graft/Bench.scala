package graft

import org.apache.spark.sql.SparkSession

/** Bench harness: times each SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the `noop` sink so the
  * full plan (projections included) executes — `.count()` would let Catalyst
  * prune away most of the work and time nothing.
  *
  * Host-sanity guard: three consecutive rounds of driver benchmarks have
  * shown multi-x per-query swings with ZERO code change — the numbers are
  * only as trustworthy as the host was idle. The run therefore brackets
  * the timed pass with (a) /proc/loadavg snapshots and (b) a fixed-work
  * in-memory calibration loop, and embeds both in the output JSON so a
  * reader can tell "the code got slower" from "the host was busy". If the
  * calibration drifts more than 2x across the pass, every query is re-run
  * once and the per-query min is kept — one bounded repair pass, flagged
  * in the JSON, never silent. Queries whose GC time exceeded half their
  * wall time additionally re-run once in a fresh session (`gc_rerun` in
  * the JSON carries both readings), so a single emitted file is
  * interpretable without a companion quiet run.
  */
object Bench {

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim finally src.close()
    } catch { case _: Throwable => "" }

  /** Cumulative JVM GC wall time (ms) across all collectors — the
    * per-query delta separates "this query allocates/pressures the
    * heap" from "this query's plan is slow". */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Bytes currently held by the block manager (cache + localCheckpoint
    * blocks) — the direct readout of the checkpoint-block pressure that
    * caused the r12 diffuse drift, so the NEXT drift episode is
    * adjudicated from the artifact instead of standalone reruns. */
  private def storedBytes(spark: SparkSession): Long =
    try spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
    catch { case _: Throwable => -1L }

  /** Fixed-work calibration: a constant in-memory aggregation whose cost
    * depends only on host conditions (CPU contention, thermal state),
    * never on the code under test. Min of 3 — the same estimator the
    * query timings use. */
  private def calibrate(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 1000000000L, 1L, 32)
        .selectExpr("sum(id % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** The contract line, printed last on stdout. It is parsed from the
    * last 2000 chars of stdout, so the line carries totals only and stays
    * under 300 chars; the per-query table is in `artifact` (None when the
    * run wrote none). */
  private[graft] def contractLine(results: Seq[(String, Double)],
      sfDir: String, cpus: Int, artifact: Option[String]): String = {
    val total = "%.3f".formatLocal(java.util.Locale.ROOT, results.map(_._2).sum)
    val file = artifact.map(Harness.jsonString).getOrElse("null")
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""sf":${Harness.jsonString(sfDir)},"cpus":$cpus,""" +
      s""""n_queries":${results.size},"artifact":$file}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpusFromEnv(32)
    // diagnosis knobs (adjudicating pass-level drift): restrict to a
    // query subset / disable the per-run System.gc() — fresh-JVM subset
    // runs with these are how a diffuse pass-level reading is separated
    // into "plan got slower" vs "the pass's own JVM aging"
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // gates the per-QUERY System.gc() between timed queries (the
    // checkpoint-block release that prevents cross-query drift); set
    // SPARK_GRAFT_GC=0 only for drift-diagnosis A/B runs
    val gcPerQuery = sys.env.getOrElse("SPARK_GRAFT_GC", "1") == "1"
    // Session-recycle chunk size. Pass-level aging is MEASURED (r13
    // diagnostics over the 349-query quiet pass): per-query readings
    // inflate monotonically with position — geomean vs the r11 quiet
    // close 1.30/1.49/1.70 by alphabetical third, worst on sub-second
    // queries — while stored_mb stays ~0 (the r12 block leak is fixed),
    // i.e. the tax lives in accumulated driver/session state, not the
    // block manager. A fresh SparkSession every `chunk` queries resets
    // the session-scoped share of that state while keeping the JVM's
    // JIT warmth; each chunk re-warms its own queries at sf0.01.
    val chunk = Harness.positiveIntEnv("SPARK_GRAFT_CHUNK", 48)
    val picked = SparkEntry.all.sortBy(_.name)
      .filter(q => only.isEmpty || only(q.name))

    def recycle(old: SparkSession): SparkSession = {
      old.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      System.gc() // release the stopped context's blocks/threads
      Harness.session(32)
    }

    var spark = Harness.session(32)
    val warmDir = "/root/testdata/sf0.01"

    // Warm a chunk's queries once at the smallest scale factor: Catalyst
    // analysis + whole-stage codegen + JIT compile are one-off driver
    // costs (measured up to ~5s per complex query) that are noise at the
    // 100 TB design point — the timed runs measure steady-state
    // execution on the target scale factor.
    def warm(qs: Seq[Query]): Unit = {
      qs.foreach { q =>
        try q.plan(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      spark.catalog.clearCache() // drop warmup-phase persisted data
    }

    val loadBefore = loadavg()
    warm(picked.take(chunk)) // first chunk warms before calibration
    val calibBefore = calibrate(spark)

    // Three timed runs, min reported: the per-run jitter (GC, AQE
    // re-planning, cache churn from operators that persist intermediates)
    // is noise relative to steady-state throughput, which is what a
    // long-running 100 TB job experiences. Two runs proved insufficient —
    // a GC-pressure episode can span both back-to-back runs of one query
    // and misattribute multi-second costs to it.
    // per-query diagnostics, ONE ENTRY PER PASS (pass label, GC ms spent
    // across the query's runs, block-manager bytes left stored AFTER the
    // query) — matched pairs, so a reading is always adjudicated against
    // the pass that produced it. A growing stored tail is exactly the
    // leaked-block signature behind the r12 diffuse drift.
    val diag = scala.collection.mutable
      .LinkedHashMap.empty[String, List[(String, Long, Long)]]

    def timeOne(q: Query, runs: Int, pass: String): Double = {
      val name = q.name
      var failed = false
      val gc0 = gcMillis()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try q.plan(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      // drive the ContextCleaner ONCE PER QUERY (not per run):
      // localCheckpoint blocks from the graph-fixpoint queries are NOT
      // table cache (clearCache misses them) and only release after
      // their RDDs are GC'd — unreleased, they tax every LATER query
      // (the r12 diffuse drift). Per-RUN gc was measured to cost the
      // NEXT timed run ~20% (fresh-JVM A/B, geomean 0.83), so the
      // collection sits between queries where only run 1 of the next
      // query absorbs the cold-cache cost and min-of-3 discards it.
      if (gcPerQuery) System.gc()
      diag(name) = diag.getOrElse(name, Nil) :+
        ((pass, gcMillis() - gc0, storedBytes(spark)))
      if (failed) -1.0 else times.min
    }

    def timePass(runs: Int, warmed: Boolean, pass: String)
        : Seq[(String, Double)] = {
      val chunks = picked.grouped(chunk).toSeq
      chunks.zipWithIndex.flatMap { case (qs, i) =>
        if (i > 0 || !warmed) {
          spark = recycle(spark)
          warm(qs)
        }
        qs.map(q => q.name -> timeOne(q, runs, pass))
      }
    }

    var results = timePass(3, warmed = true, pass = "main")

    val calibAfter = calibrate(spark)
    val loadAfter = loadavg()
    val drift = math.max(calibBefore, calibAfter) /
      math.max(1e-9, math.min(calibBefore, calibAfter))
    // >2x calibration drift means the host changed underneath the pass —
    // the numbers are not comparable across rounds. One repair pass,
    // per-query min kept. A query that failed all original runs stays
    // failed (-1), and a transient failure in the single repair run never
    // overwrites a valid 3-run measurement.
    val recalibrated = drift > 2.0
    var calibFinal = calibAfter
    if (recalibrated) {
      System.err.println(
        f"[bench] calibration drifted ${drift}%.2fx across the pass " +
          "(host interference) — re-running every query once")
      val again = timePass(1, warmed = false, pass = "repair").toMap
      results = results.map { case (name, t) =>
        val a = again.getOrElse(name, t)
        name -> (if (t < 0 || a < 0) t else math.min(t, a))
      }
      calibFinal = calibrate(spark)
    }

    // GC-contamination repair: a query whose main-pass GC time exceeds
    // half its reported wall time was measured under heap pressure (its
    // own or a neighbor's — the r13 driver pass read q_triangles at
    // 30.4s with 23.6s of GC vs 9.85s quiet). Those queries re-run once
    // in a fresh recycled session; BOTH readings are reported
    // (`gc_rerun`) and the per-query value takes the min — so the
    // emitted BENCH file is interpretable standalone, no companion
    // quiet run needed. Bounded: only multi-second queries qualify.
    val gcSuspects = results.filter { case (name, t) =>
      t > 2.0 && diag.get(name).flatMap(_.headOption)
        .exists { case (_, gcMs, _) => gcMs > (t * 1000 * 0.5).toLong }
    }.map(_._1).toSet
    val gcRerun = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    if (gcSuspects.nonEmpty) {
      System.err.println(s"[bench] gc-contaminated queries re-running " +
        s"clean: ${gcSuspects.mkString(", ")}")
      spark = recycle(spark)
      val subset = picked.filter(q => gcSuspects(q.name))
      warm(subset)
      val clean = subset.map { q =>
        q.name -> timeOne(q, runs = 2, pass = "gc_rerun")
      }.toMap
      results = results.map { case (name, t) =>
        clean.get(name) match {
          case Some(c) if c >= 0 && t >= 0 =>
            gcRerun(name) = (t, c)
            name -> math.min(t, c)
          case _ => name -> t
        }
      }
    }

    // The per-query table plus diag/gc/calibration detail goes to the
    // per-core-count file artifact, so runs at several core counts (32c
    // then 8c) can no longer clobber each other's tables.
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val dg = diag.map { case (k, entries) =>
      "\"" + k + "\":[" + entries.map { case (pass, gc, st) =>
        "{\"pass\":\"" + pass + "\",\"gc_ms\":" + gc + ",\"stored_mb\":" +
          (if (st < 0) -1 else st / (1024 * 1024)) + "}"
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val rr = gcRerun.map { case (k, (raw, clean)) =>
      "\"" + k + "\":{\"raw_sec\":" + raw + ",\"clean_sec\":" + clean + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // after_sec is the reading that decided `drift`; final_sec (emitted
    // only after a repair pass) is the post-repair re-measurement
    val finalField =
      if (recalibrated) s""","final_sec":$calibFinal""" else ""
    val host =
      s""""calibration":{"before_sec":$calibBefore,"after_sec":$calibAfter,""" +
      s""""drift":$drift,"recalibrated":$recalibrated$finalField},""" +
      s""""loadavg":{"before":"$loadBefore","after":"$loadAfter"}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"diag":$dg,"gc_rerun":$rr,"sf":"$sfDir","cpus":$cpus,$host}"""
    // Persist the complete table as a repo artifact keyed on the core
    // count. Diagnostic subset runs (SPARK_GRAFT_ONLY) never clobber it.
    val file = s"bench_full_c$cpus.json"
    val artifact =
      if (only.nonEmpty) None
      else try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(file), fullLine + "\n")
        Some(file)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $file write failed: ${e.getMessage}")
        None
      }
    println(contractLine(results, sfDir, cpus, artifact))
    spark.stop()
  }
}
