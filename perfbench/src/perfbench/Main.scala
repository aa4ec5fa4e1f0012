package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one seeded workload in one client
  * thread against a `local[4]` graft session and prints, as its last
  * stdout line, `{"correct", "attempted", "failed", "metrics"}`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --fingerprints <file> [--record-fingerprints]
  *
  * A run builds its inputs (untimed), sets up `SetupReps` times (session
  * start, input registration, warm-up: `setup_s` is their median), then
  * checks the outputs once more (untimed: a second catalog fingerprint of
  * every query, which also runs each query warm once), then runs the
  * workload's closed loop for `--seconds` with tracing off; the
  * end-to-end metrics come from that phase. With `--trace 1` a second
  * phase of the same length runs with the listeners attached; the
  * per-layer metrics come from it, and their cost shows as
  * `tracing_overhead_frac`.
  */
object Main {
  val Cores = 4
  val SetupReps = 3
  /** Catalog tables at half the sf0.1 row counts: a warm round of the
    * data-bound mix then takes about 5 s, so a run holds several. */
  val CatalogScale = 0.5

  val SchedulerBound: Seq[String] = Seq("q3_revenue_by_nation", "q4_order_rank_per_customer",
    "q107_zscore_outliers", "q67_neardup_clusters", "q161_dedup_keeper",
    "q131_hard_negatives")
  val DataBound: Seq[String] = Seq("q136_containment_join", "q132_prefix_join",
    "q187_weighted_median")

  /** End-to-end metrics and their units, in output order. */
  val EndToEnd: ListMap[String, String] = ListMap(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "peak_spark_memory_mb" -> "MB")

  /** Per-layer metrics and their units, in output order. */
  val PerLayer: ListMap[String, String] = ListMap(
    "session_start_s" -> "s", "warmup_s" -> "s",
    "build_s" -> "s", "build_jobs" -> "count", "driver_gap_s" -> "s",
    "max_concurrent_jobs" -> "count",
    "plan_analysis_s" -> "s", "plan_optimization_s" -> "s", "plan_planning_s" -> "s",
    "codegen_compile_s" -> "s", "codegen_classes" -> "count",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "single_task_stages" -> "count", "scheduler_delay_s" -> "s",
    "executor_busy_frac" -> "ratio",
    "executor_run_s" -> "s", "executor_cpu_s" -> "s", "jvm_gc_s" -> "s",
    "input_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "peak_exec_mem_bytes" -> "bytes", "task_skew_max" -> "ratio",
    "storage_peak_bytes" -> "bytes",
    "clean_s" -> "s", "clean_rows_in" -> "count", "clean_rows_kept" -> "count",
    "enrich_s" -> "s", "enrich_rows_per_s" -> "1/s", "enrich_bound_rows_per_s" -> "1/s",
    "enrich_efficiency" -> "ratio", "enrich_error_frac" -> "ratio",
    "llm_calls" -> "count", "llm_call_p50_ms" -> "ms",
    "llm_failed_injected" -> "count", "llm_hung_injected" -> "count",
    "dedup_s" -> "s", "dedup_jobs" -> "count", "dedup_kept_frac" -> "ratio",
    "publish_s" -> "s", "publish_bytes" -> "bytes", "publish_files" -> "count",
    "dashboard_plan_s" -> "s",
    "failed_frac" -> "ratio", "tracing_overhead_frac" -> "ratio",
    "query_p50_s" -> "s", "query_p90_s" -> "s")

  final case class Args(workload: String = "", seed: Long = -1L, seconds: Double = -1,
      trace: Boolean = false, work: String = "", fingerprints: String = "",
      record: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--fingerprints" :: v :: rest => parse(rest, a.copy(fingerprints = v))
    case "--record-fingerprints" :: rest => parse(rest, a.copy(record = true))
    case Nil => a
    case other :: _ => sys.error(s"unknown argument: $other")
  }

  def session(work: File): SparkSession =
    graft.GraftSession.localSession(Cores.toString, graft.Bench.benchConfs ++ Seq(
      "spark.local.dir" -> new File(work, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath))

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def readFingerprints(f: File): Map[String, Fingerprint] =
    if (!f.isFile) Map.empty
    else {
      val pairs = """"([^"]+)"\s*:\s*"([^"]+)"""".r
      pairs.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(m => m.group(1) -> Fingerprint.parse(m.group(2))).toMap
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.seed >= 0 && a.seconds > 0 && a.work.nonEmpty && a.fingerprints.nonEmpty,
      "need --workload, --seed, --seconds, --work and --fingerprints")
    val work = new File(a.work).getAbsoluteFile
    val runDir = new File(work, s"run-${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val fixtureRoot = new File(work, "fixtures")
    val expected = readFingerprints(new File(a.fingerprints))
    def catalog(qs: Seq[String]) = new CatalogWorkload(a.workload, qs, a.seed,
      new File(fixtureRoot, "sf0.05"), expected)
    val w: Workload = a.workload match {
      case "news_pipeline" => new NewsWorkload(a.workload, a.seed, runDir, 0.02, 0.002)
      // a flaky model endpoint: wave timeouts and the error path set the pace
      case "news_flaky_llm" => new NewsWorkload(a.workload, a.seed, runDir, 0.10, 0.01)
      case "catalog_scheduler_bound" => catalog(SchedulerBound)
      case "catalog_data_bound" => catalog(DataBound)
      case other => sys.error(s"unknown workload: $other")
    }
    try run(a, w, work, runDir) finally Files.deleteTree(runDir)
  }

  private def run(a: Args, w: Workload, work: File, runDir: File): Unit = {
    // --- set-up: session start and input registration several times
    // (the last session stays), then one warm-up pass. The pass is not
    // repeated: code generation is cached per JVM, so a second pass
    // would measure a different, warm thing.
    val sessionS = mutable.ArrayBuffer[Double]()
    val registerS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session(work)
      sessionS += (System.nanoTime() - t0) / 1e9
      if (rep == 1) w.prepare(spark)
      val t1 = System.nanoTime()
      w.register(spark)
      registerS += (System.nanoTime() - t1) / 1e9
    }
    val t2 = System.nanoTime()
    w.warmUp(spark, new Tracer(spark))
    val warmS = (System.nanoTime() - t2) / 1e9
    val setupS = Stats.median(sessionS.zip(registerS).map { case (s, r) => s + r }.toSeq) + warmS
    log(f"${w.name}: session start ${sessionS.map(s => f"$s%.2f").mkString(", ")} s, " +
      f"warm-up $warmS%.2f s")

    if (a.record) {
      w match {
        case c: CatalogWorkload =>
          val f = new File(a.fingerprints)
          val merged = (readFingerprints(f) ++ c.fingerprints.map { case (k, v) => k -> v.head })
            .toSeq.sortBy(_._1)
          Files.write(f, merged.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v.toString)}" }
            .mkString("{\n", ",\n", "\n}\n"))
          log(s"recorded ${c.fingerprints.size} fingerprints into $f")
        case _ => log("only catalog workloads record fingerprints")
      }
      stopSession(spark)
      return
    }

    // --- closed loop, tracing off, after a second output check
    val t3 = System.nanoTime()
    w.recheck(spark)
    log(f"${w.name}: second output check ${(System.nanoTime() - t3) / 1e9}%.2f s")
    val tracer = new Tracer(spark)
    val memory = new MemoryWatch
    def phase(): Double = {
      w.newPhase()
      tracer.reset()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      tracer.span(w.name, "workload") {
        // every query (or one iteration) is timed at least once, unless
        // something failed: a unit that keeps failing cannot hold the run open
        while (elapsed < a.seconds || (!w.covered && w.failures.isEmpty)) {
          val done = w.samples.size
          memory.beforeUnit()
          w.runUnit(spark, tracer)
          if (w.samples.size > done) memory.afterUnit(w.samples.last._1)
        }
      }
      elapsed
    }
    phase()
    val e2e = w.endToEnd
    val memoryMb = memory.peakMb
    log(f"${w.name}: peak managed memory $memoryMb%.1f MB; process peak RSS ${peakRssMb()}%.0f MB")
    val n = w.latencySamples.size
    log(s"${w.name}: ${w.units} units timed; latency over $n samples, whose highest " +
      "percentile with 10 samples beyond it is " +
      Stats.tailPercentile(n).map(p => s"p${p * 100}").getOrElse("none"))
    var attempted = w.units
    var failed = w.failures.size
    val failedNames = mutable.ArrayBuffer[String]() ++= w.failures.map(_._1)

    val metrics: ListMap[String, Double] =
      if (!a.trace) {
        ListMap("setup_s" -> setupS, "throughput_per_s" -> e2e("throughput_per_s"),
          "peak_spark_memory_mb" -> memoryMb)
      } else {
        tracer.start()
        val wallS = phase()
        val rec = tracer.stop()
        w.recheck(spark)
        attempted += w.units
        failed += w.failures.size
        failedNames ++= w.failures.map(_._1)
        tracer.addJobSpans(rec)
        val layers = Layers.generic(tracer, rec, math.max(1, w.units), Cores) ++
          ListMap(
            "session_start_s" -> Stats.median(sessionS.toSeq),
            "warmup_s" -> warmS,
            "failed_frac" -> failed.toDouble / attempted,
            "tracing_overhead_frac" ->
              (1.0 - w.endToEnd("throughput_per_s") / e2e("throughput_per_s")),
            "query_p50_s" -> e2e("query_p50_s"),
            "query_p90_s" -> e2e("query_p90_s")) ++
          w.stageMetrics(tracer, rec)
        Layers.writeTrace(new File(work, "trace"), s"${w.name}-seed${a.seed}", tracer, rec,
          Cores, wallS)
        ListMap(PerLayer.keys.toSeq.map(k => k -> layers.getOrElse(k, 0.0)): _*)
      }
    memory.stop()
    w.finish()
    stopSession(spark)

    if (failedNames.nonEmpty)
      log(s"failed operations: ${failedNames.groupBy(identity).map { case (k, v) => s"$k x${v.size}" }.mkString(", ")}")
    w.checkFailures.foreach(f => log(s"CHECK FAILED: $f"))
    val correct = w.checkFailures.isEmpty && failed == 0
    val units = if (a.trace) PerLayer else EndToEnd
    val out = ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(units.toSeq.map { case (k, u) =>
        k -> ListMap("value" -> metrics(k), "unit" -> u) }: _*))
    println(Json.render(out))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.isFile) Runtime.getRuntime.totalMemory / 1048576.0
    else scala.io.Source.fromFile(status).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}
