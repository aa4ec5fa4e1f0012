package perfbench

import java.io.File

import scala.collection.immutable.ListMap

/** Per-layer numbers of a traced phase, from the tracer's ops and the
  * listeners' per-tag stats. Counts and times are per unit (one catalog
  * query, or one pipeline iteration); fractions are over the phase.
  */
object Layers {

  private def jobIntervals(op: Op, rec: Recorder): Seq[(Long, Long)] =
    rec.jobs.toSeq.filter(_.tag == op.tag)
      .map(j => (j.startMs * 1000L, (if (j.endMs < 0) j.startMs else j.endMs) * 1000L))

  def generic(tracer: Tracer, rec: Recorder, units: Int, cores: Int): ListMap[String, Double] = {
    val ops = tracer.ops.toSeq
    val st = ops.map(o => rec.byTag.getOrElse(o.tag, new TagStats))
    def per(xs: Seq[Double]): Double = xs.sum / units
    def perL(f: TagStats => Long, scale: Double = 1.0): Double = per(st.map(s => f(s) * scale))
    val planned = rec.plans.toSeq.filter(p => ops.exists(o =>
      p.startMs * 1000L >= o.span.startUs - 1000L && p.startMs * 1000L <= o.span.endUs))
    def plan(f: PlanPhases => Long): Double = planned.map(f(_) / 1000.0).sum / units
    val wallS = ops.map(_.span.durUs / 1e6).sum
    val runS = st.map(_.runMs / 1000.0).sum
    ListMap(
      "build_s" -> per(ops.map(o => (o.buildEndUs - o.span.startUs) / 1e6)),
      "build_jobs" -> per(ops.map(o =>
        jobIntervals(o, rec).count(_._1 <= o.buildEndUs).toDouble)),
      "driver_gap_s" -> per(ops.map(o => (o.span.durUs -
        Tracer.covered(jobIntervals(o, rec), o.span.startUs, o.span.endUs)) / 1e6)),
      "max_concurrent_jobs" -> (0 +: ops.map(o => Tracer.maxConcurrent(jobIntervals(o, rec))))
        .max.toDouble,
      "plan_analysis_s" -> plan(_.analysisMs),
      "plan_optimization_s" -> plan(_.optimizationMs),
      "plan_planning_s" -> plan(_.planningMs),
      "codegen_compile_s" -> per(ops.map(_.codegenNs / 1e9)),
      "codegen_classes" -> per(ops.map(_.codegenClasses.toDouble)),
      "jobs" -> perL(_.jobs),
      "stages" -> perL(_.stages),
      "tasks" -> perL(_.tasks),
      "single_task_stages" -> perL(_.singleTaskStages),
      "scheduler_delay_s" -> perL(_.schedDelayMs, 1e-3),
      "executor_busy_frac" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "executor_run_s" -> perL(_.runMs, 1e-3),
      "executor_cpu_s" -> perL(_.cpuNs, 1e-9),
      "jvm_gc_s" -> perL(_.gcMs, 1e-3),
      "input_bytes" -> perL(_.inputBytes),
      "shuffle_read_bytes" -> perL(_.shuffleReadBytes),
      "shuffle_write_bytes" -> perL(_.shuffleWriteBytes),
      "spill_bytes" -> perL(_.spillBytes),
      "peak_exec_mem_bytes" -> (0L +: st.map(_.peakExecMem)).max.toDouble,
      "task_skew_max" -> rec.taskSkewMax,
      "storage_peak_bytes" -> rec.storagePeakBytes.toDouble)
  }

  /** Writes `<name>.spans.jsonl` (workload → op → build/action → Spark
    * job) and `<name>.layers.txt`: per op name, its count, wall and
    * self time, jobs and tasks per call, and executor_busy_frac. The
    * table also goes to stderr. */
  def writeTrace(dir: File, name: String, tracer: Tracer, rec: Recorder, cores: Int,
      wallS: Double): Unit = {
    val spans = tracer.spans.toSeq
    val self = Tracer.selfTimes(spans)
    val lines = spans.sortBy(_.startUs).map { s =>
      Json.render(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> self(s.id)))
    }
    Files.write(new File(dir, s"$name.spans.jsonl"), lines.mkString("", "\n", "\n"))

    val rows = tracer.ops.toSeq.groupBy(o => (o.span.layer, o.span.name)).toSeq.map {
      case ((layer, opName), os) =>
        val st = os.map(o => rec.byTag.getOrElse(o.tag, new TagStats))
        val wall = os.map(_.span.durUs / 1e6).sum
        val kids = spans.filter(s => os.exists(_.span.id == s.parent))
        def selfOf(n: String) = kids.filter(_.name == n).map(k => self(k.id) / 1e6).sum
        (layer, opName, os.size, wall, os.map(o => self(o.span.id) / 1e6).sum, selfOf("build"), selfOf("action"),
          st.map(_.jobs).sum.toDouble / os.size, st.map(_.tasks).sum.toDouble / os.size,
          st.map(_.runMs / 1000.0).sum / (wall * cores))
    }.sortBy(r => -r._4)
    val header = f"${"layer"}%-14s ${"op"}%-30s ${"n"}%4s ${"wall_s"}%8s ${"self_s"}%7s " +
      f"${"build_self_s"}%12s ${"action_self_s"}%13s ${"jobs/op"}%8s ${"tasks/op"}%8s " +
      f"${"busy_frac"}%9s"
    val body = rows.map { case (l, n, c, wall, self0, b, act, j, t, busy) =>
      f"$l%-14s $n%-30s $c%4d $wall%8.3f $self0%7.3f $b%12.3f $act%13.3f $j%8.1f $t%8.1f $busy%9.3f"
    }
    val phaseBusy = rec.byTag.values.map(_.runMs / 1000.0).sum / (wallS * cores)
    val table = (Seq(s"# $name: traced phase ${"%.1f".format(wallS)} s, " +
      s"executor_busy_frac ${"%.3f".format(phaseBusy)}; self time excludes child spans " +
      "(build/action under an op, Spark jobs under build/action)", header) ++ body)
      .mkString("", "\n", "\n")
    Files.write(new File(dir, s"$name.layers.txt"), table)
    System.err.print(table)
  }
}
