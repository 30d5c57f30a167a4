package perfbench

/** One timed operation: its start (epoch ms), its phase times in
  * seconds (construct, plan, exec, release), whether it succeeded, the
  * persistent RDD ids around it and, in a traced pass, the Spark jobs it
  * launched. `kind` is "build" or "serve" for registry rows and
  * "featurize", "rf" or "gbt" for the reef pipeline. */
final case class Op(pass: Int, seq: Long, name: String, kind: String,
    startMs: Long, phases: Array[Double], ok: Boolean, pinnedBefore: Set[Int],
    pinnedAfter: Set[Int], unpersisted: Int, jobs: Seq[JobRec]) {
  def total: Double = phases.sum
}

object Op {
  val phaseNames = Seq("construct", "plan", "exec", "release")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Per-layer metrics of a traced run, as means per traced pass. */
object Layers {
  def compute(traced: Seq[Seq[Op]], untraced: Seq[Seq[Op]],
      pinnedRdds: Int, pinnedMb: Double, gcMs: Long, compiles: Long,
      leaked: Int, all: Seq[Op]): Map[String, Double] = {
    val n = traced.size.toDouble
    def perPass(f: Op => Double): Double = traced.flatten.map(f).sum / n
    def jobsIn(o: Op, phase: String) = o.jobs.filter(_.phase == phase)
    def jobSum(phase: String)(f: JobRec => Double): Double =
      perPass(o => jobsIn(o, phase).map(f).sum)
    def allJobs(f: JobRec => Double): Double = perPass(o => o.jobs.map(f).sum)
    def kindTime(k: String): Double =
      perPass(o => if (o.kind == k) o.total else 0.0)
    val execS = perPass(_.phases(2))
    val execSlotS = jobSum("exec")(_.taskMs / 1e3)
    val serving = traced.flatten.filter(_.kind == "serve")
    val passS = Stats.median(traced.map(_.map(_.total).sum))
    val untracedS = Stats.median(untraced.map(_.map(_.total).sum))
    Map(
      "construct.s" -> perPass(_.phases(0)),
      "construct.jobs" -> jobSum("construct")(_ => 1.0),
      "construct.task_s" -> jobSum("construct")(_.runMs / 1e3),
      "plan.s" -> perPass(_.phases(1)),
      "exec.s" -> execS,
      "exec.jobs" -> jobSum("exec")(_ => 1.0),
      "exec.stages" -> jobSum("exec")(_.stages.toDouble),
      "exec.tasks" -> jobSum("exec")(_.tasks.toDouble),
      "exec.task_s" -> jobSum("exec")(_.runMs / 1e3),
      "exec.task_cpu_s" -> jobSum("exec")(_.cpuNs / 1e9),
      "exec.gc_s" -> jobSum("exec")(_.gcMs / 1e3),
      "exec.shuffle_write_mb" -> jobSum("exec")(_.shuffleWrite / 1e6),
      "exec.shuffle_read_mb" -> jobSum("exec")(_.shuffleRead / 1e6),
      "exec.spill_mb" -> jobSum("exec")(_.spill / 1e6),
      "exec.slot_util" ->
        (if (execS > 0) execSlotS / (execS * Main.cpus) else 0.0),
      "tables.scan_mb" -> allJobs(_.inputBytes / 1e6),
      "tables.scan_rows" -> allJobs(_.inputRows.toDouble),
      "tier.build_s" -> kindTime("build"),
      "tier.serve_s" -> kindTime("serve"),
      "tier.pinned_rdds" -> pinnedRdds.toDouble,
      "tier.pinned_mb" -> pinnedMb,
      "tier.serve_hit_ratio" ->
        (if (serving.isEmpty) 0.0
         else serving.count(o => o.pinnedAfter == o.pinnedBefore).toDouble /
           serving.size),
      "tier.serve_construct_jobs" ->
        perPass(o => if (o.kind == "serve") jobsIn(o, "construct").size else 0),
      "release.s" -> perPass(_.phases(3)),
      "release.unpersisted_rdds" -> perPass(_.unpersisted.toDouble),
      "release.leaked_rdds" -> leaked.toDouble,
      "ml.featurize_s" -> kindTime("featurize"),
      "ml.rf_s" -> kindTime("rf"),
      "ml.gbt_s" -> kindTime("gbt"),
      "ml.jobs" -> perPass(o =>
        if (Set("featurize", "rf", "gbt")(o.kind)) o.jobs.size else 0),
      "jvm.gc_s" -> gcMs / 1e3 / n,
      "jvm.heap_after_gc_mb" -> Jvm.heapAfterGcMb,
      "codegen.compiles" -> compiles / n,
      "codegen.compile_s" -> compiles * Jvm.codegenMeanMs / 1e3 / n,
      "trace.pass_s" -> passS,
      "trace.overhead_s" -> (passS - untracedS),
      "ops.failed_frac" -> all.count(!_.ok).toDouble / math.max(all.size, 1))
  }

  /** Span tree of the traced operations: a root span per operation,
    * a child per phase, and the Spark jobs that phase launched (linked
    * by the job description). Times are epoch milliseconds. */
  def spans(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map { o =>
    val starts = o.phases.scanLeft(o.startMs.toDouble)(_ + _ * 1e3)
    Map(
      "op" -> o.seq, "name" -> o.name, "kind" -> o.kind, "pass" -> o.pass,
      "ok" -> o.ok, "start_ms" -> starts.head, "end_ms" -> starts.last,
      "children" -> Op.phaseNames.zipWithIndex.map { case (p, i) =>
        Map("phase" -> p, "start_ms" -> starts(i), "end_ms" -> starts(i + 1),
          "jobs" -> o.jobs.filter(_.phase == p).map { j =>
            Map("job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
              "stages" -> j.stages, "tasks" -> j.tasks,
              "task_s" -> j.runMs / 1e3, "shuffle_write_mb" -> j.shuffleWrite / 1e6,
              "spill_mb" -> j.spill / 1e6)
          })
      })
  }
}
