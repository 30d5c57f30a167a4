package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import perfbench.Main.CheckFailed

/** What a workload plugs into the shared run protocol. */
trait Workload {
  /** The set-up step after session start: the first operation. */
  def setup(h: Harness, spark: SparkSession): Op

  /** One pass: every operation of the workload once, via `h.op`. The
    * cold pass (`passNo` 0) runs in the frozen order, the others in the
    * seed's order. */
  def pass(h: Harness, spark: SparkSession, passNo: Int): Seq[Op]

  /** Membership checks on the cold pass (fresh session, no tiers). */
  def checkCold(cold: Seq[Op]): Unit = ()

  /** The untimed verification step right after the cold pass; it also
    * serves as the first warm-up pass. Returns the operations it ran. */
  def verify(h: Harness, spark: SparkSession): Seq[Op]

  /** Untimed passes after verification, until pass times level off. */
  def warmPasses: Int = 0

  /** Checks over the whole run, after the timed passes (throwing
    * [[CheckFailed]]), and extra result fields for the front end. */
  def finish(h: Harness, spark: SparkSession): Map[String, Any] = Map.empty
}

/** The run protocol shared by every workload: three set-up cycles
  * (fresh SparkContext + session and the workload's set-up step), the
  * cold pass after `releaseIndexes`, the verification step and the
  * workload's warm-up passes, timed passes within `seconds`, and the leak
  * check after the final `releaseIndexes`. A traced run times its first
  * half untraced and its second half with the job listener attached, so
  * it can report the tracing overhead. */
final class Harness(seconds: Double, traced: Boolean, spansPath: String) {
  private var seq = 0L
  private var listener: Option[JobListener] = None

  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Time one operation. `body` calls `phase(i)` as it enters phase i
    * (1 plan, 2 exec, 3 release); the job description names the
    * operation and phase so the listener can attribute Spark jobs. */
  def op(spark: SparkSession, name: String, kind: String, passNo: Int)
      (body: (Int => Unit) => Unit): Op = {
    seq += 1
    val sc = spark.sparkContext
    val before = persistentIds(spark)
    var unpersisted = 0
    val startMs = System.currentTimeMillis()
    val marks = ArrayBuffer(System.nanoTime())
    def describe(p: Int): Unit =
      sc.setJobDescription(s"perfbench $seq ${Op.phaseNames(p)}")
    def phase(p: Int): Unit = {
      if (p == 3 && listener.nonEmpty) unpersisted = sc.getPersistentRDDs.size
      while (marks.size <= p) marks += System.nanoTime()
      describe(p)
    }
    describe(0)
    var ok = true
    try body(phase)
    catch {
      case e: Throwable =>
        ok = false
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
    }
    while (marks.size <= 4) marks += System.nanoTime()
    sc.setJobDescription(null)
    if (listener.nonEmpty) unpersisted -= sc.getPersistentRDDs.size
    val after = persistentIds(spark)
    val phases = marks.sliding(2).map(w => (w(1) - w(0)) / 1e9).toArray
    Op(passNo, seq, name, kind, startMs, phases, ok, before, after,
      math.max(unpersisted, 0), listener.map(_.drain(spark)).getOrElse(Nil))
  }

  def run(w: Workload): Map[String, Any] = {
    def passTime(p: Seq[Op]): Double = p.map(_.total).sum
    def logged(p: Seq[Op]): Seq[Op] = {
      val passNo = p.headOption.fold("-")(_.pass.toString)
      System.err.println(f"[perfbench] +${Main.uptime}%.1f s pass $passNo " +
        f"${passTime(p)}%.3f s: " + p.map(o => f"${o.name}=${o.total}%.2f").mkString(" "))
      p
    }

    // set-up, three times: a fresh SparkContext + session and the
    // workload's first operation; the last session stays for the rest
    val setups = ArrayBuffer.empty[Double]
    val setupOps = ArrayBuffer.empty[Op]
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) { SparkEntry.releaseIndexes(spark); spark.stop() }
      val t0 = System.nanoTime()
      spark = Main.newSession()
      setupOps += w.setup(this, spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    // the cold pass: what a first user pays, with no tiers built
    SparkEntry.releaseIndexes(spark)
    val cold = logged(w.pass(this, spark, 0))
    w.checkCold(cold)
    val verified = logged(w.verify(this, spark))
    val warm = Seq(cold, verified) ++
      (1 to w.warmPasses).map(_ => logged(w.pass(this, spark, -3)))

    val timed = ArrayBuffer.empty[Seq[Op]]
    val tracedPasses = ArrayBuffer.empty[Seq[Op]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least one pass, then only passes that, going by the last pass's
    // time, end within `until`: a run does not overshoot `seconds` by up
    // to a whole pass (a reef-ml pass takes about 15 s)
    def fits(passes: Seq[Seq[Op]], until: Double): Boolean =
      passes.isEmpty || elapsed + passTime(passes.last) <= until
    val untracedUntil = if (traced) seconds / 2 else seconds
    while (fits(timed.toSeq, untracedUntil))
      timed += logged(w.pass(this, spark, timed.size + 1))
    val pinnedRdds = persistentIds(spark).size
    val pinnedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    var gcMs, compiles = 0L
    if (traced) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
      val gc0 = Jvm.gcMs
      val cg0 = Jvm.codegenCompiles
      while (fits(tracedPasses.toSeq, seconds))
        tracedPasses += logged(w.pass(this, spark, 1000 + tracedPasses.size))
      gcMs = Jvm.gcMs - gc0
      compiles = Jvm.codegenCompiles - cg0
      listener = None
      spark.sparkContext.removeSparkListener(l)
    }

    val extra = w.finish(this, spark)
    System.err.println(f"[perfbench] +${Main.uptime}%.1f s finished")
    SparkEntry.releaseIndexes(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.size
    if (leaked != 0)
      throw new CheckFailed(s"$leaked persistent RDDs left after releaseIndexes")

    if (traced) java.nio.file.Files.writeString(java.nio.file.Paths.get(spansPath),
      Json.encode(Layers.spans(tracedPasses.flatten.toSeq)))
    val all = setupOps.toSeq ++ (warm ++ timed ++ tracedPasses).flatten
    val samples = timed.flatten.map(_.total).toSeq
    // operation latency: each operation's median over the timed passes
    // (so one pass slowed by a noisy host does not move it), then fixed
    // percentiles across operations, the same statistic in every run
    val opLatency = timed.flatten.groupBy(_.name).values
      .map(ops => Stats.median(ops.map(_.total).toSeq)).toSeq
    val p90 = Stats.quantile(opLatency, 0.9)
    val metrics: Map[String, Any] =
      if (traced) Layers.compute(tracedPasses.toSeq, timed.toSeq,
        pinnedRdds, pinnedMb, gcMs, compiles, leaked, all)
      else Map(
        "setup_s" -> Stats.median(setups.toSeq),
        "cold_s" -> passTime(cold),
        "pass_s" -> Stats.median(timed.map(passTime).toSeq),
        "op_p50_s" -> Stats.quantile(opLatency, 0.5),
        "op_p90_s" -> p90)
    extra ++ Map(
      "attempted" -> all.size,
      "failed" -> all.count(!_.ok),
      "failed_ops" -> all.filterNot(_.ok).map(_.name).distinct,
      "verify_failed" -> verified.filterNot(_.ok).map(_.name),
      "op_samples" -> samples.size,
      "op_beyond_p90" -> opLatency.count(_ > p90),
      "setup_times" -> setups.toSeq,
      "pass_times" -> timed.map(passTime).toSeq,
      "metrics" -> metrics)
  }
}
