package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import perfbench.Main.CheckFailed

/** The `tiers` workload: registry rows that build or serve a
  * `BuiltIndexMemo` tier. One operation is one row's construct
  * (`SparkEntry.queries(name)(spark, dir)`), plan (`executedPlan`),
  * execute (the `noop` write) and release (`SparkEntry.release`). A pass
  * runs every row once: the cold pass in the frozen order, later passes
  * in the seed's order (build rows first, then the serving rows
  * permuted). The set-up step runs the first frozen row. */
final class TiersWorkload(corpus: String, out: String, frozen: Seq[String],
    order: Seq[String], builds: Set[String]) extends Workload {

  private val registry = SparkEntry.queries
  private val missing = frozen.filterNot(registry.contains)
  if (missing.nonEmpty)
    throw new CheckFailed(s"rows missing from SparkEntry.queries: ${missing.mkString(",")}")

  private def kind(name: String) = if (builds(name)) "build" else "serve"

  /** One row; `output` is where the verification step writes its
    * result (otherwise the row goes to the `noop` sink). */
  private def runRow(h: Harness, spark: SparkSession, name: String,
      passNo: Int, output: Option[String] = None): Op =
    h.op(spark, name, kind(name), passNo) { phase =>
      try {
        val df = registry(name)(spark, corpus)
        phase(1)
        df.queryExecution.executedPlan
        phase(2)
        output match {
          case Some(path) => df.write.mode("overwrite").parquet(path)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      } finally {
        phase(3)
        SparkEntry.release(spark)
      }
    }

  def setup(h: Harness, spark: SparkSession): Op =
    runRow(h, spark, frozen.head, -100)

  def pass(h: Harness, spark: SparkSession, passNo: Int): Seq[Op] =
    (if (passNo == 0) frozen else order).map(runRow(h, spark, _, passNo))

  // pass times still fall for a few passes after verification (3.1 s,
  // 2.9 s, then about 2.7 s on 4 cores); reef-ml is level by then
  override def warmPasses: Int = 2

  /** A build row rebuilds its tier, so in the cold pass it must add
    * pinned RDD ids. */
  override def checkCold(cold: Seq[Op]): Unit = {
    val idle = cold.filter(o => o.kind == "build" && o.ok &&
      (o.pinnedAfter -- o.pinnedBefore).isEmpty).map(_.name)
    if (idle.nonEmpty)
      throw new CheckFailed(s"build rows no longer build a tier: ${idle.mkString(",")}")
  }

  /** A pass in the seed's order that writes every row's output under
    * `out/results`, with the oracle SQL of the rows that have one (the
    * layout `tools/check_oracle.py` reads). */
  def verify(h: Harness, spark: SparkSession): Seq[Op] = {
    val ops = order.map(name =>
      runRow(h, spark, name, -1, Some(s"$out/results/$name")))
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/results/oracle_sql.json"),
      Json.encode(order.filter(oracle.contains).map(n => n -> oracle(n)).toMap))
    ops
  }

  /** Every serving row must still touch a tier: run right after
    * `releaseIndexes`, it must leave a pinned RDD behind. */
  override def finish(h: Harness, spark: SparkSession): Map[String, Any] = {
    val untouched = order.filter(n => kind(n) == "serve").filter { name =>
      SparkEntry.releaseIndexes(spark)
      runRow(h, spark, name, -2).pinnedAfter.isEmpty
    }
    if (untouched.nonEmpty)
      throw new CheckFailed(s"tiers rows no longer touch a tier: ${untouched.mkString(",")}")
    Map("rows_only" -> order.filter(SparkEntry.rowsOnly))
  }
}
