package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigated equi-join: salt the skewed (fact) side with a
  * deterministic hash-derived salt and replicate the small (dim) side
  * across all salt values, so one hot key fans out over `nSalts`
  * shuffle partitions instead of hot-spotting one reducer.
  *
  * This is the manual fallback for when AQE's skewedJoin can't help
  * (e.g. the skew is in a single key within one partition after a
  * non-shuffle stage). Results are identical to a plain inner join —
  * the salt is derived from fact columns (`saltFrom`), not rand(), so
  * the operator stays deterministic and retry-safe (a rand() salt
  * breaks task-retry idempotence at scale).
  */
object SaltedJoin {

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltFrom: Seq[String], nSalts: Int = 8): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(saltFrom.map(col): _*), lit(nSalts)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
