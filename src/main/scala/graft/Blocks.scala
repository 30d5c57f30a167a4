package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The blocks one call holds while it runs: persisted inputs and the
  * eager `localCheckpoint` generations of an iterative operator or a
  * fit. An iterative plan needs the checkpoints, because a lazy loop
  * nests every earlier round into its plan, which grows exponentially
  * in rounds; a loop [[release]]s each superseded generation, so its
  * storage stays O(1) in rounds.
  *
  * EXIT RULE of every [[Blocks.scoped]] call: on a normal return the
  * scope releases every block it made except the checkpoints that the
  * returned value reads. A `Dataset` result reads a checkpoint when the
  * checkpoint's `LogicalRDD` is a leaf of its analyzed plan; any other
  * result reads none. The kept checkpoints are recorded under their
  * session, and that session's `SparkEntry.release` drops them (they
  * cannot be recomputed once dropped), unless a tier publishes one
  * first. On a throw the scope releases everything it made. Every
  * release is non-blocking. A scope owns only what its own calls made,
  * never the blocks of a scope nested in it, and serves one thread at
  * a time.
  */
final class Blocks private () {
  // (block, is a checkpoint)
  private val made = mutable.ArrayBuffer.empty[(DataFrame, Boolean)]

  /** `df` itself, persisted at MEMORY_AND_DISK. */
  def persist(df: DataFrame): DataFrame = {
    made += df.persist(StorageLevel.MEMORY_AND_DISK) -> false
    df
  }

  /** An eager `localCheckpoint` of `df` itself, so `df`'s observed
    * metrics are those of the checkpoint's job. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    made += cp -> true
    cp
  }

  /** Drop `df`, a block this scope made that nothing will read again. */
  def release(df: DataFrame): Unit = {
    val i = made.indexWhere(_._1 eq df)
    require(i >= 0, "release takes a block this scope made")
    drop(made.remove(i))
  }

  private def drop(block: (DataFrame, Boolean)): Unit =
    if (block._2) GraftBridge.uncheckpoint(block._1)
    else block._1.unpersist(blocking = false)

  private def exit(kept: Set[Int]): Unit = made.foreach { m =>
    if (m._2 && kept(GraftBridge.checkpointRddId(m._1)))
      Blocks.record(m._1.sparkSession, m._1)
    else drop(m)
  }
}

/** The blocks a SESSION owns: every block the library makes that no
  * scope and no tier holds. Each is recorded under the session that
  * made it: a lazy reuse [[persist]], a checkpoint a scope hands back
  * with its result, and a superseded, dir-evicted or cleared tier
  * generation (`graft.queries.BuiltIndexMemo`). `SparkEntry.release(s)`
  * drops exactly s's records ([[releaseSession]]). A published tier is
  * never a record, so no release reaches it; nor does one reach another
  * session's records, or a Dataset the caller persisted itself. The
  * records are thread-safe: concurrent queries of one session record
  * into one map.
  */
object Blocks {

  /** `body` run with a fresh scope, under the exit rule of [[Blocks]]. */
  def scoped[T](body: Blocks => T): T = {
    val b = new Blocks
    val out = try body(b) catch { case t: Throwable => b.exit(Set.empty); throw t }
    b.exit(out match {
      case ds: Dataset[_] => GraftBridge.checkpointLeaves(ds)
      case _ => Set.empty
    })
    out
  }

  // a checkpoint's RDD id, or a persisted Dataset itself, so that its
  // CacheManager entry goes with it
  private type Record = Either[Int, DataFrame]
  private val records =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Set[Record]]()

  private def add(s: SparkSession, r: Record): Unit =
    records.merge(s, Set(r), (a: Set[Record], b: Set[Record]) => a ++ b)

  /** `df` itself, persisted at MEMORY_AND_DISK and recorded under its
    * session: a lazy reuse point that lives until the session's
    * `SparkEntry.release`. A plan already cached (by the caller, or by
    * an earlier reuse point) is left to whoever cached it. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE)
      add(df.sparkSession, Right(df.persist(StorageLevel.MEMORY_AND_DISK)))
    df
  }

  /** Record the localCheckpointed `cp` under `s`. */
  private[graft] def record(s: SparkSession, cp: DataFrame): Unit =
    add(s, Left(GraftBridge.checkpointRddId(cp)))

  /** Take the localCheckpointed `cp` out of `s`'s records: a tier owns
    * it from here. */
  private[graft] def publish(s: SparkSession, cp: DataFrame): Unit = {
    val r: Record = Left(GraftBridge.checkpointRddId(cp))
    records.computeIfPresent(s, (_, rs) => rs - r)
  }

  /** Drop every block recorded under `s`, blocking until its storage is
    * freed (see `SparkEntry.release` for why). */
  private[graft] def releaseSession(s: SparkSession): Unit = {
    val rs = records.remove(s)
    if (rs != null && !s.sparkContext.isStopped) rs.foreach {
      case Left(id) => s.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = true))
      case Right(df) => df.unpersist(blocking = true)
    }
  }
}
