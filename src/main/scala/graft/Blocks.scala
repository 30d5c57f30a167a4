package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge}
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
  * result reads none. The kept checkpoints are the caller's (they
  * cannot be recomputed once dropped; `SparkEntry.release` reaps them).
  * On a throw the scope releases everything it made. Every release is
  * non-blocking. A scope owns only what its own calls made, never the
  * blocks of a scope nested in it, and serves one thread at a time.
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

  private def exit(kept: Set[Int]): Unit =
    made.filterNot(m => m._2 && kept(GraftBridge.checkpointRddId(m._1)))
      .foreach(drop)
}

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
}
