package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.Blocks

/** Connected components over a near-duplicate edge list — the dedup
  * CLUSTERING step: group mutually-similar documents so one canonical
  * doc per component survives (min id here).
  *
  * Algorithm: iterative min-label propagation — each superstep every
  * node adopts the smallest component label among itself and its
  * neighbors; converges in O(component diameter) supersteps, each one
  * join + one aggregate. Near-dup components have tiny diameters
  * (pairs/small cliques), so this terminates in 1-3 supersteps; for
  * adversarial long chains at 100 TB swap in the large-star/small-star
  * variant (same join primitive, logarithmic rounds).
  *
  * Each superstep (or star round) costs ONE Spark action: its eager
  * `localCheckpoint`. The convergence signal rides along inside that
  * job as a `Dataset.observe` over the step's final aggregate, read
  * off the executed plan (`GraftBridge.observedMetrics`), so the
  * driver reads one small metrics row per step and no label or edge
  * leaves the executors. Exactly once: nothing shuffles above the
  * observed node, so it runs in the checkpoint job's RESULT stage, and
  * the scheduler merges a result task's accumulator updates once per
  * partition (a retried or speculative copy of a finished partition is
  * dropped). A duplicated task therefore cannot inflate or deflate the
  * signal and stop the loop early.
  *
  * Both operators throw when `maxIter` runs out before convergence —
  * partial labels are not the component minima. Their persist and
  * checkpoints live in one [[graft.Blocks]] scope.
  */
object DedupClustering {

  /** Min-label propagation. The init IS superstep 0: every node starts
    * at the least of itself and its neighbors, so after it each label
    * is the minimum within one hop. It does not count against
    * `maxIter`, which bounds the supersteps after it; the last of those
    * is the one that observes no change. So a graph converges iff
    * `maxIter` ≥ its largest component diameter (a 30-node chain needs
    * 29). Throws `IllegalStateException` otherwise.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 10): DataFrame =
    Blocks.scoped { b =>
      // no distinct: min is idempotent, so a duplicate edge only repeats
      // a message. The persist is more than reuse: without it a d31
      // superstep over the d28 tier ran 5 jobs, not 3.
      val sym = b.persist(edges
        .select(col("ia").cast("long").as("src"), col("ib").cast("long").as("dst"))
        .union(edges
          .select(col("ib").cast("long").as("src"), col("ia").cast("long").as("dst"))))
      var labels = b.checkpoint(sym
        .groupBy(col("src")).agg(min(col("dst")).as("m"))
        .select(col("src").as("node"), least(col("src"), col("m")).as("comp")))
      var changed = 1L
      var i = 0
      while (changed > 0) {
        if (i == maxIter) throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter supersteps " +
            "after the init: some component's diameter exceeds maxIter")
        // messages from every neighbor plus the node's own label (the
        // only row carrying `old`), reduced by one aggregate
        val msgs = sym
          .join(labels.select(col("node").as("src"), col("comp")), "src")
          .select(col("dst").as("node"), col("comp"),
            lit(null).cast("long").as("old"))
        val own = labels.select(col("node"), col("comp"), col("comp").as("old"))
        val step = msgs.union(own)
          .groupBy(col("node"))
          .agg(min(col("comp")).as("comp"), max(col("old")).as("old"))
          .observe("cc", count_if(col("comp") < col("old")).as("changed"))
          .select(col("node"), col("comp"))
        val next = b.checkpoint(step)
        b.release(labels)
        labels = next
        changed = GraftBridge.observedMetrics(step)("cc").getLong(0)
        i += 1
      }
      labels.select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — same output
    * contract as [[connectedComponents]], but alternating large/small
    * star rounds converge in O(log n) REGARDLESS of component
    * diameter, where label propagation needs O(diameter) supersteps.
    * This is the adversarial-chain fallback the 100 TB posture calls
    * for: a transitive near-dup chain of length 10k converges in ~14
    * rounds here vs 10k supersteps there.
    *
    * Each round is two join+aggregate passes over the edge list. The
    * fixpoint check compares the edge set's (count, xor of edge
    * hashes) signature, observed inside each round's checkpoint job,
    * with the previous round's; `maxIter` rounds without a repeat
    * throw `IllegalStateException`.
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 25): DataFrame =
    Blocks.scoped { b =>
      // (edge count, order-independent xor of edge hashes — xor, not
      // sum: ANSI mode makes a long sum overflow), observed on top of
      // the edge generation's final distinct, inside its eager checkpoint
      def checkpointWithSig(df: DataFrame): (DataFrame, (Long, Long)) = {
        val gen = df.observe("sig", count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("x"))
        val cp = b.checkpoint(gen)
        val r = GraftBridge.observedMetrics(gen)("sig")
        (cp, (r.getLong(0), r.getLong(1)))
      }
      var (e, prevSig) = checkpointWithSig(edges
        .select(col("ia").cast("long").as("a"), col("ib").cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .distinct())
      var converged = false
      var i = 0
      while (!converged) {
        if (i == maxIter) throw new IllegalStateException(
          s"connectedComponentsStar did not converge in $maxIter rounds")
        // LARGE-STAR: for each center c, attach every strictly larger
        // neighbor to m = min(N(c) ∪ {c})
        val sym = e.select(col("u").as("c"), col("v").as("n"))
          .union(e.select(col("v").as("c"), col("u").as("n")))
        val mins = sym.groupBy(col("c")).agg(min(col("n")).as("mn"))
          .select(col("c"), least(col("mn"), col("c")).as("m"))
        val ls = b.persist(sym.join(mins, "c")
          .filter(col("n") > col("c"))
          .select(col("n").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct())
        // SMALL-STAR: for each center u over its smaller neighbors S,
        // attach S ∪ {u} to min(S) (ls edges are already big→small)
        val minsS = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
        val (next, nextSig) = checkpointWithSig(ls.join(minsS, "u")
          .select(col("v").as("a"), col("m").as("b"))
          .union(minsS.select(col("u").as("a"), col("m").as("b")))
          .filter(col("a") =!= col("b"))
          .select(greatest(col("a"), col("b")).as("u"),
            least(col("a"), col("b")).as("v"))
          .distinct())
        b.release(ls)
        b.release(e)
        e = next
        converged = nextSig == prevSig
        prevSig = nextSig
        i += 1
      }
      // every round keeps the edge set's node set and components, so at
      // the fixpoint the edges are stars over every node, rooted at the
      // component minima: a node's label is the least of itself and its
      // edges' v (a root is only ever a v)
      e.select(col("u").as("node"), col("v").as("root"))
        .union(e.select(col("v").as("node"), col("v").as("root")))
        .groupBy(col("node")).agg(min(col("root")).as("cluster_id"))
        .select(col("node").as("doc_id"), col("cluster_id"))
    }
}
