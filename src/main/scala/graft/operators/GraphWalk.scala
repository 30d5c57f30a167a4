package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Beam search over a kNN graph — the one walk behind the graph-ANN
  * family (s71/s73's flat walk, s74's two-layer entry search and
  * StressBench's scale rows).
  *
  * Inputs: `q` (qid, qemb) the query vectors, `nodes` (nid, nemb) the
  * graph's vectors, `edges` (src, dst) its out-edges, `seeds` (qid,
  * nid) each query's starting nodes. Hop 0 scores the seeds; every
  * later hop keeps each query's beam (the top-`beam` visited nodes by
  * exact rounded cosine, id tie-break), walks the beam's out-edges,
  * scores only arrivals not yet visited (an anti-join, so no pair is
  * scored twice) and unions them into the visited set. Every join is
  * keyed by node or query id and a query's frontier is ≤ beam ×
  * out-degree rows a hop: at 100 TB a search touches O(hops × beam ×
  * degree) nodes per query while the edge table shuffles only by node
  * id, never pairwise. Cosine needs `VectorFunctions.register` on the
  * session.
  */
object GraphWalk {

  /** The visited set (qid, nid, cosine) after `hops` expansion rounds.
    * `excludeQ` drops arrivals at the query's own node (a corpus-member
    * query would answer itself at cosine 1.0); a layer whose ids are
    * not the query's must keep them.
    *
    * `checkpointEvery = 0` keeps the walk one lazy plan — fine for the
    * 2-hop walks, and what lets the oracle unroll the same hops as
    * CTEs. A lazy hop references the visited set three times (beam,
    * anti-join, union), so a deeper walk grows 3^hops plan copies:
    * `checkpointEvery = k` truncates it with an eager localCheckpoint
    * of hop 0, every k-th hop and the last hop, releasing the one
    * before. Placement changes the barrier count, never the rows. A
    * failing hop releases the live checkpoint before the error
    * propagates; the returned checkpoint is the caller's. */
  def beamWalk(q: DataFrame, nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, hops: Int, beam: Int, excludeQ: Boolean,
      checkpointEvery: Int): DataFrame = {
    def scored(frontier: DataFrame): DataFrame =
      frontier.join(nodes, "nid").join(broadcast(q), "qid")
        .select(col("qid"), col("nid"), round(VectorFunctions.cosineSim(
          col("qemb"), col("nemb")), 6).as("cosine"))
    def grow(v: DataFrame): DataFrame = {
      val walked = top(v, beam).join(edges, col("nid") === col("src"))
        .select(col("qid"), col("dst").as("nid"))
      val fresh = (if (excludeQ) walked.filter(col("nid") =!= col("qid"))
        else walked).distinct()
        .join(v.select(col("qid"), col("nid")), Seq("qid", "nid"),
          "left_anti")
      v.unionByName(scored(fresh))
    }
    val hop0 = scored(seeds)
    if (checkpointEvery == 0) (1 to hops).foldLeft(hop0)((v, _) => grow(v))
    else {
      var lastCp: DataFrame = null
      try {
        lastCp = hop0.localCheckpoint(true)
        var visited = lastCp
        for (h <- 1 to hops) {
          val grown = grow(visited)
          if (h % checkpointEvery == 0 || h == hops) {
            val nv = grown.localCheckpoint(true)
            GraftBridge.uncheckpoint(lastCp)
            lastCp = nv
            visited = nv
          } else visited = grown
        }
        visited
      } catch {
        case e: Throwable =>
          if (lastCp != null) GraftBridge.uncheckpoint(lastCp)
          throw e
      }
    }
  }

  /** Two-layer entry search (HNSW-style, Malkov & Yashunin 2018) for
    * queries that need not be graph members. Layer 1 is every
    * `stride`-th layer-0 node, re-keyed to rank id = id / stride. Every
    * query walks layer 1 for `upperHops` from the one global entry (rid
    * 0 and its out-edges), elects its top-`beam` layer-1 nodes as entry
    * points, then walks layer 0 for `descentHops` from the entries and
    * their out-edges, its own node excluded throughout. The upper walk
    * must not exclude: rid r is node r × stride, not the query.
    * Returns the descent's visited set (qid, nid, cosine), checkpointed
    * by its last hop. */
  def entrySearch(q: DataFrame, nodes0: DataFrame, edges0: DataFrame,
      nodes1: DataFrame, edges1: DataFrame, stride: Int, beam: Int,
      upperHops: Int, descentHops: Int): DataFrame = {
    val entry0 = q.select(col("qid"))
      .crossJoin(broadcast(nodes1.filter(col("nid") === 0)
        .select(col("nid"))))
      .unionByName(q.select(col("qid"))
        .crossJoin(broadcast(edges1.filter(col("src") === 0)
          .select(col("dst").as("nid")))))
      .distinct()
    val upper = beamWalk(q, nodes1, edges1, entry0, upperHops, beam,
      excludeQ = false, checkpointEvery = 0)
    // a single entry leaves whole regions unreachable — multi-entry
    // seeding lifted s74's sf0.1 recall 0.23 → 0.40
    val bestE = top(upper, beam)
      .select(col("qid"), (col("nid") * stride).as("entry_id"))
    val seeds = bestE.select(col("qid"), col("entry_id").as("nid"))
      .unionByName(bestE.join(edges0, col("entry_id") === col("src"))
        .select(col("qid"), col("dst").as("nid")))
      .filter(col("nid") =!= col("qid")).distinct()
    // a checkpoint every second hop bounds each lazy segment at 3² = 9
    // plan copies, the regime of the 2-hop walks, with half the
    // per-hop barriers that dominated s74's row (6 → 3)
    beamWalk(q, nodes0, edges0, seeds, descentHops, beam,
      excludeQ = true, checkpointEvery = 2)
  }

  /** Each query's top-`beam` visited nodes (qid, nid). */
  private def top(v: DataFrame, beam: Int): DataFrame =
    v.withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("nid").asc)))
      .filter(col("rn") <= beam)
      .select(col("qid"), col("nid"))
}
