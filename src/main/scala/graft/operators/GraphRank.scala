package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Blocks

/** Fixed-point PageRank over an undirected edge list — the graph
  * centrality step of a dedup/link-analysis pipeline (rank canonical
  * documents inside near-dup neighborhoods, weight crawl frontiers).
  *
  * ALL arithmetic is 64-bit INTEGER fixed-point (ranks scaled by 1e12,
  * truncating division): floating-point PageRank is not reproducible
  * across engines because per-node contribution sums reorder, but
  * integer addition commutes exactly — so a fixed iteration count
  * yields bit-identical ranks in any engine, and the whole iterative
  * algorithm becomes hash-checkable (d37's DuckDB oracle unrolls the
  * same 10 iterations as chained CTEs). Bounds: Σ ranks ≈ scale = 1e12,
  * so 85·sum < 2^47 — no overflow anywhere.
  *
  * Scale shape: one equi-join + one aggregate per iteration, shuffled
  * on node id; per-iteration lineage truncated by eager localCheckpoint
  * (the DedupClustering discipline — persist alone nests one join per
  * iteration into the logical plan), in one [[graft.Blocks]] scope.
  */
object GraphRank {

  val Scale = 1000000000000L

  def pagerankFixedPoint(edges: DataFrame, iters: Int = 10,
      scale: Long = Scale): DataFrame = Blocks.scoped { b =>
    val sym = b.persist(edges
      .select(col("ia").cast("long").as("src"), col("ib").cast("long").as("dst"))
      .union(edges
        .select(col("ib").cast("long").as("src"), col("ia").cast("long").as("dst")))
      .distinct())
    // degree is static — carry it INSIDE the rank table so each
    // iteration costs one join + one aggregate + one reassembly join,
    // not an extra degree join per superstep
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val n = deg.count()
    require(n > 0, "pagerank needs a non-empty graph")
    // damping 0.85 as integer ops: base = (15·scale/100)/n, identical
    // truncation order in the oracle
    val base = (15L * scale / 100L) / n
    var lastCk = b.checkpoint(deg.withColumn("r", lit(scale / n)))
    var pr = lastCk
    // checkpoint every SECOND iteration (r20, the s74 cadence): `pr`
    // appears twice per superstep (contribution join + reassembly
    // join), so a lazy segment of k iterations holds 2^k copies of the
    // checkpointed parent subtree — at k = 2 that is 4 copies, the
    // documented-fine regime, and the full-materialization barrier
    // count halves (10 → 5). Checkpoint placement changes barrier
    // count, never rows: the fixed-point arithmetic is untouched.
    for (i <- 1 to iters) {
      val contribs = sym
        .join(pr.select(col("node").as("src"), expr("r div deg").as("c")),
          "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next = pr.select(col("node"), col("deg"))
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"),
          (lit(base) + expr("(85 * coalesce(s, 0)) div 100")).as("r"))
      if (i % 2 == 0 || i == iters) {
        val ck = b.checkpoint(next)
        b.release(lastCk)
        lastCk = ck
        pr = ck
      } else pr = next
    }
    pr.select(col("node").as("doc_id"), col("r").as("rank_scaled"))
  }
}
