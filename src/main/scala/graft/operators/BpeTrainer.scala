package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Blocks

/** Byte-pair-encoding tokenizer TRAINING, K merge steps — the bounded
  * superstep completion of t63's single-step merge frontier (SURVEY
  * §2.12 text family; same loop discipline as
  * [[GraphRank.pagerankFixedPoint]]).
  *
  * Semantics are the canonical BPE trainer (Sennrich et al. 2016,
  * arXiv:1508.07909): start from the corpus's word-frequency table
  * with each word as a character sequence; each step counts adjacent
  * symbol pairs weighted by word frequency, commits the single most
  * frequent pair (ties broken (left, right) ascending — binary string
  * order in both engines), and rewrites every word by replacing
  * occurrences of that pair LEFT-TO-RIGHT, NON-OVERLAPPING with the
  * concatenated symbol. The committed merges ARE the trained
  * tokenizer.
  *
  * The rewrite is a single `aggregate` fold over the symbol array
  * (codegen'd, map-side, no shuffle): fold state is the space-joined
  * symbol string; a step merges iff the incoming symbol equals `right`
  * and the fold's LAST symbol equals `left`. That fold is exactly
  * left-to-right non-overlapping replacement because a just-merged
  * symbol (`left+right`) can never re-match `left` (`right` is
  * non-empty, symbols never contain the space delimiter — they come
  * from whitespace-split tokens). The DuckDB oracle runs the identical
  * fold via `list_reduce`.
  *
  * SCALE: the corpus collapses to the word-frequency table BEFORE the
  * loop (one corpus-keyed shuffle, the t63 posture), so each superstep
  * costs one (l, r)-keyed pair aggregation over the VOCABULARY plus a
  * map-side rewrite — corpus volume never re-enters. Pair rows per
  * word are capped at maxChars−1 (the 32-char cap shared with t63 and
  * the reference's m33 bounded-sample contract). Each step
  * checkpoints the rewritten vocabulary and releases the previous one
  * in one [[graft.Blocks]] scope, so lineage and storage stay O(1) in K.
  */
object BpeTrainer {

  /** One committed merge's rewrite, as a codegen'd fold column over a
    * symbol-array column (see the fold-equivalence argument above):
    * returns the SPACE-JOINED rewritten symbol string — callers
    * `split(_, " ")` it back to an array. Shared by the training loop
    * and by merge APPLICATION (t67 replays the trained merge table
    * over the corpus). */
  def rewriteFold(syms: Column, left: String, right: String,
      merged: String): Column =
    aggregate(syms, lit(""), (acc, x) =>
      when(acc === lit(""), x)
        .when(x === lit(right) && (acc === lit(left) ||
            acc.endsWith(concat(lit(" "), lit(left)))),
          concat(acc.substr(lit(1), length(acc) - length(lit(left))),
            lit(merged)))
        .otherwise(concat(acc, lit(" "), x)))

  /** Run `k` merge steps over `words` — (w STRING, wf LONG/INT), the
    * corpus's word-frequency collapse. Returns one Row per committed
    * merge: (step, left_sym, right_sym, merged, n_occurrences), in
    * step order; stops early if the vocabulary runs out of pairs.
    * Driver-side loop control (one 1-row collect per step) — callers
    * that expose this as a registry entry wrap it in
    * [[graft.plans.DeferredRows]] so the loop fires at first action,
    * not at plan construction. */
  def trainMerges(words: DataFrame, k: Int, maxChars: Int = 32): Seq[Row] =
    Blocks.scoped { b =>
      var cur = b.checkpoint(words
        .select(split(substring(col("w"), 1, maxChars), "").as("syms"),
          col("wf").cast("long").as("wf")))
      val out = Seq.newBuilder[Row]
      var step = 1
      var exhausted = false
      while (step <= k && !exhausted) {
        val top = cur.filter(size(col("syms")) >= 2)
          .select(col("wf"), explode(expr(
            "transform(sequence(1, size(syms) - 1), i -> " +
              "struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wf")).as("n_occ"))
          .orderBy(col("n_occ").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val left = top(0).getString(0)
          val right = top(0).getString(1)
          val merged = left + right
          out += Row(step.toLong, left, right, merged, top(0).getLong(2))
          val next = b.checkpoint(cur.select(
            split(rewriteFold(col("syms"), left, right, merged), " ")
              .as("syms"), col("wf")))
          b.release(cur)
          cur = next
          step += 1
        }
      }
      out.result()
    }
}
