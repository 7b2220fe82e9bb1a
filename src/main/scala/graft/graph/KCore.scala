package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Parallel k-core peeling — the degeneracy-based density filter
  * (Seidman 1983; the standard "throw away the sparse fringe" step
  * before community detection or spam-cluster analysis on a web or
  * similarity graph: nodes outside the k-core can't belong to any
  * k-dense structure).
  *
  * Synchronous peel: each round drops every node whose degree within
  * the currently-alive set is below k — the distributed formulation
  * (one round removes ALL under-k nodes at once; the sequential
  * min-degree peel reaches the same fixed point, this one just takes
  * ≤ |V| rounds and usually a handful). A FIXED round count is exposed
  * rather than convergence detection, for the same reason as
  * [[LabelPropagation]]: the bounded unrolled recurrence is what an
  * external oracle can replay query-for-query. Callers wanting the
  * true core run with `rounds` at the observed convergence depth
  * (degree distributions collapse geometrically; single digits in
  * practice).
  *
  * Scale shape: the symmetric edge relation is partitioned by `src`
  * once and cached; per round, one join of edges against the alive
  * set on `src`, one semi-join on `dst`, and one map-side-combined
  * count — only node lists ever move, and a hub's edges collapse to
  * its count before the exchange. Each round's alive set is
  * checkpointed and the previous one freed ([[graft.util.Materialize]]),
  * which keeps the unrolled plan linear in rounds (the alive set feeds
  * both joins).
  *
  * Determinism: pure integer set recurrence — partitioning- and
  * order-independent.
  */
object KCore {

  /** Nodes alive after `rounds` synchronous peels of the undirected
    * simple graph induced by `edges` (direction, multiplicity, and
    * self-loops normalized away). Returns (node: long, deg: long)
    * where `deg` is the node's degree within the PREVIOUS round's
    * alive set — the quantity the final peel tested (≥ k by
    * construction). */
  def prune(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = Materialize.scoped { s =>
    require(k >= 1, s"k=$k")
    require(rounds >= 1 && rounds <= 50, s"rounds=$rounds")
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val sym = s.persist(canon
      .unionByName(canon.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .repartition(col("src")))

    val alive0 = s.persist(sym.select(col("src").as("node")).distinct()
      .withColumn("deg", lit(-1L)))
    s.iterate(alive0, rounds) { (alive, _) =>
      // count alive in-neighbors per DST endpoint: the symmetric relation
      // makes in-neighbors = neighbors, so one map-side-combined count
      // keyed by dst replaces the former dst-keyed LEFT SEMI of raw edge
      // rows followed by a src-keyed recount — two edge-sized exchanges
      // per round collapse into one exchange of pre-aggregated counts
      // (guide §2.3 "aggregate before you shuffle"); aliveness of the
      // counted node itself is re-imposed by the (node-sized) join below
      val cnt = sym
        .join(alive.select(col("node").as("src")), "src")
        .groupBy(col("dst")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
      // alive_r is read twice by round r+1 (the src filter and the
      // alive re-check) — iterate checkpoints it
      cnt.join(alive.select(col("node").as("dst")), "dst")
        .select(col("dst").as("node"), col("deg"))
    }
  }
}