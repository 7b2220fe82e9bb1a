package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Synchronous label propagation — community detection over the same
  * edge relations [[PageRank]] ranks: nodes repeatedly adopt the most
  * frequent label among their neighbors (plus their own current label,
  * the standard self-vote that damps the bipartite two-coloring
  * oscillation sync LPA is prone to). Communities group nodes that share
  * neighborhoods — on a customer↔supplier trade graph, market segments.
  *
  * Determinism (oracle hash-compares every row): the argmax — highest
  * vote count, smallest label on ties — is exact integer logic: the
  * vote aggregate emits UNIQUE (node, label) rows, so a row_number
  * window ordered (count desc, label asc) has a total order within each
  * node and its first row IS the argmax, independent of partitioning.
  * (The compact `max(struct(count, -label))` spelling is semantically
  * identical but structs can't hash-aggregate: Spark plans it as
  * partial+final SortAggregate, i.e. two full sorts of the vote relation
  * per round — verified in the plan, rejected. The r11/r12 spelling —
  * max-count + equi-join + min-label, three hash aggregations and a
  * (node, c) join — was five exchanges per round; the rn = 1 filter
  * plans a partial WindowGroupLimit that cuts to one row per node per
  * map partition BEFORE the window exchange, so the window shuffle is
  * near-empty and the whole argmax is one exchange.) A fixed round count
  * is reported rather than convergence detection (LPA's fixed point is
  * not unique; the bounded unrolled form is what an oracle can replay).
  *
  * Scale shape: per round, one join of the label relation against the
  * src-partitioned cached edge relation (edges never re-shuffle), one
  * map-side-combined vote aggregation, and the group-limited argmax
  * window. Only (node, label) pairs ever move; a hub's votes collapse
  * map-side before the exchange, and the argmax state is one row per
  * (node, partition) — skew-safe. Per-round label checkpoints
  * ([[graft.util.Materialize.Scope.iterate]]) keep the plan LINEAR in
  * rounds — each round's labels feed two consumers (the neighbor join and
  * the self-vote), which otherwise doubles the lineage every round — and
  * they hold node-bounded relations only.
  */
object LabelPropagation {

  /** Community labels after `rounds` of synchronous propagation over the
    * directed `edges` (make them bidirectional for the undirected
    * semantics). Returns (node: long, label: long); initial label =
    * node id. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          rounds: Int): DataFrame = Materialize.scoped { s =>
    require(rounds >= 1 && rounds <= 50, s"rounds=$rounds")
    val e = s.persist(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src")))
    val nodes = s.persist(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().repartition(col("node")))

    import org.apache.spark.sql.expressions.Window
    s.iterate(nodes.select(col("node"), col("node").as("label")), rounds) {
      (labels, _) =>
        val votes = e.join(labels.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), col("label"))
          .unionByName(labels) // self-vote
          .groupBy("node", "label").agg(count(lit(1)).as("c"))
        // argmax (highest count, smallest label) as ONE row_number window —
        // round 13: the former max-count + equi-join + min-label spelling
        // cost three aggregations and a (node, c) join, five exchanges per
        // round, and needed `votes` persisted (two consumers). (node, label)
        // rows are unique out of the aggregate, so the (c desc, label asc)
        // order is total within a node: row_number = 1 IS the argmax,
        // deterministically. The rn = 1 filter plans a partial
        // WindowGroupLimit (SPARK-37099) that cuts each map partition to one
        // row per node BEFORE the exchange — the window shuffle ships ≤ one
        // row per (node, input partition), never the vote relation. Two
        // exchanges per round, votes consumed once, no persist.
        // labels_r is read twice by round r+1 (neighbor join + self-vote);
        // iterate checkpoints it. (p46 PageRank needs no checkpoint: its
        // rank relation is read once per round — linear.)
        val w = Window.partitionBy("node")
          .orderBy(col("c").desc, col("label").asc)
        votes.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("node"), col("label"))
    }
  }
}
