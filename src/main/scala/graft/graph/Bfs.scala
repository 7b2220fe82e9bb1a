package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Multi-source breadth-first search — hop distances from a seed set,
  * the reachability/recency primitive behind crawl frontier scheduling
  * ("how far is this page from a trusted seed"), link-spam distance
  * filters, and the seed-expansion step of corpus curation (TrustRank's
  * propagation set, Common Crawl's seed-distance cut).
  *
  * Synchronous frontier expansion: round h discovers every node adjacent
  * to the round-(h−1) frontier that no earlier round visited, and stamps
  * it `dist = h`. A FIXED hop bound is exposed rather than convergence
  * detection, for the same reason as [[LabelPropagation]]/[[KCore]]: the
  * bounded unrolled recurrence is what an external oracle can replay
  * query-for-query (and real curation cuts are bounded anyway — "within
  * k hops of a seed").
  *
  * Scale shape (100 TB of edges): the edge relation is hash-partitioned
  * by `src` ONCE and cached; per round one co-partitioned join of edges
  * against the frontier (frontier ships to the edges' layout — only node
  * ids move, never edges), one map-side-combinable `distinct` on the
  * discovered set, and one anti-join against the visited set. Frontier
  * and visited relations hold only (node, dist) pairs; each hop's
  * frontier is persisted and its visited set checkpointed
  * ([[graft.util.Materialize]]), and hop h−1's are freed once hop h is
  * materialised. Hub fan-out collapses in the distinct's partial
  * aggregation before the exchange.
  *
  * Determinism: a pure set recurrence on integers — independent of
  * partitioning, order, and engine.
  */
object Bfs {

  /** Hop distances after `maxHops` expansion rounds over the directed
    * `edges`, from the seed nodes in `sources` (a single-column relation;
    * seeds absent from the graph are still emitted at dist 0 — a seed
    * list is authoritative). Returns (node: long, dist: int); nodes not
    * reached within `maxHops` are absent. */
  def distances(edges: DataFrame, srcCol: String, dstCol: String,
                sources: DataFrame, sourceCol: String,
                maxHops: Int): DataFrame = Materialize.scoped { s =>
    require(maxHops >= 1 && maxHops <= 50, s"maxHops=$maxHops")
    val e = s.persist(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("src")))

    var visited = s.persist(sources.select(col(sourceCol).cast("long").as("node"))
      .distinct().withColumn("dist", lit(0)))
    var frontier = visited
    for (h <- 1 to maxHops) {
      val (seen, from) = (visited, frontier)
      frontier = s.persist(e
        .join(from.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(seen, Seq("node"), "left_anti")
        .withColumn("dist", lit(h)))
      // checkpointed: visited_h is read twice per hop (anti-join + union)
      visited = s.checkpoint(seen.unionByName(frontier))
      s.release(seen, from)
    }
    visited
  }
}
