package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Distributed Lloyd k-means over an embedding column — the full-corpus
  * clustering operator (corpus mixture analysis, cluster-balanced
  * sampling) that the IVF quantizer's bounded-sample training
  * deliberately is not.
  *
  * Scale shape (100 TB):
  *  - centroids are a broadcast k×dims driver artifact (like the IVF
  *    cells); assignment is a map-only pass per iteration;
  *  - the mean update is ONE map-side-combinable hash aggregate per
  *    iteration: rows explode to (cluster, dim, fixed-point value) but
  *    partial aggregation collapses each partition to ≤ k·dims rows
  *    before the shuffle — the corpus itself never reshuffles;
  *  - k-means is inherently multi-pass: `iters` full scans (callers
  *    cache the input when it fits the cluster's storage tier).
  *
  * Determinism: float sums are order-dependent, and Spark's partial
  * aggregation order is not — so component sums run in FIXED-POINT
  * (floor(x·2^20 + 0.5), summed as DECIMAL(38,0) — the
  * [[PortableHash.rhSignature]] trick, widened so the sum cannot wrap
  * at corpus scale). Integer addition is associative, which makes the means (and
  * hence every downstream assignment) bit-identical across runs,
  * partitionings, and engines — the p34 oracle reproduces the whole
  * iteration in SQL with plain SUM.
  */
object Clustering {

  /** 2^20 fixed-point scale — matches the rhSignature quantization. */
  private val Fix = 1048576L

  /** [[Similarity.argminL2]] with the row's float vector widened once. */
  private def argminL2(cents: Array[Array[Double]], v: Seq[Float]): Int =
    Similarity.argminL2(cents, v.iterator.map(_.toDouble).toArray)

  /** `iters` Lloyd iterations from the k lowest-id seeds; returns
    * (vec_id, cluster) under the FINAL centroids. Ties in the argmin
    * resolve to the smallest cluster (strict `<`), matching the oracle's
    * `ORDER BY dist ASC, cl ASC`. Empty clusters keep their previous
    * centroid. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = Materialize.scoped { s =>
    require(k > 0 && iters >= 0)
    // one cheap aggregate up front, BEFORE seeds and BEFORE the
    // repartition (the guard over the raw scan is a scan + 1-row
    // exchange; over the repartitioned relation it would pay a full
    // corpus shuffle just to validate): a ragged or null vector would
    // otherwise die as an opaque index error inside the seed collect or
    // the assignment UDF, or silently skew per-dimension means.
    // min/max SKIP nulls, so null rows are caught by the count compare,
    // not the size stats.
    val sz = df.agg(min(size(col(vecCol))).as("mn"),
      max(size(col(vecCol))).as("mx"),
      count(col(vecCol)).as("nonnull"), count(lit(1)).as("total")).head()
    require(sz.getLong(2) == sz.getLong(3),
      s"$vecCol has ${sz.getLong(3) - sz.getLong(2)} null vectors")
    require(!sz.isNullAt(0) && sz.getInt(0) == sz.getInt(1),
      s"$vecCol widths are ragged: [${if (sz.isNullAt(0)) "null" else sz.getInt(0)}, " +
        s"${if (sz.isNullAt(1)) "null" else sz.getInt(1)}]")

    val seedRows = df.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(k).collect()
    require(seedRows.length >= k, s"corpus has fewer than k=$k rows")
    var cents = seedRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)

    // pin the per-row assignment to full parallelism: a single-file scan
    // would run the UDF + explode on 1-2 tasks (same trap ivfAssign
    // documents). Persisted: every iteration's moment aggregate and the
    // final assignment otherwise re-scan AND re-shuffle the corpus once
    // per round (iters+1 passes measured) — one exchange into the storage
    // tier (spills to disk when the corpus outgrows memory) replaces them
    // all. Freed on return, once the final assignment is checkpointed, so
    // a long-lived session calling this repeatedly doesn't accumulate
    // storage blocks.
    val base = s.persist(df.select(col(idCol), col(vecCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism))

    for (_ <- 1 to iters) {
      val cl = cents
      val assignUdf = udf((v: Seq[Float]) => argminL2(cl, v))
      // (cluster, dim) → (Σ fixed-point component, cluster size): partial
      // agg collapses each partition to ≤ k·dims rows pre-shuffle
      // fixed-point partials accumulate in DECIMAL(38,0), not BIGINT: at
      // 100 TB, |component|·2^20 summed over billions of rows can pass
      // 2^63, where a Long sum wraps (or throws under ANSI) while the
      // DuckDB oracle's sum(BIGINT) silently widens to HUGEINT — the
      // engines would diverge exactly when the data is big. decimal(38)
      // matches HUGEINT's range to within 2x and stays associative.
      val stats = base
        .select(assignUdf(col(vecCol)).as("cl"), posexplode(col(vecCol)))
        .select(col("cl"), col("pos"),
          floor(col("col").cast("double") * Fix + lit(0.5)).cast("decimal(28,0)").as("fx"))
        .groupBy("cl", "pos")
        .agg(sum(col("fx")).as("s"), count(lit(1)).as("c"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          (r.getDecimal(2).doubleValue / Fix) / r.getLong(3).toDouble
      }
      cents = next
    }
    val fin = cents
    val finalAssign = udf((v: Seq[Float]) => argminL2(fin, v))
    s.checkpoint(base
      .select(col(idCol).as("vec_id"), finalAssign(col(vecCol)).as("cluster")))
  }

  /** DuckDB oracle for [[kmeans]] over the `embeddings` table: seeds +
    * per-iteration (assign aR → fixed-point sums mR → centroid list gR →
    * cR with empty-cluster carry) CTEs, unrolled. MATERIALIZED
    * throughout: the correlated argmin references each centroid CTE per
    * corpus row (see the Bpe oracle for the inlining failure mode).
    * Plain SUM is safe here BECAUSE the sums are integer fixed-point. */
  def kmeansOracleSql(k: Int, iters: Int, dims: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH c0 AS MATERIALIZED (
              |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
              |         list_transform(embedding, x -> x::DOUBLE) AS c
              |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $k))""".stripMargin
    def assignCte(name: String, centRel: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding,
         |         (SELECT cl FROM (
         |            SELECT p.cl, list_sum(list_transform(range(len(e.embedding)), i ->
         |              (e.embedding[i+1]::DOUBLE - p.c[i+1]) *
         |              (e.embedding[i+1]::DOUBLE - p.c[i+1]))) AS dist
         |            FROM $centRel p)
         |          ORDER BY dist ASC, cl ASC LIMIT 1) AS cl
         |  FROM embeddings e)""".stripMargin
    for (it <- 1 to iters) {
      sb ++= ",\n" + assignCte(s"a$it", s"c${it - 1}")
      sb ++= s""",
                |m$it AS MATERIALIZED (
                |  SELECT cl, t.i AS i,
                |         sum(CAST(floor(embedding[CAST(t.i + 1 AS INT)]::DOUBLE * $Fix + 0.5) AS BIGINT)) AS s,
                |         count(*) AS c
                |  FROM a$it, range($dims) t(i) GROUP BY cl, t.i),
                |g$it AS (SELECT cl, list((CAST(s AS DOUBLE) / $Fix) / c ORDER BY i) AS c
                |         FROM m$it GROUP BY cl),
                |c$it AS MATERIALIZED (SELECT p.cl, coalesce(g.c, p.c) AS c
                |  FROM c${it - 1} p LEFT JOIN g$it g USING (cl))""".stripMargin
    }
    sb ++= ",\n" + assignCte("afinal", s"c$iters")
    sb ++= "\nSELECT vec_id, CAST(cl AS INT) AS cluster FROM afinal ORDER BY vec_id"
    sb.toString
  }
}
