package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Fixed-point logistic-regression quality classifier — the TRAINED
  * member of the fastText-style linear-filter family next to the
  * closed-form [[NaiveBayes]]: hashed bag-of-words features, full-batch
  * gradient descent with a hard sigmoid, every quantity a scaled
  * integer so training is bit-reproducible across runs, partitionings,
  * and engines (the p46 recurrence discipline — the oracle unrolls the
  * rounds as MATERIALIZED CTEs and replays each weight update exactly).
  *
  * Model, all integer at scale S = 10^6:
  *   - features x ∈ ℕ^{F+1}: word counts per hash bucket
  *     (poly31Cp(word) mod F — [[PortableHash]], the SQL-replayable
  *     kernel) plus a constant-1 bias slot;
  *   - logit z_i = Σ_j w_j·x_ij (w in S units);
  *   - hard sigmoid p_i = clamp(z_i + 2S, 0, 4S) >> 2 ∈ [0, S] — the
  *     standard piecewise-linear σ (slope 1/4 at 0), chosen over exp
  *     because the shift of a clamped NON-NEGATIVE value is exactly
  *     floor division in both engines (no libm, no rounding-mode edge);
  *   - full-batch gradient g_j = Σ_i (p_i − S·y_i)·x_ij — an integer
  *     sum, order-independent;
  *   - update w_j ← w_j − tdiv(g_j, lrMul·n) with tdiv = division
  *     truncated toward zero (Java `/`; `CASE WHEN g≥0 THEN g//d ELSE
  *     −((−g)//d) END` in SQL — floor-vs-trunc on negatives is pinned).
  *
  * Prediction: p ≥ S/2 ⇔ z ≥ 0.
  *
  * Scale shape (100 TB): features are ONE map-side pass (the corpus
  * never re-tokenizes per round); each round is one map-side-combinable
  * hash aggregate over (F+1)·n exploded feature terms, collected as
  * F+1 rows — the weight vector is a bounded driver artifact like the
  * IVF centroids and the BPE merge list; `rounds` jobs total. */
object Logistic {

  val Scale = 1000000L

  private def featUdf(bF: Int) = udf((ws: Seq[String]) => {
    val x = new Array[Long](bF + 1)
    ws.foreach(w => x((PortableHash.poly31Cp(w) % bF).toInt) += 1L)
    x(bF) = 1L
    x
  })

  private def dotUdf(w: Array[Long]) = udf((x: Seq[Long]) => {
    var s = 0L; var j = 0
    while (j < x.length) { s += x(j) * w(j); j += 1 }
    s
  })

  /** Hard sigmoid in S units of a logit column: clamp(z+2S, 0, 4S) >> 2 —
    * the shift of a non-negative value is floor division in both
    * engines. */
  private def hardSigmoid(z: org.apache.spark.sql.Column) =
    shiftright(least(greatest(z + lit(2L * Scale), lit(0L)),
      lit(4L * Scale)), 2)

  /** The GD loop over an already-featurized (y, x) relation; the weight
    * vector is a bounded driver artifact updated from F+1 collected
    * gradient rows per round. */
  private def gdLoop(f: DataFrame, nW: Int, rounds: Int,
                     lrDen: Long): Array[Long] = {
    var w = Array.fill(nW)(0L)
    var r = 0
    while (r < rounds) {
      val gMap = f
        .select(col("y"), col("x"), dotUdf(w)(col("x")).as("z"))
        .select((hardSigmoid(col("z")) - lit(Scale) * col("y")).as("err"),
          posexplode(col("x")))
        .toDF("err", "j", "xj")
        .groupBy("j").agg(sum(col("xj") * col("err")).as("g"))
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      // Java / truncates toward zero — the SQL sign-split idiom's twin
      w = w.indices.map(j => w(j) - gMap.getOrElse(j, 0L) / lrDen).toArray
      r += 1
    }
    w
  }

  private def featurize(df: DataFrame, idCol: String, textCol: String,
                        labelCol: String, nBuckets: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(par)
      .select(col(idCol).as("doc_id"), col(labelCol).cast("long").as("y"),
        featUdf(nBuckets)(TextAnalysis.words(col(textCol))).as("x"))
  }

  /** Train on (`idCol`, `textCol`, 0/1 `labelCol`) and score every row.
    * Returns (doc_id, y, score_fp, pred, correct): `score_fp` the hard
    * sigmoid in S units, `pred` the thresholded class. */
  def trainPredict(df: DataFrame, idCol: String, textCol: String,
                   labelCol: String, nBuckets: Int = 8, rounds: Int = 3,
                   lrMul: Long = 16L): DataFrame = Materialize.scoped { s =>
    require(nBuckets >= 1 && rounds >= 1 && lrMul >= 1,
      s"nBuckets=$nBuckets rounds=$rounds lrMul=$lrMul")
    // one tokenize+hash pass, persisted: every round reads (y, x) only;
    // freed on return, after the eager checkpoint of the result
    val f = s.persist(featurize(df, idCol, textCol, labelCol, nBuckets))
    val w = gdLoop(f, nBuckets + 1, rounds, lrMul * f.count())
    s.checkpoint(f.select(col("doc_id"), col("y").cast("int").as("y"),
        hardSigmoid(dotUdf(w)(col("x"))).as("score_fp"))
      .select(col("doc_id"), col("y"), col("score_fp"),
        when(col("score_fp") * 2 >= Scale, 1).otherwise(0).as("pred"))
      .withColumn("correct", col("pred") === col("y")))
  }

  /** The final trained weights alone — exposed for the scalar-parity
    * spec (same featurize + GD loop as [[trainPredict]]). */
  private[graft] def trainWeights(df: DataFrame, idCol: String,
                                  textCol: String, labelCol: String,
                                  nBuckets: Int, rounds: Int,
                                  lrMul: Long): Array[Long] =
    Materialize.scoped { s =>
      val f = s.persist(featurize(df, idCol, textCol, labelCol, nBuckets))
      gdLoop(f, nBuckets + 1, rounds, lrMul * f.count())
    }
}
