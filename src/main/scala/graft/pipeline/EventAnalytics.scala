package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Event-log product analytics — the cohort/funnel pair every
  * OLAP-on-events engine ships. Both are count-shaped (exact integers,
  * no float folds), so the oracle matches bit-for-bit, and both follow
  * the one-shuffle-per-concept rule at 100 TB: events hash by user once;
  * nothing ever sorts globally.
  */
object EventAnalytics {

  /** Weekly cohort retention: cohort = the Monday-truncated week of a
    * user's first event; cell (cohort, offset) = how many of that
    * cohort's users were active `offset` weeks later, with the retention
    * ratio against the cohort size. Week arithmetic stays integral
    * (truncated weeks differ by exact multiples of 7 days), so both
    * engines bucket identically.
    *
    * Scale shape: one user-keyed aggregate for first-activity, one
    * co-partitioned join back (same user hash), one distinct over
    * (cohort, offset, user) — map-side combinable — and a tiny
    * (cohort × offset) output. */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val e = events.select(col(userCol).as("user_id"),
      date_trunc("week", col(tsCol)).cast("date").as("wk"))
    val first = e.groupBy("user_id").agg(min("wk").as("cohort"))
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    e.join(first, "user_id")
      .select(col("cohort"),
        expr("datediff(wk, cohort) div 7").cast("int").as("offset_w"),
        col("user_id"))
      .distinct()
      .groupBy("cohort", "offset_w")
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("offset_w"), col("active_users"),
        col("cohort_size"),
        round(col("active_users").cast("double") / col("cohort_size"), 6)
          .as("retention"))
  }

  /** Exponentially-weighted moving average per user — the monitoring /
    * feature-engineering smoother: EWMA₀ = x₀, EWMAₜ = (1−α)·EWMAₜ₋₁ +
    * α·xₜ, folded in the UNIQUE order column's order. α must be exactly
    * representable in binary (¼, ½, …) so both engines run identical
    * IEEE multiply-adds on identical operands in identical order — the
    * p38 ordered-fold convention, with the first element as the seed.
    * One user-keyed aggregate; state is the collected per-user sequence
    * (events-per-user bounded, the same contract as the other ordered
    * folds). */
  def ewma(events: DataFrame, userCol: String, orderCol: String,
           valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha")
    events
      .select(col(userCol).as("user_id"), col(orderCol).as("oid"),
        col(valueCol).as("v"))
      .groupBy("user_id")
      .agg(count(lit(1)).cast("int").as("n_events"),
        aggregate(
          sort_array(collect_list(struct(col("oid"), col("v")))),
          struct(lit(true).as("first"), lit(0.0).as("acc")),
          (st, x) => struct(
            lit(false).as("first"),
            when(st.getField("first"), x.getField("v"))
              .otherwise(st.getField("acc") * lit(1 - alpha)
                + x.getField("v") * lit(alpha)).as("acc")))
          .getField("acc").as("raw"))
      .select(col("user_id"), col("n_events"),
        round(col("raw"), 6).as("ewma"))
  }

  /** [[ewma]] without the whole-sequence aggregation buffer — the sliced
    * escape hatch for pathological per-user event counts (bot traffic),
    * the [[graft.operators.AsofJoin]] `backwardSliced` pattern applied to
    * an ordered fold. Events rank per user (one window), slices of
    * `sliceSize` fold independently into an affine carry
    * `y_out = coef·y_in + add` (EWMA steps compose affinely), and a
    * second ordered fold over the per-user SLICE relation — ≤ ⌈n/B⌉ rows
    * per user — chains the carries. No aggregation buffer ever holds more
    * than `sliceSize` events or ⌈n/B⌉ carries.
    *
    * Equality contract: at `sliceSize = 1` the carry chain executes the
    * EXACT operation sequence of [[ewma]] (bit-identical IEEE results);
    * at larger slices the slice-local Horner fold regroups the same
    * multiply-adds, algebraically identical but associativity-shifted by
    * O(ulp) — equal after the shared round-to-6 output contract for any
    * non-adversarial magnitudes (pinned in EventAnalyticsSpec against
    * both [[ewma]] and a scalar replica). */
  def ewmaSliced(events: DataFrame, userCol: String, orderCol: String,
                 valueCol: String, alpha: Double,
                 sliceSize: Int = 4096): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha")
    require(sliceSize >= 1, s"sliceSize=$sliceSize")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("oid")
    val sliced = events
      .select(col(userCol).as("user_id"), col(orderCol).as("oid"),
        col(valueCol).as("v"))
      .withColumn("slice_id", expr(s"(row_number() OVER (PARTITION BY user_id ORDER BY oid) - 1) div $sliceSize"))
    // per slice: the continuation map (coef, add) and the seeded value
    // vfirst (what the fold yields when this slice STARTS the sequence)
    val carries = sliced
      .groupBy("user_id", "slice_id")
      .agg(count(lit(1)).as("cnt"),
        aggregate(
          sort_array(collect_list(struct(col("oid"), col("v")))),
          struct(lit(1.0).as("coef"), lit(0.0).as("add"),
            lit(0.0).as("vfirst"), lit(true).as("first")),
          (st, x) => struct(
            (st.getField("coef") * lit(1 - alpha)).as("coef"),
            (st.getField("add") * lit(1 - alpha)
              + x.getField("v") * lit(alpha)).as("add"),
            when(st.getField("first"), x.getField("v"))
              .otherwise(st.getField("vfirst") * lit(1 - alpha)
                + x.getField("v") * lit(alpha)).as("vfirst"),
            lit(false).as("first")))
          .as("carry"))
    carries
      .groupBy("user_id")
      .agg(sum("cnt").cast("int").as("n_events"),
        aggregate(
          sort_array(collect_list(struct(col("slice_id"), col("carry")))),
          struct(lit(true).as("first"), lit(0.0).as("acc")),
          (st, s) => struct(
            lit(false).as("first"),
            when(st.getField("first"), s.getField("carry").getField("vfirst"))
              .otherwise(s.getField("carry").getField("coef")
                  * st.getField("acc")
                + s.getField("carry").getField("add")).as("acc")))
          .getField("acc").as("raw"))
      .select(col("user_id"), col("n_events"),
        round(col("raw"), 6).as("ewma"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next type | current type), with counts. Sequences order by the
    * UNIQUE event id (total order — timestamp ties cannot flip
    * transitions between runs or engines). One user-keyed window + one
    * (from, to) hash aggregate; the matrix is |types|² — a bounded
    * artifact at any event volume. */
  def transitionMatrix(events: DataFrame, userCol: String, orderCol: String,
                       typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("oid")
    val t = events.select(col(userCol).as("user_id"),
        col(orderCol).as("oid"), col(typeCol).as("et"))
      .withColumn("next_et", lead("et", 1).over(w))
      .where(col("next_et").isNotNull)
      .groupBy(col("et").as("from_type"), col("next_et").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = t.groupBy("from_type").agg(sum("cnt").as("row_total"))
    t.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("cnt"), col("row_total"),
        round(col("cnt").cast("double") / col("row_total"), 6).as("p"))
  }

  /** Ordered funnel: users completing `steps` IN ORDER, each step
    * strictly after the previous one's earliest completion (the
    * standard "first touch" funnel semantics — min-timestamp chaining,
    * not any-subsequence matching, so the result is deterministic and
    * replayable). Emits one row per step: (step_idx, step, n_users).
    *
    * Scale shape: one filtered user-keyed aggregate per step (steps are
    * few and fixed), each joined co-partitioned on user to the previous
    * step's (user, t) relation; per-user state is ONE timestamp. Each
    * step's survivor relation materializes EAGERLY (its count IS the
    * step's output row — a bounded scalar, not a driver-side loop), so
    * the previous step's cache is freed as soon as the next step exists:
    * peak cache is two survivor relations, not one per step. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val e = events.select(col(userCol).as("user_id"),
      col(tsCol).as("ts"), col(typeCol).as("et"))
    Materialize.scoped { s =>
      var cur = s.persist(e.where(col("et") === steps.head)
        .groupBy("user_id").agg(min("ts").as("t")))
      val counts = Seq.newBuilder[(Int, String, Long)]
      counts += ((1, steps.head, cur.count()))
      steps.zipWithIndex.drop(1).foreach { case (step, i) =>
        val prev = cur
        cur = s.persist(e.where(col("et") === step)
          .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
          .where(col("ts") > col("prev_t"))
          .groupBy("user_id").agg(min("ts").as("t")))
        counts += ((i + 1, step, cur.count())) // materializes cur off prev's cache
        s.release(prev)
      }
      counts.result()
    }.toDF("step_idx", "step", "n_users")
  }
}
