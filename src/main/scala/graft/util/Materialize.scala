package graft.util

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** The one way an operator materialises intermediate frames: inside
  * `scoped { s => … }`, the [[Scope]] owns every frame it persists or
  * checkpoints.
  *
  *  - On normal exit it releases every owned frame that the returned
  *    frame's plan does not read, directly or through a cached frame it
  *    reads. An operator thus leaves cached exactly what its lazy result
  *    needs, and nothing when the result is not a DataFrame.
  *  - On an exception it releases every owned frame.
  *  - It never touches a frame it did not create. Frames are tracked by
  *    object, not by diffing the session's persisted-RDD registry, so
  *    scopes on other threads of a shared session are safe.
  *
  * Iterative rounds checkpoint rather than persist. Round r+1 usually
  * reads round r twice, so an uncut analysed plan doubles every round,
  * and Spark stringifies it on every AQE event: four label-propagation
  * rounds (p49) once spent 120+ s of driver time at any data size. A
  * local checkpoint cuts the lineage to one RDD leaf per round. It is
  * never recomputed, so round r−1 may be freed once round r is
  * materialised: at once for an eager checkpoint, after the first job
  * that reads it for a lazy one. Local checkpoints do not survive
  * executor loss; reliable checkpoints have the same shape. */
object Materialize {

  /** Run `body` with a fresh [[Scope]] and apply the scope rule to its
    * result. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    val out =
      try body(s)
      catch { case e: Throwable => s.releaseAll(); throw e }
    s.close(out)
    out
  }

  final class Scope private[Materialize] () {
    private val persisted = mutable.ArrayBuffer.empty[DataFrame]
    private val checkpoints = mutable.ArrayBuffer.empty[(DataFrame, RDD[_])]

    /** `df.persist()`, owned by this scope — unless the session already
      * caches the same plan, in which case that cache serves and stays
      * its owner's. */
    def persist(df: DataFrame): DataFrame = {
      if (cachedBuilder(df).isEmpty) persisted += df.persist()
      df
    }

    /** `df.localCheckpoint(eager)`, owned by this scope. A lazy
      * checkpoint materialises inside the next job that reads it, which
      * keeps a data-dependent loop at one job per round. */
    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
      val cp = df.localCheckpoint(eager)
      checkpoints += (cp -> checkpointRdd(cp))
      cp
    }

    /** Free owned frames now (typically round r−1 once round r is
      * materialised); frames this scope does not own are ignored. */
    def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
      val p = persisted.indexWhere(_ eq df)
      if (p >= 0) persisted.remove(p).unpersist(false)
      val c = checkpoints.indexWhere(_._1 eq df)
      if (c >= 0) checkpoints.remove(c)._2.unpersist(false)
    }

    /** `rounds` applications of `step(state, round)` from `init`, round
      * numbers 1-based. Each round's frame is checkpointed eagerly and
      * the round before it released, so at most two rounds are held at a
      * time and the final round is the returned state. `init` is released
      * after round 1 when this scope owns it. */
    def iterate(init: DataFrame, rounds: Int)
               (step: (DataFrame, Int) => DataFrame): DataFrame =
      (1 to rounds).foldLeft(init) { (cur, r) =>
        val next = checkpoint(step(cur, r))
        release(cur)
        next
      }

    private[Materialize] def releaseAll(): Unit =
      release(persisted.toSeq ++ checkpoints.map(_._1): _*)

    private[Materialize] def close(result: Any): Unit = result match {
      case ds: Dataset[_] =>
        val (rdds, builders) = reads(ds)
        release(checkpoints.collect { case (df, rdd) if !rdds(rdd.id) => df }.toSeq ++
          persisted.filterNot(df => cachedBuilder(df).exists(builders.contains)): _*)
      case _ => releaseAll()
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The session cache's builder for `df`'s plan — compared by identity. */
  private def cachedBuilder(df: DataFrame): Option[AnyRef] =
    df.sparkSession.sharedState.cacheManager.lookupCachedData(df)
      .map(_.cachedRepresentation.cacheBuilder)

  private def checkpointRdd(cp: DataFrame): RDD[_] =
    cp.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get

  /** The checkpoint RDD ids and cache builders `ds` reads, following
    * every cached relation it reads into that relation's own plan. */
  private def reads(ds: Dataset[_]): (Set[Int], java.util.Set[AnyRef]) = {
    val rdds = mutable.Set.empty[Int]
    val builders = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def relation(r: InMemoryRelation): Unit =
      if (builders.add(r.cacheBuilder)) physical(r.cacheBuilder.cachedPlan)
    def physical(p: SparkPlan): Unit = Plans.collectWithSubqueries(p) {
      case s: InMemoryTableScanExec => relation(s.relation)
      case s: RDDScanExec => rdds += s.rdd.id
    }
    ds.queryExecution.withCachedData.collectWithSubqueries {
      case r: InMemoryRelation => relation(r)
      case lr: LogicalRDD => rdds += lr.rdd.id
    }
    (rdds.toSet, builders)
  }
}
