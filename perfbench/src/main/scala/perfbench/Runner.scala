package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What a timed operation hands back: the rows it produced, and the check
  * of its output, which runs after the clock stops. */
final case class Outcome(rows: Long, verdict: () => Option[String])

/** One timed operation: a catalog query, a request or a micro-batch. */
trait Op {
  def name: String
  /** The catalog file that defines a query, or the layer an op enters. */
  def group: String
  def run(ctx: OpCtx): Outcome
}

/** A fixed list of ops, run one after the other by one client. */
trait Round {
  def ops: Seq[Op]
  def open(): Unit = ()
  def close(): Unit = ()
}

trait Workload {
  /** Generates or loads the inputs; called once per set-up repetition, each
    * time with a fresh session and an empty directory. */
  def setup(spark: SparkSession, dir: java.io.File): Unit
  /** Round 0 is the untimed warm round counted in set-up, negative rounds
    * are further untimed warm-up, and timed rounds count from 1. */
  def round(i: Int): Round
  /** Bytes of persistent state the workload leaves on disk, if any. */
  def stateBytes: Long = 0L
}

/** Times the phases of one op. Each phase runs under its own job group
  * `pb<op id>:<phase>`, so listener jobs attach to the phase that ran them. */
final class OpCtx(val id: Long, sc: SparkContext) {
  val phases = ArrayBuffer[(String, Long, Long)]()
  /** The job group of a streaming query the op drives, whose jobs run on the
    * query's own thread. */
  var streamGroup: Option[String] = None

  def phase[T](name: String)(body: => T): T = {
    sc.setJobGroup(s"pb$id:$name", name)
    val t0 = System.nanoTime()
    try body finally phases += ((name, t0, System.nanoTime()))
  }
}

final case class Sample(opId: Long, round: Int, traced: Boolean, name: String, group: String,
                        error: Option[String], startNs: Long, endNs: Long,
                        phases: Seq[(String, Long, Long)], cleanupNs: Long, leakedRdds: Int,
                        rows: Long, streamGroup: Option[String]) {
  def ok: Boolean = error.isEmpty
  def ms: Double = (endNs - startNs) / 1e6
  def phaseMs(p: String): Double = phases.filter(_._1 == p).map(x => (x._3 - x._2) / 1e6).sum
}

final case class RoundRec(index: Int, traced: Boolean, wallNs: Long)

/** Runs rounds in a closed loop and keeps every sample. An op that throws
  * or fails its check is recorded as failed and never counts as a timing. */
final class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var nextOp = 0L
  val samples = ArrayBuffer[Sample]()
  val rounds = ArrayBuffer[RoundRec]()

  def runRound(wl: Workload, index: Int, traced: Boolean): RoundRec = {
    val round = wl.round(index)
    var busy = 0L
    def timed(f: => Unit): Unit = { val t = System.nanoTime(); try f finally busy += System.nanoTime() - t }
    timed(round.open())
    try round.ops.foreach { op =>
      nextOp += 1
      val ctx = new OpCtx(nextOp, sc)
      val t0 = System.nanoTime()
      val out = try Right(op.run(ctx)) catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      // Blocking cleanup, outside the op's time: drop whatever the op left
      // persisted so it cannot slow or speed the next one.
      val leaked = sc.getPersistentRDDs.size
      val c0 = System.nanoTime()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      val c1 = System.nanoTime()
      busy += (t1 - t0) + (c1 - c0)
      val error = out match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        case Right(o) =>
          try o.verdict() catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      error.foreach(m => System.err.println(s"[perfbench] FAILED ${op.name}: $m"))
      samples += Sample(ctx.id, index, traced, op.name, op.group, error, t0, t1, ctx.phases.toSeq,
        c1 - c0, leaked, out.map(_.rows).getOrElse(0L), ctx.streamGroup)
    } finally timed(round.close())
    val rec = RoundRec(index, traced, busy)
    rounds += rec
    rec
  }
}
