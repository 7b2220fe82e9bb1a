package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: print the formatted physical plan of catalog queries.
  * Usage: tools/run.sh graft.Explain q1,q2[,...] [sfDir] [mode] */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = ExplainMode.fromString(if (args.length > 2) args(2) else "formatted")
    val spark = Sessions.local()
    // plan printing must not execute the curation funnel's stage caches
    spark.conf.set("graft.curation.eagerStages", "false")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"==== $n ====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(mode))
    }
    spark.stop()
  }
}
