package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the command-line mains (Bench, RunOne,
  * Verify, Smoke, Explain): `local[cpus]` with one shuffle partition per
  * core, UTC session time zone, no UI, WARN logging. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else the host's cores capped at 32. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
