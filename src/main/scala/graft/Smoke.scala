package graft

/** Mirrors the driver's smoke check: build a session the way the driver
  * would, run SparkEntry.entry, and require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
