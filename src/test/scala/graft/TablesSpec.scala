package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** `Tables.load` caches each table file's inferred schema per session: the
  * cached load must read exactly like a plain `spark.read.parquet`, start
  * no Spark job, infer again when the file is rewritten, and still build a
  * fresh relation per call (self-joins). Runs over the sf0.001 tables of
  * TESTDATA.md. */
class TablesSpec extends AnyFunSuite {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private def withSpark[T](f: SparkSession => T): T = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("tables-spec")
      .getOrCreate()
    try f(spark) finally spark.stop()
  }

  /** Job groups of the jobs `body` starts. The listener bus is
    * asynchronous, so a marker job runs after `body`; once its start has
    * been delivered, so have the starts of every job before it. */
  private def jobGroups(spark: SparkSession)(body: => Unit): Seq[String] = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("body", "loads under test")
      body
      sc.setJobGroup("marker", "listener-bus barrier")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("marker"), "marker job never reached the listener")
      sc.clearJobGroup()
      groups.toArray(Array.empty[String]).toSeq.filter(_ == "body")
    } finally sc.removeSparkListener(listener)
  }

  test("cached schema equals a plain read's; a second load starts no job") {
    withSpark { spark =>
      def loadAll(): Unit = Tables.names.foreach(t => Tables.load(spark, sf, t))
      // the cold loads infer, one job each: the listener does see inference jobs
      assert(jobGroups(spark)(loadAll()).size == Tables.names.size)
      assert(jobGroups(spark)(loadAll()).isEmpty)
      // StructField equality covers name, type, nullability and metadata
      Tables.names.foreach(t => assert(
        Tables.load(spark, sf, t).schema == spark.read.parquet(s"$sf/$t.parquet").schema, t))
    }
  }

  test("a rewritten file with a new length has its schema inferred again") {
    withSpark { spark =>
      val dir = Files.createTempDirectory("tables-spec")
      val target = dir.resolve("part.parquet")
      Files.copy(java.nio.file.Paths.get(s"$sf/part.parquet"), target)
      val d = dir.toString
      assert(jobGroups(spark)(Tables.load(spark, d, "part")).size == 1)
      assert(jobGroups(spark)(Tables.load(spark, d, "part")).isEmpty)
      // same path, other table's bytes: new length, new schema
      Files.copy(java.nio.file.Paths.get(s"$sf/region.parquet"), target,
        StandardCopyOption.REPLACE_EXISTING)
      var reloaded: org.apache.spark.sql.DataFrame = null
      assert(jobGroups(spark) { reloaded = Tables.load(spark, d, "part") }.size == 1)
      assert(reloaded.schema == spark.read.parquet(s"$sf/region.parquet").schema)
      assert(reloaded.count() == spark.read.parquet(s"$sf/region.parquet").count())
    }
  }

  test("two cached loads of part self-join on p_brand like two plain reads") {
    withSpark { spark =>
      Tables.part(spark, sf) // warm the cache: the loads below take the cached path
      def pairs(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.join(b, a("p_brand") === b("p_brand") && a("p_partkey") < b("p_partkey"))
          .select(a("p_partkey"), b("p_partkey"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val cached = pairs(Tables.part(spark, sf), Tables.part(spark, sf))
      val plain = pairs(spark.read.parquet(s"$sf/part.parquet"),
        spark.read.parquet(s"$sf/part.parquet"))
      assert(cached.nonEmpty)
      assert(cached == plain)
    }
  }
}
