package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: seeded inputs, the output fingerprint, the
  * failure accounting and the percentile helper. */
class PerfbenchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", "target/spark-local")
    .getOrCreate()

  // scratch under the build's target/ (the forked test JVM runs in perfbench/)
  private def tmpDir(): File = {
    val base = new File("target/spec-tmp")
    base.mkdirs()
    java.nio.file.Files.createTempDirectory(base.toPath, "perfbench-spec").toFile
  }

  test("the same seed gives byte-identical generated inputs; another seed does not") {
    assert(new PlacesData(7).bytes sameElements new PlacesData(7).bytes)
    assert(!(new PlacesData(7).bytes sameElements new PlacesData(8).bytes))
    assert(new IngestData(7).bytes sameElements new IngestData(7).bytes)
    assert(!(new IngestData(7).bytes sameElements new IngestData(8).bytes))
    assert(new PlacesData(7).requests(3, 50) == new PlacesData(7).requests(3, 50))
    val qs = Main.catalogFloor
    assert(Gen.shuffled(qs, new SplittableRandom(7)) == Gen.shuffled(qs, new SplittableRandom(7)))
    assert(Gen.shuffled(qs, new SplittableRandom(7)).sorted == qs.sorted)
  }

  test("the parquet inputs the program reads are identical for the same seed") {
    def written(): Seq[String] = {
      val dir = tmpDir()
      new PlacesWorkload(11, roundSize = 1).setup(spark, dir)
      Seq("places", "operations").flatMap { t =>
        spark.read.parquet(new File(dir, t).getPath).collect().map(Fingerprint.canon).sorted
      }
    }
    val a = written()
    assert(a.nonEmpty && a == written())
    Main.deleteTree(new File("target/spec-tmp"))
  }

  test("the fingerprint ignores row order and partitioning, and sees values and duplicates") {
    val df: DataFrame = spark.range(0, 500).select(
      col("id"), (col("id") % 7).cast("double").as("d"),
      when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id").cast("string"))).as("s"),
      array(col("id"), col("id") * 2).as("a"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("x"), lit(-0.0).as("z")).as("st"))
    val base = Fingerprint.of(df.collect().toSeq)
    assert(base.rows == 500)
    assert(Fingerprint.of(df.repartition(7).collect().toSeq) == base)
    assert(Fingerprint.of(df.orderBy(col("id").desc).coalesce(1).collect().toSeq) == base)
    val rows = df.collect().toSeq
    assert(Fingerprint.of(rows.reverse) == base)
    assert(Fingerprint.of(rows :+ rows.head).rows == 501)
    assert(Fingerprint.of(rows.tail :+ rows.head).hash == base.hash) // a rotation is a reordering
    assert(Fingerprint.of(rows.tail :+ Row.fromSeq(rows.head.toSeq.updated(1, 99.0))).hash != base.hash)
    assert(Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
  }

  test("an op that throws or fails its check counts as failed and is never timed") {
    def op(n: String, body: () => Outcome): Op = new Op {
      def name: String = n
      def group: String = "test"
      def run(ctx: OpCtx): Outcome = ctx.phase("execute")(body())
    }
    val wl = new Workload {
      def setup(s: SparkSession, dir: File): Unit = ()
      def round(i: Int): Round = new Round {
        val ops: Seq[Op] = Seq(
          op("fine", () => { spark.range(10).count(); Outcome(1, () => None) }),
          op("throws", () => { Thread.sleep(300); throw new IllegalStateException("boom") }),
          op("wrong", () => { Thread.sleep(300); Outcome(1, () => Some("mismatch")) }))
      }
    }
    val r = new Runner(spark)
    r.runRound(wl, 1, traced = false)
    assert(r.samples.map(s => s.name -> s.ok) == Seq("fine" -> true, "throws" -> false, "wrong" -> false))
    assert(r.samples(1).error.exists(_.contains("boom")))
    val m = Main.endToEnd(r, setupS = 1.0, heapMb = 1.0).map(x => x._1 -> x._2).toMap
    assert(m("ok_ratio") == 1.0 / 3)
    val fine = r.samples.head.ms
    assert(m("op_p50_ms") == fine && m("op_tail_ms") == fine && fine < 300)
  }

  test("percentile interpolates between closest ranks") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 5.5)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-12)
    assert(Stats.percentile(xs, 0) == 1.0 && Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(4.0), 95) == 4.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Nil, 50).isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("the tail mean averages the slowest tenth, at least two values") {
    assert(Stats.tailMean((1 to 30).map(_.toDouble).reverse) == 29.0) // 28, 29, 30
    assert(Stats.tailMean((1 to 9).map(_.toDouble)) == 8.5)           // 8, 9
    assert(Stats.tailMean(Seq(5.0)) == 5.0)
    assert(Stats.tailMean(Nil).isNaN)
  }
}
