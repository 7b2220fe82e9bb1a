package perfbench

import java.io.File
import java.util.SplittableRandom
import graft._
import graft.api.PlacesEngine
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Catalog queries over fixed tables, one at a time, each round in a fresh
  * seeded order. An op is build (`QueryCatalog` frame construction, probe
  * jobs included) → plan (`executedPlan`) → execute (`collect`). */
final class CatalogWorkload(queries: Seq[String], dataDir: String,
                            expected: Map[String, Fingerprint], seed: Long) extends Workload {
  private val files = Seq("core" -> CatalogCore.entries, "geo" -> CatalogGeo.entries,
    "text" -> CatalogText.entries, "places" -> CatalogPlaces.entries,
    "pipeline" -> CatalogPipeline.entries, "extra" -> CatalogExtra.entries,
    "ops" -> CatalogOps.entries, "sources" -> CatalogSources.entries)
  private val byName: Map[String, (Q, String)] =
    files.flatMap { case (f, qs) => qs.map(q => q.name -> (q, f)) }.toMap
  private val order = new SplittableRandom(seed)
  private var spark: SparkSession = _

  def setup(s: SparkSession, dir: File): Unit = {
    spark = s
    Tables.names.foreach(t => Tables.load(s, dataDir, t))
  }

  def round(i: Int): Round = new Round {
    val ops: Seq[Op] = Gen.shuffled(queries, order).map(queryOp)
  }

  private def queryOp(query: String): Op = new Op {
    val (q, group) = byName.getOrElse(query, (Q(query, (_, _) => sys.error(s"no query $query"), None), "none"))
    def name: String = q.name
    def run(ctx: OpCtx): Outcome = {
      val df = ctx.phase("build")(q.run(spark, dataDir))
      ctx.phase("plan")(df.queryExecution.executedPlan)
      val rows = ctx.phase("execute")(df.collect())
      Outcome(rows.length, () => expected.get(q.name) match {
        case None => Some("no expected fingerprint")
        case Some(want) =>
          val got = Fingerprint.of(rows)
          if (got.rows != want.rows || (want.hash != null && got.hash != want.hash))
            Some(s"fingerprint $got, expected $want")
          else None
      })
    }
  }
}

/** The places HTTP surface: seeded places and operations written as
  * parquet (places partitioned by 4-char tile prefix, operations by block
  * date), then a closed-loop Zipf-skewed request mix against one
  * `PlacesEngine`. Every response's row count is checked against the count
  * the generator knows. */
final class PlacesWorkload(seed: Long, roundSize: Int) extends Workload {
  private var data: PlacesData = _
  private var engine: PlacesEngine = _
  private var reviewed: DataFrame = _

  private val srcType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("type", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("osm_tag", StringType), StructField("osm_value", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("deleted", StringType))))
  private val placesSchema = StructType(Seq(
    StructField("id", ArrayType(StringType)), StructField("tileid", StringType),
    StructField("placetype", StringType), StructField("source_osm", srcType),
    StructField("images", MapType(StringType, ArrayType(StructType(Seq(StructField("cid", StringType)))))),
    StructField("deleted", StringType), StructField("tile4", StringType)))
  private val opsSchema = StructType(Seq(
    StructField("block_id", LongType), StructField("op_ord", IntegerType),
    StructField("op_type", StringType),
    StructField("created", ArrayType(StructType(Seq(
      StructField("id", ArrayType(StringType)), StructField("tileid", StringType))))),
    StructField("edited", ArrayType(StructType(Seq(
      StructField("id", ArrayType(StringType)),
      StructField("change", MapType(StringType, StringType)))))),
    StructField("deleted", ArrayType(ArrayType(StringType))),
    StructField("block_date", TimestampType)))
  private val idSchema = StructType(Seq(StructField("id", ArrayType(StringType))))

  private def placeRow(p: Place): Row = Row(p.id, p.tileid, p.placetype,
    p.sources.map(s => Row(s.id, "node", s.lat, s.lon, "amenity", s.value,
      s.name.map(n => Map("name" -> n)).getOrElse(Map.empty[String, String]), s.deleted.orNull)),
    p.images.map(_.map { case (k, n) => k -> (0 until n).map(c => Row(s"c$c")) }).orNull,
    p.deleted.orNull, p.tileid.take(4))

  private def opRow(o: Operation): Row = Row(o.blockId, o.opOrd, o.opType,
    o.created.map(id => Row(id, id.head)), o.edited.map(e => Row(e.id, e.change)), o.deleted,
    java.sql.Timestamp.from(java.time.LocalDate.parse(Gen.day(o.day))
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant))

  def setup(spark: SparkSession, dir: File): Unit = {
    data = new PlacesData(seed)
    val placesDir = new File(dir, "places").getAbsolutePath
    val opsDir = new File(dir, "operations").getAbsolutePath
    def frame(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    frame(data.places.map(placeRow), placesSchema).repartition(col("tile4"))
      .write.partitionBy("tile4").parquet(placesDir)
    frame(data.operations.map(opRow), opsSchema).repartition(col("block_date"))
      .write.partitionBy("block_date").parquet(opsDir)
    val places = spark.read.schema(placesSchema).parquet(placesDir)
    val ops = spark.read.schema(opsSchema).parquet(opsDir)
    places.count(); ops.count()
    engine = new PlacesEngine(places, ops)
    reviewed = frame(data.reviewed.map(Row(_)), idSchema)
  }

  /** The warm round is one request of each kind plus four tile reads; every
    * other round is one block of the seeded request stream. */
  def round(i: Int): Round = new Round {
    val ops: Seq[Op] = (if (i != 0) data.requests(i, roundSize)
      else Seq(Summary, History(0, 10), SnapshotAt(data.days / 2), ReviewClosed(0, data.days)) ++
        data.tiles.take(4).map(GeoTile))
      .map(requestOp)
  }

  private def requestOp(r: Request): Op = new Op {
    def name: String = r.kind
    def group: String = "api"
    def run(ctx: OpCtx): Outcome = {
      val df = ctx.phase("build")(r match {
        case GeoTile(t) => engine.geoTile(t)
        case History(f, t) => engine.history(Gen.day(f), Gen.day(t))
        case SnapshotAt(a) => engine.snapshotAt(Gen.day(a))
        case ReviewClosed(f, t) => engine.reviewClosedPlaces(Gen.day(f), Gen.day(t), reviewed)
        case Summary => engine.summary()
      })
      ctx.phase("plan")(df.queryExecution.executedPlan)
      val rows = ctx.phase("execute")(df.collect())
      Outcome(rows.length, () => {
        val want = data.expectedRows(r)
        if (rows.length != want) Some(s"$r returned ${rows.length} rows, expected $want")
        else if (r == Summary && rows.map(_.getAs[Long]("places")).sum != data.livePlaces)
          Some(s"summary counts ${rows.map(_.getAs[Long]("places")).sum} places, expected ${data.livePlaces}")
        else None
      })
    }
  }
}

/** The write path: a seeded `(key, tile4, version, closed)` op log fed in
  * fixed-size micro-batches through `EventStreams.tileSummaryStream`, one
  * batch at a time (add, then wait until processed). Each round starts from
  * empty state and ends with the summary checked against a one-shot
  * recompute over the whole log. */
final class IngestWorkload(seed: Long) extends Workload {
  private var spark: SparkSession = _
  private var base: File = _
  var data: IngestData = _
  private var lastStateBytes = 0L
  override def stateBytes: Long = lastStateBytes
  /** Summary tile partitions each timed batch rewrote, read from the part
    * files the program left on disk (a rewrite leaves new file names). */
  val tilesWritten = scala.collection.mutable.ArrayBuffer[Int]()

  private def partFiles(dir: String): Map[String, Set[String]] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.startsWith("tile4=")).map { t =>
      t.getName -> Option(t.listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith("part-")).toSet
    }.toMap

  def setup(s: SparkSession, dir: File): Unit = {
    spark = s
    base = dir
    data = new IngestData(seed)
  }

  def round(i: Int): Round = new Round {
    private val dir = new File(base, s"round$i")
    private val stateDir = new File(dir, "state").getAbsolutePath
    private val summaryDir = new File(dir, "summary").getAbsolutePath
    private val session = spark
    private implicit val sqlContext: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    private val mem = MemoryStream[TileOp]
    private var q: StreamingQuery = _
    private var written = Map.empty[String, Set[String]]

    override def open(): Unit =
      q = EventStreams.tileSummaryStream(mem.toDF(), stateDir, summaryDir,
        new File(dir, "checkpoint").getAbsolutePath)

    override def close(): Unit = {
      if (q != null) q.stop()
      lastStateBytes = Main.du(new File(stateDir))
      Main.deleteTree(dir)
    }

    // the warm round feeds only the first batch, enough to load and compile
    // the batch plan; the untimed warm-up round after it also compiles the
    // merge with existing state
    val ops: Seq[Op] = (0 until (if (i == 0) 1 else data.batches))
      .map(b => batchOp(b, b == data.batches - 1))

    private def batchOp(b: Int, last: Boolean): Op = new Op {
      def name: String = "batch"
      def group: String = "streaming"
      def run(ctx: OpCtx): Outcome = {
        ctx.streamGroup = Some(q.runId.toString)
        ctx.phase("addData")(mem.addData(data.batch(b)))
        ctx.phase("process")(q.processAllAvailable())
        Outcome(data.batchRows, () => {
          val now = partFiles(summaryDir)
          if (i > 0) tilesWritten += now.count { case (t, fs) => !written.get(t).contains(fs) }
          written = now
          if (q.exception.isDefined) Some(s"stream failed: ${q.exception.get.getMessage}")
          else if (!last) None
          else {
            val got = spark.read.parquet(summaryDir).collect().map(r =>
              r.getAs[String]("tile4") -> ((r.getAs[Long]("n_places"), r.getAs[Long]("n_closed"),
                r.getAs[Long]("max_version")))).toMap
            if (got == data.expectedSummary) None
            else Some(s"summary differs from the batch recompute on " +
              s"${(got.keySet ++ data.expectedSummary.keySet).count(t => got.get(t) != data.expectedSummary.get(t))} tiles")
          }
        })
      }
    }
  }
}
