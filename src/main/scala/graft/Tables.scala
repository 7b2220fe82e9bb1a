package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md). One
  * parquet per table under a scale-factor directory. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change what parquet schema inference returns
    * (`spark.sql.legacy.parquet.nanosAsLong` is the one [[events]] sets). */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  private type SchemaKey = (String, Long, Long, Seq[Option[String]])

  /** Inferred schemas, per session (weakly held: a stopped session's
    * entries go with it). */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, StructType]]())

  /** `spark.read.parquet` of one table file, with the inferred schema
    * cached per session. A plain read lists the file and runs a one-task
    * schema-inference job on every call; here only the first load of a
    * file infers, and later loads pass the schema to the reader, so no
    * Spark job starts. The cache key is the file's resolved path,
    * modification time and length plus the session's values of the
    * [[inferenceConfs]]: a rewritten file (new length or mtime) or a
    * changed inference conf has its schema inferred again. Every call
    * still builds a fresh relation with fresh attribute ids, so two loads
    * of one table self-join like two plain reads. A missing path or a
    * directory is read uncached (a directory's own status does not change
    * when a file inside it is rewritten). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status: Option[FileStatus] =
      try Some(fs.getFileStatus(path)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    status match {
      case None => spark.read.parquet(path.toString)
      case Some(st) =>
        val key: SchemaKey = (st.getPath.toString, st.getModificationTime, st.getLen,
          inferenceConfs.map(spark.conf.getOption))
        val cache = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        Option(cache.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path.toString)
          case None =>
            val df = spark.read.parquet(path.toString)
            cache.put(key, df.schema)
            df
        }
    }
  }

  /** events.parquet has stored `ts` as parquet TIMESTAMP(NANOS) (read
    * nanos-as-long + convert) and, in newer testdata generations, as
    * TIMESTAMP without timezone adjustment (Spark reads TIMESTAMP_NTZ,
    * which unix_millis/unix_seconds and watermarks reject). Normalize
    * every generation to a micro-precision session-TZ TimestampType
    * column — the session runs UTC, so the NTZ cast is deterministic. */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = loadEvents(s, d)

  /** Range scan over events with the time predicate applied to the RAW
    * nanos column so it pushes down to the parquet scan — a filter on the
    * converted timestamp sits above a projection and never reaches the
    * reader. Bounds are ISO dates/instants, inclusive-exclusive. */
  def eventsBetween(s: SparkSession, d: String, fromIso: String, toIso: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    def nanos(iso: String): Long =
      java.time.LocalDate.parse(iso).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.getEpochSecond * 1000000000L
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.where(org.apache.spark.sql.functions.col("ts") >= nanos(fromIso) &&
            org.apache.spark.sql.functions.col("ts") < nanos(toIso))
          .withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // filter in the column's own type so the predicate still pushes
        // down to the scan, THEN normalize (UTC session → same instants)
        raw.where(org.apache.spark.sql.functions.col("ts") >=
            org.apache.spark.sql.functions.lit(fromIso).cast("timestamp_ntz") &&
          org.apache.spark.sql.functions.col("ts") <
            org.apache.spark.sql.functions.lit(toIso).cast("timestamp_ntz"))
          .withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ =>
        raw.where(org.apache.spark.sql.functions.col("ts") >=
            org.apache.spark.sql.functions.lit(fromIso).cast("timestamp") &&
          org.apache.spark.sql.functions.col("ts") <
            org.apache.spark.sql.functions.lit(toIso).cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Row count of `events`, memoized per (session, dir): adaptive
    * parameters (pl3's density-scaled radius) need the count BEFORE the
    * plan is built, and without the memo every such query pays an extra
    * full scan per invocation. The testdata is immutable for a session's
    * lifetime, so a driver-side long is safe; a changing source would
    * instead read the count from its own metadata. */
  private val eventCounts =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]()
  def eventCount(s: SparkSession, d: String): Long =
    eventCounts.computeIfAbsent((s, d), _ => events(s, d).count())
}
