package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import graft.QueryCatalog

/** Records the output fingerprints of catalog queries, for
  * tools/record_expected.py:
  *
  *   perfbench.Record --data DIR --cores N --out DIR --queries a,b,c [--parquet]
  *
  * writes OUT/fingerprints.json (`{"name": {"rows": n, "hash": "hex"}}`),
  * OUT/oracle_sql.json (the DuckDB oracle of each query that has one) and,
  * with --parquet, each query's output under OUT/<name>/. */
object Record {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val parquet = args.contains("--parquet")
    val out = new File(opt("out")).getAbsoluteFile
    out.mkdirs()
    val dataDir = new File(opt("data")).getAbsolutePath
    val names = opt("queries").split(",").toSeq
    val spark = Main.session(new File(out, "work"), opt("cores").toInt)
    val queries = QueryCatalog.queries
    val fps = names.map { n =>
      val df = queries(n)(spark, dataDir)
      val fp = Fingerprint.of(df.collect())
      if (parquet) df.coalesce(1).write.mode("overwrite").parquet(new File(out, n).getPath)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.err.println(s"[record] $n ${fp.rows} rows ${fp.hash}")
      s"""  "$n": {"rows": ${fp.rows}, "hash": "${fp.hash}"}"""
    }
    Files.write(new File(out, "fingerprints.json").toPath, fps.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    val oracle = names.flatMap(n => QueryCatalog.oracleSql.get(n).map(sql => s""""$n": "${Main.esc(sql)}""""))
    Files.write(new File(out, "oracle_sql.json").toPath, oracle.mkString("{", ",\n", "}").getBytes(UTF_8))
    spark.stop()
  }
}
