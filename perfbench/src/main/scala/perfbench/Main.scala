package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark driver. Run through `perfbench/run.py`, which builds the repo
  * and this package and passes:
  *
  *   --workload W --seed N --seconds S --trace 0|1
  *   --work DIR (scratch space) --data DIR (catalog tables)
  *   --expected FILE (catalog fingerprints) --result FILE (JSON out)
  *
  * One `local[nproc]` session per run, shuffle partitions = nproc, one
  * client thread. Set-up runs three times, each with a fresh session and
  * fresh inputs; then one untimed warm round (counted in `setup_s`) and
  * `warmRounds` more untimed rounds; then timed rounds until `--seconds`
  * have passed (at least `minRounds`). With `--trace 1` the timed rounds go
  * untraced, traced, traced, untraced (listener attached in the traced
  * ones), repeated in whole groups of four, spans are written to DIR/trace,
  * and per-layer metrics replace the end-to-end ones. */
object Main {
  /** One query per catalog file, picked by hand to cover different kinds of
    * query (not by timing; README.md compares them with their files). */
  val catalogFloor: Seq[String] = Seq(
    "a9_point_lookup", "e1_tile_rollup", "f3_levenshtein_join", "pl2_ops_fold",
    "p21_contamination", "d10_asof_join", "e3_count_probe", "c9_legacy_migration")
  val catalogFiles: Seq[String] = Seq("core", "geo", "text", "places", "pipeline", "extra", "ops", "sources")
  val apiKinds: Seq[String] = Seq("geoTile", "history", "snapshotAt", "reviewClosedPlaces", "summary")
  val setupReps = 3
  /** Round times keep falling for several rounds while the JIT compiles;
    * the untimed rounds after the warm round move the timed ones further
    * along that curve. */
  val warmRounds = 1
  val minRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val dataDir = new File(opt("data")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    lazy val expected = readExpected(new File(opt("expected")))
    val wl: Workload = name match {
      case "catalog_sf001" => new CatalogWorkload(catalogFloor, dataDir, expected, seed)
      case "places_serving" => new PlacesWorkload(seed, roundSize = 24)
      case "tile_ingest" => new IngestWorkload(seed)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    // ---- set-up: session start + input generation/loading, three times
    var spark: SparkSession = null
    val setupTimes = (0 until setupReps).map { rep =>
      if (spark != null) spark.stop()
      val dir = new File(work, s"inputs/rep$rep")
      deleteTree(dir)
      dir.mkdirs()
      val t0 = System.nanoTime()
      spark = session(work, cores)
      wl.setup(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val runner = new Runner(spark)
    val w0 = System.nanoTime()
    runner.runRound(wl, 0, traced = false)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = Stats.median(setupTimes) + warmS
    (1 to warmRounds).foreach(k => runner.runRound(wl, -k, traced = false))

    // ---- timed rounds
    calibrate(spark, cores) // compiles the probe's own plan
    val calibBefore = calibrate(spark, cores)
    val probe = new Probe
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var i = 1
    // traced runs stop only after a whole U T T U group, so traced and
    // untraced rounds sit on both sides of the remaining warm-up drift
    while (i <= minRounds || (System.nanoTime() - t0) / 1e9 < seconds || (trace && (i - 1) % 4 != 0)) {
      val traced = trace && (i % 4 == 2 || i % 4 == 3)
      if (traced) sc.addSparkListener(probe)
      runner.runRound(wl, i, traced)
      if (traced) { PerfbenchBus.drain(sc); sc.removeSparkListener(probe) }
      i += 1
    }
    val calibAfter = calibrate(spark, cores)
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6

    val timed = runner.samples.filter(_.round > 0).toSeq
    val failed = timed.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(runner, setupS, heapMb)
      else {
        val layers = perLayer(runner, probe, wl, cores, calibBefore, calibAfter)
        writeTrace(new File(work, s"trace/$name-seed$seed.jsonl"), name, seed, runner, probe, layers)
        layers
      }
    spark.stop()

    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val result = s"""{"correct": ${failed == 0}, "attempted": ${timed.size}, "failed": $failed, "metrics": $json}"""
    Files.write(new File(opt("result")).toPath, result.getBytes(UTF_8))
    // context for reading the result: host probe and where set-up time went
    val info = s"""{"calib_before_s": ${num(calibBefore)}, "calib_after_s": ${num(calibAfter)}, """ +
      s""""setup_reps_s": [${setupTimes.map(num).mkString(", ")}], "warm_s": ${num(warmS)}, """ +
      s""""warmup_round_s": [${runner.rounds.filter(_.index < 0).map(x => num(x.wallNs / 1e9)).mkString(", ")}], """ +
      s""""round_s": [${runner.rounds.filter(_.index > 0).map(x => num(x.wallNs / 1e9)).mkString(", ")}], """ +
      s""""op_median_ms": """ +
      timed.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, xs) => s""""$n": ${num(Stats.median(xs.map(_.ms)))}""" }.mkString("{", ", ", "}}")
    Files.write(new File(opt("result") + ".info").toPath, info.getBytes(UTF_8))
  }

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed synthetic probe, independent of the program under test: a host
    * slower than usual shows here first. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 40000000L, 1L, cores).selectExpr("bit_xor(xxhash64(id)) AS x").head()
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------ metrics

  def endToEnd(r: Runner, setupS: Double, heapMb: Double): Seq[(String, Double, String)] = {
    val rounds = r.rounds.filter(_.index > 0)
    val ok = r.samples.filter(s => s.round > 0 && s.ok).map(_.ms).toSeq
    val attempted = r.samples.count(_.round > 0)
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", Stats.median(rounds.map(_.wallNs / 1e9).toSeq), "s"),
      ("op_p50_ms", Stats.percentile(ok, 50), "ms"),
      ("op_tail_ms", Stats.tailMean(ok), "ms"),
      ("ops_per_s", ok.size / (rounds.map(_.wallNs).sum / 1e9), "1/s"),
      ("ok_ratio", ok.size.toDouble / attempted, "ratio"),
      ("heap_retained_mb", heapMb, "MB"))
  }

  /** Listener jobs and stages of each traced op: jobs by the op's job group,
    * streaming jobs by the query's group and the op's time window. */
  final case class OpWork(jobs: Seq[(JobRec, String)], stages: Seq[StageRec])

  def attribute(r: Runner, p: Probe): Map[Long, OpWork] = {
    val traced = r.samples.filter(_.traced)
    val byId = traced.map(s => s.opId -> s).toMap
    val jobsOf = mutable.HashMap[Long, mutable.ArrayBuffer[(JobRec, String)]]()
    val Group = "pb(\\d+):(\\w+)".r
    p.jobs.values.foreach { j =>
      val hit: Option[(Long, String)] = j.group match {
        case Group(id, phase) if byId.contains(id.toLong) => Some((id.toLong, phase))
        case g => traced.find(s => s.streamGroup.contains(g) &&
          j.startMs >= toMs(s.startNs) - 1 && j.startMs <= toMs(s.endNs) + 1).map(s => (s.opId, "process"))
      }
      hit.foreach { case (id, phase) => jobsOf.getOrElseUpdate(id, mutable.ArrayBuffer()) += ((j, phase)) }
    }
    jobsOf.map { case (id, js) =>
      val jobIds = js.map(_._1.jobId).toSet
      id -> OpWork(js.toSeq, p.stages.filter(st => p.stageJob.get(st.stageId).exists(jobIds)).toSeq)
    }.toMap
  }

  private val epochOffsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def toUs(ns: Long): Long = epochOffsetUs + ns / 1000L
  def toMs(ns: Long): Long = toUs(ns) / 1000L

  def perLayer(r: Runner, p: Probe, wl: Workload, cores: Int,
               calibBefore: Double, calibAfter: Double): Seq[(String, Double, String)] = {
    val ts = r.samples.filter(_.traced).toSeq
    val work = attribute(r, p)
    def w(s: Sample) = work.getOrElse(s.opId, OpWork(Nil, Nil))
    def perOp(xs: Seq[Sample])(f: Sample => Double): Double =
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def stageSum(s: Sample)(f: StageRec => Double) = w(s).stages.map(f).sum
    def orZero(d: Double) = if (d.isNaN || d.isInfinite) 0.0 else d
    val cat = ts.filter(s => catalogFiles.contains(s.group))
    val planned = ts.filter(_.phases.exists(_._1 == "plan"))
    val api = ts.filter(_.group == "api")
    val batches = ts.filter(_.group == "streaming")
    val tracedRounds = r.rounds.filter(_.traced).map(_.index).toSet
    val untracedRounds = r.rounds.filter(x => !x.traced && x.index > 0).map(_.index).toSet
    val runS = ts.map(s => stageSum(s)(_.runMs) / 1000.0).sum
    val opWallS = ts.map(_.ms / 1000.0).sum
    val ingest = wl match { case i: IngestWorkload => Some(i); case _ => None }

    // tracing overhead: per op name, traced vs untraced median, weighted by
    // the traced count; the U T T U order balances the two around the
    // warm-up drift
    val okAll = r.samples.filter(s => s.round > 0 && s.ok)
    val pairs = okAll.groupBy(_.name).toSeq.flatMap { case (_, xs) =>
      val (t, u) = xs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((t.size * Stats.median(t.map(_.ms).toSeq), t.size * Stats.median(u.map(_.ms).toSeq)))
    }
    val overhead = if (pairs.isEmpty) 0.0 else pairs.map(_._1).sum / pairs.map(_._2).sum - 1

    Seq(
      ("catalog.build_ms", perOp(cat)(_.phaseMs("build")), "ms"),
      ("catalog.probe_jobs", perOp(cat)(s => w(s).jobs.count(_._2 == "build")), "count")) ++
    catalogFiles.map { f =>
      val perRound = tracedRounds.toSeq.map(i => cat.filter(s => s.round == i && s.group == f).map(_.ms / 1000.0).sum)
      (s"catalog.$f.wall_s", orZero(Stats.median(perRound)), "s")
    } ++ Seq(
      ("driver.plan_ms", perOp(planned)(_.phaseMs("plan")), "ms"),
      ("driver.overhead_share", orZero(planned.map(s => s.phaseMs("build") + s.phaseMs("plan")).sum /
        planned.map(_.ms).sum), "ratio"),
      ("sched.jobs", perOp(ts)(s => w(s).jobs.size), "count"),
      ("sched.stages", perOp(ts)(s => w(s).stages.size), "count"),
      ("sched.tasks", perOp(ts)(s => stageSum(s)(_.tasks)), "count"),
      ("exec.cpu_s", perOp(ts)(s => stageSum(s)(_.cpuNs / 1e9)), "s"),
      ("exec.run_s", perOp(ts)(s => stageSum(s)(_.runMs / 1000.0)), "s"),
      ("exec.gc_s", perOp(ts)(s => stageSum(s)(_.gcMs / 1000.0)), "s"),
      ("exec.idle_share", orZero(1 - runS / (opWallS * cores)), "ratio"),
      ("shuffle.records", perOp(ts)(s => stageSum(s)(_.shuffleRecords)), "count"),
      ("shuffle.bytes", perOp(ts)(s => stageSum(s)(_.shuffleBytes)), "B"),
      ("shuffle.fetch_wait_ms", perOp(ts)(s => stageSum(s)(_.fetchWaitMs)), "ms"),
      ("spill.bytes", perOp(ts)(s => stageSum(s)(_.spillBytes)), "B")) ++
    apiKinds.map { k =>
      (s"api.${k}_p50_ms", orZero(Stats.median(api.filter(s => s.name == k && s.ok).map(_.ms))), "ms")
    } ++ Seq(
      ("api.rows_read_per_row_returned",
        orZero(api.map(s => stageSum(s)(_.inputRecords)).sum / api.map(_.rows).sum), "ratio"),
      ("stream.jobs_per_batch", perOp(batches)(s => w(s).jobs.size), "count"),
      ("stream.state_rows_read", perOp(batches)(s => stageSum(s)(_.inputRecords)), "count"),
      ("stream.bytes_written", perOp(batches)(s => stageSum(s)(_.outputBytes)), "B"),
      ("stream.write_amp", ingest.map(i => orZero(
        batches.map(s => stageSum(s)(_.outputBytes)).sum / (batches.size * i.data.batchRows * 21.0))).getOrElse(0.0), "ratio"),
      ("stream.state_bytes", wl.stateBytes.toDouble, "B"),
      ("stream.tiles_touched", ingest.map(i => orZero(Stats.mean(i.tilesWritten.map(_.toDouble).toSeq))).getOrElse(0.0), "count"),
      ("mem.leaked_rdds", perOp(ts)(_.leakedRdds), "count"),
      ("mem.cleanup_ms", perOp(ts)(_.cleanupNs / 1e6), "ms"),
      ("host.calib_before_s", calibBefore, "s"),
      ("host.calib_after_s", calibAfter, "s"),
      ("trace.overhead_share", overhead, "ratio"),
      ("trace.rounds", tracedRounds.size.toDouble, "count"),
      ("trace.untraced_rounds", untracedRounds.size.toDouble, "count"))
  }

  // ------------------------------------------------------------ trace

  private def phaseLayer(phase: String, group: String): String = phase match {
    case "build" => if (group == "api") "api" else "catalog"
    case "plan" | "execute" => "driver"
    case "cleanup" => "memory"
    case _ => "streaming"
  }

  /** One JSON object per span (op → phase → job → stage), then one summary
    * line with the per-layer metrics. */
  def writeTrace(f: File, workload: String, seed: Long, r: Runner, p: Probe,
                 layers: Seq[(String, Double, String)]): Unit = {
    f.getParentFile.mkdirs()
    val out = new StringBuilder
    def span(id: String, parent: String, trace: String, name: String, layer: String,
             startUs: Long, endUs: Long, extra: String = ""): Unit =
      out ++= s"""{"id":"$id","parent":${if (parent == null) "null" else "\"" + parent + "\""},""" +
        s""""trace":"$trace","name":"${esc(name)}","layer":"$layer","start_us":$startUs,"end_us":$endUs$extra}""" += '\n'
    val work = attribute(r, p)
    r.samples.filter(_.traced).foreach { s =>
      val op = s"o${s.opId}"
      span(op, null, op, s.name, "op", toUs(s.startNs), toUs(s.endNs),
        s""","group":"${s.group}","round":${s.round},"ok":${s.ok},"rows":${s.rows}""")
      s.phases.foreach { case (ph, a, b) =>
        span(s"$op.$ph", op, op, ph, phaseLayer(ph, s.group), toUs(a), toUs(b))
      }
      span(s"$op.cleanup", op, op, "cleanup", "memory", toUs(s.endNs), toUs(s.endNs + s.cleanupNs))
      work.get(s.opId).foreach { ow =>
        ow.jobs.foreach { case (j, ph) =>
          span(s"j${j.jobId}", s"$op.$ph", op, "job", "scheduler", j.startMs * 1000, j.endMs * 1000)
        }
        ow.stages.foreach { st =>
          span(s"s${st.stageId}.${st.attempt}", s"j${p.stageJob(st.stageId)}", op, "stage", "executor",
            st.startMs * 1000, st.endMs * 1000,
            s""","tasks":${st.tasks},"cpu_ms":${st.cpuNs / 1000000},"run_ms":${st.runMs},""" +
              s""""shuffle_records":${st.shuffleRecords},"input_records":${st.inputRecords}""")
        }
      }
    }
    val m = layers.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    out ++= s"""{"kind":"summary","workload":"$workload","seed":$seed,"metrics":$m}""" += '\n'
    Files.write(f.toPath, out.toString.getBytes(UTF_8))
  }

  // ------------------------------------------------------------ helpers

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `{"name": {"rows": n, "hash": "hex" | null, ...}, ...}`, as written by
    * tools/record_expected.py; a missing file expects nothing. */
  def readExpected(f: File): Map[String, Fingerprint] =
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).properties().asScala.map { e =>
        val h = e.getValue.get("hash")
        e.getKey -> Fingerprint(e.getValue.get("rows").asLong(), if (h.isNull) null else h.asText())
      }.toMap
    }

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(du).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
