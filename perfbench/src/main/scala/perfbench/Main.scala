package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Input sizes of one run; `full` is what the benchmark measures,
  * `tiny` what the self-test runs.
  */
final case class Sizes(stream: Gen.StreamSizes, index: Gen.IndexSizes)

object Sizes {
  def full(seconds: Int): Sizes = {
    // open-loop landing interval of stream_evolving_avro, calibrated on a
    // 4-core host so that the pipeline is idle about half of the time
    val intervalMs = 3000
    Sizes(
      Gen.StreamSizes(keys = 20000, fileEvents = 100, intervalMs = intervalMs,
        warmFiles = 8, timedFiles = math.max(6, seconds * 1000 / intervalMs),
        readRounds = 8),
      Gen.IndexSizes(baseDocs = 500, baseVecs = 3000, deltaDocs = 50,
        deltaVecs = 200, queryDocs = 20, queryVecs = 8, warmTicks = 6,
        ticks = 12 + seconds * 5))
  }

  def tiny(seconds: Int): Sizes = {
    val intervalMs = 500
    Sizes(
      Gen.StreamSizes(keys = 500, fileEvents = 100, intervalMs = intervalMs,
        warmFiles = 2, timedFiles = math.max(4, seconds * 1000 / intervalMs),
        readRounds = 1),
      Gen.IndexSizes(baseDocs = 200, baseVecs = 1000, deltaDocs = 20,
        deltaVecs = 50, queryDocs = 10, queryVecs = 4, warmTicks = 3,
        ticks = 10 + seconds * 4))
  }
}

/** Everything a workload needs for one run. */
final case class Ctx(workload: String, spark: SparkSession, tracer: Tracer,
                     runDir: File, outDir: File, seed: Long, seconds: Int,
                     sizes: Sizes, setupReps: Int)

object Ctx {
  /** Bytes on disk under `f`. */
  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
}

/** What a workload measured and whether its outputs were right. */
final class Result(seconds: Int) {
  var attempted = 0L
  var failed = 0L
  val errors = new ArrayBuffer[String]()
  var setupRuns: Seq[Double] = Nil
  val commitMs = new ArrayBuffer[Double]()
  val readMs = new ArrayBuffer[Double]()
  val freshnessMs = new ArrayBuffer[Double]()
  /** Commit and read units for the per-layer split. */
  val commitUnits = new ArrayBuffer[Work]()
  val readUnits = new ArrayBuffer[Work]()
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Diagnostics printed beside the result, never part of it. */
  val notes = mutable.LinkedHashMap.empty[String, Any]
  var events = 0L
  var liveRows = 0L
  var spaceBytes = 0L
  var deadline = 0L
  var startUs = 0L
  var endUs = 0L
  var fs0: FsDelta = _
  var timedFs: FsDelta = _
  /** Parent span of the jobs of each streaming batch, by batch id. */
  val jobParent = mutable.Map.empty[Long, Long]
  /** Names of the top-level spans on the critical path; empty = all. */
  var criticalRoot: Set[String] = Set.empty

  def attempt[T](f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(2000)
        None
    }
  }

  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) { failed += 1; errors += msg.take(2000) }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, new ArrayBuffer[Double]()) += v

  def commit(o: OpRec): Unit = {
    commitMs += o.wallMs
    commitUnits += Work(o.id, o.startUs, o.endUs, o.wallMs, Some(o.fs))
  }
  def read(o: OpRec): Unit = {
    readMs += o.wallMs
    readUnits += Work(o.id, o.startUs, o.endUs, o.wallMs, Some(o.fs))
  }

  /** Share of the host's CPU time stolen by the hypervisor while timed. */
  var stealShare = 0.0
  private var cpu0 = (0L, 0L)

  def timedStart(): Unit = {
    cpu0 = Main.cpuTicks()
    fs0 = FsStats.snapshot()
    startUs = Clock.nowUs
    deadline = System.nanoTime() + seconds * 1000000000L
  }
  def timeUp: Boolean = System.nanoTime() >= deadline
  def timedEnd(): Unit = {
    endUs = Clock.nowUs
    timedFs = FsStats.since(fs0)
    stealShare = Main.stealShare(cpu0, Main.cpuTicks())
  }
}

/** One commit or read for the per-layer split: its top-level span (a
  * bench operation or a streaming trigger), interval, wall and FS work.
  */
final case class Work(op: Long, startUs: Long, endUs: Long, wallMs: Double,
                      fs: Option[FsDelta])

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "1/s",
    "commit_ms_p50" -> "ms", "commit_ms_p90" -> "ms",
    "read_ms_p50" -> "ms", "read_ms_p90" -> "ms",
    "freshness_ms_p50" -> "ms", "freshness_ms_p90" -> "ms",
    "write_bytes_per_event" -> "B", "space_bytes_per_row" -> "B",
    "peak_rss_mb" -> "MB")

  /** Largest share of stolen CPU time in the timed region of a valid run. */
  val MaxStealShare = 0.15

  val Workloads = Seq("stream_evolving_avro", "index_ingest_probe")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (opts.contains("--selftest")) {
      sys.exit(SelfTest.run(new File(opts("--run-dir")),
        opts.get("--cores").map(_.toInt).getOrElse(1)))
    }
    val workload = opts("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload; " +
      s"expected one of ${Workloads.mkString(", ")}")
    val line = runOne(workload, opts("--seed").toLong,
      opts("--seconds").toInt, opts("--trace") == "1",
      new File(opts("--run-dir")), new File(opts("--out-dir")),
      opts("--cores").toInt, tiny = false)
    println(line)
    sys.exit(0)
  }

  /** One measured run in a fresh session; returns the result line. */
  def runOne(workload: String, seed: Long, seconds: Int, trace: Boolean,
             runDir: File, outDir: File, cores: Int,
             tiny: Boolean): String = {
    runDir.mkdirs()
    val sizes = if (tiny) Sizes.tiny(seconds) else Sizes.full(seconds)
    val input = new File(runDir, "input")
    workload match {
      case "stream_evolving_avro" => Gen.stream(input, seed, sizes.stream)
      case _                      => Gen.index(input, seed, sizes.index)
    }
    val t0 = System.nanoTime()
    val spark = session(runDir, cores, trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(trace, spark)
    val ctx = Ctx(workload, spark, tracer, runDir, outDir, seed, seconds,
      sizes, setupReps = if (tiny) 1 else 3)
    val res =
      try {
        workload match {
          case "stream_evolving_avro" => Stream.run(ctx)
          case _                      => Index.run(ctx)
        }
      } finally tracer.close()
    val host = Map("nproc" -> (cores + 1), "local_cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cpu_steal_share" -> res.stealShare)
    println("# host " + Json.value(host))
    // timings taken while other tenants held much of the host are not
    // this program's: the run is invalid
    res.check(res.stealShare <= MaxStealShare, f"run invalid: " +
      f"${res.stealShare}%.3f of the CPU time was stolen while timed " +
      f"(limit $MaxStealShare)")
    val correct = res.failed == 0 && res.attempted > 0
    println("# run " + Json.value(Map("attempted" -> res.attempted,
      "failed" -> res.failed, "error_rate" ->
        res.failed.toDouble / math.max(1L, res.attempted),
      "commits" -> res.commitMs.size, "reads" -> res.readMs.size,
      "freshness_samples" -> res.freshnessMs.size,
      "setup_runs_s" -> res.setupRuns, "session_s" -> sessionS,
      "commit_series_ms" -> res.commitMs.map(x => math.rint(x)).toSeq,
      "read_series_ms" -> res.readMs.map(x => math.rint(x)).toSeq,
      "events" -> res.events, "errors" -> res.errors.take(5).toSeq) ++
      res.notes))
    val metrics: Seq[(String, Double, String)] =
      if (!correct) Nil
      else if (!trace) endToEnd(res, sessionS)
      else Layers.compute(ctx, res)
    spark.stop()
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }

  def session(runDir: File, cores: Int, trace: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir",
        new File(runDir, "warehouse").getAbsolutePath)
      // the engine's own local file system (fork-free permission
      // handling); traced runs add call counters on top of it
      .config("spark.hadoop.fs.file.impl",
        if (trace) classOf[CountingFs].getName
        else classOf[graft.sources.NioLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (steal, total) CPU ticks of the host so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.isFile) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val t = src.getLines().next().trim.split("\\s+").drop(1)
          .take(8).map(_.toLong)
        (t.lift(7).getOrElse(0L), t.sum)
      } finally src.close()
    }
  }

  /** Share of CPU time the hypervisor gave to other tenants between two
    * readings.
    */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    val hwm =
      if (!f.isFile) None
      else {
        val src = scala.io.Source.fromFile(f)
        try src.getLines().find(_.startsWith("VmHWM:"))
          .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        finally src.close()
      }
    hwm.getOrElse {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
  }

  def endToEnd(res: Result, sessionS: Double): Seq[(String, Double, String)] = {
    val units = EndToEnd.toMap
    val v = Seq(
      "setup_s" -> (sessionS + Stats.median(res.setupRuns)),
      "events_per_s" -> res.events / (res.commitMs.sum / 1000.0),
      "commit_ms_p50" -> Stats.quantile(res.commitMs.toSeq, 0.5),
      "commit_ms_p90" -> Stats.quantile(res.commitMs.toSeq, 0.9),
      "read_ms_p50" -> Stats.quantile(res.readMs.toSeq, 0.5),
      "read_ms_p90" -> Stats.quantile(res.readMs.toSeq, 0.9),
      "freshness_ms_p50" -> Stats.quantile(res.freshnessMs.toSeq, 0.5),
      "freshness_ms_p90" -> Stats.quantile(res.freshnessMs.toSeq, 0.9),
      "write_bytes_per_event" ->
        res.timedFs.bytesWritten.toDouble / math.max(1L, res.events),
      "space_bytes_per_row" ->
        res.spaceBytes.toDouble / math.max(1L, res.liveRows),
      "peak_rss_mb" -> peakRssMb())
    v.map { case (n, x) => (n, x, units(n)) }
  }
}
