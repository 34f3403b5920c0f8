package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.cdc.{EnvelopeCodec, SchemaRegistry}
import graft.streaming.CdcPipeline

/** stream_evolving_avro — open loop. Set-up pre-encodes every generated
  * file as binary-Avro wire records (`EnvelopeCodec.encodeAvro`), starts
  * `startEvolvingAvro` on a watched directory with a continuous trigger
  * and lands warm-up files one at a time. The timed phase lands one file
  * per fixed interval by atomic rename, whether or not the pipeline has
  * kept up, and once the pipeline has drained runs reader rounds against
  * the store, so the landing schedule never waits for a read. Freshness
  * runs from a file's due time to the progress event of the trigger whose
  * cumulative input rows cover it.
  */
object Stream {

  /** Largest p90 generator lag of a valid run. */
  val MaxGenLagMs = 100.0

  val subject = "perfbench.inventory.accounts-value"
  val topic = "perfbench.inventory.accounts"

  val wireSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("schema_version", IntegerType),
    StructField("schema_json", StringType)))

  /** Writer schema of one wire version (v4 adds a NOT NULL column). */
  def writer(v: Int): StructType = StructType(
    Gen.StreamColumns.filter(c => Gen.streamHas(v, c)).map { c =>
      StructField(c, if (c == "amount") LongType else StringType,
        nullable = c != "region")
    })

  /** One generated event (a line of a file). */
  final case class Ev(version: Int, key: String, eid: Long, ts: Long,
                      op: String, payload: Map[String, Option[String]])

  def parse(a: Array[String]): Ev = Ev(a(0).toInt, a(1), a(2).toLong,
    a(3).toLong, a(4),
    Gen.StreamColumns.zipWithIndex.map { case (c, i) =>
      c -> Gen.opt(a(5 + i)) }.toMap)

  /** Encode every file into one parquet file of wire records under
    * `staged`, named f-<file>.parquet.
    */
  def encode(ctx: Ctx, files: IndexedSeq[Seq[Ev]], staged: File): Unit = {
    val spark = ctx.spark
    val tmp = new File(ctx.runDir, "encode").getAbsolutePath
    val byVersion = files.zipWithIndex
      .flatMap { case (evs, f) => evs.map(e => (f, e)) }
      .groupBy(_._2.version)
    val wires = byVersion.toSeq.sortBy(_._1).map { case (v, evs) =>
      val w = writer(v)
      val rowSchema = StructType(w.fields ++
        Seq(StructField("event_id", LongType), StructField("ts_us", LongType),
          StructField("op", StringType), StructField("key", StringType),
          StructField("file", IntegerType)))
      val rows = evs.map { case (f, e) =>
        Row.fromSeq(w.fieldNames.toSeq.map(c => e.payload(c).map(x =>
          if (c == "amount") x.toLong else x).orNull) ++
          Seq(e.eid, e.ts, e.op, e.key, f))
      }
      val df = spark.createDataFrame(rows.asJava, rowSchema)
      val after = when(col("op") === "d", lit(null).cast(w))
        .otherwise(struct(w.fieldNames.toSeq.map(col): _*))
      val env = df.select(col("key"), lit(null).cast(w).as("before"),
        after.as("after"),
        struct(lit("inventory").as("db"), lit("accounts").as("table"),
          lit(1L).as("server_id"), col("ts_us").as("ts_us")).as("source"),
        col("op"), col("ts_us"), lit(topic).as("topic"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        lit(v).as("schema_version"), lit(w.json).as("schema_json"),
        col("file"))
      EnvelopeCodec.encodeAvro(env, passthrough =
        Seq("event_id", "ts", "schema_version", "schema_json", "file"))
    }
    wires.reduce(_ unionByName _)
      .repartition(col("file"))
      .write.partitionBy("file").parquet(tmp)
    staged.mkdirs()
    files.indices.foreach { f =>
      val part = new File(tmp, s"file=$f").listFiles()
        .filter(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet"))
      require(part.length == 1, s"file $f encoded into ${part.length} parts")
      Files.move(part.head.toPath, new File(staged, f"f-$f%05d.parquet")
        .toPath)
    }
  }

  /** Land a staged file into the watched directory with one atomic
    * rename (a copy is staged next to it first when `keep`).
    */
  def land(staged: File, f: Int, watch: File, keep: Boolean): Unit = {
    val src = new File(staged, f"f-$f%05d.parquet")
    val tmp = new File(watch, f".f-$f%05d.parquet.tmp")
    if (keep) Files.copy(src.toPath, tmp.toPath)
    else Files.move(src.toPath, tmp.toPath)
    tmp.setLastModified(System.currentTimeMillis())
    Files.move(tmp.toPath, new File(watch, f"f-$f%05d.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  final class Pipeline(ctx: Ctx, val dir: File, progress: ProgressListener) {
    val watch = new File(dir, "in")
    val state = new File(dir, "state").getAbsolutePath
    val dead = new File(dir, "dead").getAbsolutePath
    val registry = new SchemaRegistry()
    val rejections = new java.util.concurrent.atomic.AtomicInteger()
    watch.mkdirs()
    val query: StreamingQuery = {
      val src = ctx.spark.readStream.schema(wireSchema)
        .parquet(watch.getAbsolutePath)
      CdcPipeline.startEvolvingAvro(src, state,
        new File(dir, "checkpoint").getAbsolutePath, registry, subject,
        dead, CdcPipeline.Config(), availableNow = false,
        onRejection = _ => { rejections.incrementAndGet(); () })
    }
    def triggers: Seq[Trigger] = progress.of(query.id)
    def rowsIn: Long = triggers.map(_.rows).sum

    /** Block until the triggers have consumed `rows` input rows. */
    def awaitRows(rows: Long, timeoutS: Int = 120): Unit = {
      val limit = System.nanoTime() + timeoutS * 1000000000L
      while (rowsIn < rows) {
        if (query.exception.isDefined) throw query.exception.get
        require(System.nanoTime() < limit,
          s"stream consumed $rowsIn of $rows rows in ${timeoutS}s")
        Thread.sleep(2)
      }
    }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val z = ctx.sizes.stream
    val res = new Result(ctx.seconds)
    val nFiles = z.warmFiles + z.timedFiles
    val files = (0 until nFiles).map(f =>
      Gen.read(new File(ctx.runDir, f"input/file-$f%05d.tsv")).map(parse))
    val staged = new File(ctx.runDir, "staged")
    encode(ctx, files, staged) // input preparation, outside setup_s
    val rowsOf = files.map(_.size.toLong)
    val cum = rowsOf.scanLeft(0L)(_ + _).tail
    val progress = new ProgressListener
    spark.streams.addListener(progress)

    // ---- set-up, repeated; the last repetition keeps running and is
    // warmed up on the remaining warm-up files ------------------------
    var p: Pipeline = null
    val starts = (0 until ctx.setupReps).map { rep =>
      if (p != null) p.query.stop()
      val t0 = System.nanoTime()
      p = new Pipeline(ctx, new File(ctx.runDir, s"pipeline-$rep"), progress)
      land(staged, 0, p.watch, keep = true)
      p.awaitRows(cum(0))
      (System.nanoTime() - t0) / 1e9
    }
    val pipe = p
    val w0 = System.nanoTime()
    (1 until z.warmFiles).foreach { f =>
      land(staged, f, pipe.watch, keep = false)
      pipe.awaitRows(cum(f))
      readRound(ctx, res, pipe, files) // the readers warm up too
    }
    val warm = (System.nanoTime() - w0) / 1e9
    res.setupRuns = starts.map(_ + warm)

    // ---- timed, open loop --------------------------------------------
    val tr = ctx.tracer
    val interval = z.intervalMs * 1000000L
    val dueUs = new Array[Long](nFiles)
    res.timedStart()
    val streamLists0 = CountingFs.streamLists.sum()
    val t0 = System.nanoTime()
    val us0 = Clock.nowUs
    (0 until z.timedFiles).foreach { i =>
      val f = z.warmFiles + i
      val due = t0 + i * interval
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      dueUs(f) = us0 + (due - t0) / 1000L
      res.sample("bench.gen_lag_ms", (System.nanoTime() - due) / 1e6)
      val covered = cum.count(_ <= pipe.rowsIn)
      res.counts("stream.backlog_files_max") = math.max(
        res.counts.getOrElse("stream.backlog_files_max", 0.0),
        (f - covered).toDouble)
      land(staged, f, pipe.watch, keep = false)
    }
    // an open loop that could not keep its schedule measured something
    // else: the run is invalid
    val lagP90 = Stats.quantile(res.samples("bench.gen_lag_ms").toSeq, 0.9)
    res.check(lagP90 <= MaxGenLagMs, f"run invalid: the generator landed " +
      f"files $lagP90%.1f ms late at p90 (limit $MaxGenLagMs ms)")
    res.attempt(pipe.awaitRows(cum.last))
    val drainedUs = Clock.nowUs
    val streamFs = FsStats.since(res.fs0)
    val streamLists = CountingFs.streamLists.sum() - streamLists0
    // reader rounds against the drained store while the query idles
    (0 until z.readRounds).foreach(_ =>
      readRound(ctx, res, pipe, files).foreach(res.read))
    res.timedEnd()
    pipe.query.stop()
    spark.streams.removeListener(progress)

    // ---- freshness, commits and trigger components ------------------
    val trig = pipe.triggers
    val cumTrig = trig.map(_.rows).scanLeft(0L)(_ + _).tail
    (z.warmFiles until nFiles).foreach { f =>
      val i = cumTrig.indexWhere(_ >= cum(f))
      if (i >= 0) res.freshnessMs += (trig(i).recvUs - dueUs(f)) / 1000.0
    }
    val warmRows = cum(z.warmFiles - 1)
    val timed = trig.zip(cumTrig).filter { case (t, c) =>
      t.rows > 0 && c > warmRows }.map(_._1)
    val n = math.max(1, timed.size)
    val share = FsDelta(streamFs.bytesRead / n, streamFs.bytesWritten / n,
      streamFs.writeOps / n, streamLists / n)
    // every trigger in the timed region is pipeline time, the no-data
    // ones that only advance the watermark included; commits are the
    // triggers that consumed rows
    val spanOf = if (!tr.enabled) Map.empty[Long, Long] else
      trig.filter(t => t.endUs > res.startUs && t.startUs < res.endUs)
        .map(t => t.batchId -> traceTrigger(tr, res, t)).toMap
    timed.foreach { t =>
      val op = spanOf.getOrElse(t.batchId, 0L)
      res.commitMs += t.execMs
      res.commitUnits += Work(op, t.startUs, t.endUs, t.execMs, Some(share))
      Seq("addBatch", "queryPlanning", "walCommit", "latestOffset",
        "commitOffsets").foreach(c =>
        res.sample(s"stream.${c}_ms", t.durations.getOrElse(c, 0L).toDouble))
      res.sample("stream.rows_per_trigger", t.rows.toDouble)
    }
    res.criticalRoot = Set("stream.trigger", ReadRound)
    res.notes("busy_share") =
      timed.map(_.execMs).sum * 1000.0 / (drainedUs - res.startUs)
    res.events = timed.map(_.rows).sum

    // ---- correctness gate, outside the timed region ------------------
    res.attempt(res.check(pipe.rowsIn == cum.last,
      s"stream consumed ${pipe.rowsIn} of ${cum.last} landed rows"))
    val v4 = files.flatten.filter(_.version == 4)
    res.attempt {
      val dl = spark.read.parquet(s"${pipe.dead}/v4").count()
      res.check(dl == v4.size && pipe.rejections.get == 1,
        s"dead letter holds $dl rows (want ${v4.size}), " +
          s"${pipe.rejections.get} rejections (want 1)")
      res.counts("cdc.dead_letter_rows") = dl.toDouble
    }
    res.counts("cdc.registry_versions") =
      pipe.registry.history(subject).size.toDouble
    res.check(pipe.registry.history(subject).size == 3,
      s"registry holds ${pipe.registry.history(subject).size} versions")
    /** Latest-wins over the accepted events of the first `n` files. */
    def reference(n: Int): Map[String, Ev] = {
      val ref = mutable.HashMap.empty[String, Ev]
      files.take(n).flatten.filter(_.version != 4).foreach { e =>
        ref.get(e.key) match {
          case Some(c) if c.ts > e.ts || (c.ts == e.ts && c.eid >= e.eid) =>
          case _ => ref(e.key) = e
        }
      }
      ref.toMap
    }
    val ref = reference(nFiles)
    val cols = Seq("name", "amount", "status", "email")
    def canon(key: String, eid: Long, ts: Long, op: String,
              vals: Seq[Option[String]]): String =
      (Seq(key, eid.toString, ts.toString, op) ++ vals.map(_.getOrElse(
        Gen.Null))).mkString("|")
    val want = ref.values.filter(_.op != "d").map(e =>
      canon(e.key, e.eid, e.ts, e.op, cols.map(e.payload))).toSet
    res.attempt {
      val got = CdcPipeline.currentState(spark, pipe.state).get
        .select((Seq("key", "event_id", "ts_us", "op") ++ cols).map(col): _*)
        .collect().map(r => canon(r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), cols.indices.map(i =>
            Option(r.get(4 + i)).map(_.toString)))).toSet
      res.check(got == want, s"final state: ${got.size} rows, want " +
        s"${want.size}; extra ${(got -- want).take(2)}, missing " +
        s"${(want -- got).take(2)}")
    }
    // time travel over the last two commits, now that no commit runs:
    // each commit's batch maps to the files its trigger consumed
    res.attempt {
      val ids = CdcPipeline.commits(spark, pipe.state).map(_._2)
      val Seq(a, b) = ids.takeRight(2)
      def filesThrough(batch: Long): Int = {
        val i = trig.indexWhere(_.batchId == batch)
        cum.count(_ <= cumTrig(i))
      }
      val (refA, refB) = (reference(filesThrough(a)), reference(filesThrough(b)))
      val (n, asOf) = tr.op("streaming.stateAsOf") {
        CdcPipeline.stateAsOf(spark, pipe.state, a).get.count()
      }
      res.sample("streaming.asof_ms", asOf.wallMs)
      res.check(n == refA.values.count(_.op != "d"),
        s"stateAsOf($a) counted $n rows")
      val (got, diff) = tr.op("streaming.stateDiff") {
        CdcPipeline.stateDiff(spark, pipe.state, a, b).collect()
      }
      res.sample("streaming.diff_ms", diff.wallMs)
      def live(m: Map[String, Ev], k: String) = m.get(k).filter(_.op != "d")
      val wantDiff = (refA.keySet ++ refB.keySet).toSeq.flatMap { k =>
        (live(refA, k), live(refB, k)) match {
          case (None, Some(x)) => Some((k, "added", x.ts, x.eid))
          case (Some(_), None) => Some((k, "removed", 0L, 0L))
          case (Some(x), Some(y)) if x.eid != y.eid =>
            Some((k, "updated", y.ts, y.eid))
          case _ => None
        }
      }.toSet
      val haveDiff = got.map { r =>
        if (r.getString(1) == "removed") (r.getString(0), "removed", 0L, 0L)
        else (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      }.toSet
      res.check(haveDiff == wantDiff, s"stateDiff($a, $b): " +
        s"${(haveDiff -- wantDiff).take(2)} extra, " +
        s"${(wantDiff -- haveDiff).take(2)} missing")
    }
    graft.sources.SegmentedIndex.awaitGc()
    res.liveRows = want.size
    res.spaceBytes = Ctx.du(new File(pipe.state))
    res
  }

  val ReadRound = "streaming.read_round"

  /** One reader round: an aggregate scan, then a hot-key lookup, each
    * sanity-checked (the final state is checked exactly after the run).
    * One read is one round: the two reads differ in cost, so pooling
    * them would put the median between two clusters.
    */
  private def readRound(ctx: Ctx, res: Result, pipe: Pipeline,
                        files: IndexedSeq[Seq[Ev]]): Option[OpRec] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val hot = "k000000"
    res.attempt(tr.op(ReadRound) {
      val n = tr.span("streaming.currentState.scan") {
        CdcPipeline.currentState(spark, pipe.state).get
          .agg(count(lit(1))).head().getLong(0)
      }
      val got = tr.span("streaming.currentState.lookup") {
        CdcPipeline.currentState(spark, pipe.state).get
          .filter(col("key") === hot).select("key", "event_id").collect()
      }
      (n, got)
    }).map { case ((n, got), o) =>
      res.check(n > 0 && n <= ctx.sizes.stream.keys,
        s"scan counted $n live rows")
      res.check(got.length <= 1 && got.forall(r => files.exists(_.exists(
        e => e.key == hot && e.eid == r.getLong(1) && e.version != 4))),
        s"lookup of $hot returned ${got.toSeq}")
      o
    }
  }

  /** A trigger as a span, its reported components laid out in execution
    * order as children, and its jobs hung under `addBatch`; returns the
    * trigger span's id.
    */
  private def traceTrigger(tr: Tracer, res: Result, t: Trigger): Long = {
    val id = tr.nextId()
    tr.add(Span(id, 0L, id, "stream.trigger", t.startUs, t.endUs))
    var at = t.startUs
    Seq("latestOffset", "getBatch", "walCommit", "queryPlanning",
      "addBatch", "commitOffsets").foreach { c =>
      t.durations.get(c).foreach { ms =>
        val cid = tr.nextId()
        tr.add(Span(cid, id, id, s"stream.$c", at, at + ms * 1000L))
        if (c == "addBatch") res.jobParent(t.batchId) = cid
        at += ms * 1000L
      }
    }
    id
  }
}
