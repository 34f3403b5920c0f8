package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sim.Similarity
import graft.sources.SegmentedIndex
import graft.text.Dedup

/** index_ingest_probe — closed loop, one client. Set-up builds a
  * shingle index over the base documents and trains and builds an IVF
  * index over the base vectors, then runs warm-up ticks and one fold.
  * Each timed tick appends one document delta and one vector delta,
  * folds either chain through `SegmentedIndex.maintain` once it passes
  * `MaxSegments`, and probes one query shard on each index. The final
  * probes must equal probes of a fresh build over the same inputs.
  */
object Index {

  val MaxSegments = 3
  val NList = 16
  val K = 10

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  private def docs(f: File): Seq[Row] =
    Gen.read(f).map(a => Row(a(0).toLong, a(1)))
  private def vecs(f: File): Seq[Row] =
    Gen.read(f).map(a => Row(a(0).toLong, a(1).split(',').map(_.toDouble)
      .toSeq))

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val z = ctx.sizes.index
    val in = new File(ctx.runDir, "input")
    val res = new Result(ctx.seconds)
    val tr = ctx.tracer
    def frame(rows: Seq[Row], s: StructType): DataFrame =
      spark.createDataFrame(rows.asJava, s)
    val baseDocs = docs(new File(in, "base-docs.tsv"))
    val baseVecs = vecs(new File(in, "base-vecs.tsv"))
    val ticks = (0 until z.ticks).map(t => (
      docs(new File(in, f"docs-$t%05d.tsv")),
      vecs(new File(in, f"vecs-$t%05d.tsv")),
      docs(new File(in, f"qdocs-$t%05d.tsv")),
      vecs(new File(in, f"qvecs-$t%05d.tsv"))))

    var textDir = ""
    var simDir = ""

    /** Append, fold when the chain is too long, then one probe round.
      * Returns the commit, the time the appends were visible, the probe
      * round and both probes' rows.
      */
    def tick(t: Int): (OpRec, Double, OpRec, (Array[Row], Array[Row])) = {
      val (d, v, qd, qv) = ticks(t)
      val t0 = System.nanoTime()
      var visible = 0.0
      val (_, commit) = tr.op("index.tick") {
        timed("text.append")(
          Dedup.appendShingleIndex(textDir, frame(d, docSchema)))
        timed("sim.append")(
          Similarity.appendIvfIndex(simDir, frame(v, vecSchema)))
        visible = (System.nanoTime() - t0) / 1e6
        SegmentedIndex.maintain(spark, textDir, MaxSegments)(fold("text")(
          Dedup.compactShingleIndex(spark, textDir)))
        SegmentedIndex.maintain(spark, simDir, MaxSegments)(fold("sim")(
          Similarity.compactIvfIndex(spark, simDir)))
      }
      if (tr.enabled) Seq("text" -> textDir, "sim" -> simDir).foreach {
        case (family, dir) => res.sample(s"$family.segments_at_probe",
          SegmentedIndex.segments(spark, dir,
            SegmentedIndex.currentVersion(spark, dir)).size)
      }
      // one read is a probe round over both indexes: the two probes
      // differ in cost, so pooling them would put the median between
      // two clusters
      val (rows, round) = tr.op("index.probe_round") {
        (timed("text.probe")(
          Dedup.probeShingleIndex(textDir, frame(qd, docSchema)).collect()),
         timed("sim.probe")(
          Similarity.ivfProbeIndexed(simDir, frame(qv, vecSchema), K)
            .collect()))
      }
      (commit, visible, round, rows)
    }
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = tr.span(name)(f)
      res.sample(s"${name}_ms", (System.nanoTime() - t0) / 1e6)
      r
    }
    def fold(family: String)(f: => Unit): Unit = {
      val fs0 = FsStats.snapshot()
      val t0 = System.nanoTime()
      tr.span(s"$family.fold")(f)
      res.sample(s"$family.fold_ms", (System.nanoTime() - t0) / 1e6)
      res.sample(s"$family.fold_bytes", FsStats.since(fs0).bytesWritten)
    }

    // ---- set-up: the builds repeated (the last repetition's indexes
    // are measured), then warm-up ticks and one fold -------------------
    val builds = (0 until ctx.setupReps).map { rep =>
      textDir = new File(ctx.runDir, s"text-$rep").getAbsolutePath
      simDir = new File(ctx.runDir, s"sim-$rep").getAbsolutePath
      // no training artifact may carry over from an earlier repetition
      Similarity.clearTrainingMemo()
      val t0 = System.nanoTime()
      Dedup.buildShingleIndex(frame(baseDocs, docSchema), textDir)
      val vs = frame(baseVecs, vecSchema)
      val tt = System.nanoTime()
      val cents = Similarity.trainCentroids(vs, NList)
      res.sample("sim.train_ms", (System.nanoTime() - tt) / 1e6)
      Similarity.buildIvfIndex(vs, simDir, centroids = Some(cents))
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    (0 until z.warmTicks).foreach(tick)
    // the fold leaves a one-segment chain, so timed ticks fold every
    // third tick from the third on
    Dedup.compactShingleIndex(spark, textDir)
    Similarity.compactIvfIndex(spark, simDir)
    val warm = (System.nanoTime() - w0) / 1e9
    res.setupRuns = builds.map(_ + warm)
    // warm-up ticks are not measured
    Seq("text.append_ms", "sim.append_ms", "text.probe_ms", "sim.probe_ms",
      "text.fold_ms", "sim.fold_ms", "text.fold_bytes", "sim.fold_bytes",
      "text.segments_at_probe", "sim.segments_at_probe")
      .foreach(res.samples.remove)

    // ---- timed loop ---------------------------------------------------
    var t = z.warmTicks
    def done = t - z.warmTicks
    var last: (Array[Row], Array[Row]) = null
    var lastTick = -1
    res.timedStart()
    // at least two whole fold cycles, and whole cycles only, so every run
    // folds the same share of its ticks and its p90 falls on folds
    while ((!res.timeUp || done < 2 * MaxSegments || done % MaxSegments != 0)
           && t < ticks.size && res.failed == 0) {
      res.attempt(tick(t)).foreach { case (c, visible, round, rows) =>
        res.commit(c)
        res.freshnessMs += visible
        res.read(round)
        res.events += ticks(t)._1.size + ticks(t)._2.size
        last = rows
        lastTick = t
      }
      t += 1
    }
    res.timedEnd()

    // ---- correctness gate: one fresh build over the same inputs -----
    if (lastTick >= 0) res.attempt {
      val allDocs = baseDocs ++ (0 to lastTick).flatMap(ticks(_)._1)
      val allVecs = baseVecs ++ (0 to lastTick).flatMap(ticks(_)._2)
      val freshText = new File(ctx.runDir, "fresh-text").getAbsolutePath
      val freshSim = new File(ctx.runDir, "fresh-sim").getAbsolutePath
      Dedup.buildShingleIndex(frame(allDocs, docSchema), freshText)
      val cents = Similarity.readCentroids(spark, simDir,
        Similarity.indexVersion(spark, simDir))
      Similarity.buildIvfIndex(frame(allVecs, vecSchema), freshSim,
        centroids = Some(cents))
      val (_, _, qd, qv) = ticks(lastTick)
      val wantText = Dedup.probeShingleIndex(freshText,
        frame(qd, docSchema)).collect()
      val wantSim = Similarity.ivfProbeIndexed(freshSim,
        frame(qv, vecSchema), K).collect()
      res.check(last._1.toSet == wantText.toSet && wantText.nonEmpty,
        s"text probe: standing ${last._1.length} rows, fresh " +
          s"${wantText.length} rows")
      res.check(last._2.toSet == wantSim.toSet && wantSim.nonEmpty,
        s"sim probe: standing ${last._2.length} rows, fresh " +
          s"${wantSim.length} rows")
      res.liveRows = allDocs.size + allVecs.size
    }
    // the segments the current versions read; retained older versions
    // come and go with the fold phase
    SegmentedIndex.awaitGc()
    res.spaceBytes = Seq(textDir, simDir).map { dir =>
      SegmentedIndex.segments(spark, dir, SegmentedIndex.currentVersion(
        spark, dir)).map(v => Ctx.du(new File(dir, v))).sum
    }.sum
    res
  }
}
