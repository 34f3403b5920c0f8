package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sim.Similarity
import graft.sources.{SegmentedIndex, Tables}
import graft.text.Dedup

/** Measures the claim self-maintaining ingest exists for: on a
  * LONG-RUNNING stream, an unmaintained chain's probe latency grows
  * with batch count (per-segment fixed cost) while a maintained sink
  * (`maxSegments` triggers the family compaction after appends) holds
  * it at fresh-build shape — at the price of periodic fold work on the
  * ingest side, amortized over the threshold's worth of batches.
  *
  * Protocol per family: one base build, then `rounds` stream SITTINGS
  * (each sitting drops `perRound` new files into the source dir and
  * runs an AvailableNow pass against the SAME checkpoint — the
  * periodic catch-up shape a deployed ingest actually runs). After
  * each sitting: warm probe (min of 3), committed chain length, live
  * bytes under the index root (shows the keep-window GC bounds disk in
  * both modes). Identical deltas feed an unmaintained (maxSegments=0)
  * and a maintained (maxSegments=3) run; final answers are asserted
  * equal, so the curve differences are pure read-path layout.
  *
  *   runMain graft.tools.MaintainProbe [sfDir] [rounds] [perRound]
  */
object MaintainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(4)
    val perRound = args.lift(2).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val fs = new Path("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    def warmMin3(f: () => Long): (Double, Long) = {
      var best = Double.MaxValue; var rows = 0L
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime(); rows = f()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, rows)
    }
    def liveBytes(dir: String): Long = {
      val p = new Path(dir)
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true); var n = 0L
        while (it.hasNext) n += it.next().getLen
        n
      }
    }
    // small-file hygiene (r10 verdict item 5): COUNT of live files
    // under a root — the metric that catches metadata accretion
    // (_TAGS/manifests/version dirs) that byte totals hide
    def liveFiles(dir: String): Long = {
      val p = new Path(dir)
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true); var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      }
    }
    def chainLen(dir: String): Int =
      SegmentedIndex.segments(spark, dir,
        SegmentedIndex.currentVersion(spark, dir)).size

    /** One family's two runs. `mkDelta(round)` yields that round's
      * delta rows (identical across modes); `sink(cp, maxSegments)`
      * is the family's foreachBatch sink; `probe()` the counted warm
      * probe. Returns rows of (mode, batches, probeSec, chain, MiB,
      * sittingSec). */
    def family(name: String, root: String,
               build: String => Unit,
               mkDelta: Int => DataFrame,
               sink: (String, String, Int) => (DataFrame, Long) => Unit,
               probe: String => () => Long): Unit = {
      val answers = scala.collection.mutable.Map[Int, Long]()
      Seq(0 -> "unmaintained", 3 -> "maintained").foreach {
        case (maxSeg, mode) =>
          val base = s"$root/$mode"
          fs.delete(new Path(base), true)
          val dir = s"$base/index"
          build(dir)
          (1 to rounds).foreach { r =>
            // drop this sitting's files; append=true so earlier
            // rounds' files stay (the checkpoint skips them)
            mkDelta(r).repartition(perRound).write.mode("append")
              .parquet(s"$base/in")
            val s2 = spark.newSession()
            s2.conf.set("spark.sql.shuffle.partitions", 8)
            val t0 = System.nanoTime()
            val q = s2.readStream.schema(mkDelta(r).schema)
              .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
              .writeStream.option("checkpointLocation", s"$base/cp")
              .foreachBatch(sink(dir, s"$base/cp", maxSeg))
              .trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
            val tSit = (System.nanoTime() - t0) / 1e9
            val (tProbe, nRows) = warmMin3(probe(dir))
            val prev = answers.getOrElseUpdate(r, nRows)
            require(prev == nRows,
              s"$name round $r: $mode answer $nRows != $prev")
            println(f"[$name%s] $mode%-12s batches ${r * perRound}%3d " +
              f"probe $tProbe%6.2f s  chain ${chainLen(dir)}%2d  " +
              f"disk ${liveBytes(base) / 1048576.0}%7.1f MiB  " +
              f"files ${liveFiles(dir)}%5d  " +
              f"sitting $tSit%6.2f s")
          }
      }
    }

    // ---- shingle family ----
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .localCheckpoint()
    val incoming = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    family("shingle", "/tmp/graft_maintain_probe_sh",
      dir => Dedup.buildShingleIndex(
        docs.filter(col("doc_id") % 2 === 0), dir),
      r => docs.filter(col("doc_id") % 2 === 1 &&
        pmod(col("doc_id"), lit(2 * rounds)) === (2 * (r - 1) + 1)),
      (dir, cp, maxSeg) =>
        Dedup.shingleStreamSink(dir, cp, maxSegments = maxSeg),
      dir => () => Dedup.probeShingleIndex(dir, incoming, 3, 0.8).count())

    // ---- IVF raw family ----
    val vecs = graft.ops.SimilarityQueries.doubleVecs(spark, sfDir)
      .localCheckpoint()
    val qs = vecs.filter(col("vec_id") < 8).localCheckpoint()
    family("ivf", "/tmp/graft_maintain_probe_ivf",
      dir => Similarity.buildIvfIndex(
        vecs.filter(col("vec_id") % 2 === 0), dir),
      r => vecs.filter(col("vec_id") % 2 === 1 &&
        pmod(col("vec_id"), lit(2 * rounds)) === (2 * (r - 1) + 1)),
      (dir, cp, maxSeg) =>
        Similarity.ivfStreamSink(dir, cp, maxSegments = maxSeg),
      dir => () => Similarity.ivfProbeIndexed(dir, qs, 5).count())

    // ---- CDC upsert store: the ~100-commit file-count audit ----
    // A months-long low-rate stream is ~1 commit per trigger; the
    // store's live file population must reach a PLATEAU (buckets ×
    // retained versions + their manifests), not grow with commit
    // count. Pre-r11 this curve diverged: one manifest file per commit
    // accreted forever (the shared version GC in
    // PointerFile.commitVersion keeps only the retained commits'
    // metadata). Replays the sf feed as `cdcCommits` time-ordered
    // micro-batches; prints the curve every 10 commits and FAILS if
    // the second half still grows.
    val cdcCommits = sys.env.getOrElse("SPARK_GRAFT_CDC_COMMITS", "100")
      .toInt
    val feed = graft.ops.CdcQueries.flatFeed(spark, sfDir)
      .localCheckpoint()
    val bounds = feed.agg(min("ts_us"), max("ts_us")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val statePath = "/tmp/graft_maintain_probe_cdc"
    fs.delete(new Path(statePath), true)
    val cfg = graft.streaming.CdcPipeline.Config(
      keyCols = Seq("key"), orderCols = Seq("ts_us", "event_id"),
      opCol = "op")
    val curve = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    (0 until cdcCommits).foreach { i =>
      val from = lo + (hi - lo + 1) * i / cdcCommits
      val until = lo + (hi - lo + 1) * (i + 1) / cdcCommits
      graft.streaming.CdcPipeline.mergeBatch(
        feed.filter(col("ts_us") >= from && col("ts_us") < until),
        statePath, cfg, i.toLong)
      if ((i + 1) % 10 == 0) {
        val n = liveFiles(statePath)
        curve += ((i + 1, n))
        println(f"[cdc-store] commits ${i + 1}%3d  files $n%5d  " +
          f"disk ${liveBytes(statePath) / 1048576.0}%7.1f MiB")
      }
    }
    // bounded = the max of the second half does not exceed the max of
    // the first half by more than the per-commit jitter (a commit's
    // touched-bucket count varies with its key draw; 15% slack)
    val (h1, h2) = curve.splitAt(curve.size / 2)
    val (m1, m2) = (h1.map(_._2).max, h2.map(_._2).max)
    require(m2 <= m1 * 1.15,
      s"cdc store file count still growing: first-half max $m1, " +
        s"second-half max $m2 — metadata accretion is back")
    println(f"[cdc-store] BOUNDED: first-half max $m1%d files, " +
      f"second-half max $m2%d (${cdcCommits}%d commits)")
  }
}
