package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max, min}

/** Sustained-ingest throughput for the CDC merge path (r9 verdict
  * item 4): replay the sf feed as N time-ordered micro-batches through
  * [[graft.streaming.CdcPipeline.mergeBatch]] and report events/s with
  * the warm and cold wall times. A per-layer split of a commit comes
  * from outside the engine: `perfbench/run.py --trace 1` attributes it
  * with public Spark listeners and file-system statistics.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.CdcMergeBench
  *
  * Optional env: SPARK_GRAFT_MERGE_BATCHES (comma list, default
  * "2,10,25"). Prints one JSON line; numbers land in BASELINE.md's
  * round-10 table.
  */
object CdcMergeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val batchCounts = sys.env.getOrElse("SPARK_GRAFT_MERGE_BATCHES",
      "2,10,25").split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.NioLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup (codegen/scheduler spin-up, cf. Bench)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val feed = ops.CdcQueries.flatFeed(spark, sfDir).localCheckpoint()
    val n = feed.count()
    val bounds = feed.agg(min("ts_us"), max("ts_us")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cfg = streaming.CdcPipeline.Config(
      keyCols = Seq("key"), orderCols = Seq("ts_us", "event_id"),
      opCol = "op")

    def replay(nb: Int): Double = {
      val statePath = s"/tmp/graft_mergebench_state_$nb"
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(statePath), true)
      val t0 = System.nanoTime()
      (0 until nb).foreach { i =>
        val from = lo + (hi - lo + 1) * i / nb
        val until = lo + (hi - lo + 1) * (i + 1) / nb
        streaming.CdcPipeline.mergeBatch(
          feed.filter(col("ts_us") >= from && col("ts_us") < until),
          statePath, cfg, i)
      }
      (System.nanoTime() - t0) / 1e9
    }

    // the cold wall is kept as its own field for the compile+JIT delta
    val results = batchCounts.map { nb =>
      val cold = replay(nb)            // pays plan compile + JIT
      (nb, replay(nb), cold)           // warm: the reported number
    }

    val sb = new StringBuilder
    sb ++= s"""{"metric":"cdc_merge_sustained","sf_dir":"$sfDir","events":$n"""
    results.foreach { case (nb, wall, cold) =>
      val eps = n / wall
      sb ++= f""","b$nb":{"wall_sec":$wall%.3f,"wall_cold_sec":$cold%.3f"""
      sb ++= f""","events_per_sec":$eps%.0f}"""
    }
    sb ++= "}"
    println(sb.toString)
    spark.stop()
  }
}
