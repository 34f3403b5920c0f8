package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.Materialize

/** Streaming CDC materialization — the reference's deployed data plane
  * (Debezium topic → Hudi upsert, `/root/reference/README.md:22`)
  * re-expressed on Structured Streaming:
  *
  *   readStream (change-event feed)
  *     → event-time watermark (T3 late/replayed data)
  *     → dropDuplicatesWithinWatermark (A4 at-least-once dedup)
  *     → foreachBatch: latest-per-key + upsert into versioned state (A1-A3)
  *
  * The file source stands in for Kafka (no broker in the sandbox —
  * SURVEY.md §7.2); the Kafka variant is the same pipeline with
  * `format("kafka")` + key/value decode and is config-only here.
  *
  * State is a parquet table HASH-BUCKETED on the key into
  * `Config.numBuckets` bucket directories, merged PARTITION-SCOPED: a
  * micro-batch rewrites only the buckets its keys hash into; untouched
  * buckets' files are not read, not rewritten, not even listed. Merge
  * cost is therefore ∝ batch keys × (table size / numBuckets), never
  * ∝ table size — the Hudi upsert shape (`/root/reference/README.md:22`:
  * file groups touched by the batch are the only ones rewritten).
  *
  * Commits ride the engine's one commit protocol
  * ([[graft.sources.SegmentedIndex]]), the fifth store on it: each
  * merge or compaction writes its buckets into one fresh, never-reused
  * `v-*` version dir, records the store's FULL bucket map as that
  * version's `segments` manifest (one `v-…/__bucket=N` line per live
  * bucket) and the batch id as its `_LABEL`, then commits with the
  * single fenced `_CURRENT` flip — Hudi's one atomic instant per
  * write. A reader resolves `_CURRENT` once and reads that one map, so
  * it only ever sees whole commits; a crash before the flip leaves the
  * parent committed and the idempotent latest-wins replay converges;
  * a second concurrent writer fails loudly at the fence. The retained
  * versions are the store's commit timeline: [[stateAsOf]] reads any
  * commit inside the retention window ([[Config.retainVersions]]),
  * and the shared GC keeps exactly the bucket dirs those commits' maps
  * reference — which also keeps the version a concurrent reader
  * resolved just before a flip.
  */
object CdcPipeline {

  final case class Config(
      keyCols: Seq[String] = Seq("key"),
      tsCol: String = "ts",
      orderCols: Seq[String] = Seq("ts_us", "event_id"),
      opCol: String = "op",
      watermarkDelay: String = "10 minutes",
      numBuckets: Int = 32,
      // how many recent COMMITS stay fully readable: every bucket dir
      // referenced by the last `retainVersions` commits survives GC,
      // giving bounded TIME TRAVEL ([[stateAsOf]]) and the
      // concurrent-reader guard in one policy (≥ 2 keeps the version a
      // reader resolved just before a commit)
      retainVersions: Int = 2)

  /** Deterministic bucket of a row's key — the unit of merge I/O. */
  private[streaming] def bucketOf(cfg: Config): org.apache.spark.sql.Column =
    pmod(xxhash64(cfg.keyCols.map(col): _*), lit(cfg.numBuckets))
      .cast("int")

  /** File-backed change-event stream (schema must be supplied: streaming
    * sources cannot infer). `options` passes source tuning through —
    * e.g. `maxFilesPerTrigger` to bound micro-batch size (the file-source
    * analog of Kafka's `maxOffsetsPerTrigger` backpressure knob).
    */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.options(options).schema(schema).parquet(dir)

  /** A4/T3: watermarked exact-duplicate drop. State for a key expires
    * once the watermark passes, so memory is bounded by delay × rate,
    * not by history length.
    */
  def dedupWithinWatermark(changes: DataFrame, cfg: Config): DataFrame = {
    val cols = (cfg.keyCols ++ cfg.orderCols) :+ cfg.opCol
    changes
      .withWatermark(cfg.tsCol, cfg.watermarkDelay)
      .dropDuplicatesWithinWatermark(cols.head, cols.tail: _*)
  }

  /** Start the pipeline: dedup → per-batch latest-wins merge into
    * `statePath`. AvailableNow processes everything present then stops
    * (test/replay mode); pass `trigger = None` for continuous.
    */
  def start(changes: DataFrame,
            statePath: String,
            checkpointPath: String,
            cfg: Config = Config(),
            availableNow: Boolean = true): StreamingQuery = {
    val deduped = dedupWithinWatermark(changes, cfg)
    val writer = deduped.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch.drop(cfg.tsCol), statePath, cfg, batchId)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Guard the bucket layout: `numBuckets` is the modulus every bucket
    * path was derived under — merging with a different value would
    * recompute `bucketOf` under the new modulus while untouched buckets
    * keep the old layout, leaving a key live in two bucket dirs that
    * latest-wins never reconciles. The first commit persists the value
    * in a tiny metadata pointer; every later merge/compact must match.
    */
  private def checkBucketLayout(fs: org.apache.hadoop.fs.FileSystem,
                                statePath: String, cfg: Config): Unit = {
    val meta = new Path(s"$statePath/meta/numBuckets")
    if (fs.exists(meta)) {
      val persisted = graft.sources.PointerFile.read(fs, meta).toInt
      require(persisted == cfg.numBuckets,
        s"state at $statePath was laid out with numBuckets=$persisted; " +
          s"merging with numBuckets=${cfg.numBuckets} would split keys " +
          "across incompatible bucket layouts")
    } else graft.sources.PointerFile.write(fs, meta,
      cfg.numBuckets.toString)
  }

  /** SCHEMA GATE AT THE SINK — [[mergeBatch]] behind the registry's
    * compatibility verdict, the consumer-side mirror of the reference's
    * producer gate (`/root/reference/bin/mskc-connector.sh:444-445`:
    * auto-registration under BACKWARD; acceptance cases
    * `README.md:466-479`). The batch's schema is registered under
    * `subject` BEFORE any write: a compatible evolution (case 1 drop /
    * case 2 nullable add) records a new version and merges; an
    * incompatible one (case 3: NOT NULL add without default) fails fast
    * with the registry's verdict and the state store is untouched —
    * exactly where the reference's produce fails.
    *
    * Driver-side metadata only: one schema compare per micro-batch,
    * nothing per-row, so the gate costs the same at 100 TB as at 100 MB.
    */
  def mergeBatchGated(batch: DataFrame, statePath: String, cfg: Config,
                      batchId: Long, registry: graft.cdc.SchemaRegistry,
                      subject: String): Unit =
    registry.register(subject, batch.schema) match {
      case Left(inc) => throw new IllegalArgumentException(
        s"schema rejected for subject '$subject' " +
          s"(registry verdict, state untouched): " +
          inc.reasons.mkString("; "))
      case Right(_) => mergeBatch(batch, statePath, cfg, batchId)
    }

  /** State-store path of one demultiplexed table (topic names are
    * path-safe after sanitization; dots are kept — they're the
    * server.db.table separators, `/root/reference/README.md:436`).
    */
  def tablePath(basePath: String, topic: String): String =
    s"$basePath/tables/${topic.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** MULTI-TABLE FAN-OUT — one streaming query materializing EVERY
    * captured table: the mixed feed (one connector, N tables routed
    * topic-per-table, `/root/reference/bin/mskc-connector.sh:406`
    * `database.include.list` + `README.md:436` routing) is demultiplexed
    * INSIDE a single foreachBatch into one bucketed state store per
    * topic. `tables` maps each topic to its payload columns (its
    * schema — tables differ, the mixed stream carries the union with
    * nulls); topics not in the map are ignored, the include-list
    * semantics (F1) the reference applies at capture time.
    *
    * Scale: the micro-batch is persisted once and each table's slice is
    * a partition-local filter+project over it — no shuffle per table,
    * no second pass over the source. The distinct-topic collect is
    * bounded by the table count (connector config size, not data size).
    * Per-table merges then pay only their own touched-bucket I/O, so
    * total merge cost equals the single-table case split N ways.
    * With a `registry`, every table's slice passes the schema gate
    * ([[mergeBatchGated]], subject = topic) before its merge.
    */
  def demuxBatch(batch: DataFrame, basePath: String,
                 tables: Map[String, Seq[String]], cfg: Config,
                 batchId: Long, topicCol: String = "topic",
                 registry: Option[graft.cdc.SchemaRegistry] = None)
      : Unit = {
    if (batch.isEmpty) return
    batch.persist()
    try {
      val present = batch.select(topicCol).distinct()
        .collect().map(_.getString(0))
        .filter(tables.contains).sorted
      present.foreach { t =>
        val slice = batch.filter(col(topicCol) === t)
          .select(tables(t).map(col): _*)
        val path = tablePath(basePath, t)
        registry match {
          case Some(r) => mergeBatchGated(slice, path, cfg, batchId, r, t)
          case None    => mergeBatch(slice, path, cfg, batchId)
        }
      }
    } finally batch.unpersist()
  }

  /** Start the multi-table pipeline: ONE streaming query, watermarked
    * dedup keyed on (topic, key) — keys from different tables may
    * collide, the topic is part of row identity — then per-batch
    * demultiplex into per-table stores ([[demuxBatch]]).
    */
  def startMultiTable(changes: DataFrame,
                      basePath: String,
                      checkpointPath: String,
                      tables: Map[String, Seq[String]],
                      cfg: Config = Config(),
                      topicCol: String = "topic",
                      registry: Option[graft.cdc.SchemaRegistry] = None,
                      availableNow: Boolean = true): StreamingQuery = {
    val streamCfg = cfg.copy(keyCols = topicCol +: cfg.keyCols)
    val deduped = dedupWithinWatermark(changes, streamCfg)
    val writer = deduped.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        demuxBatch(batch.drop(cfg.tsCol), basePath, tables, cfg,
          batchId, topicCol, registry)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One schema-gate rejection surfaced by the evolving pipeline:
    * which producer schema version was refused, in which micro-batch,
    * how many wire rows it carried, and the registry's reasons.
    */
  final case class EvolvingRejection(wireVersion: Int, batchId: Long,
                                     rows: Long, reasons: Seq[String])

  /** LIVE MID-STREAM SCHEMA EVOLUTION — the reference's acceptance
    * cases (`/root/reference/README.md:453-480`) happening to a
    * RUNNING pipeline, not a batch replay: the writer schema changes
    * BETWEEN micro-batches of one streaming query, and each batch
    * passes the registry gate before anything touches state.
    *
    * The wire is the registry-converter shape the reference deploys
    * (`/root/reference/bin/mskc-connector.sh:440-445`): every record
    * carries its payload as binary Avro plus the producer's schema —
    * here a (`schema_version`, `schema_json`) pair per record, the
    * file-feed stand-in for a registry id lookup (Debezium's
    * JsonConverter `schemas.enable=true` embeds the full schema the
    * same way). The streaming SOURCE schema is therefore FIXED —
    * `(key string, value binary, topic string, ts timestamp,
    * event_id long, schema_version int, schema_json string)` — while
    * the DECODED schema evolves freely between micro-batches, which is
    * exactly how a real Kafka+Avro topic evolves under a fixed
    * consumer.
    *
    * Per micro-batch:
    *   1. the distinct (version, schema) pairs — bounded by the number
    *      of schema CHANGES, never data size — register through the
    *      gate in version order: a compatible evolution (case 1 drop /
    *      case 2 nullable add) records a new registry version; an
    *      incompatible one (case 3: NOT NULL add, no default) is
    *      REFUSED;
    *   2. refused versions' raw wire rows divert to
    *      `deadLetterPath/v<version>` with a loud, queryable rejection
    *      record (`_REJECTIONS/v<version>-b<batch>.json`: subject,
    *      reasons, row count) and `onRejection` fires — THE STREAM
    *      KEEPS RUNNING, matching the reference where case 3 fails the
    *      producer while the pipeline survives;
    *   3. accepted versions decode with their OWN writer schema,
    *      normalize into the merged read-schema (dropped columns null
    *      on new rows, added columns null on old state — Debezium
    *      missing-field semantics), and merge latest-wins through the
    *      standard crash-safe commit ([[mergeBatch]]).
    *
    * Gate decisions are memoized per wire version (driver map, one
    * entry per schema change); after a crash-restart the map rebuilds
    * deterministically — re-registration is content-idempotent and a
    * bad schema re-rejects identically. Dead-letter writes are
    * at-least-once under replay (append mode), the standard poison-
    * quarantine contract.
    */
  def startEvolvingAvro(wire: DataFrame,
                        statePath: String,
                        checkpointPath: String,
                        registry: graft.cdc.SchemaRegistry,
                        subject: String,
                        deadLetterPath: String,
                        cfg: Config = Config(),
                        availableNow: Boolean = true,
                        onRejection: EvolvingRejection => Unit = _ => ())
      : StreamingQuery = {
    // wire-level exactly-once: record identity is (key, event_id) —
    // the Kafka offset analog — deduped within the event-time watermark
    val deduped = wire
      .withWatermark(cfg.tsCol, cfg.watermarkDelay)
      .dropDuplicatesWithinWatermark("key", "event_id")
    val decisions = scala.collection.concurrent.TrieMap
      .empty[Int, Either[Seq[String], StructType]]
    val writer = deduped.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        evolvingMergeBatch(batch.drop(cfg.tsCol), statePath,
          deadLetterPath, registry, subject, cfg, batchId, decisions,
          onRejection)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One micro-batch of [[startEvolvingAvro]]: gate → divert → decode →
    * merge. Public for batch-mode replays and the driver-verified query
    * entry; `decisions` memoizes gate verdicts across batches.
    */
  def evolvingMergeBatch(batch: DataFrame, statePath: String,
                         deadLetterPath: String,
                         registry: graft.cdc.SchemaRegistry,
                         subject: String, cfg: Config, batchId: Long,
                         decisions: scala.collection.concurrent.Map[
                           Int, Either[Seq[String], StructType]],
                         onRejection: EvolvingRejection => Unit = _ => ())
      : Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    batch.persist()
    try {
      // distinct schema pairs: bounded by schema CHANGES (producer
      // deploys), not rows — driver-side by design, like demuxBatch's
      // topic collect
      val present = batch.select("schema_version", "schema_json")
        .distinct().collect()
        .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      present.foreach { case (v, json) =>
        if (!decisions.contains(v)) {
          val schema = org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[StructType]
          decisions(v) = registry.register(subject, schema) match {
            case Right(_)  => Right(schema)
            case Left(inc) => Left(inc.reasons)
          }
        }
      }
      val fs = new Path(deadLetterPath).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val rejected = present.collect {
        case (v, _) if decisions(v).isLeft => v
      }
      rejected.foreach { v =>
        val slice = batch.filter(col("schema_version") === v)
        // raw wire rows, replayable once the producer ships a fix
        slice.write.mode("append").parquet(s"$deadLetterPath/v$v")
        val n = slice.count()
        val reasons = decisions(v).swap.getOrElse(Nil)
        val esc = reasons.map(r =>
          "\"" + r.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        graft.sources.PointerFile.write(fs,
          new Path(s"$deadLetterPath/_REJECTIONS/v$v-b$batchId.json"),
          s"""{"subject":"$subject","wire_version":$v,""" +
            s""""batch_id":$batchId,"rows":$n,""" +
            s""""reasons":[${esc.mkString(",")}]}""")
        onRejection(EvolvingRejection(v, batchId, n, reasons))
      }
      val accepted = present.collect {
        case (v, _) if decisions(v).isRight => v
      }
      if (accepted.nonEmpty) {
        // each version decodes with ITS writer schema (keyed by WIRE
        // version — registry indices can drift from wire numbering once
        // a version is refused), then the frames normalize into the
        // merged read-schema before one latest-wins merge
        val frames = accepted.map { v =>
          graft.cdc.EnvelopeCodec.decodeAvro(
            batch.filter(col("schema_version") === v),
            decisions(v).toOption.get,
            passthrough = Seq("event_id"))
            .withColumn("schema_version", lit(v))
        }
        val decoded =
          graft.cdc.SchemaEvolution.normalizeHistory(frames.toSeq)
        val flat = decoded.select(col("key"), col("event_id"),
          col("ts_us"), col("op"), col("schema_version"), col("after.*"))
        mergeBatch(flat, statePath, cfg, batchId)
      }
    } finally { batch.unpersist(); () }
  }

  /** One micro-batch, partition-scoped: reduce the batch to
    * latest-per-key, read ONLY the state buckets the batch's keys hash
    * into (pure path selection), merge LATEST-WINS BY EVENT TIME, and
    * commit ONLY those buckets (one fresh version dir + one `_CURRENT`
    * flip; untouched buckets carry over by reference in the manifest).
    *
    * The merge is `latest(state ∪ batch)` per key — not a blind
    * replace — so it converges under ANY replay order: re-delivering an
    * old batch after a newer one is a no-op (the state row out-orders
    * it). Tombstones are RETAINED in state (op = d rows) so a delete
    * also cannot be resurrected by an older replayed upsert; external
    * readers get live rows via [[currentState]]'s filter. (At lake
    * scale a compaction pass drops tombstones older than the replay
    * horizon — bounded retention, same as Kafka compacted-topic
    * deletes.)
    */
  def mergeBatch(batch: DataFrame, statePath: String, cfg: Config,
                 batchId: Long): Unit = {
    // drift tolerance (below) is for PAYLOAD columns only: losing a
    // key, ordering, or op column must fail loudly here — nulled keys
    // would collapse a whole batch into one row and nulled order
    // columns would silently lose every update to existing state
    val required = cfg.keyCols ++ cfg.orderCols :+ cfg.opCol
    val missing = required.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"batch is missing required CDC columns: ${missing.mkString(", ")}")
    val order = cfg.orderCols.map(col)
    // ONE materialization of the batch's latest-per-key feeds BOTH the
    // touched-bucket collect and the merge union (no double window).
    // cache(), NOT localCheckpoint(): checkpointing ran a THIRD Spark
    // job per commit that wrote every partition of the batch to local
    // disk before any real work — measured 0.49 s of the 2.1 s
    // per-commit fixed cost at sf0.1 (BASELINE.md round-10). The cache
    // materializes lazily inside the touched-bucket collect job and is
    // reused by the merge write; foreachBatch batch sources are
    // offset-pinned, so an eviction-forced recompute is deterministic.
    val latest = Materialize.latest(batch, cfg.keyCols, order)
      .withColumn("__bucket", bucketOf(cfg))
      .cache()
    try {
      mergeLatest(latest, statePath, cfg, batchId)
    } finally { latest.unpersist(blocking = false); () }
  }

  private def mergeLatest(latest: DataFrame, statePath: String,
                          cfg: Config, batchId: Long): Unit = {
    val spark = latest.sparkSession
    val order = cfg.orderCols.map(col)
    // touched-bucket list: ≤ numBuckets ints, driver-side by design.
    // This collect doubles as the empty-batch probe: the pre-r10 code
    // paid a SEPARATE batch.isEmpty job on every commit before doing
    // anything — folding it here saves one scheduler round trip per
    // commit on the path that matters (non-empty batches), and an
    // empty batch still costs exactly one cheap job.
    val touched = latest.select("__bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val fs = fsOf(spark, statePath)
    val parent = resolve(spark, statePath)
    checkBucketLayout(fs, statePath, cfg)
    val buckets = parent.fold(Map.empty[Int, String])(_.buckets)
    val statePaths = touched.flatMap(buckets.get)
      .map(l => s"$statePath/$l")
    // the store's persisted union schema, read ONCE per commit (it
    // also feeds the grow-only persist below)
    val metaSchema = readMetaSchema(fs, statePath)
    val merged: DataFrame =
      if (statePaths.nonEmpty) {
        // state's bucket is recomputed from the key (deterministic) —
        // files never store it; I/O scoping is pure path selection.
        // Referenced bucket dirs can span batches written under
        // DIFFERENT schemas after a drift; the running union schema is
        // persisted in meta/schema before every flip, so the read is
        // explicit-schema — files missing a drifted column null it,
        // WITHOUT a per-commit distributed footer-inference job (at
        // lake scale that job re-reads every live state footer per
        // commit — a metadata storm the commit log exists to avoid).
        val state = readBuckets(spark, statePath, metaSchema, statePaths)
          .withColumn("__bucket", bucketOf(cfg))
        // allowMissingColumns = SCHEMA DRIFT TOLERANCE: a batch that
        // ADDS a column keeps it (state rows read null until touched,
        // Debezium's missing-field semantics); a batch that DROPS one
        // nulls it on its own rows instead of failing the merge.
        Materialize.latest(
          state.unionByName(latest, allowMissingColumns = true),
          cfg.keyCols, order)
      } else latest
    // COMMIT PROTOCOL (crash-safe, single-writer, see the object doc):
    // write the merged touched buckets into a fresh version dir, then
    // ONE fenced `_CURRENT` flip publishes the new full bucket map.
    val version = graft.sources.SegmentedIndex.newVersionName()
    // co-locate each bucket before the partitioned write: without this,
    // every shuffle partition holds rows of every touched bucket and
    // partitionBy fans out up to (partitions × buckets) small files per
    // batch — the classic small-file explosion. One exchange on the
    // write column keeps it to one file group per touched bucket with
    // full-size row groups. The EXPLICIT partition count (= touched
    // buckets, never the session's shuffle.partitions) keeps the write
    // stage at one task per touched bucket — inside a streaming
    // foreachBatch AQE is disabled for stateful queries, so without
    // the count a small batch paid shuffle.partitions near-empty write
    // tasks per commit (pure scheduler overhead at high commit rates).
    merged.repartition(touched.length, col("__bucket")).write
      .partitionBy("__bucket")
      .mode("overwrite")
      .parquet(s"$statePath/$version")
    // DETERMINISM GUARD (ADVICE r10): `latest` is cache()d, not
    // checkpointed — an eviction-forced recompute between the
    // touched-bucket collect above and the write is only safe if the
    // input batch is replayable (foreachBatch sources are offset-
    // pinned; mergeBatch is also a public API callers can feed
    // anything). If a nondeterministic recompute emitted rows in
    // buckets ABSENT from `touched`, the manifest would never name
    // them and the rows would be silently lost. One listStatus turns
    // that silent loss into a loud failure BEFORE the flip: the
    // uncommitted version dir is GC'd later as litter, state intact.
    val stray = writtenBuckets(fs, statePath, version)
      .filterNot(touched.toSet)
    require(stray.isEmpty,
      s"non-deterministic batch: write produced bucket(s) " +
        s"${stray.sorted.mkString(",")} outside the touched set " +
        s"${touched.mkString(",")} — the input to mergeBatch must be " +
        "replayable (offset-pinned source or checkpointed DataFrame); " +
        "state is untouched, the uncommitted version will be GC'd")
    // persist the running union schema BEFORE the flip: a crash in
    // between leaves meta a (harmless) superset — the next read nulls
    // the extra columns, the same allowMissingColumns semantics the
    // merge itself applies. Skipped when unchanged (the no-drift
    // steady state), so it costs one pointer write per DRIFT, not per
    // commit.
    // nullable-normalized: file sources read everything nullable, so
    // equality against the stored schema is stable and the read-side
    // schema never asserts a non-null a drifted file can't honor
    val outSchema = StructType(
      merged.schema.filterNot(_.name == "__bucket")
        .map(_.copy(nullable = true)))
    // GROW-ONLY (ADVICE r14): when every touched bucket is fresh,
    // merged = latest and outSchema is the batch-only schema — a batch
    // missing a drifted column that lives on unwritten buckets must not
    // SHRINK the stored union (later explicit-schema reads of those
    // buckets would silently null-and-lose the column). Union with the
    // stored schema by name, keeping the stored fields' types; write
    // only when the union gains fields (or on the first commit).
    val grown = metaSchema match {
      case Some(old) =>
        val have = old.fieldNames.toSet
        StructType(old.fields ++ outSchema.fields.filterNot(f =>
          have(f.name)))
      case None => outSchema
    }
    if (!metaSchema.contains(grown))
      graft.sources.PointerFile.write(fs,
        new Path(s"$statePath/meta/schema"), grown.json)
    commit(spark, statePath, version, parent,
      buckets ++ touched.map(b => b -> s"$version/__bucket=$b"),
      batchId, cfg)
  }

  /** Read the current materialized state (live rows only — retained
    * tombstones are internal merge state), if any batch has committed.
    */
  def currentState(spark: SparkSession, statePath: String,
                   opCol: String = "op"): Option[DataFrame] =
    resolve(spark, statePath).flatMap(c =>
      liveRows(spark, statePath, c.buckets, opCol))

  /** Compaction: rewrite every live bucket, dropping tombstones whose
    * event time is older than `horizonUs` — the bounded-retention pass
    * the merge protocol assumes (a tombstone only needs to outlive the
    * replay horizon; Kafka compacted-topic delete retention). Uses the
    * SAME commit as [[mergeBatch]] (fresh version dir + one `_CURRENT`
    * flip), so it is crash-safe and can run between any two merges.
    * Live rows and still-needed tombstones are byte-for-byte
    * re-laid-out (small files merge as a side effect).
    */
  def compact(spark: SparkSession, statePath: String, cfg: Config,
              horizonUs: Long, batchId: Long): Unit = {
    val fs = fsOf(spark, statePath)
    val parent = resolve(spark, statePath)
    if (parent.forall(_.buckets.isEmpty)) return
    checkBucketLayout(fs, statePath, cfg)
    val paths = parent.get.buckets.toSeq.sortBy(_._1)
      .map { case (_, l) => s"$statePath/$l" }
    val tsCol = col(cfg.orderCols.head)
    val version = graft.sources.SegmentedIndex.newVersionName()
    // null-safe retention: a tombstone with UNKNOWN event time (null
    // ts) must be kept — a three-valued `op != d || ts >= horizon`
    // would evaluate NULL and silently drop it, re-enabling the
    // resurrection this retention exists to prevent
    readBuckets(spark, statePath, readMetaSchema(fs, statePath), paths)
      .filter(!(col(cfg.opCol) <=> "d" &&
        coalesce(tsCol < horizonUs, lit(false))))
      .withColumn("__bucket", bucketOf(cfg))
      .write
      .partitionBy("__bucket")
      .mode("overwrite")
      .parquet(s"$statePath/$version")
    // a fully-tombstoned-and-expired bucket writes no dir: it leaves
    // the bucket map, so readers stop referencing it
    commit(spark, statePath, version, parent,
      writtenBuckets(fs, statePath, version)
        .map(b => b -> s"$version/__bucket=$b").toMap,
      batchId, cfg)
  }

  /** The commit timeline: (commit sequence, batch id), oldest first —
    * the commits inside the retention window.
    */
  def commits(spark: SparkSession, statePath: String): Seq[(Long, Long)] =
    timeline(spark, statePath).map(c => c._2 -> c._3)

  /** TIME TRAVEL: the materialized state as of the commit for
    * `batchId` (its most recent commit, if ids recur). Readable for
    * the last `retainVersions` commits, decided by commit order at the
    * moment each commit ran; an older commit fails fast rather than
    * returning partial state, however far the async vacuum has got.
    */
  def stateAsOf(spark: SparkSession, statePath: String, batchId: Long,
                opCol: String = "op"): Option[DataFrame] = {
    val log = timeline(spark, statePath)
    val hit = log.reverse.find(_._3 == batchId)
    require(hit.nonEmpty,
      s"no commit for batchId=$batchId at $statePath within the " +
        "retention window (the last retainVersions commits; commits: " +
        s"${log.map(_._3).mkString(",")})")
    liveRows(spark, statePath,
      bucketMap(spark, statePath, hit.get._1), opCol)
  }

  /** STATE DIFF between two commits — CDC on the materialized state:
    * which keys were added, removed, or updated from commit `fromId`
    * to commit `toId`. A row's VERSION is its order columns (latest-
    * wins means any change advances them), so the diff is a full
    * outer join on the key comparing versions — no payload hashing,
    * no column-set assumptions beyond key + order cols. This is what
    * an incremental downstream consumer reads instead of re-scanning
    * state.
    */
  def stateDiff(spark: SparkSession, statePath: String, fromId: Long,
                toId: Long, cfg: Config = Config()): DataFrame = {
    def side(id: Long, tag: String): DataFrame = {
      val df = stateAsOf(spark, statePath, id, cfg.opCol)
        .getOrElse(spark.emptyDataFrame)
      // explicit presence marker: a null ORDER column in a present row
      // must not read as "key absent"
      df.select((cfg.keyCols ++ cfg.orderCols).map(col): _*)
        .toDF(cfg.keyCols ++ cfg.orderCols.map(c => s"${tag}_$c"): _*)
        .withColumn(s"${tag}_present", lit(true))
    }
    val a = side(fromId, "a")
    val b = side(toId, "b")
    val aVer = cfg.orderCols.map(c => col(s"a_$c"))
    val bVer = cfg.orderCols.map(c => col(s"b_$c"))
    a.join(b, cfg.keyCols, "full_outer")
      .withColumn("change",
        when(col("a_present").isNull, "added")
          .when(col("b_present").isNull, "removed")
          .when(aVer.zip(bVer).map { case (x, y) => x <=> y }
            .reduce(_ && _), null)
          .otherwise("updated"))
      .filter(col("change").isNotNull)
      .select((cfg.keyCols.map(col) :+ col("change")) ++
        bVer.zip(cfg.orderCols).map { case (c, n) => c.as(s"to_$n") }: _*)
  }

  /** A committed version of the store and its bucket map (bucket →
    * `v-…/__bucket=N` manifest line).
    */
  private final case class Committed(version: String,
                                     buckets: Map[Int, String])

  private def fsOf(spark: SparkSession, statePath: String) =
    new Path(statePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** `_CURRENT`, resolved once, with its manifest — None before the
    * first commit. A store still in the pre-protocol per-bucket `ptr/`
    * layout is refused loudly, not migrated or misread as empty.
    */
  private def resolve(spark: SparkSession, statePath: String)
      : Option[Committed] = {
    val cur = graft.sources.SegmentedIndex.current(
      fsOf(spark, statePath), statePath)
    if (cur.isEmpty) refuseRetiredLayout(spark, statePath)
    cur.map(v => Committed(v, bucketMap(spark, statePath, v)))
  }

  private def refuseRetiredLayout(spark: SparkSession,
                                  statePath: String): Unit =
    if (fsOf(spark, statePath).exists(new Path(s"$statePath/ptr")))
      throw new IllegalStateException(
        s"$statePath is a CDC store in the retired per-bucket ptr/ " +
          "layout; it is not readable by this version — rebuild it by " +
          "replaying its change feed into a fresh path")

  private def bucketMap(spark: SparkSession, statePath: String,
                        version: String): Map[Int, String] =
    graft.sources.SegmentedIndex.segments(spark, statePath, version)
      .map(l => l.substring(l.lastIndexOf("__bucket=") + 9).toInt -> l)
      .toMap

  /** A version's `_LABEL`: (commit sequence, batch id). */
  private def label(spark: SparkSession, statePath: String,
                    version: String): (Long, Long) = {
    val l = graft.sources.SegmentedIndex.label(spark, statePath, version)
    require(l.nonEmpty, s"CDC commit $statePath/$version has no label")
    val Array(seq, batchId) = l.get.split(" ")
    (seq.toLong, batchId.toLong)
  }

  /** Retained commits as (version, sequence, batch id), oldest first. */
  private def timeline(spark: SparkSession, statePath: String)
      : Seq[(String, Long, Long)] = {
    val vs = graft.sources.SegmentedIndex.committed(spark, statePath)
    if (vs.isEmpty) refuseRetiredLayout(spark, statePath)
    vs.map { v =>
      val (seq, id) = label(spark, statePath, v)
      (v, seq, id)
    }
  }

  /** Publish `version` as the store's new full bucket map through the
    * shared fenced `_CURRENT` flip; the label names the commit with the
    * parent's sequence + 1 and the batch id.
    */
  private def commit(spark: SparkSession, statePath: String,
                     version: String, parent: Option[Committed],
                     buckets: Map[Int, String], batchId: Long,
                     cfg: Config): Unit =
    graft.sources.SegmentedIndex.commitManifest(spark, statePath, version,
      parent.map(_.version), buckets.toSeq.sortBy(_._1).map(_._2),
      label = Some(s"${parent.fold(0L)(p =>
        label(spark, statePath, p.version)._1 + 1)} $batchId"),
      keep = math.max(cfg.retainVersions, 1))

  /** Bucket numbers a freshly-written version dir holds. */
  private def writtenBuckets(fs: org.apache.hadoop.fs.FileSystem,
                             statePath: String, version: String)
      : Seq[Int] =
    fs.listStatus(new Path(s"$statePath/$version")).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("__bucket="))
      .map(_.stripPrefix("__bucket=").toInt)

  /** The store's persisted running-union schema (`meta/schema`,
    * StructType JSON), written before every flip that grows it — the
    * ONE read schema of merges, compactions and readers.
    */
  private def readMetaSchema(fs: org.apache.hadoop.fs.FileSystem,
                             statePath: String): Option[StructType] = {
    val p = new Path(s"$statePath/meta/schema")
    if (!fs.exists(p)) None
    else org.apache.spark.sql.types.DataType
      .fromJson(graft.sources.PointerFile.read(fs, p)) match {
      case st: StructType => Some(st)
      case _ => None
    }
  }

  /** Committed bucket dirs read with the store schema. */
  private def readBuckets(spark: SparkSession, statePath: String,
                          schema: Option[StructType], paths: Seq[String])
      : DataFrame =
    spark.read.schema(schema.getOrElse(throw new IllegalStateException(
      s"$statePath has committed buckets but no meta/schema")))
      .parquet(paths: _*)

  /** Live rows of one bucket map; None for an empty map. */
  private def liveRows(spark: SparkSession, statePath: String,
                       buckets: Map[Int, String], opCol: String)
      : Option[DataFrame] =
    if (buckets.isEmpty) None
    else {
      val df = readBuckets(spark, statePath,
        readMetaSchema(fsOf(spark, statePath), statePath),
        buckets.toSeq.sortBy(_._1).map { case (_, l) => s"$statePath/$l" })
      // null-safe: a null op (possible after payload drift or mixed
      // old-schema buckets) is NOT a delete — `=!=` would three-value
      // to NULL and silently hide the row (same trap compact() avoids)
      Some(if (df.columns.contains(opCol))
             df.filter(!(col(opCol) <=> "d"))
           else df)
    }
}
