package graft.streaming

import graft.model.TableRegistry
import graft.operators.Compaction
import graft.parse.{MaxwellParser, DebeziumParser, Projection}
import graft.sources.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** End-to-end CDC sync wiring — the Spark-native equivalent of the
  * reference's poll → transform → dispatch → merge → load pipeline
  * (reference: PipeLine.java:99-117, Scheduler.java:44-91). Bounded queues,
  * back-pressure and offset bookkeeping collapse into Structured Streaming:
  * micro-batch trigger ≙ `merge.interval`, `maxOffsetsPerTrigger` ≙
  * `merge.batch.size` back-pressure, and every stream's `loaders` ≙ the
  * loader pool's `loader.conn_pool.size` (see [[applyBatch]]); the
  * checkpoint WAL + idempotent merge ≙ the in-order barrier-gated offset
  * commit C1 (reference: KafkaPipeLine.java:69-83,146-189) — replaying a
  * batch after a crash re-applies the same delete+upsert, which is
  * idempotent, giving the same effectively-once guarantee.
  */
object CdcPipeline {

  /** bireme's `loader.conn_pool.size` default (reference: Config.java:91-102):
    * the most tables one batch merges at once.
    */
  val DefaultLoaders = 10

  /** Apply one micro-batch of normalized events to every mapped table:
    * typed projection → per-PK compaction → merge. The batch is persisted
    * and computed once ([[materialize]]), checked for schema drift when a
    * `driftHook` is given, and then every table filters the cached rows —
    * one pass over the (possibly Kafka-backed) source, however many tables
    * the registry maps. The groupBy inside compaction shuffles each table's
    * slice independently, and each table's merge is its own atomic,
    * idempotent commit, so the tables load concurrently — up to `loaders`
    * at once, like the reference's per-table ChangeLoaders on a pool of
    * `loader.conn_pool.size` (reference: Context.java:86-95). A replay
    * re-applies every table whatever order they finished in. See
    * [[runLoaders]] for the thread contract.
    */
  def applyBatch(
      events: DataFrame,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      flavor: Projection.Flavor = Projection.Maxwell,
      driftHook: Option[(String, String, Long) => Unit] = None,
      loaders: Int = DefaultLoaders): Unit = {
    require(loaders >= 1, s"loaders must be positive, got $loaders")
    events.persist()
    try {
      materialize(events)
      // mid-stream DDL detection (see [[graft.parse.SchemaDrift]]): one tiny
      // aggregate over the pinned batch; the collect is bounded by
      // tables × drifted columns, never by rows
      driftHook.foreach { hook =>
        graft.parse.SchemaDrift.detect(events, registry).collect()
          .foreach(r => hook(r.getString(0), r.getString(1), r.getLong(2)))
      }
      runLoaders(events.sparkSession.sparkContext, registry.targets, loaders) { target =>
        // the merge consumes the compacted batch in several jobs; cache the
        // per-key aggregate for the span of this table's merge
        val scope = new graft.operators.CacheScope
        try stores(target).merge(
          Compaction.compact(Projection.typed(events, stores(target).spec, flavor), scope))
        finally scope.release()
      }
    } finally events.unpersist()
  }

  /** Compute a persisted DataFrame's cache in ONE job. The first query over
    * an unloaded cache submits that job itself (adaptive execution's
    * table-cache stage), but loaders planning at once would each find it
    * unloaded and submit one; computing it first keeps one job per batch
    * and one computation of each partition on any cluster.
    */
  private def materialize(df: DataFrame): Unit =
    df.select("*").queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.cachedColumnBuffers
    }.foreach(rdd => df.sparkSession.sparkContext.runJob(rdd, (_: Iterator[_]) => ()))

  /** Run `load` once per target on up to `loaders` threads named
    * `graft-loader-<i>`, each taking the next target until none is left.
    * One target, or a cap of 1, runs inline on the calling thread.
    *
    * The calling (stream) thread creates the loaders, so they inherit its
    * Spark local properties — the micro-batch id, the query's job group
    * (`stop()` cancels their jobs with the batch's) — and its active
    * session. This returns or throws only after every loader has returned:
    * a failure stops the loaders taking new targets, and the first failure
    * is rethrown with the others attached as suppressed. Interrupted (a
    * query `stop()`), it cancels the loaders' jobs, interrupts and joins
    * them, then rethrows — no merge commits after its batch has failed.
    */
  private def runLoaders(sc: org.apache.spark.SparkContext,
      targets: Seq[String], loaders: Int)(load: String => Unit): Unit = {
    val n = math.min(loaders, targets.size)
    if (n <= 1) { targets.foreach(load); return }
    val tag = s"graft-loaders-${java.util.UUID.randomUUID()}"
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        sc.addJobTag(tag)
        var j = next.getAndIncrement()
        while (j < targets.size && failures.isEmpty && !cancelled.get) {
          try load(targets(j)) catch { case e: Throwable => failures.add(e) }
          j = next.getAndIncrement()
        }
      }, s"graft-loader-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        cancelled.set(true)
        sc.cancelJobsWithTag(tag, "micro-batch interrupted")
        threads.foreach(_.interrupt())
        threads.foreach { t =>
          while (t.isAlive) try t.join() catch { case _: InterruptedException => () }
        }
        throw e
    }
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
  }

  /** The one stream runner behind [[kafkaMaxwellStream]],
    * [[fileMaxwellStream]] and [[kafkaDebeziumStream]]: every micro-batch
    * of `source` runs `body` — the entry point's parse and [[applyBatch]],
    * given the drift hook of `driftMetrics` — and then `postBatch`.
    *
    * `postBatch` runs AFTER every table's merge committed, INSIDE the batch
    * (a failure there fails the batch, and the replay re-runs both the
    * idempotent merges and the hook): where a SnapshotCatalog commits its
    * cross-table boundary and an MvMaintainer syncs its summary — both are
    * themselves crash-safe re-run targets.
    */
  private def runStream(source: DataFrame, checkpointDir: String, trigger: Trigger,
      driftMetrics: Option[graft.obs.PipelineMetrics], postBatch: Option[Long => Unit])(
      body: (DataFrame, Long, Option[(String, String, Long) => Unit]) => Unit)
      : StreamingQuery = {
    val driftHook = driftMetrics.map(m => m.recordDrift _)
    source.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId, driftHook)
        postBatch.foreach(_(batchId))
      }
      .start()
  }

  /** The reader both Kafka streams share: from the earliest offset
    * (reference: KafkaPipeLine.java:198-208), at most `maxOffsetsPerTrigger`
    * records a batch — the `merge.batch.size` back-pressure; without it an
    * existing topic backlog arrives as ONE giant first batch.
    */
  private def kafka(spark: SparkSession, bootstrapServers: String,
      maxOffsetsPerTrigger: Long) =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)

  /** The exact per-micro-batch body the Maxwell Kafka stream runs
    * (parse with the Kafka offset as seq, then apply) — factored out so
    * tests drive it directly with a Kafka-shaped batch (value/offset
    * columns, overlapping offsets across partitions): everything of the
    * Kafka path except the broker connection itself is then exercised
    * without a broker.
    */
  private[graft] def applyMaxwellKafkaBatch(
      batch: DataFrame,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      driftHook: Option[(String, String, Long) => Unit] = None,
      loaders: Int = DefaultLoaders): Unit =
    applyBatch(MaxwellParser.events(batch, registry, col("offset")), registry, stores,
      driftHook = driftHook, loaders = loaders)

  /** Debezium twin of [[applyMaxwellKafkaBatch]]: topic supplies routing.
    * `namespace` (when known) strips the exact — possibly dotted — topic
    * prefix; see [[DebeziumParser.events]].
    */
  private[graft] def applyDebeziumKafkaBatch(
      batch: DataFrame,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      namespace: Option[String] = None,
      driftHook: Option[(String, String, Long) => Unit] = None,
      loaders: Int = DefaultLoaders): Unit =
    applyBatch(
      DebeziumParser.events(batch, registry, col("offset"), col("topic"),
        namespace = namespace),
      registry, stores, Projection.Debezium, driftHook, loaders)

  /** Maxwell-over-Kafka sync, the reference's primary deployment
    * (reference: Bireme.java:188-218). `seq = offset` gives per-key total
    * order provided the producer partitions by table/key — the same
    * assumption the reference's per-partition FIFO relies on
    * (SURVEY.md §7.3). PK-CHANGE CAVEAT: with partition-by-primary-key
    * producers, an A→B key change arrives on B's partition, so its derived
    * delete of A carries an offset incomparable with A's own partition's
    * offsets — last-write-wins for A can then resolve wrongly (the
    * reference's per-partition FIFO has the identical hazard). Workloads
    * with PK-changing updates must configure the producer to partition by
    * TABLE (Maxwell `producer_partition_by=table`), which makes each
    * table's offsets one comparable sequence. Requires the spark-sql-kafka
    * connector on the classpath.
    */
  def kafkaMaxwellStream(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxOffsetsPerTrigger: Long = 50000L,
      driftMetrics: Option[graft.obs.PipelineMetrics] = None,
      postBatch: Option[Long => Unit] = None,
      loaders: Int = DefaultLoaders): StreamingQuery =
    runStream(kafka(spark, bootstrapServers, maxOffsetsPerTrigger)
        .option("subscribe", topic).load()
        .select(col("value").cast("string").as("value"), col("offset")),
      checkpointDir, trigger, driftMetrics, postBatch) { (batch, _, driftHook) =>
      applyMaxwellKafkaBatch(batch, registry, stores, driftHook, loaders)
    }

  /** File-backed Maxwell sync: JSON-lines dropped into `inputDir` are merged
    * continuously. Used by tests (no broker in CI) and as a bulk-replay path.
    *
    * `seq` must give last-write-wins its per-key total order, mirroring the
    * reference's single-partition FIFO (RowCache.java:36). Within a batch the
    * ordinal is a `row_number` over (file MODIFICATION time, file name,
    * intra-split position): mtime is the arrival order — name order alone
    * would flip last-write-wins whenever a later-written file sorts earlier
    * lexicographically (e.g. `b0.json` written before `a1.json`, both picked
    * up in one batch); the name breaks mtime ties deterministically.
    * GRANULARITY CONTRACT: the name breaks mtime ties only WITHIN one batch.
    * Across `maxFilesPerTrigger` batches the built-in file source admits
    * files by mtime alone, so files that share an mtime can reach batches
    * out of name order (pinned by cdcbench's `MtimeTieSpec`) — a producer
    * must give each file a strictly later mtime than the one before (on a
    * filesystem with coarse 1-2 s mtime resolution, one file per tick).
    * The Kafka path has no such ambiguity. The mtime map covers only THIS
    * batch's files (one distinct-scan of the batch, one getFileStatus per
    * file) — a literal listing the replay dir's full history would grow
    * with every batch.
    * `monotonically_increasing_id` alone is NOT usable directly: it encodes
    * `partitionId << 33 | row`, so a batch with ≥128 partitions would bleed
    * into the next batch's `batchId * 2^40` range, and same-key events in
    * different partitions of a multi-file batch would order by partition
    * layout rather than file order. The dense row_number stays below 2^40
    * for any real micro-batch.
    *
    * SCALE SHAPE — no global sort. Sequencing is two-phase, the
    * [[graft.operators.Sharding]] segmented-scan pattern: (1) one tiny
    * per-file count aggregate (rows collected to the driver are one per
    * FILE, bounded like the mtime map it shares a pass with) yields each
    * file's BASE offset = rows in all files before it in (mtime, name)
    * order; (2) a `row_number` windowed PER FILE orders rows within their
    * file. A replay batch therefore sequences with per-file parallelism —
    * the earlier formulation was one partition-less Window, i.e. every
    * micro-batch funneled through a single task. Within-file order across
    * a file's splits rides `monotonically_increasing_id`: Spark packs a
    * file's equal-size splits into partitions in offset order (stable
    * size-descending sort over splits), so (partitionId, rowInPartition)
    * is monotone in file offset — and the window consumes the ids in the
    * SAME job that computes them, so no cache-recompute can reshuffle
    * them. The scale path remains [[kafkaMaxwellStream]], whose order
    * comes from Kafka offsets with no sequencing work at all.
    */
  def fileMaxwellStream(
      spark: SparkSession,
      inputDir: String,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxFilesPerTrigger: Int = 1000,
      driftMetrics: Option[graft.obs.PipelineMetrics] = None,
      postBatch: Option[Long => Unit] = None,
      loaders: Int = DefaultLoaders): StreamingQuery =
    // Back-pressure for the bulk-replay case, the file twin of the Kafka
    // paths' maxOffsetsPerTrigger: without a cap a replay dir's ENTIRE
    // history arrives as one giant first micro-batch — one enormous cache
    // write, a per-file driver array over the full history, and hours of
    // work whose mid-batch failure restarts from zero.
    runStream(spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger).text(inputDir),
      checkpointDir, trigger, driftMetrics, postBatch) { (batch, batchId, driftHook) =>
      val scope = new graft.operators.CacheScope
      try applyBatch(
        MaxwellParser.events(sequenceReplayBatch(batch, batchId, scope), registry, col("_seq")),
        registry, stores, driftHook = driftHook, loaders = loaders)
      finally scope.release()
    }

  /** Stamp a replay micro-batch with its `_seq` ordinal (see
    * [[fileMaxwellStream]]'s sequencing contract) — factored out so tests
    * pin both the ordering semantics and the plan shape (a per-FILE window,
    * never a partition-less one).
    */
  private[graft] def sequenceReplayBatch(batch: DataFrame, batchId: Long,
      scope: graft.operators.CacheScope =
        graft.operators.CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    // Pin (row, file, intra-split ordinal) ONCE: the count job and the
    // window job would otherwise scan the files at different times, and a
    // file that GREW in between (an appending producer — already a
    // contract violation for any Spark file source, which reads each file
    // once) would make row_number overrun its counted base and collide
    // with the next file's _seq range. `input_file_name()` and
    // `monotonically_increasing_id()` are stamped BELOW the cache: both
    // only carry a value inside the scan stage — over cached (or
    // post-shuffle) rows input_file_name() evaluates to "".
    val tagged = scope.own(batch
      .withColumn("_file", input_file_name())
      .withColumn("_mono", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // ONE aggregate job over the pinned batch: per-file row counts (for
    // the base offsets) keyed by the RAW input_file_name string — Path
    // .getName would URI-DECODE (a%20b.json -> "a b.json") and the window
    // key lookup below would miss. The replay dir is FLAT (readStream.text
    // is non-recursive), so basenames are unique within a batch. Driver
    // state is one (name, mtime, count) triple per FILE, not per row.
    val perFile = tagged.groupBy(col("_file").as("f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .filter(_._1.nonEmpty)
      .map { case (f, n) =>
        // mtime probe takes the FULL URI string (decodes %20 etc.); the
        // window key stays the raw basename substring of that string
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        (f.substring(f.lastIndexOf('/') + 1),
          fs.getFileStatus(p).getModificationTime, n)
      }
    // GRANULARITY CONTRACT enforcement: two files in one batch sharing
    // an mtime tick fall back to NAME order, and the same tie split across
    // batches has no fallback at all — the producer broke the contract.
    // That is a silent wrong-final-state hazard (a stale value can win
    // last-write-wins), so make the fallback LOUD.
    val ties = perFile.groupBy(_._2).filter(_._2.size > 1)
    if (ties.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "file replay batch {} has {} mtime tie group(s) (e.g. {}); " +
          "ordering falls back to file NAME within this batch only — the " +
          "producer must give each file a strictly later mtime (see " +
          "fileMaxwellStream's granularity contract)",
        batchId.toString, ties.size.toString,
        ties.head._2.map(_._1).sorted.mkString(", "))
    // arrival order: (mtime, name); base offset = rows before the file
    val bases = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var acc = 0L
    perFile.sortBy { case (f, m, _) => (m, f) }.foreach { case (f, _, n) =>
      bases += f -> acc; acc += n
    }
    val withId = tagged
      .withColumn("_f", element_at(split(col("_file"), "/"), -1))
      // A file the count job never saw (unreachable: both jobs read the
      // pinned `tagged` rows) orders LAST, after every known file's range,
      // mirroring the old Long.MaxValue mtime fallback.
      .withColumn("_base",
        coalesce(element_at(typedLit(bases.toMap), col("_f")), lit(1L << 39)))
    val withinFile = Window.partitionBy(col("_f")).orderBy(col("_mono"))
    withId.withColumn("_seq",
      lit(batchId) * lit(1L << 40) + col("_base") +
        row_number().over(withinFile))
      .drop("_file", "_f", "_base", "_mono")
  }

  /** Debezium-over-Kafka sync: one topic per table
    * (reference: Bireme.java:206-212); topic name supplies the routing key.
    */
  def kafkaDebeziumStream(
      spark: SparkSession,
      bootstrapServers: String,
      topicPattern: String,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxOffsetsPerTrigger: Long = 50000L,
      namespace: Option[String] = None,
      driftMetrics: Option[graft.obs.PipelineMetrics] = None,
      postBatch: Option[Long => Unit] = None,
      loaders: Int = DefaultLoaders): StreamingQuery =
    runStream(kafka(spark, bootstrapServers, maxOffsetsPerTrigger)
        .option("subscribePattern", topicPattern).load()
        .select(col("value").cast("string").as("value"), col("offset"), col("topic")),
      checkpointDir, trigger, driftMetrics, postBatch) { (batch, _, driftHook) =>
      applyDebeziumKafkaBatch(batch, registry, stores, namespace, driftHook, loaders)
    }
}
