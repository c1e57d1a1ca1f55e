package graft.sources

import graft.model.TableSpec
import graft.operators.CompactedBatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** MERGE-ON-READ bucketed Parquet store — the write-cheap twin of
  * [[ParquetTableStore]]'s copy-on-write merge, trading read-time
  * resolution for O(batch) writes (the Hudi MOR / Delta deletion-vector
  * trade; reference workload: the CDC loader applies a small compacted
  * batch every merge interval, `ChangeLoader.java:211-344`).
  *
  * Why it exists: CoW rewrites EVERY bucket a batch touches — one changed
  * key in a 1 GiB bucket costs a 1 GiB rewrite, so a steady trickle of
  * small batches (the streaming-CDC steady state) pays write amplification
  * proportional to table size per interval. Here `merge` writes ONLY the
  * batch rows as a delta file per touched bucket (upserts as `_op = 'u'`,
  * delete tombstones as `_op = 'd'` with null data columns) stamped with a
  * monotonic `_seq`; nothing existing is rewritten. `snapshot()` resolves
  * newest-wins per primary key across a bucket's file stack. [[compact]]
  * folds a bucket's stack back to one resolved base file when it exceeds
  * `compactThreshold` — after which that bucket reads with NO resolution
  * work at all (single-dir buckets skip the window entirely).
  *
  * Scale contract at 100 TB:
  *   - merge cost ∝ batch size (bucket-partitioned write of the batch,
  *     one shuffle of batch-sized data; driver state = one bounded
  *     directory listing);
  *   - snapshot cost = scan + a pk-keyed `row_number` window over ONLY the
  *     buckets that still carry deltas — freshly-compacted buckets stream
  *     straight off the scan; compaction keeps the windowed fraction small;
  *   - the resolution window shuffles on the pk, the same key the buckets
  *     hash on, so the exchange is the one a CoW merge pays anyway — paid
  *     at read time, per the MOR bargain.
  *
  * Same on-disk layer and crash-safety protocol as the CoW store
  * ([[BucketedStore]]): staged write → per-bucket rename into `data/` →
  * ONE atomic `_current` rename as the commit point; crash leftovers are
  * invisible and swept by the next merge or compaction. Single writer by
  * contract. Time travel / retained versions are deliberately NOT offered
  * here — that is the CoW store's feature (its manifests share immutable
  * bucket dirs across versions; a MOR stack mutates per merge and would
  * retain every delta forever).
  *
  * Manifest: `#buckets=` header, optional `#feedfloor=<seq>` (the
  * newest compaction's fold seq — see [[changeFeedSince]]; absent on
  * pre-feature manifests, where the floor falls back to a conservative
  * per-bucket estimate), then the bucket → dir STACK lines (base first).
  * Dir names are `<bucket>-<seq>-<token>`; `_seq` inside the files is the
  * authoritative resolution order, the name only seeds [[nextSeq]].
  */
final class MorTableStore(
    spark: SparkSession,
    root: String,
    val spec: TableSpec,
    numBuckets: Int = 64,
    compactThreshold: Int = 8,
    autoCompact: Boolean = false)
  extends BucketedStore(spark, root, numBuckets) {
  import BucketedStore.Manifest
  require(compactThreshold >= 2,
    s"compactThreshold must be >= 2, got $compactThreshold")

  /** The delta stacks ARE the history: every seq back to the compaction
    * floor stays readable, unbounded by any fixed retention count — the
    * floor guard in [[snapshotAt]]/[[changeFeedBetween]] fails loudly when
    * compaction folded past a requested version. NOTE for
    * [[SnapshotCatalog]] deployments: the catalog's ≥ 2 check is about a
    * STATIC retention config, which a MOR store does not have — its
    * window is the compaction policy's. A FULL `compact(keepNewest = 0)`
    * between a merge and the catalog commit folds the previous boundary's
    * version and a concurrent boundary reader fails LOUDLY (never a torn
    * read); size the policy to the boundary cadence (`keepNewest ≥ 1`,
    * the autoCompact default posture) to keep boundary reads seamless.
    */
  def versionWindow: Int = Int.MaxValue

  protected def specRec = StoreSpecIO.Rec(
    kind = "mor", name = spec.name, schema = spec.schema,
    pk = spec.pkCols, buckets = numBuckets,
    compactThreshold = compactThreshold)

  /** spec schema + the MOR metadata columns the delta files carry. */
  private val fileSchema = StructType(spec.schema.fields.toSeq :+
    StructField("_op", StringType) :+ StructField("_seq", LongType))

  /** The oldest `fromSeq` [[changeFeedSince]] can serve: compaction folds
    * per-row history at-or-below its fold seq, so feeds must start at or
    * after the newest fold. Pre-feature manifests (no recorded floor)
    * estimate conservatively from the stack shapes: any bucket whose
    * FIRST dir carries seq > 0 might be a compacted base, so the floor is
    * the max such seq (a never-compacted table with all-seq-0 bases
    * yields 0 — full history).
    */
  private def feedFloorOf(m: Manifest): Long =
    m.headers.get("feedfloor").map(_.toLong).getOrElse {
      val firstSeqs = m.stacks.values.flatMap(_.headOption).map(dirSeqOf)
      if (firstSeqs.isEmpty) 0L else firstSeqs.max
    }

  /** Next `_seq`: one past the largest seq any referenced dir carries in
    * its `<bucket>-<seq>-<token>` name. Bounded driver work (manifest is
    * already in memory); no data read.
    */
  private def nextSeq(m: Manifest): Long = {
    val seqs = m.dirs.map(dirSeqOf)
    if (seqs.isEmpty) 0L else seqs.max + 1L
  }

  private def commit(stacks: Map[Int, Seq[String]], feedFloor: Long): Unit =
    commitManifest(stacks, "feedfloor" -> feedFloor)

  /** Stage-write `rows` (already carrying `_op`/`_seq`) as one delta dir
    * per touched bucket, named `<bucket>-<seq>-<token>` (a bucket's seq
    * from `seqOf`, else `seq`). PK-sorted within each bucket for
    * footer-stats point lookups, same as the CoW store.
    */
  private def writeBucketDirs(rows: DataFrame, seq: Long,
      seqOf: Map[Int, Long] = Map.empty): Map[Int, String] =
    writeBuckets(rows, spec.pkCols, Map.empty)(
      (b, token) => s"$b-${seqOf.getOrElse(b, seq)}-$token")

  private def readDirs(dirs: Seq[String]): DataFrame = readParquet(dirs, fileSchema)

  /** Newest-wins resolution of a delta stack: max `_seq` per pk, survivors
    * are the upserts. Within one seq a pk appears at most once (the
    * CompactedBatch contract — per-key final action), `_op` desc is a
    * robustness tie-break only.
    *
    * SHAPE IS MEASURED-OPTIMAL, do not "upgrade" to a `max_by` aggregate
    * without new evidence (r15, `plans/r15/mor_resolve_window_vs_maxby.md`,
    * tool `graft.tools.MorResolveExp`): Spark's InferWindowGroupLimit
    * already ships at most one candidate row per key per map partition
    * (WindowGroupLimit Partial BEFORE the exchange — the same pre-shuffle
    * reduction a partial aggregate would buy), while `max_by`'s
    * struct/string aggregation buffer refuses HashAggregateExec and lands
    * on SortAggregateExec: the same two sorts plus per-row buffer updates.
    * Measured at 2.9M/5M stacked rows, local[32], min of 5: window 1.01 /
    * 0.99 s vs struct-max_by 1.26 / 1.40 s vs per-column 1.80 / 2.00 s,
    * identical output. (The r14 change-feed max_by WAS a win because it
    * removed a second scan and two shuffles, not because aggregates beat
    * windows per se.)
    */
  private def resolve(stack: DataFrame): DataFrame = {
    val w = Window.partitionBy(spec.pkCols.map(col): _*)
      .orderBy(col("_seq").desc, col("_op").desc)
    stack.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("_op") === "u")
      .select(spec.dataCols.map(col): _*)
  }

  /** Full load: one resolved base stack per bucket at seq 0. */
  def init(df: DataFrame): Unit = {
    gcUnreferenced(readManifest())
    val rows = df.select(spec.dataCols.map(col): _*)
      .withColumn("_op", lit("u")).withColumn("_seq", lit(0L))
    commit(writeBucketDirs(rows, 0L).map { case (b, d) => b -> Seq(d) },
      feedFloor = 0L)
  }

  /** Resolve a set of per-bucket dir stacks to current rows: single-dir
    * buckets stream straight off the scan (a lone dir is either a
    * compacted base or one self-consistent batch — filter the tombstones,
    * done); only multi-dir buckets pay the resolution window.
    *
    * SERVING CONTRACT: this exact shape — Union of [Filter(_op = 'u')
    * over scan] and [Filter(_rn = 1 ∧ _op = 'u') over a pk-partitioned
    * (_seq desc, _op desc) row_number Window over scan] — is what
    * [[graft.plans.StoreResolvePlan]] pattern-matches to serve star-MV
    * rollups over a maintained MOR snapshot. Changing the plan here
    * without updating that matcher silently degrades serving to the live
    * join (never wrong answers — the matcher refuses what it doesn't
    * recognize).
    */
  private def resolveStacks(stacks: Seq[Seq[String]]): DataFrame = {
    val (flat, stacked) = stacks.partition(_.lengthCompare(1) == 0)
    val parts = Seq(
      if (flat.nonEmpty)
        Some(readDirs(flat.flatten).filter(col("_op") === "u")
          .select(spec.dataCols.map(col): _*))
      else None,
      if (stacked.nonEmpty) Some(resolve(readDirs(stacked.flatten)))
      else None).flatten
    if (parts.isEmpty) emptyFrame(spec.schema)
    else parts.reduce(_ unionByName _)
  }

  /** Current rows, newest-wins. COMPOSITION NOTE: the returned frame is a
    * multi-Dataset composition (union of filtered/windowed reads), and
    * Spark's ambiguous-self-join detector is known to false-positive on
    * dataset-id-tagged column refs over such plans — if a downstream
    * `rollup("a", "b")` / `cube(...)` String overload throws
    * "Column ... are ambiguous", use the `Column`-argument overloads
    * (`rollup(col("a"), col("b"))`), which carry untagged refs. Same
    * workaround as for any composed view in stock Spark.
    */
  def snapshot(): DataFrame = resolveStacks(readManifest().stacks.values.toSeq)

  // ── versioned surface: the delta `_seq` IS the version ──────────────────

  private def dirSeqOf(dir: String): Long = dir.split("-")(1).toLong

  /** Newest committed seq (= [[currentSeq]], surfaced under the
    * [[VersionedTableStore]] name). Fails loudly before [[init]].
    */
  def currentVersion: Long = {
    val manifest = readManifest()
    require(manifest.stacks.nonEmpty,
      s"table ${spec.name} has no committed version yet — init() first")
    nextSeq(manifest) - 1L
  }

  /** Readable versions: every seq from the compaction floor to the head —
    * the stacks retain full history until a fold advances the floor.
    */
  def history(): Seq[Long] = {
    val manifest = readManifest()
    if (manifest.stacks.isEmpty) Seq.empty
    else feedFloorOf(manifest) to (nextSeq(manifest) - 1L)
  }

  /** Time-travel read: the table as of seq `version` — each bucket's
    * stack truncated to the dirs committed at-or-below it, resolved
    * newest-wins. History below the compaction floor is folded and fails
    * loudly (compact less aggressively, or re-baseline the reader).
    */
  def snapshotAt(version: Long): DataFrame =
    resolveStacks(readableAt(version).filter(_.nonEmpty))

  /** Absolute dir paths a [[snapshotAt]] of `version` scans — the stack
    * prefixes at-or-below it. What [[graft.plans.StarMvMaintainer]]
    * registers per sync so rollups over the live [[snapshot]] serve from
    * the maintained summary while the manifest still matches.
    */
  def dataDirsAt(version: Long): Seq[String] =
    absolute(readableAt(version).flatten)

  /** Dirs of buckets whose stack (truncated at `version`) is ≥ 2 deep —
    * the branches of a [[snapshotAt]] read that carry the resolution
    * Window. [[graft.plans.StoreResolvePlan]] refuses a window-less match
    * over any of these (a raw `_op = 'u'` scan of a stacked bucket still
    * holds superseded key versions).
    */
  override def stackedDirsAt(version: Long): Seq[String] =
    absolute(readableAt(version).filter(_.lengthCompare(1) > 0).flatten)

  /** Every bucket's stack truncated to the dirs committed at-or-below
    * `version`; fails loudly outside the readable window.
    */
  private def readableAt(version: Long): Seq[Seq[String]] = {
    val manifest = readManifest()
    require(manifest.stacks.nonEmpty,
      s"table ${spec.name} has no committed version yet — init() first")
    val cur = nextSeq(manifest) - 1L
    val floor = feedFloorOf(manifest)
    require(version >= floor && version <= cur,
      s"table ${spec.name} cannot serve version $version — the readable " +
        s"window is [$floor, $cur] (compaction folds history below the floor)")
    manifest.stacks.values.map(_.filter(dirSeqOf(_) <= version)).toSeq
  }

  /** The shared analyze, then older stats records are dropped: MOR seqs
    * advance every merge, so unbounded records would litter the table dir
    * (the newest is the only one [[stats]] serves anyway). MOR data bytes
    * include superseded delta rows still in the stacks — the honest cost
    * of SCANNING this snapshot (resolution reads them all), which is
    * exactly what the byte tier prices.
    */
  override def analyze(): TableStats = {
    val st = super.analyze()
    statsVersions().filter(_ != st.version)
      .foreach(v => fs.delete(statsPath(v), false))
    st
  }

  /** Row-valued change feed across (fromVersion, toVersion] — the bounded
    * twin of [[changeFeedSince]], which delegates here. Input is
    * bucket-pruned to stacks carrying any dir inside the window; the pre
    * state resolves at `_seq <= fromVersion`, the post at `<= toVersion`,
    * and [[graft.operators.SnapshotDiff.changeFeed]] nets them.
    */
  def changeFeedBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val manifest = readManifest()
    val cur = nextSeq(manifest) - 1L
    require(fromVersion >= 0 && fromVersion <= toVersion && toVersion <= cur,
      s"changeFeedBetween needs 0 <= from <= to <= $cur, got " +
        s"($fromVersion, $toVersion)")
    val floor = feedFloorOf(manifest)
    require(fromVersion >= floor,
      s"table ${spec.name} compacted its history up to seq $floor — a feed " +
        s"from $fromVersion cannot reconstruct pre-images; re-baseline the " +
        "consumer (full read) or compact less aggressively")
    val touched = manifest.stacks.filter(_._2.exists { d =>
      val sq = dirSeqOf(d); sq > fromVersion && sq <= toVersion })
    if (touched.isEmpty)
      return emptyFrame(StructType(spec.schema.fields.toSeq :+
        StructField("_change", StringType)))
    val stack = readDirs(touched.values.flatten
      .filter(dirSeqOf(_) <= toVersion).toSeq)
    // ONE scan + ONE pk-keyed aggregate for both images (r14, guide §2.4):
    // the previous shape resolved the stack twice (two pk-window shuffles
    // over two full reads of the touched stacks) and netted them with a
    // third full-outer join shuffle. Per key, the POST image is the row
    // with the max (_seq, _op) — the same (seq desc, op desc) order the
    // resolution window uses — and the PRE image the max restricted to
    // _seq <= fromVersion (max_by skips null ordering values, so keys
    // with no pre-window row resolve to a null image). Classification and
    // emitted rows match SnapshotDiff.changeFeed exactly: insert / delete
    // / update_pre+update_post, unchanged keys emit nothing, values in
    // declared-schema order.
    val pk = spec.pkCols
    val img = struct(col("_op") +: spec.dataCols.map(col): _*)
    val ord = struct(col("_seq"), col("_op"))
    val preOrd = when(col("_seq") <= fromVersion, ord)
    val agg = stack.groupBy(pk.map(col): _*).agg(
      max_by(img, ord).as("_post"),
      max_by(when(col("_seq") <= fromVersion, img), preOrd).as("_pre"))
    val preExists = col("_pre").isNotNull && col("_pre._op") === "u"
    val postExists = col("_post._op") === "u"
    def data(side: String) = struct(spec.dataCols.map(c => col(s"$side.$c").as(c)): _*)
    def tagged(side: String, tag: String) =
      struct(data(side).as("_row"), lit(tag).as("_change"))
    val emptyArr = array().cast(org.apache.spark.sql.types.ArrayType(
      StructType(Seq(
        StructField("_row", StructType(spec.schema.fields.toSeq)),
        StructField("_change", StringType)))))
    val rows = when(!preExists && postExists, array(tagged("_post", "insert")))
      .when(preExists && !postExists, array(tagged("_pre", "delete")))
      .when(preExists && postExists && !(data("_pre") <=> data("_post")),
        array(tagged("_pre", "update_pre"), tagged("_post", "update_post")))
      .otherwise(emptyArr)
    agg.select(explode(rows).as("_e"))
      .select(spec.dataCols.map(c => col(s"_e._row.$c").as(c)) :+
        col("_e._change").as("_change"): _*)
  }

  /** O(batch) write: the batch becomes one delta dir per TOUCHED bucket —
    * tombstones for deletes (null data columns), full rows for upserts —
    * appended to those buckets' stacks. Nothing existing is rewritten.
    */
  def merge(batch: CompactedBatch): Unit = {
    val manifest = openForWrite()
    val pk = spec.pkCols
    val nonPk = spec.dataCols.filterNot(pk.contains)
    val tombstones = nonPk.foldLeft(batch.deletes.select(pk.map(col): _*)) {
      (df, c) => df.withColumn(c, lit(null).cast(spec.schema(c).dataType))
    }.select(spec.dataCols.map(col): _*).withColumn("_op", lit("d"))
    val upserts = batch.upserts.select(spec.dataCols.map(col): _*)
      .withColumn("_op", lit("u"))
    val seq = nextSeq(manifest)
    val rows = upserts.unionByName(tombstones).withColumn("_seq", lit(seq))
    val written = writeBucketDirs(rows, seq)
    if (written.isEmpty) return
    val next = manifest.stacks ++ written.map { case (b, d) =>
      b -> (manifest.stacks.getOrElse(b, Seq.empty) :+ d)
    }
    commit(next, feedFloorOf(manifest))
    // Self-compaction policy (`autoCompact = true`): fold threshold-deep
    // stacks right after the merge COMMITS — the batch is already durable
    // and visible, so a crash mid-compaction costs nothing (the next
    // merge/compact gc's the staged dirs), and the steady-state CDC
    // pipeline never needs an external compaction scheduler. The policy
    // check is manifest-only (no data read); compact() itself touches only
    // the qualifying buckets.
    if (autoCompact &&
        next.values.exists(_.lengthCompare(compactThreshold) >= 0)) {
      // keepNewest = 1: fold only the stack PREFIX, keeping the delta this
      // very merge just committed. A full fold here would advance the feed
      // floor past the batch before any changeFeedSince consumer could
      // read it — stranding even consumers that sync after EVERY merge.
      // With the prefix fold the floor lands at the previous merge, so a
      // per-merge-cadence consumer never misses a batch.
      compact(keepNewest = 1); ()
    }
  }

  /** Fold every bucket whose stack reached `compactThreshold` dirs back to
    * ONE resolved base dir (deletes become final — no tombstone survives a
    * compaction), optionally keeping the newest `keepNewest` delta dirs
    * per bucket unfolded (the auto-compaction mode — see [[merge]]).
    * Folded rows are stamped with their bucket's max folded seq, so
    * last-wins resolution keeps them strictly older than the kept deltas,
    * and the feed floor advances only to the highest seq actually folded.
    * One write job covers all qualifying buckets; replaced dirs stay on
    * disk until the next merge/compact's gc so in-flight snapshots
    * resolved against the old manifest keep evaluating — the same
    * deferred-reclamation contract as the CoW store. Returns the number
    * of buckets compacted.
    */
  def compact(keepNewest: Int = 0): Int = {
    val manifest = openForWrite()
    // fold the prefix only when it still collapses ≥2 dirs — rewriting a
    // lone base dir would churn data for nothing
    val targets = manifest.stacks
      .filter(_._2.lengthCompare(compactThreshold) >= 0)
      .map { case (b, ds) => b -> ds.dropRight(keepNewest) }
      .filter(_._2.lengthCompare(2) >= 0)
    if (targets.isEmpty) return 0
    val cutByBucket = targets.map { case (b, ds) => b -> ds.map(dirSeqOf).max }
    val cut = cutByBucket.values.max
    val folded = resolve(readDirs(targets.values.flatten.toSeq))
    val cutExpr = cutByBucket.foldLeft(lit(cut)) { case (acc, (b, c)) =>
      when(col("_bucket_cut_probe") === b, lit(c)).otherwise(acc) }
    val resolved = folded
      .withColumn("_bucket_cut_probe", bucketCol)
      .withColumn("_op", lit("u"))
      .withColumn("_seq", cutExpr)
      .drop("_bucket_cut_probe")
    // each bucket's folded dir is NAMED with its own cut (dir-name seqs
    // drive bucket pruning and the legacy floor fallback; the row-level
    // _seq above drives resolution)
    val written = writeBucketDirs(resolved, cut, cutByBucket)
    // a bucket whose folded rows were all deleted folds to nothing; with
    // keepNewest > 0 its kept deltas stay as the whole stack. History
    // at-or-below each bucket's cut is gone; the recorded floor advances
    // to the HIGHEST folded seq so changeFeedSince fails loudly instead
    // of serving a reconstruction that silently misses pre-images.
    val next = manifest.stacks.flatMap { case (b, ds) =>
      if (!targets.contains(b)) Some(b -> ds)
      else {
        val kept = if (keepNewest == 0) Nil else ds.takeRight(keepNewest)
        val stack = written.get(b).toSeq ++ kept
        if (stack.isEmpty) None else Some(b -> stack)
      }
    }
    commit(next, feedFloor = math.max(feedFloorOf(manifest), cut))
    targets.size
  }

  /** Dir-stack depth per bucket — the observability hook for scheduling
    * [[compact]] (bounded: one manifest read, no data access).
    */
  def stackDepths(): Map[Int, Int] =
    readManifest().stacks.map { case (b, ds) => b -> ds.size }

  /** Newest committed `_seq` — the cursor a change-feed consumer records
    * after each read. Manifest-only (no data access).
    */
  def currentSeq: Long = nextSeq(readManifest()) - 1L

  /** Oldest `fromSeq` [[changeFeedSince]] can currently serve. */
  def feedFloor: Long = feedFloorOf(readManifest())

  /** Row-valued change feed since `fromSeq` (exclusive — pass the
    * [[currentSeq]] recorded at the previous read): full pre/post images
    * tagged `_change`, the MOR rendering of
    * [[ParquetTableStore.changeFeedBetween]]. The delta stacks ARE the
    * history, so the feed needs no retained versions: the pre state is
    * the stack resolved at `_seq <= fromSeq`, the post state the full
    * resolution, and [[graft.operators.SnapshotDiff.changeFeed]] nets
    * them — multiple ops on one key since the cursor collapse to their
    * net effect, and the delete/update pre-images come from the resolved
    * old state. Input is bucket-pruned to stacks that carry any dir with
    * seq > `fromSeq` (manifest-only detection).
    *
    * Compaction folds history: a feed from before the newest fold
    * ([[feedFloor]]) fails loudly — size `compactThreshold` (or the
    * consumer's cadence) so feeds are read before their history folds.
    */
  def changeFeedSince(fromSeq: Long): DataFrame =
    changeFeedBetween(fromSeq, currentSeq)

  /** Bucket-pruned point lookup — [[ParquetTableStore.snapshotForKeys]]'
    * MOR twin: the key set resolves to bucket ids (one bounded aggregate),
    * ONLY those buckets' dir stacks are read, and newest-wins resolution
    * runs over that pruned slice alone — a point lookup pays the MOR
    * resolution cost for a handful of buckets, never the table. The final
    * semi join on the key set is the exact membership test. `keys` must
    * carry exactly the primary-key columns; it is evaluated twice (bucket
    * probe + semi join) — persist it under the caller's CacheScope when
    * its upstream is expensive, the same contract as the CoW lookup.
    */
  def snapshotForKeys(keys: DataFrame): DataFrame = {
    val pk = spec.pkCols
    val keyDf = keys.select(pk.map(col): _*)
    val affected = keyDf.select(bucketCol.as("_bucket"))
      .distinct().collect().map(_.getInt(0)).toSet
    val hit = readManifest().stacks.filter(e => affected(e._1)).values.toSeq
    if (hit.isEmpty) emptyFrame(spec.schema)
    else resolveStacks(hit).join(keyDf.hint("broadcast"), pk, "left_semi")
  }
}
