package graft.plans

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Coalesce, Divide, EqualTo, EvalMode, ExprId, Expression, GreaterThan, GreaterThanOrEqual, If, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, expr, lit, max, min, sum}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StructType, TimestampNTZType, TimestampType}

/** A registered MV definition, of either shape: a single-table
  * [[MaterializedView.MvDef]] or a [[StarMv.StarMvDef]]. Both build,
  * refresh and serve as a star ([[asStar]]); the shapes differ only in
  * the registry slot they claim ([[baseKey]]) and in the codec that
  * writes them down ([[MvCatalog]]).
  */
private[plans] trait MvDefinition {
  def summaryPath: String
  private[plans] def asStar: StarMv.StarMvDef
  /** The normalized base path of a single-table MV — the registry holds
    * one per base — or None for a star.
    */
  private[plans] def baseKey: Option[String]
  private[plans] def withSummary(summaryPath: String): MvDefinition
}

/** Star-schema materialized views: a summary table pre-joining a fact with
  * its dimensions and pre-aggregating per group, plus a Catalyst rewrite
  * that reroutes a matching aggregate-over-join query to the summary — the
  * classic warehouse accelerator the reference's users get from Greenplum
  * summary tables over CDC-synced star schemas (reference: README.md:9,15).
  * This is the ONE materialized-view engine: a single-table
  * [[MaterializedView.MvDef]] is the one-table star with no joins
  * ([[MaterializedView.MvDef.asStar]]), built, refreshed and served by
  * the same code as the fact⋈dimension shape (q73-style), where the join
  * itself is the cost.
  *
  * Matching is EXACT on the relational algebra, not the plan shape: the
  * query's inner-equi-join tree is flattened to (leaf set, join-pair set)
  * and must equal the registered definition's — inner joins are associative
  * and commutative, so any join order the optimizer picks still matches,
  * while a missing table, an extra table, an outer join, or a different
  * join key refuses. Because the summary IS `groupBy(groupCols)` over that
  * exact join, matching queries re-aggregate it with decomposable
  * algebra (sum→sum, min/max→min/max of partials, count→sum of counts,
  * avg→sum of sums over sum of counts at Average's own internal types) —
  * no PK/FK or multiplicity reasoning needed.
  *
  * Filter conjuncts must be deterministic and reference only group columns
  * (replayed on the summary — a group column's value survives the groupBy,
  * so filtering summary rows ≡ filtering join rows ≡ filtering the dim
  * before the join), with one carve-out: `IsNotNull(<join key>)` conjuncts
  * are DROPPED, because the optimizer infers them from the very equi-joins
  * the summary already materialized — an inner join's output has no null
  * keys, so the predicate is vacuous on the summary.
  *
  * Measures are plain fact/dimension columns or registered DERIVED
  * expressions over the join (`revenue = price * (1 - discount)`), matched
  * against the query's optimized form exactly as derived groups are.
  *
  * Maintenance: [[rebuild]] (Greenplum's non-incremental `REFRESH` posture)
  * or real join-delta IVM — [[refreshTableDelta]] applies one table's CDC
  * batch via one signed delta join against the other tables, [[refresh]]
  * folds every changed table's batch into ONE summary generation (each
  * delta pinned to the tables `before`/`after` it), and
  * [[StarMvMaintainer]] runs that once per sync, durably, over versioned
  * stores' change feeds.
  *
  * Scale: the build pays the big shuffle join ONCE; every rollup after
  * reads |groups| summary rows instead of re-joining the fact. At 100 TB
  * the summary (nations × days, say) is MBs — the reroute turns a
  * multi-minute shuffle join into a broadcast-scale scan.
  *
  * Column names across the registered tables' REGISTERED columns (join
  * keys, groups, measures) must be globally unique — the TPC-H prefix
  * convention; rename-before-register if a schema reuses names.
  */
object StarMv {

  /** A column qualified by its source table's path (or store identity).
    * Matching happens on the [[normalized]] form: normalized path AND
    * lower-cased name — Spark resolves columns case-insensitively, and a
    * warehouse snapshot surfaces the catalog's casing (Derby/Greenplum
    * upper-case folding), so a definition registered as `f_cust` must
    * match a scan emitting `F_CUST`.
    */
  final case class QCol(path: String, name: String) {
    private[plans] def normalized: QCol =
      QCol(MaterializedView.normalize(path),
        name.toLowerCase(java.util.Locale.ROOT))
  }

  /** `joins` are unordered equi-join pairs — (QCol, QCol) with either side
    * listed first; a pair whose tables are already connected through other
    * pairs is applied as a post-join equality filter (the q73
    * supplier-nation shape, joined on both l_suppkey and c_nationkey).
    * `derivedMeasures` are (name, SQL over the joined relation).
    *
    * `losslessTables` declares tables whose join is a LOSSLESS 1:1
    * extension of the rest — their join key is unique and every partner
    * row matches exactly one of their rows (the dimension-key/FK contract
    * of a star schema). [[build]] VERIFIES the declaration against the
    * data (peeling outside-in: a declared table must touch exactly one
    * other table once tables behind it are peeled) and refuses a build
    * that can't prove it. A verified declaration widens the rewrite to
    * SUB-JOINS: a query joining any peelable subset of the tables — down
    * to the bare fact — is served from the same summary, because each
    * peeled extension contributed exactly one row per retained join row
    * (aggregate navigation / join elimination). [[refreshTableDelta]]
    * re-checks the contract delta-sized on every refresh and fails
    * loudly rather than silently serving wrong sub-join answers.
    */
  final case class StarMvDef(tables: Seq[String], joins: Seq[(QCol, QCol)],
      groupCols: Seq[QCol], measureCols: Seq[QCol], summaryPath: String,
      derivedMeasures: Seq[(String, String)] = Nil,
      losslessTables: Seq[String] = Nil,
      derivedGroups: Seq[(String, String)] = Nil) extends MvDefinition {
    private[plans] def asStar: StarMvDef = this
    private[plans] def baseKey: Option[String] = None
    private[plans] def withSummary(p: String): StarMvDef = copy(summaryPath = p)
    private[plans] lazy val leafSet: Set[String] =
      tables.map(MaterializedView.normalize).toSet
    private[plans] lazy val joinPairSet: Set[Set[QCol]] =
      joins.map { case (a, b) => Set(a.normalized, b.normalized) }.toSet
    private[plans] lazy val joinKeySet: Set[QCol] =
      joinPairSet.flatten
    private[plans] lazy val groupByQ: Map[QCol, String] =
      groupCols.map(q => q.normalized -> q.name).toMap
    private[plans] lazy val measureByQ: Map[QCol, String] =
      measureCols.map(q => q.normalized -> q.name).toMap
    private[plans] lazy val losslessSet: Set[String] =
      losslessTables.map(MaterializedView.normalize).toSet
    /** summary group-key column names: plain group columns then derived
      * groups (`day -> "cast(o_orderdate as date)"` time hierarchies, the
      * shape that keeps a star summary at day grain instead of
      * per-timestamp — i.e. MBs instead of fact-sized).
      */
    private[plans] lazy val groupNames: Seq[String] =
      groupCols.map(_.name) ++ derivedGroups.map(_._1)
  }

  /** THE registry of MV definitions, both shapes in one list, scoped by
    * the active session's `spark.graft.mv.scope` tag (default
    * `"global"`; see [[MaterializedView.scopeTag]]). Every reader —
    * [[MvRewriteRule]], [[servable]], [[MvAdvisor]], [[MvCatalog]] — reads
    * [[definitions]] or the [[Entry]]s behind them; a write swaps the
    * scope's whole list atomically, so a replacement is never observed
    * half done.
    */
  private val registries = new java.util.concurrent.ConcurrentHashMap[
    String, AtomicReference[Vector[Entry]]]()

  private def registry: AtomicReference[Vector[Entry]] =
    registries.computeIfAbsent(MaterializedView.scopeTag,
      _ => new AtomicReference(Vector.empty))

  /** One registered definition with what serving needs of it: the schema
    * of its current summary generation — None when it could not be read,
    * which leaves the entry registered but never a candidate — and its
    * derived [[Forms]]. Serving and refresh read the summary through
    * `schema`, so neither pays a Parquet schema inference.
    */
  private[plans] final case class Entry(definition: MvDefinition,
      schema: Option[StructType], forms: Forms) {
    def summaryPath: String = definition.summaryPath
    def star: StarMvDef = definition.asStar
    /** The summary as a DataFrame, read with the carried schema. */
    def summary(spark: SparkSession): DataFrame = schema.fold(
      spark.read.parquet(summaryPath))(spark.read.schema(_).parquet(summaryPath))
  }

  /** Render-forms of a definition's derived SQL, matched exprId-
    * insensitively ([[renderForm]]) against the query: derived measure
    * form → name, derived group form → name, and the derived groups that
    * are exactly `cast(<ts> as date)` as ts column name → day group name
    * (the day-range filter recovery, [[tsBoundToDay]]).
    */
  private[plans] final case class Forms(measures: Map[String, String],
      groups: Map[String, String], dayOfTs: Map[String, String])

  private[plans] def definitions: Seq[MvDefinition] =
    registry.get.map(_.definition)

  private[plans] def entries: Seq[Entry] = registry.get

  /** Register `d` in place of what it supersedes: the definition at its
    * summary path (build registers, and a maintainer created over that
    * build registers again — idempotent), the single-table MV on its base
    * when `d` is one (one MV per base), and `retired` (the generation a
    * refresh or a failed sync replaces).
    *
    * `schema` is the summary's as its writer just wrote it; without one,
    * a re-put of a registered summary path keeps that entry's schema and
    * any other put reads it once. A replaced entry over the same tables
    * and derived SQL hands over its forms (a refresh, a restore, an
    * idempotent re-put); otherwise they are analyzed here, once.
    */
  private[plans] def put(d: MvDefinition, retired: Option[String] = None,
      schema: Option[StructType] = None): Unit = {
    val spark = SparkSession.active
    def replaces(r: Entry) = r.summaryPath == d.summaryPath ||
      retired.contains(r.summaryPath) ||
      r.definition.baseKey.exists(d.baseKey.contains)
    val prior = registry.get.filter(replaces)
    val summarySchema = schema match {
      // a schema-given read infers nothing, and hands the schema back as
      // serving will see it: every field nullable
      case Some(written) =>
        Some(spark.read.schema(written).parquet(d.summaryPath).schema)
      case None => prior.find(_.summaryPath == d.summaryPath).map(_.schema)
        .getOrElse(scala.util.Try(spark.read.parquet(d.summaryPath).schema)
          .toOption)
    }
    val star = d.asStar
    val forms = prior.find(r => r.star.tables == star.tables &&
        r.star.derivedMeasures == star.derivedMeasures &&
        r.star.derivedGroups == star.derivedGroups)
      .fold(formsOf(spark, star))(_.forms)
    val entry = Entry(d, summarySchema, forms)
    // a (re)written summary — and possibly a grown base — voids cached
    // counts, and so does retiring a generation
    (d.summaryPath +: (d.baseKey.toSeq ++ retired)).foreach(MvCost.evict)
    registry.updateAndGet(_.filterNot(replaces) :+ entry)
    ()
  }

  /** Remove every definition `p` selects, evicting their cached sizes. */
  private[plans] def drop(p: MvDefinition => Boolean): Unit =
    registry.getAndUpdate(_.filterNot(e => p(e.definition)))
      .filter(e => p(e.definition)).foreach(e => MvCost.evict(e.summaryPath))

  def register(d: StarMvDef): Unit = put(d)
  def unregister(summaryPath: String): Unit = {
    MvCost.evict(summaryPath)
    drop(_.summaryPath == summaryPath)
  }

  /** Test hygiene: wipes EVERY scope, including serving pauses. */
  def clear(): Unit = { registries.clear(); pausedServing.clear() }
  private[plans] def isEmpty: Boolean = definitions.isEmpty
  private[plans] def registered: Seq[StarMvDef] =
    definitions.collect { case d: StarMvDef => d }

  /** Serving PAUSE set, keyed by the summary's base path (stable across
    * per-refresh `_v<n>` advances): a [[JdbcStarMaintainer]] mid-sequence
    * has merged some tables but not refreshed their deltas, and a JDBC
    * leaf has no snapshot identity to guard freshness on structurally (no
    * dir set) — so the maintainer pauses serving for the span of the
    * sequence instead. Paused definitions stay REGISTERED (the refresh
    * path requires that); they are just never candidates.
    */
  // keyed by (scope tag, summary base) like the registries themselves:
  // a pause in one tenant's scope must not suppress (or a resume unpause)
  // an identically-named summary in another scope
  private val pausedServing =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  private[plans] def summaryBase(summaryPath: String): String =
    summaryPath.replaceAll("_v\\d+$", "")

  private def pauseKey(summaryPath: String): (String, String) =
    (MaterializedView.scopeTag, summaryBase(summaryPath))

  private[plans] def pauseServing(summaryPath: String): Unit = {
    pausedServing.add(pauseKey(summaryPath)); ()
  }
  private[plans] def resumeServing(summaryPath: String): Unit = {
    pausedServing.remove(pauseKey(summaryPath)); ()
  }

  /** Definitions servable for a query over exactly `leaves`: exact
    * leaf-set matches first (no multiplicity reasoning needed), then
    * SUB-JOIN matches — defs whose extra tables are all declared lossless
    * and peel outside-in down to `leaves` ([[peelsTo]]). Paused summaries
    * and summaries whose schema could not be read are never candidates.
    */
  private[plans] def candidatesFor(leaves: Set[String]): Seq[Entry] = {
    // single-table MVs first: on equal or unknown cost they serve
    val all = entries.sortBy(_.definition.baseKey.isEmpty).filter(e =>
      e.schema.isDefined && !pausedServing.contains(pauseKey(e.summaryPath)))
    val exact = all.filter(_.star.leafSet == leaves)
    val sub = all.filter { e =>
      val d = e.star
      d.losslessSet.nonEmpty && d.leafSet != leaves &&
        leaves.subsetOf(d.leafSet) && peelsTo(d, leaves)
    }
    exact ++ sub
  }

  /** Can `d` be peeled outside-in down to `retained` — every removed
    * table declared lossless, in an order [[verifyLossless]] proved 1:1
    * on the data?
    */
  private def peelsTo(d: StarMvDef, retained: Set[String]): Boolean = {
    val removed = d.leafSet -- retained
    removed.subsetOf(d.losslessSet) && peelPlan(d, removed).isDefined
  }

  /** The verification/guard plan behind `losslessTables`: peel `tables`
    * (the declared ones, or those a sub-join drops) outside-in over the
    * FULL join graph — each step removes one table whose remaining edges
    * all reach ONE other table, with those edges — yielding (table, partner,
    * (partnerCol, tableCol) pairs) per step. None if a table never
    * reaches a single partner — e.g. a bridge table two retained tables
    * both join (removing it would silently drop the transitive equality
    * it enforces), or a member of a join cycle.
    */
  private[plans] def peelPlan(d: StarMvDef,
      tables: Set[String]): Option[Seq[(String, String, Seq[(QCol, QCol)])]] =
    Some(peel(d.joins, tables, _ => true)).filter(_.size == tables.size)

  /** The outside-in peel loop behind [[peelPlan]] and [[detectLossless]]:
    * repeatedly remove one of `tables` whose remaining edges all reach one
    * partner and whose step `accept` admits, until none does. Returns the
    * steps taken, in order.
    */
  private def peel(joins: Seq[(QCol, QCol)], tables: Set[String],
      accept: ((String, String, Seq[(QCol, QCol)])) => Boolean
  ): Seq[(String, String, Seq[(QCol, QCol)])] = {
    var edges = joins.map { case (a, b) => (a.normalized, b.normalized) }
    var toPeel = tables
    val plan = Seq.newBuilder[(String, String, Seq[(QCol, QCol)])]
    var step: Option[(String, String, Seq[(QCol, QCol)])] = None
    do {
      step = toPeel.iterator.flatMap { e =>
        val pairs = edges.collect {
          case (a, b) if b.path == e => (a, b)
          case (a, b) if a.path == e => (b, a)
        }
        val partners = pairs.map(_._1.path).distinct
        if (partners.size == 1) Some((e, partners.head, pairs)) else None
      }.find(accept)
      step.foreach { case s @ (e, _, _) =>
        plan += s
        edges = edges.filterNot { case (a, b) => a.path == e || b.path == e }
        toPeel -= e
      }
    } while (step.isDefined)
    plan.result()
  }

  /** `d`'s [[Forms]], from ONE analysis of its joined tables. A definition
    * whose tables are pure registry keys (store snapshots passed as
    * overrides) or whose SQL does not resolve simply matches nothing —
    * never a build or serving failure.
    */
  private def formsOf(spark: SparkSession, d: StarMvDef): Forms = {
    val joined =
      if (d.derivedMeasures.isEmpty && d.derivedGroups.isEmpty) None
      else scala.util.Try(joinTables(spark, d)).toOption
    // (name, optimized, analyzed) per derived SQL. The OPTIMIZED form is
    // what matches: the query-side expression has already been through
    // constant folding / decimal canonicalization when our rule runs. The
    // analyzed one still shows the `cast(ts as date)` of a day group.
    def analyzed(defs: Seq[(String, String)]) = joined.toSeq.flatMap { j =>
      defs.flatMap { case (name, sql) =>
        scala.util.Try {
          val qe = j.select(expr(sql).as("__d")).queryExecution
          val opt = qe.optimizedPlan match {
            case Project(pl, _) => pl.head
            case other => other.expressions.head
          }
          (name, opt, qe.analyzed.expressions.head match {
            case a: Alias => a.child; case x => x })
        }.toOption
      }
    }
    def byForm(xs: Seq[(String, Expression, Expression)]) =
      xs.flatMap { case (name, opt, _) => renderForm(opt).map(_ -> name) }.toMap
    val groups = analyzed(d.derivedGroups)
    Forms(byForm(analyzed(d.derivedMeasures)), byForm(groups), groups.collect {
      case (name, _, Cast(a: AttributeReference, DateType, _, _)) => a.name -> name
    }.toMap)
  }

  /** Fold the registered tables into one joined DataFrame, connecting one
    * new table per step; pairs whose tables are both already connected
    * become post-join equality filters. `replaced` substitutes a table's
    * DataFrame (the join-delta maintenance path: inner joins distribute
    * over bag union/difference table-by-table, so joining a DELTA of one
    * table against the others' current states IS the summary's delta).
    */
  private[plans] def joinTables(spark: SparkSession, d: StarMvDef,
      replaced: Map[String, DataFrame] = Map.empty): DataFrame = {
    val byPath = d.tables.map { p =>
      val n = MaterializedView.normalize(p)
      n -> replaced.getOrElse(n, spark.read.parquet(p))
    }.toMap
    var joined = byPath(MaterializedView.normalize(d.tables.head))
    var in = Set(MaterializedView.normalize(d.tables.head))
    var pending = d.joins.map { case (a, b) => (a.normalized, b.normalized) }
    var progressed = true
    while (pending.nonEmpty && progressed) {
      progressed = false
      val (connectable, rest) = pending.partition { case (a, b) =>
        in.contains(a.path) || in.contains(b.path) }
      val (applied, deferred) = connectable.partition { case (a, b) =>
        in.contains(a.path) != in.contains(b.path) }
      applied.groupBy { case (a, b) =>
        if (in.contains(a.path)) b.path else a.path
      }.foreach { case (newPath, pairs) =>
        val cond = pairs.map { case (a, b) =>
          col(a.name) === col(b.name): Column }.reduce(_ && _)
        joined = joined.join(byPath(newPath), cond, "inner")
        in += newPath
      }
      // both-sides-connected pairs (cycles) become equality filters
      val (cycles, stillPending) = deferred.partition { case (a, b) =>
        in.contains(a.path) && in.contains(b.path) }
      cycles.foreach { case (a, b) =>
        joined = joined.filter(col(a.name) === col(b.name)) }
      pending = rest ++ stillPending
      progressed = applied.nonEmpty || cycles.nonEmpty
    }
    require(pending.isEmpty && in == d.leafSet,
      s"join graph does not connect all tables: joined=$in pending=$pending")
    joined
  }

  /** The star's group and measure columns (derived ones evaluated) over
    * the given table contents, plus `extra`.
    */
  private def starRows(spark: SparkSession, d: StarMvDef,
      contents: Map[String, DataFrame], extra: Column*): DataFrame =
    (d.derivedMeasures ++ d.derivedGroups).foldLeft(
      joinTables(spark, d, contents)) {
      case (acc, (n, sql)) => acc.withColumn(n, expr(sql)) }
      .select((d.groupNames ++ d.measureCols.map(_.name) ++
        d.derivedMeasures.map(_._1)).map(col) ++ extra: _*)

  /** Recompute the summary from the CURRENT base tables and swap the
    * registration to a fresh versioned path (`<path>_v<n>`) — the
    * post-CDC-merge refresh. The OLD registration is removed BEFORE the
    * recompute (a rebuild must never be satisfied from its own stale
    * summary — the same posture as [[MaterializedView.build]]), and the
    * old summary files are never overwritten, so a query planned against
    * them keeps evaluating; queries planned mid-rebuild fall back to the
    * base join — correct, just unaccelerated for that window.
    */
  def rebuild(spark: SparkSession, d: StarMvDef): StarMvDef = {
    val next = nextSummaryPath(d.summaryPath)
    unregister(d.summaryPath)
    MvUsage.recordMaintenance(next) // a rebuild is a (full) maintenance wave
    build(spark, d.copy(summaryPath = next))
  }

  /** INCREMENTAL refresh for a CDC batch on ONE of the registered tables
    * (`tablePath`), the others unchanged — real join-delta IVM, not a
    * rebuild: inner joins distribute over bag union/difference per table,
    * so `J(T₁ … Tᵢ±Δ … Tₙ) = J(old) + (T₁…Δ⁺…Tₙ) − (T₁…Δ⁻…Tₙ)` and the
    * summary folds DELTA-JOIN-sized partials instead of re-joining the
    * fact. `inserts`/`deletes` carry the changed table's columns (a delete
    * row restates the deleted row's values — the CDC delete image); call
    * AFTER the batch landed in that table (the min/max repair reads the
    * CURRENT join). A single-table MV is the no-join case: the "delta
    * join" is the delta itself.
    *
    * Maintenance algebra: sum/count/cnt partials merge by SIGNED
    * addition — old + insert partials − delete partials, one fixed op
    * sequence per group (exact for integer/decimal measures; float sums
    * inherit the standard IVM caveat that a−b+b need not bit-equal a).
    * min/max are unmaintainable under deletes, so groups whose stored
    * extreme a deleted value touches are recomputed from the post-batch
    * join in one pruned pass (broadcast semi join on the batch-bounded
    * affected key set; per-column IN pushdown under `recomputeKeyCap`).
    * All maintenance joins are null-safe — NULL dimension values are
    * legal group keys. A group whose cnt reaches 0 leaves the summary;
    * negative cnt (deleting join rows that never existed) fails loudly
    * in-plan. The next summary generation is written to a fresh
    * versioned path (`<path>_v<n>`) and only then registered, so a
    * planned reader never sees half-written files and a failed refresh
    * leaves the registry on the old, consistent version.
    *
    * Changing a DIMENSION's join-key or group columns mid-stream is the
    * one shape this cannot maintain cheaply (it re-keys history) — batch
    * deltas on such a table still work through this path (the delta join
    * computes exactly the affected join rows), but the deletes must
    * restate the OLD dimension rows, and a simpler operational answer is
    * [[rebuild]].
    *
    * Cost: one signed delta join (delta × bounded dims — broadcast-sized
    * in the star shape) + a groups-sized merge + a pruned recompute ∝
    * affected groups. Never a full re-join.
    */
  def refreshTableDelta(spark: SparkSession, d: StarMvDef, tablePath: String,
      inserts: DataFrame, deletes: DataFrame,
      recomputeKeyCap: Int = 1000,
      tableOverrides: Map[String, DataFrame] = Map.empty): StarMvDef =
    refresh(spark, d, Seq((tablePath, inserts, deletes)), tableOverrides,
      tableOverrides, recomputeKeyCap).asStar

  /** The refresh algebra of [[refreshTableDelta]], shared by every MV and
    * every sync: folds the deltas of ALL `changes` (table path, inserts,
    * deletes) into ONE next summary generation and registers the advanced
    * definition, with the schema it was written at, in place of
    * `registered`.
    * It starts with the ONE ownership check: the signed algebra is not
    * idempotent, so a refresh must start from the summary the registry
    * holds (refreshing another generation would re-apply a feed on top of
    * it, double-subtracting its deletes).
    *
    * `before`/`after` substitute table CONTENT without touching the
    * definition (keys are table paths, values typically versioned-store
    * snapshots before and after the batch; an absent key reads the
    * table's path). Several changed tables telescope:
    * J(T₁",T₂") − J(T₁,T₂) = Δ₁⋈T₂ + T₁"⋈Δ₂ — each change's delta joins
    * the tables BEFORE it in definition order at `after` and the tables
    * after it at `before`; joining everything at `after` would
    * double-count Δ₁⋈Δ₂. The lossless guards and the min/max repair read
    * `after`, the state the new summary represents. One change with
    * `before` = `after` is the single-table refresh.
    */
  private[plans] def refresh(spark: SparkSession, registered: MvDefinition,
      changes: Seq[(String, DataFrame, DataFrame)],
      before: Map[String, DataFrame], after: Map[String, DataFrame],
      recomputeKeyCap: Int): MvDefinition = {
    val entry = entries.find(_.definition == registered)
    require(entry.isDefined, s"the registry does not hold " +
      s"${registered.summaryPath}: a refresh needs the CURRENTLY registered " +
      "definition (register/build first), and a maintainer whose state " +
      "file records it is not the owner of this MV")
    val d = registered.asStar
    import org.apache.spark.sql.functions.{broadcast, coalesce, concat, concat_ws, greatest, least, raise_error, when}
    val tables = d.tables.map(MaterializedView.normalize)
    def keyed(m: Map[String, DataFrame]) = m.map { case (p, df) =>
      val n = MaterializedView.normalize(p)
      require(tables.contains(n), s"override $p is not one of the MV's tables")
      n -> df
    }
    val (pre, post) = (keyed(before), keyed(after))
    val deltas = changes.map { case (t, ins, del) =>
      val p = MaterializedView.normalize(t)
      require(tables.contains(p), s"$t is not one of the MV's tables")
      (p, ins, del)
    }.sortBy(c => tables.indexOf(c._1))
    require(deltas.map(_._1).distinct.size == deltas.size,
      s"one change per table: ${deltas.map(_._1)}")
    // Lossless-integrity guards: the sub-join serving contract was proved
    // at build; a delta can break it two ways, both checked here at delta
    // cost against the post-batch tables and failing LOUDLY (rebuild, or
    // drop the declaration) rather than letting the summary silently
    // serve wrong sub-join answers. Every check is a `limit(1)` probe
    // tagged with its index; ONE collect over their union runs them all,
    // and the first failing check in order names the refusal. An empty
    // delta side makes its probes empty.
    if (d.losslessSet.nonEmpty) {
      val curs = scala.collection.mutable.Map.empty[String, DataFrame]
      def cur(p: String): DataFrame = curs.getOrElseUpdate(p,
        post.getOrElse(p, spark.read.parquet(d.tables(tables.indexOf(p)))))
      val checks = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, String)]
      for ((path, inserts, deletes) <- deltas;
           (e, partner, pairs) <- peelPlan(d, d.losslessSet).toSeq.flatten) {
        val eKeys = pairs.map(_._2.name)
        val pKeys = pairs.map(_._1.name)
        if (partner == path) {
          // new partner rows must still match the extension exactly once
          checks += inserts.select(pKeys.map(col): _*).join(
            cur(e).select(eKeys.map(col): _*),
            pKeys.zip(eKeys).map { case (p2, k) => col(p2) === col(k) }
              .reduce(_ && _), "left_anti") ->
            (s"refreshTableDelta: inserted $partner rows have no match in " +
              s"lossless table $e — rebuild or drop the losslessTables " +
              "declaration")
        }
        if (e == path) {
          // the extension must stay unique — checked DELTA-SIZED: only
          // the inserted key combinations can newly violate uniqueness
          // (the rest was proved at build / the previous refresh), so
          // restrict the aggregate to them via a semi join first
          val insKeys = inserts.select(eKeys.map(col): _*).distinct()
          checks += cur(e).join(insKeys, eKeys, "left_semi")
            .groupBy(eKeys.map(col): _*)
            .agg(count(lit(1)).as("_n")).filter(col("_n") > 1) ->
            (s"refreshTableDelta: $e is no longer unique on " +
              s"(${eKeys.mkString(", ")}) — rebuild or drop the " +
              "losslessTables declaration")
          // deleted keys must not orphan partners
          val goneKeys = deletes.select(eKeys.map(col): _*).distinct()
            .exceptAll(cur(e).select(eKeys.map(col): _*).distinct())
          val pDf = cur(partner)
          checks += pDf.join(goneKeys,
            pKeys.zip(eKeys).map { case (p2, k) => pDf(p2) === goneKeys(k) }
              .reduce(_ && _), "left_semi") ->
            (s"refreshTableDelta: deleting keys from lossless table $e " +
              s"orphans $partner rows — rebuild or drop the losslessTables " +
              "declaration")
        }
      }
      if (checks.nonEmpty) {
        val failed = checks.zipWithIndex.map { case ((probe, _), i) =>
          probe.limit(1).select(lit(i).as("_graft_check"))
        }.reduce(_ union _).collect().map(_.getInt(0))
        require(failed.isEmpty, checks(failed.min)._2)
      }
    }
    val g = d.groupNames.map(col)
    val gNames = d.groupNames
    val allMeasures = d.measureCols.map(_.name) ++ d.derivedMeasures.map(_._1)
    val old = entry.get.summary(spark)
    val oldTypes = old.schema.map(f => f.name -> f.dataType).toMap
    // ONE signed delta join per refresh: every change's insert and delete
    // rows are tagged ±1 and joined once — against the tables before it at
    // NEW and after it at OLD (the telescoping pins) — and the union of
    // all changes' join rows feeds ONE conditional aggregate producing
    // both partial sets; `when(_sgn = ...)` yields NULL for the other
    // side's rows, which sum/count/min/max skip. Groups present on only
    // one side emit an all-null/zero row for the other — the
    // union+re-aggregate merge below is invariant to those (sum/min/max
    // ignore NULL, cnt adds 0). On a DIMENSION change the join runs
    // against the FULL fact snapshot, so the groups-sized result is
    // persisted for its three consumers (affected probe, key collect,
    // merged write) — the join never re-runs.
    val sgn = col("_graft_sgn")
    val signed = deltas.map { case (p, inserts, deletes) =>
      val i = tables.indexOf(p)
      val pins = tables.zipWithIndex.flatMap { case (q, j) =>
        (if (j < i) post else pre).get(q).map(q -> _) }.toMap
      starRows(spark, d, pins + (p -> inserts.withColumn("_graft_sgn", lit(1))
        .unionByName(deletes.withColumn("_graft_sgn", lit(-1)))), sgn)
    }.reduce(_ unionByName _)
    def side(m: String, s: Int) = when(sgn === s, col(m))
    val bothAggs = allMeasures.flatMap(m => Seq(
      sum(side(m, 1)).as(s"s_$m"), count(side(m, 1)).as(s"c_$m"),
      min(side(m, 1)).as(s"mn_$m"), max(side(m, 1)).as(s"mx_$m"),
      sum(side(m, -1)).as(s"ds_$m"), count(side(m, -1)).as(s"dc_$m"),
      min(side(m, -1)).as(s"dmn_$m"), max(side(m, -1)).as(s"dmx_$m"))) ++ Seq(
      sum(when(sgn === 1, 1L).otherwise(0L)).as("cnt"),
      sum(when(sgn === -1, 1L).otherwise(0L)).as("dcnt"))
    val scope = new graft.operators.CacheScope
    val next = nextSummaryPath(d.summaryPath)
    val written = try {
      val combined = scope.own(signed.groupBy(g: _*)
        .agg(bothAggs.head, bothAggs.tail: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val insP = combined.select(gNames.map(col) ++ allMeasures.flatMap(m =>
        Seq(col(s"s_$m"), col(s"c_$m"), col(s"mn_$m"), col(s"mx_$m"))) :+
        col("cnt"): _*)
      val delSigned = combined.select(g ++ allMeasures.flatMap(m => Seq(
        (-col(s"ds_$m")).cast(oldTypes(s"s_$m")).as(s"s_$m"),
        (-col(s"dc_$m")).as(s"c_$m"),
        lit(null).cast(oldTypes(s"mn_$m")).as(s"mn_$m"),
        lit(null).cast(oldTypes(s"mx_$m")).as(s"mx_$m"))) :+
        (-col("dcnt")).as("cnt"): _*)
      val mergeAggs = allMeasures.flatMap(m => Seq(
        sum(col(s"s_$m")).as(s"s_$m"), sum(col(s"c_$m")).as(s"c_$m"),
        min(col(s"mn_$m")).as(s"mn_$m"), max(col(s"mx_$m")).as(s"mx_$m"))) :+
        sum(col("cnt")).as("cnt")
      val merged = old.unionByName(insP).unionByName(delSigned)
        .groupBy(g: _*)
        .agg(mergeAggs.head, mergeAggs.tail: _*)
        .withColumn("cnt", when(col("cnt") < 0, raise_error(concat(
          lit("refreshTableDelta: negative count for group ("),
          concat_ws(",", g.map(_.cast("string")): _*),
          lit(") — deletes reference join rows that never existed"))))
          .otherwise(col("cnt")))
        .filter(col("cnt") > 0)

      // a deleted extreme needs repair when it reaches the extreme of old
      // ∪ INSERTED partials, not of old alone: with several changed
      // tables, T₁"⋈Δ₂⁻ can delete a join row Δ₁⋈T₂ inserted in the same
      // refresh, in a group the old summary never held
      val affectedOpt = if (allMeasures.isEmpty) None else {
        val o = old.select(g ++ allMeasures.flatMap(m => Seq(
          col(s"mn_$m").as(s"omn_$m"), col(s"mx_$m").as(s"omx_$m"))): _*)
        val touched = allMeasures.map(m =>
          coalesce(col(s"dmn_$m") <= least(col(s"omn_$m"), col(s"mn_$m")),
            lit(false)) ||
            coalesce(col(s"dmx_$m") >= greatest(col(s"omx_$m"), col(s"mx_$m")),
              lit(false)))
          .reduce(_ || _)
        Some(scope.own(combined.join(o,
            gNames.map(n => combined(n) <=> o(n)).reduce(_ && _), "left")
          .filter(touched).select(gNames.map(combined(_)): _*).distinct()
          .cache()))
      }
      // ONE limited collect instead of count-then-collect (two actions →
      // one, r15): ≤ cap rows decide both the emptiness check and the IN
      // pushdown below; cap+1 rows mean "over cap", where the exact count
      // was never used anyway.
      val keyRowsOpt = affectedOpt.map(_.limit(recomputeKeyCap + 1).collect())
      val nAffected = keyRowsOpt.map(_.length.toLong).getOrElse(0L)

      val repaired = if (nAffected == 0) {
        merged.select(merged.columns.map(col) ++
          (lit(null).cast("int").as("_aff") +:
            allMeasures.flatMap(m => Seq(
              lit(null).cast(oldTypes(s"mn_$m")).as(s"r_mn_$m"),
              lit(null).cast(oldTypes(s"mx_$m")).as(s"r_mx_$m")))): _*)
      } else {
        val affected = affectedOpt.get
        var scan = starRows(spark, d, post)
        if (nAffected <= recomputeKeyCap) {
          val keyRows = keyRowsOpt.get
          gNames.zipWithIndex.foreach { case (gc, i) =>
            val vals = keyRows.map(_.get(i)).distinct.toSeq
            if (!vals.contains(null)) scan = scan.filter(col(gc).isin(vals: _*))
          }
        }
        // rename the probe keys before joining: `affected`'s group attrs
        // can be the VERY SAME attribute instances as the repair scan's
        // (both sides derive from the caller's override DataFrames), and a
        // same-attribute <=> only works through dataset-id disambiguation
        // — with a "trivially true predicate" warning. Distinct names make
        // the join unambiguous by construction.
        val affK = gNames.foldLeft(affected)(
          (df, gc) => df.withColumnRenamed(gc, s"_ck_$gc"))
        val repairAggs = allMeasures.flatMap(m => Seq(
          min(col(m)).as(s"r_mn_$m"), max(col(m)).as(s"r_mx_$m")))
        val recomputed = scan.join(broadcast(affK),
            gNames.map(n => col(n) <=> col(s"_ck_$n")).reduce(_ && _),
            "left_semi")
          .groupBy(g: _*)
          .agg(repairAggs.head, repairAggs.tail: _*)
        val affT = gNames.foldLeft(affected.withColumn("_aff", lit(1)))(
          (df, gc) => df.withColumnRenamed(gc, s"_ak_$gc"))
        val recT = gNames.foldLeft(recomputed)(
          (df, gc) => df.withColumnRenamed(gc, s"_rk_$gc"))
        merged
          .join(broadcast(affT),
            gNames.map(gc => col(gc) <=> col(s"_ak_$gc")).reduce(_ && _), "left")
          .join(broadcast(recT),
            gNames.map(gc => col(gc) <=> col(s"_rk_$gc")).reduce(_ && _), "left")
      }
      val finalCols = g ++ allMeasures.flatMap(m => Seq(
        when(col(s"c_$m") === 0, lit(null).cast(oldTypes(s"s_$m")))
          .otherwise(col(s"s_$m")).as(s"s_$m"),
        col(s"c_$m"),
        when(col("_aff") === 1, col(s"r_mn_$m"))
          .otherwise(when(col(s"c_$m") === 0,
            lit(null).cast(oldTypes(s"mn_$m"))).otherwise(col(s"mn_$m")))
          .as(s"mn_$m"),
        when(col("_aff") === 1, col(s"r_mx_$m"))
          .otherwise(when(col(s"c_$m") === 0,
            lit(null).cast(oldTypes(s"mx_$m"))).otherwise(col(s"mx_$m")))
          .as(s"mx_$m"))) :+ col("cnt")
      val out = repaired.select(finalCols: _*)
      out.write.mode("overwrite").parquet(next)
      out.schema
    } finally scope.release()
    MvUsage.recordMaintenance(next)
    val nd = registered.withSummary(next)
    put(nd, retired = Some(d.summaryPath), schema = Some(written))
    nd
  }

  /** The summary generation after `summaryPath`: `<stem>_v<n+1>`, the
    * unversioned build path counting as generation 0.
    */
  private[plans] def nextSummaryPath(summaryPath: String): String =
    s"${summaryBase(summaryPath)}_v${generation(summaryPath) + 1}"

  /** `n` of a `<stem>_v<n>` summary path; 0 for the unversioned build path. */
  private[plans] def generation(summaryPath: String): Int = {
    val stem = summaryBase(summaryPath)
    if (stem == summaryPath) 0 else summaryPath.substring(stem.length + 2).toInt
  }

  /** Apply a row-valued change feed on ONE registered table (the
    * [[graft.operators.SnapshotDiff.changeFeed]] schema) as one
    * incremental refresh: insert/update_post rows are the table's delta
    * inserts, delete/update_pre its delta deletes — an update contributes
    * its pre-image to the subtraction and its post-image to the addition.
    */
  def refreshTableFromFeed(spark: SparkSession, d: StarMvDef,
      tablePath: String, feed: DataFrame, recomputeKeyCap: Int = 1000,
      tableOverrides: Map[String, DataFrame] = Map.empty): StarMvDef =
    refreshFromFeeds(spark, d, Seq(tablePath -> feed), tableOverrides,
      tableOverrides, recomputeKeyCap).asStar

  /** [[refreshTableFromFeed]] for a definition of either shape and any
    * number of changed tables (table path, feed) — ONE [[refresh]].
    */
  private[plans] def refreshFromFeeds(spark: SparkSession, d: MvDefinition,
      feeds: Seq[(String, DataFrame)], before: Map[String, DataFrame],
      after: Map[String, DataFrame], recomputeKeyCap: Int): MvDefinition =
    splitFeeds(feeds)(refresh(spark, d, _, before, after, recomputeKeyCap))

  /** Split each (table, change feed) into (table, inserts, deletes) for
    * one refresh. The feeds are persisted for the span of `body` (both
    * sides of the signed delta read them) — at steady state they are
    * delta-sized by construction.
    */
  private[plans] def splitFeeds[T](feeds: Seq[(String, DataFrame)])(
      body: Seq[(String, DataFrame, DataFrame)] => T): T = {
    feeds.foreach { case (_, feed) => require(feed.columns.contains("_change"),
      s"feed must carry a _change column (got ${feed.columns.toSeq}) — " +
        "produce it with SnapshotDiff.changeFeed / changeFeedBetween") }
    val held = feeds.map { case (p, feed) =>
      p -> feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) }
    try body(held.map { case (p, f) => (p,
      f.filter(col("_change").isin("insert", "update_post")).drop("_change"),
      f.filter(col("_change").isin("delete", "update_pre")).drop("_change")) })
    finally held.foreach(_._2.unpersist(blocking = false))
  }

  /** Compute and write the pre-joined summary, register the definition.
    * One fact-sized shuffle join + map-side-combined aggregate — the cost
    * every later rollup amortizes. First build only: refreshing an
    * existing registration goes through [[rebuild]], which never
    * overwrites a summary path a planned reader may still evaluate.
    *
    * Note: the build's own aggregate can be captured by a DIFFERENT
    * registered definition over the same leaf set — correct iff that
    * sibling is fresh, which is already the staleness contract every MV
    * query lives under; unregister stale siblings before building.
    */
  def build(spark: SparkSession, d: StarMvDef,
      tableOverrides: Map[String, DataFrame] = Map.empty): StarMvDef = {
    require(d.groupCols.nonEmpty || d.derivedGroups.nonEmpty,
      "star MV needs at least one group column")
    val names = d.groupCols.map(_.name) ++ d.measureCols.map(_.name) ++
      d.derivedMeasures.map(_._1) ++ d.derivedGroups.map(_._1)
    require(names.distinct.size == names.size,
      s"group/measure/derived names must be globally unique: $names")
    require(d.tables.map(MaterializedView.normalize).distinct.size ==
      d.tables.size, "duplicate table paths in star MV definition")
    val overrides = tableOverrides.map { case (p, df) =>
      MaterializedView.normalize(p) -> df }
    verifyLossless(spark, d, overrides)
    unregister(d.summaryPath) // a stale twin must not satisfy the build scan
    put(d, schema = Some(materialize(spark, d, overrides)))
    d
  }

  /** Write `d`'s summary from its tables (`overrides`, keyed by normalized
    * path, substitute table content — versioned-store snapshots — so the
    * table paths can be pure registry keys; same contract as
    * [[refreshTableDelta]]) and return the schema it was written at.
    */
  private[plans] def materialize(spark: SparkSession, d: StarMvDef,
      overrides: Map[String, DataFrame]): StructType = {
    val joined = starRows(spark, d, overrides)
    val allMeasures = d.measureCols.map(_.name) ++ d.derivedMeasures.map(_._1)
    val partials = allMeasures.flatMap(m => Seq(
      sum(col(m)).as(s"s_$m"), count(col(m)).as(s"c_$m"),
      min(col(m)).as(s"mn_$m"), max(col(m)).as(s"mx_$m"))) :+
      count(lit(1)).as("cnt")
    val summary = joined.groupBy(d.groupNames.map(col): _*)
      .agg(partials.head, partials.tail: _*)
    summary.write.mode("overwrite").parquet(d.summaryPath)
    summary.schema
  }

  /** The maximal set of tables PROVABLY lossless for the given join
    * graph: peel greedily outside-in, keeping each candidate only when
    * its single-partner shape holds and the data checks pass (unique
    * join keys; every partner row matched). The same checks
    * [[verifyLossless]] runs on declarations — here used to DISCOVER the
    * declaration, so `fromQuery(..., autoLossless = true)` gets sub-join
    * serving with zero schema knowledge from the caller. Cost: one
    * dim-sized aggregate + one partner anti-join per candidate, paid once
    * next to the build's fact-sized join itself.
    */
  private def detectLossless(spark: SparkSession, tables: Seq[String],
      joins: Seq[(QCol, QCol)]): Seq[String] = {
    val normToOrig = tables.map(t => MaterializedView.normalize(t) -> t).toMap
    peel(joins, normToOrig.keySet, { case (e, partner, pairs) =>
      losslessFailure(spark.read.parquet(e), spark.read.parquet(partner),
        e, partner, pairs).isEmpty
    }).map(step => normToOrig(step._1))
  }

  /** `CREATE MATERIALIZED VIEW … AS <query>`: derive the definition FROM
    * the aggregate-over-join query the caller wants accelerated — the UX
    * the reference's users have in Greenplum — then [[build]] it. The
    * query must be one `Aggregate` over an inner-equi-join tree of
    * parquet relations with no residual filters (an MV built over a
    * filtered base would silently under-serve unfiltered queries, so
    * filters refuse). Extraction rules:
    *
    *   - plain grouping attributes → `groupCols`;
    *   - grouping EXPRESSIONS (e.g. `cast(ts as date)`) → `derivedGroups`
    *     named by the query's own output alias;
    *   - sum/min/max/avg/count over a plain column → `measureCols`;
    *   - over a deterministic expression → `derivedMeasures` named
    *     `dm<i>` in first-seen order (dedup by rendered form);
    *   - `count(*)` and aggregates over group expressions ride `cnt`.
    *
    * Anything else — outer joins, non-equi conjuncts, distinct
    * aggregates over measures, FILTER clauses — refuses with the reason.
    * The def's tables/joins/groups are exactly what the rewrite will
    * match, so the registered query (and every sibling it implies) is
    * served from the summary immediately after this returns.
    */
  def fromQuery(spark: SparkSession, query: DataFrame, summaryPath: String,
      losslessTables: Seq[String] = Nil,
      autoLossless: Boolean = false): StarMvDef = {
    val d0 = deriveDef(query, summaryPath)
    val lossless =
      if (autoLossless) {
        require(losslessTables.isEmpty,
          "pass either losslessTables or autoLossless, not both")
        detectLossless(spark, d0.tables, d0.joins)
      } else losslessTables
    build(spark, d0.copy(losslessTables = lossless))
  }

  /** The ANALYSIS half of [[fromQuery]]: derive the definition a query
    * implies without building it — what [[MvAdvisor]] runs over a whole
    * workload log before deciding which definitions are worth the build.
    * Throws with the refusal reason on shapes an MV cannot serve.
    */
  private[plans] def deriveDef(query: DataFrame,
      summaryPath: String): StarMvDef = {
    val plan = query.queryExecution.optimizedPlan
    val agg = plan match {
      case a: Aggregate => a
      case Project(_, a: Aggregate) => a
      case other => throw new IllegalArgumentException(
        s"fromQuery needs one Aggregate at the root, got ${other.nodeName}")
    }
    val flat = flatten(agg.child).getOrElse(throw new IllegalArgumentException(
      "fromQuery needs an inner-equi-join tree of parquet relations under " +
        "the Aggregate (outer joins / other operators refuse)"))
    // fromQuery derives a definition to BUILD from — store-resolution
    // leaves (MOR snapshots) refuse here: the build scan reads paths, and
    // a maintained MOR star is created explicitly over its stores
    val pathed = flat.leaves
      .collect { case r: RelLeaf => r }
      .flatMap(l => l.pathKey.map(l -> _))
    require(pathed.size == flat.leaves.size,
      "every leaf must be a single-root parquet relation")
    val paths = pathed.map(_._2)
    require(paths.distinct.size == paths.size, "self-joins refuse")
    val qcolOf = qcolsOf(pathed)
    def inline(e: Expression): Expression = inlineAliases(e, flat.aliases)
    def asPair(e: Expression): Option[(QCol, QCol)] = inline(e) match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if qcolOf.contains(a.exprId) && qcolOf.contains(b.exprId) &&
            qcolOf(a.exprId).path != qcolOf(b.exprId).path =>
        Some((qcolOf(a.exprId), qcolOf(b.exprId)))
      case _ => None
    }
    val joinPairs = (flat.joinConds ++ flat.filters).flatMap(asPair)
    val joinKeyIds = joinPairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    // residual filters: inferred IsNotNull on join keys is vacuous noise;
    // anything else means the query is NOT the whole join — refuse
    val residual = (flat.joinConds ++ flat.filters).filter { c =>
      asPair(c).isEmpty && (inline(c) match {
        case IsNotNull(a: AttributeReference) =>
          !qcolOf.get(a.exprId).exists(joinKeyIds.contains)
        case _ => true
      })
    }
    require(residual.isEmpty,
      s"fromQuery refuses residual filters/conjuncts (an MV over a filtered " +
        s"base would under-serve): ${residual.map(_.sql)}")
    def stripped(e: Expression): Expression = e.transform {
      case a: AttributeReference => a.withQualifier(Nil) }
    // groupings: attrs → groupCols; expressions → derivedGroups named by
    // the query's own output aliases
    val outAliasByForm: Map[String, String] = agg.aggregateExpressions.collect {
      case al @ Alias(child, name)
          if !child.exists(_.isInstanceOf[AggregateExpression]) =>
        renderForm(stripped(inline(child))).map(_ -> name)
    }.flatten.toMap
    val groupCols = Seq.newBuilder[QCol]
    val derivedGroups = Seq.newBuilder[(String, String)]
    agg.groupingExpressions.zipWithIndex.foreach { case (g0, i) =>
      inline(g0) match {
        case a: AttributeReference if qcolOf.contains(a.exprId) =>
          groupCols += qcolOf(a.exprId)
        case e if e.deterministic =>
          val form = renderForm(stripped(e)).getOrElse(
            throw new IllegalArgumentException(
              s"unrenderable grouping expression: ${e.sql}"))
          derivedGroups += ((outAliasByForm.getOrElse(form, s"dg$i"),
            stripped(e).sql))
        case e => throw new IllegalArgumentException(
          s"non-deterministic grouping expression refuses: ${e.sql}")
      }
    }
    // aggregate children: plain columns → measures; deterministic
    // expressions over non-group leaves → derived measures (dedup by form)
    val groupIdSet = agg.groupingExpressions.flatMap {
      case a: AttributeReference => Some(a.exprId); case _ => None }.toSet
    val measures = scala.collection.mutable.LinkedHashSet[QCol]()
    val derivedMeasures = scala.collection.mutable.LinkedHashMap[String, String]()
    def groupOnly(e: Expression): Boolean = e.references.forall(a =>
      groupIdSet.contains(a.exprId) ||
        inline(a).references.forall(r => groupIdSet.contains(r.exprId)))
    agg.aggregateExpressions.foreach { ne =>
      ne.foreach {
        case ae: AggregateExpression =>
          require(!ae.isDistinct && ae.filter.isEmpty,
            s"distinct/FILTER aggregates refuse: ${ae.sql}")
          ae.aggregateFunction match {
            case f @ (_: Sum | _: Min | _: Max | _: Average) =>
              inline(f.children.head) match {
                case a: AttributeReference if qcolOf.contains(a.exprId) =>
                  measures += qcolOf(a.exprId); ()
                case e if groupOnly(e) => () // rides cnt at serve time
                case e if e.deterministic =>
                  val form = renderForm(stripped(e)).getOrElse(
                    throw new IllegalArgumentException(
                      s"unrenderable measure expression: ${e.sql}"))
                  if (!derivedMeasures.contains(form)) {
                    derivedMeasures += form -> stripped(e).sql; ()
                  }
                case e => throw new IllegalArgumentException(
                  s"non-deterministic measure refuses: ${e.sql}")
              }
            case c: Count => c.children.map(inline) match {
              case Seq(_: Literal) => () // count(*) rides cnt
              case Seq(a: AttributeReference) if qcolOf.contains(a.exprId) =>
                measures += qcolOf(a.exprId); ()
              case Seq(e) if groupOnly(e) => ()
              case other => throw new IllegalArgumentException(
                s"count over ${other.map(_.sql)} refuses")
            }
            case other => throw new IllegalArgumentException(
              s"unsupported aggregate for an MV: ${other.prettyName}")
          }
        case _ => ()
      }
    }
    val dms = derivedMeasures.values.toSeq.zipWithIndex.map {
      case (sql, i) => (s"dm$i", sql) }
    StarMvDef(
      tables = paths,
      joins = joinPairs.distinct,
      groupCols = groupCols.result().distinct,
      measureCols = measures.toSeq,
      summaryPath = summaryPath,
      derivedMeasures = dms,
      losslessTables = Nil,
      derivedGroups = derivedGroups.result().distinct)
  }

  /** Prove every `losslessTables` declaration against the data, in peel
    * order, with [[losslessFailure]]'s two checks per peeled table — paid
    * once at build next to the fact-sized summary join itself. A failed
    * check refuses the whole build: a summary registered with an
    * unprovable declaration would silently serve wrong sub-join answers.
    */
  private def verifyLossless(spark: SparkSession, d: StarMvDef,
      overrides: Map[String, DataFrame]): Unit = {
    if (d.losslessTables.isEmpty) return
    require(d.losslessSet.subsetOf(d.leafSet),
      s"losslessTables not all registered tables: ${d.losslessTables}")
    val plan = peelPlan(d, d.losslessSet).getOrElse(throw new IllegalArgumentException(
      "losslessTables must peel outside-in to a single partner each — a " +
        s"bridge or cycle member cannot be lossless: ${d.losslessTables}"))
    def tableDf(p: String): DataFrame =
      overrides.getOrElse(p, spark.read.parquet(p))
    plan.foreach { case (e, partner, pairs) =>
      val failure = losslessFailure(tableDf(e), tableDf(partner), e, partner,
        pairs)
      require(failure.isEmpty, s"losslessTables: ${failure.get}")
    }
  }

  /** The two data checks that prove table `e` (`eDf`) a lossless 1:1
    * extension of `partner` (`pDf`) on `pairs` (partnerCol, eCol): `e` is
    * UNIQUE on its join keys, and every partner row MATCHES one (a null
    * key falls out of the anti-join as an orphan). One dimension-sized
    * aggregate plus one partner-scan anti-join. The failed check's
    * reason, or None.
    */
  private def losslessFailure(eDf: DataFrame, pDf: DataFrame, e: String,
      partner: String, pairs: Seq[(QCol, QCol)]): Option[String] = {
    val eKeys = pairs.map(_._2.name)
    val pKeys = pairs.map(_._1.name)
    val dup = eDf.groupBy(eKeys.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).limit(1)
    val orphan = pDf.select(pKeys.map(col): _*).join(
      eDf.select(eKeys.map(col): _*),
      pKeys.zip(eKeys).map { case (p, k) => col(p) === col(k) }
        .reduce(_ && _), "left_anti").limit(1)
    if (!dup.isEmpty) Some(s"$e is not unique on (${eKeys.mkString(", ")})" +
      " — the extension can duplicate join rows")
    else if (!orphan.isEmpty) Some(s"$partner has rows with no match in $e " +
      s"on (${pKeys.mkString(", ")}) — the extension drops join rows (null " +
      "or dangling keys)")
    else None
  }

  // ───────────────────────── rewrite machinery ─────────────────────────

  /** A table leaf of the flattened join tree: a plain (possibly
    * dir-set-registered) parquet relation, or a whole store-resolution
    * subplan matched as one unit (a MOR snapshot — see
    * [[StoreResolvePlan]]). Both expose the output attributes the plan
    * above references and the table KEY they stand for.
    */
  private[plans] sealed trait LeafRel {
    def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]
    def pathKey: Option[String]
    /** the leaf's physical scan roots — [[MvCost]] footer-counts them */
    def scanRoots: Seq[String]
  }
  private[plans] final case class RelLeaf(rel: LogicalRelation) extends LeafRel {
    def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
      rel.output
    def pathKey: Option[String] = relationPath(rel)
    def scanRoots: Seq[String] = MaterializedView.fsRoots(rel.relation)
  }
  private[plans] final case class StoreLeaf(
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      key: String, scanRoots: Seq[String]) extends LeafRel {
    def pathKey: Option[String] = Some(key)
  }

  /** Flattened query shape under the Aggregate: Project alias bindings,
    * filter conjuncts, join equi-pairs, and the leaf relations.
    */
  private final case class Flat(
      aliases: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression],
      filters: Seq[Expression],
      joinConds: Seq[Expression],
      leaves: Seq[LeafRel])

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x => Seq(x)
  }

  private def flatten(p: LogicalPlan): Option[Flat] = p match {
    case rel: LogicalRelation => Some(Flat(Map.empty, Nil, Nil, Seq(RelLeaf(rel))))
    // a whole MOR-resolution subplan is ONE leaf — matched before the
    // generic Project/Filter walk would descend into its internals. Its
    // inferred-not-null residue re-emits as ordinary leaf filters.
    case StoreResolvePlan(leaf) =>
      Some(Flat(Map.empty, leaf.extraFilters, Nil,
        Seq(StoreLeaf(leaf.output, leaf.key, leaf.roots.toSeq))))
    case Project(pl, c) if pl.forall(e =>
        e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
      flatten(c).map(f => f.copy(aliases = f.aliases ++ pl.collect {
        case a @ Alias(child, _) => a.exprId -> child }))
    case Filter(cond, c) =>
      flatten(c).map(f => f.copy(filters = splitConj(cond) ++ f.filters))
    case Join(l, r, Inner, cond, _) =>
      for (fl <- flatten(l); fr <- flatten(r)) yield Flat(
        fl.aliases ++ fr.aliases,
        fl.filters ++ fr.filters,
        cond.toSeq.flatMap(splitConj) ++ fl.joinConds ++ fr.joinConds,
        fl.leaves ++ fr.leaves)
    case _ => None
  }

  /** The table KEY a leaf relation stands for: its single root path, or —
    * for a versioned store's snapshot (many roots, no stable path) — the
    * table path its exact dir set is registered under
    * ([[MaterializedView.registerDirs]], maintained per sync by
    * [[StarMvMaintainer]]). The exact-set match is the per-table
    * staleness guard: a leaf merged past its last sync matches nothing
    * and the whole star falls back to the live join.
    */
  private def relationPath(rel: LogicalRelation): Option[String] = {
    val roots = MaterializedView.fsRoots(rel.relation)
    if (roots.nonEmpty)
      // explicit dir-set registration wins (a one-bucket snapshot has a
      // single root that is a data dir, not the table's key)
      MaterializedView.lookupDirReg(roots.toSet).map(_.key)
        .orElse(if (roots.size == 1) Some(roots.head) else None)
    else jdbcKeyOf(rel.relation)
  }

  /** A warehouse snapshot's leaf identity: the (url, table) pair rendered
    * exactly as [[graft.sources.JdbcTableStore.servingKey]] renders it —
    * a [[JdbcStarMaintainer]] registers its definition under those keys,
    * so rollups joining live `store.snapshot()` reads reroute. Accessed
    * reflectively: `JDBCRelation` is `private[sql]`, so the type cannot
    * be named here; method handles are cached per relation class.
    * Freshness note: a JDBC table has no snapshot identity to guard on
    * (unlike the dir-set match) — the maintainer instead PAUSES serving
    * ([[pauseServing]]) for the span of each sync, so serving only ever
    * sees fully-synced summaries (see [[JdbcStarMaintainer.sync]]).
    */
  private val jdbcAccessors = new java.util.concurrent.ConcurrentHashMap[
    Class[_], Option[(java.lang.reflect.Method, java.lang.reflect.Method,
      java.lang.reflect.Method)]]()

  private def jdbcKeyOf(rel: Any): Option[String] = {
    val ms = jdbcAccessors.computeIfAbsent(rel.getClass, { c =>
      if (c.getName != "org.apache.spark.sql.execution.datasources.jdbc.JDBCRelation") None
      else scala.util.Try {
        val optsM = c.getMethod("jdbcOptions")
        val optsC = optsM.getReturnType
        (optsM, optsC.getMethod("url"), optsC.getMethod("tableOrQuery"))
      }.toOption
    })
    ms.flatMap { case (optsM, urlM, tblM) =>
      scala.util.Try {
        val opts = optsM.invoke(rel)
        s"jdbc::${urlM.invoke(opts)}::${tblM.invoke(opts)}"
      }.toOption
    }
  }

  /** The ONE serving matcher behind [[MvRewriteRule]]: flatten the
    * aggregate's input — below a ROLLUP / CUBE / GROUPING SETS
    * [[Expand]], if the analyzer planted one — to its leaves, collect the
    * registered summaries for that leaf set (the single-table MV of a
    * one-leaf query, exact stars, lossless sub-join stars) and serve from
    * the cheapest one that matches.
    */
  private[plans] def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (expand, input) = agg.child match {
      case ex: Expand => (Some(ex), ex.child)
      case c => (None, c)
    }
    for {
      flat <- flatten(input)
      pathed = flat.leaves.flatMap(l => l.pathKey.map(l -> _))
      if pathed.size == flat.leaves.size
      paths = pathed.map(_._2)
      if paths.distinct.size == paths.size // self-joins refuse
      (e, plan) <- servable(pathed).view
        .flatMap(e => rewriteWith(agg, expand, flat, pathed, e).map(e -> _))
        .headOption
    } yield { MvUsage.recordServe(e.summaryPath); plan }
  }

  /** Candidates for the query's leaf set, cheapest summary first, with
    * the [[MvCost]] gate applied: a summary no smaller than the leaves'
    * total scan rows refuses (re-aggregating it reads no less than the
    * scan or join it replaces — e.g. an MV grouped by a near-unique key).
    * Ties and unknown counts keep registration order and serve.
    */
  private def servable(pathed: Seq[(LeafRel, String)]): Seq[Entry] = {
    val cands = candidatesFor(
      pathed.map(p => MaterializedView.normalize(p._2)).toSet)
    if (cands.isEmpty) return cands
    val spark = SparkSession.active
    val baseSize = pathed.map { case (l, key) =>
      MvCost.leafSize(spark, key, l.scanRoots) }
      .foldLeft(MvCost.SizeEst(Some(0L), Some(0L)))(_ + _)
    MvCost.orderAndGate(spark, cands, baseSize)
  }

  /** Query attribute (exprId) → qualified column of its leaf, lower-cased
    * like [[QCol.normalized]]: a warehouse leaf surfaces the catalog's
    * case folding, definitions carry the user's.
    */
  private def qcolsOf(pathed: Seq[(LeafRel, String)]): Map[ExprId, QCol] =
    pathed.flatMap { case (rel, path) =>
      rel.output.map(a => a.exprId ->
        QCol(path, a.name.toLowerCase(java.util.Locale.ROOT))) }.toMap

  /** Equivalence classes of qualified columns under equi-join pairs. */
  private final class UnionFind {
    private val parent = scala.collection.mutable.Map[QCol, QCol]()
    def find(x: QCol): QCol = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: QCol, b: QCol): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) { parent(ra) = rb; () }
    }
    def connected(a: QCol, b: QCol): Boolean = find(a) == find(b)
  }

  /** Match `d` against the flattened query and re-aggregate its summary.
    * One prelude serves both query shapes — leaf columns, alias inlining,
    * join coverage, the summary's attributes, derived group/measure
    * matching, filter replay — then a plain Aggregate re-aggregates the
    * filtered summary directly, and an Expand is rebuilt over it. A
    * single-table MV is the zero-join case: there are no pairs to cover
    * and every query equality replays as a group filter.
    *
    * What rewrites: grouping keys that are group columns, derived groups
    * (`day = cast(ts as date)`, matched by optimized render-form), or any
    * deterministic expression over those (month/year rollups from a day
    * summary — grouping base rows by f(group cols) partitions exactly as
    * grouping summary rows by f); aggregates that are sum/avg/min/max/count
    * over measures, count(*), or aggregates over expressions of group
    * columns (cnt-weighted where additive); filter conjuncts over group
    * columns, plus raw-ts bounds at exact midnights for a day group.
    * Anything else — distinct aggregates over measures, FILTER clauses,
    * measures in grouping position or predicates — leaves the plan
    * untouched: the rule must never widen semantics, only reroute them.
    * Every rewritten output keeps the original alias AND exprId (parents
    * reference outputs by exprId), and a Cast restores the original type
    * where re-aggregation widens it.
    */
  private def rewriteWith(agg: Aggregate, expand: Option[Expand], flat: Flat,
      pathed: Seq[(LeafRel, String)], entry: Entry): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val d = entry.star
    val qcolOf = qcolsOf(pathed)
    def inline(e: Expression): Expression = inlineAliases(e, flat.aliases)

    // Join canonicalization by EQUIVALENCE CLASSES, not literal pair sets:
    // the optimizer freely infers transitive equalities, reorders joins,
    // and migrates equality conjuncts between join conditions and filters,
    // so the invariant that survives is the equivalence relation the
    // equalities generate. Match = the query's equality constraints imply
    // every registered join pair (coverage), and every query equality is
    // either implied by the registered pairs (vacuous on the summary) or
    // replayable as a group-column filter.
    def asPair(e: Expression): Option[(QCol, QCol)] = e match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        for (qa <- qcolOf.get(a.exprId); qb <- qcolOf.get(b.exprId))
          yield (qa, qb)
      case _ => None
    }
    val joinConjs = flat.joinConds.map(inline)
    val joinPairs = joinConjs.map(asPair)
    if (joinPairs.exists(_.isEmpty)) return None // non-equi join conjunct
    val filterInl = flat.filters.flatMap(c => splitConj(inline(c)))
    val qc = new UnionFind // everything the QUERY constrains equal
    (joinPairs.flatten ++ filterInl.flatMap(asPair))
      .foreach { case (a, b) => qc.union(a, b) }
    val dc = new UnionFind // everything the DEFINITION constrains equal
    d.joins.foreach { case (a, b) => dc.union(a.normalized, b.normalized) }
    // coverage: the query must enforce the registered join graph AMONG THE
    // TABLES IT RETAINS — a sub-join match already proved (candidatesFor)
    // that the absent tables peel losslessly, and their edges exist on the
    // summary by construction. dc keeps ALL definition joins: an equality
    // the definition implies only THROUGH a peeled table still held on
    // every row the summary aggregated.
    val retained = pathed.map(p => MaterializedView.normalize(p._2)).toSet
    if (!d.joins.forall { case (a, b) =>
      !(retained.contains(a.normalized.path) &&
        retained.contains(b.normalized.path)) ||
        qc.connected(a.normalized, b.normalized) }) return None
    // a query equality implied by the definition is vacuous on the summary;
    // one that adds a constraint beyond the definition's must be replayable
    // as a group filter — route it through the filter gate below
    def impliedEq(e: Expression): Boolean =
      asPair(e).exists { case (a, b) => dc.connected(a, b) }
    val extraJoinConjs = joinConjs.filterNot(impliedEq)

    // summary relation with fresh attributes, mapped by name — read with
    // the entry's schema, so planning infers none
    val sumPlan = entry.summary(spark).queryExecution.analyzed
    val byName = sumPlan.output.map(a => a.name -> a).toMap
    def attrOf(name: String): Option[AttributeReference] =
      byName.get(name).collect { case a: AttributeReference => a }
    val Forms(dForms, dgForms, dayOfTs) = entry.forms
    def formOf(e: Expression, forms: Map[String, String]): Option[String] =
      if (forms.isEmpty) None else renderForm(e).flatMap(forms.get)
    // a query subtree whose render-form matches a derived group binds to
    // the summary's column for it
    val derivedGroupAttr: Expression => Option[Expression] =
      e => formOf(e, dgForms).flatMap(attrOf)

    // an expression tree whose leaves are group columns (plain, or derived
    // subtrees) rewritten into the summary's attribute space; None = not
    // expressible. Non-deterministic or aggregate-bearing expressions
    // never qualify.
    def rewriteGroupExpr(e0: Expression): Option[Expression] = {
      val e1 = inline(e0)
      if (!e1.deterministic || e1.exists(_.isInstanceOf[AggregateExpression]))
        None
      else {
        val e = if (dgForms.isEmpty) e1
          else e1.transformDown(Function.unlift(derivedGroupAttr))
        var ok = true
        val bound = e.transform {
          case a: AttributeReference if !sumPlan.outputSet.contains(a) =>
            qcolOf.get(a.exprId).flatMap(d.groupByQ.get).flatMap(attrOf)
              .getOrElse { ok = false; a }
        }
        if (ok) Some(bound) else None
      }
    }

    // measure name of a base-space aggregate child: a measure column, or a
    // whole expression matching a derived measure's render-form
    def measureName(child: Expression): Option[String] = inline(child) match {
      case a: AttributeReference =>
        qcolOf.get(a.exprId).flatMap(d.measureByQ.get)
      case e => formOf(e, dForms)
    }

    // filter conjuncts (plus any extra-constraint join conjuncts):
    // implied equalities and join-key IsNotNulls are vacuous on the
    // summary and drop; everything else must replay as a group filter —
    // including raw-ts bounds the optimizer rewrote a day filter into,
    // recovered to day bounds by the midnight conversion. Determinism is
    // required even for attribute-free conjuncts: rand() < 0.1 applied per
    // SUMMARY row would sample whole groups instead of base rows.
    val conj = (filterInl ++ extraJoinConjs).map {
      case c if impliedEq(c) => Some(None) // the join itself — drop
      case IsNotNull(a: AttributeReference)
          if qcolOf.get(a.exprId).exists(d.joinKeySet.contains) =>
        Some(None) // inner join output has no null keys — drop
      case c => rewriteGroupExpr(c)
        .orElse(tsBoundToDay(c, dayOfTs, attrOf,
          spark.sessionState.conf.sessionLocalTimeZone))
        .map(Some(_))
    }
    if (conj.exists(_.isEmpty)) return None
    val summaryIn: LogicalPlan =
      conj.flatten.flatten.foldLeft(sumPlan)((p, c) => Filter(c, p))

    // the re-aggregation algebra, shared by both shapes: `measureOf` names
    // the partials an aggregate child reads; `groupOf` binds a child that
    // is an expression of group columns, which is constant per summary
    // row and so re-aggregates cnt-weighted (Σ_base f = Σ_summary f·cnt)
    def rewriteResults(measureOf: Expression => Option[String],
        groupOf: Expression => Option[Expression],
        pre: Expression => Expression): Option[Seq[NamedExpression]] = {
      def partial(prefix: String, child: Expression) =
        measureOf(child).flatMap(m => attrOf(prefix + m))
      def total(p: Expression): Expression =
        Coalesce(Seq(Sum(p).toAggregateExpression(), Literal(0L)))
      def rewriteAggFunc(e: AggregateExpression): Option[Expression] =
        e.aggregateFunction match {
          // TRY-mode sums refuse: try_sum's overflow-to-null point depends
          // on per-row accumulation order, which the partials erase
          case s: Sum if s.evalContext.evalMode == EvalMode.TRY => None
          case s: Sum => partial("s_", s.child)
            .map(p => Sum(p).toAggregateExpression())
            .orElse(for {
              b <- groupOf(s.child)
              cnt <- attrOf("cnt")
              r <- sumOfGroupExpr(b, cnt)
            } yield r)
          case a: Average => (for {
              s <- partial("s_", a.child)
              c <- partial("c_", a.child)
              r <- avgFromPartials(a, Sum(s).toAggregateExpression(),
                Sum(c).toAggregateExpression())
            } yield r).orElse(for {
              b <- groupOf(a.child)
              cnt <- attrOf("cnt")
              r <- avgOfGroupExpr(a, b, cnt)
            } yield r)
          // extremes over expressions of group columns need no weighting:
          // the summary enumerates the same value set
          case m: Min => partial("mn_", m.child).orElse(groupOf(m.child))
            .map(x => Min(x).toAggregateExpression())
          case m: Max => partial("mx_", m.child).orElse(groupOf(m.child))
            .map(x => Max(x).toAggregateExpression())
          case c: Count => c.children match {
            // the coalesce covers the GLOBAL aggregate over an empty
            // summary, where count must be 0 while sum is null
            case Seq(l: Literal) if l.value != null => attrOf("cnt").map(total)
            case Seq(one) => partial("c_", one).map(total)
              .orElse(for {
                b <- groupOf(one)
                cnt <- attrOf("cnt")
              } yield countOfGroupExpr(b, cnt))
            case _ => None
          }
          case _ => None
        }

      def rewriteExpr(e: Expression): Option[Expression] = e match {
        case ae @ AggregateExpression(_, _, false, None, _) => rewriteAggFunc(ae)
        // COUNT(DISTINCT group expressions) is exact on the summary, which
        // holds every distinct group combination (a finer summary grouping
        // only adds rows the DISTINCT collapses); distinct over measures
        // stays refused — their per-row values are gone
        case AggregateExpression(c: Count, _, true, None, _)
            if c.children.nonEmpty =>
          val kids = c.children.map(groupOf)
          if (kids.forall(_.isDefined))
            Some(Count(kids.map(_.get)).toAggregateExpression(isDistinct = true))
          else None
        case _: AggregateExpression => None // other distinct / FILTER aggs
        case l: Literal => Some(l)
        // whole subtree first: a derived group (`cast(ts as date)`) binds
        // as a unit — its leaf (raw ts) is not a group column
        case _ => groupOf(e).orElse {
          val kids = e.children.map(rewriteExpr)
          if (kids.nonEmpty && kids.forall(_.isDefined))
            Some(e.withNewChildren(kids.map(_.get)))
          else None
        }
      }

      def named(c: Expression, name: String, id: ExprId,
          dt: DataType): NamedExpression =
        Alias(if (c.dataType == dt) c else Cast(c, dt), name)(exprId = id)
      val out = agg.aggregateExpressions.map {
        case a: AttributeReference => rewriteExpr(pre(a)).map {
          case same: AttributeReference if same.exprId == a.exprId => same
          case c => named(c, a.name, a.exprId, a.dataType)
        }
        case al @ Alias(child, name) =>
          rewriteExpr(pre(child)).map(named(_, name, al.exprId, al.dataType))
        case _ => None
      }
      if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
    }

    // ROLLUP / CUBE / GROUPING SETS: rebuild the SAME Expand over the
    // summary — each summary row replicates once per grouping set exactly
    // as each base row did, so within every (grouping-set, keys) partition
    // the decomposable algebra holds unchanged. Aggregate outputs
    // referencing the grouping id keep working because every non-measure
    // Expand output survives with its exprId; only measure passthroughs
    // are swapped for partials.
    def overExpand(ex: Expand): Option[LogicalPlan] = {
      // bind every position of the projection matrix: measure passthroughs
      // drop out (their partials ride along), grouping entries rebind to
      // the summary's attribute space, and OTHER passthroughs (e.g. the
      // factors of a derived measure the analyzer passes through
      // separately — `f_price` for `sum(f_qty * f_price)`) stay UNBOUND:
      // they drop from the new Expand too, and an aggregate child built
      // from them must match a derived measure below (or refuse via refsOk)
      val cols = classifyExpand(ex.projections, ex.output).getOrElse(return None)
      val measureByOutId = scala.collection.mutable.Map[ExprId, String]()
      val boundByIdx = scala.collection.mutable.Map[Int, Expression]()
      val baseExprByOutId = scala.collection.mutable.Map[ExprId, Expression]()
      def bind(e: Expression, j: Int): Boolean = rewriteGroupExpr(e) match {
        case Some(se) if se.dataType == ex.output(j).dataType =>
          boundByIdx(j) = se; true
        case _ => false
      }
      cols.zipWithIndex.foreach {
        case (ExGid, _) => ()
        case (ExPass(e), j) =>
          baseExprByOutId(ex.output(j).exprId) = e
          measureName(e) match {
            case Some(m) => measureByOutId(ex.output(j).exprId) = m
            case None => bind(e, j); () // unbound passthrough — see above
          }
        case (ExGrouped(e), j) =>
          baseExprByOutId(ex.output(j).exprId) = e
          if (!bind(e, j)) return None // a grouping-set key MUST rebind
      }
      val keepIdx = ex.output.indices.filter(j =>
        cols(j) == ExGid || boundByIdx.contains(j))
      val expandableIds: Set[ExprId] = keepIdx.map(ex.output(_).exprId).toSet
      def refsOk(e: Expression): Boolean =
        e.deterministic && !e.exists(_.isInstanceOf[AggregateExpression]) &&
          e.references.forall(a => expandableIds.contains(a.exprId))
      if (!agg.groupingExpressions.forall(refsOk)) return None

      // an aggregate child rendered back in BASE attribute space (Expand
      // outputs replaced by the base-side expressions they pass through),
      // so whole-child derived-measure matching can run
      def baseForm(child: Expression): Option[Expression] = {
        var ok = true
        val subbed = child.transform {
          case a: AttributeReference if !qcolOf.contains(a.exprId) =>
            baseExprByOutId.getOrElse(a.exprId, { ok = false; a })
        }
        if (ok) Some(subbed) else None
      }
      def measureOf(child: Expression): Option[String] = child match {
        case a: AttributeReference if measureByOutId.contains(a.exprId) =>
          measureByOutId.get(a.exprId)
        case _ => baseForm(child).flatMap(measureName)
      }
      val results = rewriteResults(measureOf, e => Some(e).filter(refsOk),
        identity).getOrElse(return None)
      // partial/cnt attrs the rewritten aggregates read ride through every
      // projection unchanged (the passthrough pattern)
      val usedPartials = results.flatMap(_.references)
        .filter(sumPlan.outputSet.contains).distinct
        .collect { case a: AttributeReference => a }
      val newProjs = ex.projections.map { proj =>
        keepIdx.map { j =>
          cols(j) match {
            case ExGid => proj(j)
            case ExGrouped(_) => proj(j) match {
              case Literal(null, dt) => Literal(null, dt)
              case _ => boundByIdx(j)
            }
            case ExPass(_) => boundByIdx(j)
          }
        } ++ usedPartials
      }
      Some(Aggregate(agg.groupingExpressions, results,
        Expand(newProjs, keepIdx.map(ex.output) ++ usedPartials, summaryIn)))
    }

    expand match {
      case Some(ex) => overExpand(ex)
      case None =>
        val groupings = agg.groupingExpressions.map(rewriteGroupExpr)
        if (groupings.exists(_.isEmpty)) None
        else rewriteResults(measureName, rewriteGroupExpr, inline)
          .map(Aggregate(groupings.map(_.get), _, summaryIn))
    }
  }

  /** Per-position classification of an Expand's projection matrix. */
  private sealed trait ExCol
  /** same expression in every projection (measures, constants, pre-nulled
    * group expressions) */
  private final case class ExPass(e: Expression) extends ExCol
  /** nulled in some projections, the same expression in the rest — a
    * grouping-sets key column */
  private final case class ExGrouped(e: Expression) extends ExCol
  /** a distinct non-null literal per projection — the grouping id */
  private case object ExGid extends ExCol

  private def classifyExpand(projs: Seq[Seq[Expression]],
      out: Seq[Attribute]): Option[Seq[ExCol]] = {
    if (projs.isEmpty || projs.exists(_.size != out.size)) return None
    val cols = out.indices.map { j =>
      val colExprs = projs.map(_(j))
      val allLits = colExprs.forall {
        case Literal(v, t) => v != null &&
          (t == LongType || t == IntegerType || t == ShortType || t == ByteType)
        case _ => false
      }
      if (allLits &&
        colExprs.map(_.asInstanceOf[Literal].value).distinct.size == colExprs.size)
        Some(ExGid)
      else {
        val nonNull = colExprs.filter {
          case Literal(null, _) => false
          case _ => true
        }
        if (nonNull.isEmpty) None // a column nulled in EVERY set — refuse
        else if (!nonNull.forall(_.semanticEquals(nonNull.head))) None
        else if (nonNull.size == colExprs.size) Some(ExPass(nonNull.head))
        else Some(ExGrouped(nonNull.head))
      }
    }
    if (cols.exists(_.isEmpty)) None else Some(cols.map(_.get))
  }

  /** Day-hierarchy filter recovery: the optimizer rewrites
    * `cast(ts as date) >= date d` into `ts >= timestamp midnight(d)`
    * BEFORE our rule runs, so a dashboard's day-range filter arrives as
    * raw-ts bounds. A conjunct bounding ts at an exact session-TZ
    * midnight converts back to the day bound (ts >= mid(d) ⇔ day >= d;
    * ts < mid(d) ⇔ day < d) whenever the zone has a fixed offset — under
    * DST a day's first instant need not be 00:00, so non-fixed zones
    * refuse rather than risk an off-by-one day. `dayOfTs` maps a
    * timestamp column NAME to its derived day column; `attrOf` resolves
    * summary attributes by name.
    */
  private def tsBoundToDay(e: Expression, dayOfTs: Map[String, String],
      attrOf: String => Option[AttributeReference],
      zoneIdStr: String): Option[Expression] = {
    if (dayOfTs.isEmpty) return None
    def dayAttr(a: AttributeReference): Option[AttributeReference] =
      dayOfTs.get(a.name).flatMap(attrOf)
    def midnightDate(l: Literal): Option[Literal] = l match {
      case Literal(micros: Long, TimestampType) =>
        // zoned: only a fixed-offset session zone makes midnight(d) ⇔ d
        val zone = scala.util.Try(
          java.time.ZoneId.of(zoneIdStr)).getOrElse(return None)
        if (!zone.getRules.isFixedOffset) return None
        val zdt = java.time.Instant.EPOCH
          .plus(micros, java.time.temporal.ChronoUnit.MICROS).atZone(zone)
        if (zdt.toLocalTime == java.time.LocalTime.MIDNIGHT)
          Some(Literal(zdt.toLocalDate.toEpochDay.toInt, DateType))
        else None
      case Literal(micros: Long, TimestampNTZType) =>
        // NTZ is pure wall-clock — cast(ntz as date) is its date part in
        // EVERY zone, so the conversion is exact with no DST caveat
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          java.lang.Math.floorDiv(micros, 1000000L),
          (java.lang.Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
        if (ldt.toLocalTime == java.time.LocalTime.MIDNIGHT)
          Some(Literal(ldt.toLocalDate.toEpochDay.toInt, DateType))
        else None
      case _ => None
    }
    e match {
      case IsNotNull(a: AttributeReference) => dayAttr(a).map(IsNotNull(_))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        for (d <- dayAttr(a); dl <- midnightDate(l))
          yield GreaterThanOrEqual(d, dl)
      case LessThan(a: AttributeReference, l: Literal) =>
        for (d <- dayAttr(a); dl <- midnightDate(l)) yield LessThan(d, dl)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        for (d <- dayAttr(a); dl <- midnightDate(l))
          yield GreaterThanOrEqual(d, dl)
      case GreaterThan(l: Literal, a: AttributeReference) =>
        for (d <- dayAttr(a); dl <- midnightDate(l)) yield LessThan(d, dl)
      case _ => None
    }
  }

  /** exprId/qualifier/alias-insensitive rendering for expression matching:
    * two analyzed expressions over the same base match iff their SQL text
    * matches after stripping the outer alias and attribute qualifiers.
    */
  private[plans] def renderForm(e: Expression): Option[String] = {
    val noAlias = e match { case a: Alias => a.child; case x => x }
    scala.util.Try(noAlias.transform {
      case ar: AttributeReference => ar.withQualifier(Nil)
    }.sql).toOption
  }

  /** Inline collected Project aliases to fixpoint (stacked withColumns /
    * PullOutGroupingExpressions chains), so matching always sees the
    * base-column form of every expression.
    */
  private def inlineAliases(e: Expression,
      aliases: Map[ExprId, Expression]): Expression = {
    var cur = e
    var i = 0
    while (i < 10) {
      val next = cur.transformUp {
        case a: AttributeReference if aliases.contains(a.exprId) =>
          aliases(a.exprId)
      }
      if (next.fastEquals(cur)) return cur
      cur = next; i += 1
    }
    cur
  }

  /** avg(x) from the summary's (Σ s_x, Σ c_x): mirrors [[Average]]'s own
    * evaluation — a decimal measure divides at Average's exact internal
    * types (sum at decimal(p+10,s), count at decimal(20,0), result cast to
    * Average.resultType), everything else at double — so a rerouted avg
    * renders the value the base scan would. Float/double measures inherit
    * the usual decomposition caveat (the base sums in row order, the
    * summary pre-sums per group: equal in exact arithmetic, last-ulp free
    * under IEEE — the same freedom sum(x) already has). TRY-mode averages
    * refuse: their overflow-to-null points differ from the re-aggregated
    * shape's.
    */
  private def avgFromPartials(a: Average, sumOfSums: Expression,
      sumOfCounts: Expression): Option[Expression] =
    if (a.evalMode == EvalMode.TRY) None
    else a.child.dataType match {
      // a.dataType IS Average.resultType (decimal(p+4,s+4) bounded);
      // the internal sum buffer type is decimal(p+10,s) bounded
      case dt: DecimalType =>
        val sumType = DecimalType(math.min(dt.precision + 10, 38), dt.scale)
        Some(Cast(Divide(Cast(sumOfSums, sumType),
          Cast(sumOfCounts, DecimalType(20, 0))), a.dataType))
      case _: NumericType => Some(Cast(Divide(Cast(sumOfSums, DoubleType),
        Cast(sumOfCounts, DoubleType)), a.dataType))
      case _ => None // interval averages keep their own algebra — refuse
    }

  /** sum/count/avg over an EXPRESSION OF GROUP COLUMNS, weighted by the
    * summary's per-group `cnt`: f(group cols) is constant within a group,
    * so Σ_base f = Σ_groups f·cnt, count_base(f) = Σ_{f≠null} cnt, and avg
    * is their quotient. Integral f stays bit-exact (long arithmetic both
    * ways); float/double inherit the reassociation caveat; decimal f
    * refuses — mirroring the precision walk of f·cnt is not worth the rule
    * surface.
    */
  private def sumOfGroupExpr(b: Expression,
      cnt: AttributeReference): Option[Expression] =
    b.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(Sum(Multiply(Cast(b, LongType), cnt)).toAggregateExpression())
      case DoubleType | FloatType =>
        Some(Sum(Multiply(Cast(b, DoubleType), Cast(cnt, DoubleType)))
          .toAggregateExpression())
      case _ => None
    }

  private def countOfGroupExpr(b: Expression,
      cnt: AttributeReference): Expression =
    Coalesce(Seq(Sum(If(IsNull(b), Literal(0L), cnt)).toAggregateExpression(),
      Literal(0L)))

  private def avgOfGroupExpr(a: Average, b: Expression,
      cnt: AttributeReference): Option[Expression] =
    if (a.evalMode == EvalMode.TRY) None
    else b.dataType match {
      case dt: NumericType if !dt.isInstanceOf[DecimalType] =>
        val w = Sum(Multiply(Cast(b, DoubleType), Cast(cnt, DoubleType)))
          .toAggregateExpression()
        val n = Sum(If(IsNull(b), Literal(0L), cnt)).toAggregateExpression()
        Some(Cast(Divide(w, Cast(n, DoubleType)), a.dataType))
      case _ => None
    }
}
