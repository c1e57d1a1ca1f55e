package graft.plans

import graft.plans.StarMv.StarMvDef
import graft.sources.VersionedTableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workload-driven star-MV recommendation — the "engine recommends"
  * counterpart to [[StarMv.fromQuery]]'s "user declares": feed it a log
  * of the rollup queries a deployment actually runs and it proposes the
  * few summary definitions that would serve them, ranked by estimated
  * scan savings × hit frequency. The classic warehouse-advisor feature
  * the reference's Greenplum users get from external tooling.
  *
  * Method:
  *
  *  1. SUBTRACT served queries: a workload member whose optimized plan
  *     already scans a registered summary (the rewrite rule fired) needs
  *     nothing — re-advising a served deployment returns empty instead of
  *     recommending a summary of the summary.
  *  2. ANALYZE each query with [[StarMv.deriveDef]] (the exact extraction
  *     `CREATE MV … AS <query>` uses). Shapes an MV cannot serve — outer
  *     joins, residual filters, distinct aggregates — are skipped, not
  *     fatal: a workload log is allowed to contain unservable queries.
  *  3. MERGE by join tree: queries over the same table set + equi-join
  *     edges collapse into ONE candidate whose group columns, derived
  *     groups, and measures are the UNIONS of the members' — the rewrite
  *     serves any member's coarser grain from the union-grain summary by
  *     re-aggregation (grain subsumption), so one summary per join tree
  *     covers the whole family.
  *  4. ESTIMATE candidate summary rows, cheapest sufficient tier first
  *     ([[estimateSummaryRows]]): registered per-column NDVs (no data
  *     touch) → sampled Chao probe (bounded rows) → full
  *     `approx_count_distinct` over the candidate's join; base rows via
  *     [[MvCost]]'s tiers (registered stats, then parquet footers).
  *  5. RANK by (baseRows − estRows) × hits — scan rows saved per serve,
  *     times how often the workload serves — and drop candidates whose
  *     estimated summary is not materially smaller than the base
  *     ([[shrinkGate]]; a near-fact-grain summary is the advisor's
  *     version of [[MvCost]]'s serve-time refusal).
  *
  * The advisor only RECOMMENDS. Accepting one is either
  * [[Recommendation.buildAs]] (a static summary — lake tables that only
  * ever get rewritten wholesale) or [[Recommendation.maintainAs]] (the
  * incremental path: build over CDC-synced stores and register a
  * [[StarMvMaintainer]] so the summary absorbs every merge — the form a
  * live deployment wants, since a static summary is stale after the
  * first CDC batch).
  *
  * Scale: the only per-candidate data touch is the estimation tier that
  * actually runs — none with registered stats, a pinned-size sample
  * otherwise, the full-join ACD only as a last resort; never a
  * materialized build. Driver state is the definitions and a few longs
  * per candidate.
  */
object MvAdvisor {

  /** Minimum base/summary row ratio a recommendation must clear (the
    * probe is approximate, so demand real shrink, not rounding noise).
    */
  private val minShrink = 2.0

  /** Target row count for the sampled estimation tier, and the engagement
    * multiple: sampling only engages when the candidate's largest table
    * is known to exceed `sampleEngage ×` the target (below that the full
    * ACD touches barely more data than the sample would).
    * `spark.graft.advisor.sampleRows` overrides the target.
    */
  private val defaultSampleRows = 100000L
  private val sampleEngage = 4L

  /** Test-visible record of the tier [[estimateSummaryRows]] last used:
    * "stats", "sample", or "acd".
    */
  @volatile private[plans] var lastEstimateTier: String = ""

  final case class Recommendation(
      definition: StarMvDef,           // summaryPath left empty
      hits: Int,                       // workload queries it serves
      queryIdx: Seq[Int],              // which ones (workload indices)
      estSummaryRows: Long,            // tiered estimate (see scaladoc)
      baseRows: Option[Long],          // MvCost tiers (None = unknown)
      score: Double) {                 // (baseRows − est) × hits

    /** Accept the recommendation as a STATIC summary: build + register it
      * at `summaryPath` (one fact-sized aggregate, the same cost as a
      * hand-declared [[StarMv.build]]). Right for lake tables that are
      * only ever rewritten wholesale; CDC-synced tables want
      * [[maintainAs]] — this summary goes stale on their first merge.
      */
    def buildAs(spark: SparkSession, summaryPath: String,
        losslessTables: Seq[String] = Nil): StarMvDef =
      StarMv.build(spark, definition.copy(summaryPath = summaryPath,
        losslessTables = losslessTables))

    /** Accept the recommendation as a MAINTAINED summary — the one-call
      * path from "the advisor was right" to the repo's incremental MV
      * story: build the summary over the given stores' CURRENT snapshots
      * (version-consistent with the maintainer state written next) and
      * register a [[StarMvMaintainer]] that absorbs every store's change
      * feed from here on. `stores` is keyed by the recommendation's own
      * table paths (the workload's leaf identities — pure registry keys
      * from then on); each store's snapshot must hold that table's
      * content, e.g. initialized from the path the workload was reading.
      * After this returns, rollups that join the stores' LIVE snapshots
      * serve from the summary and [[StarMvMaintainer.sync]] keeps it
      * fresh across merges; queries still reading the original static
      * paths structurally fall back (their dir sets no longer match) —
      * correct, since those files no longer reflect the synced state.
      */
    def maintainAs(spark: SparkSession,
        stores: Map[String, VersionedTableStore],
        summaryPath: String, statePath: String,
        losslessTables: Seq[String] = Nil): StarMvMaintainer = {
      val d = definition.copy(summaryPath = summaryPath,
        losslessTables = losslessTables)
      val byKey = StarMvMaintainer.storesByKey(stores, d)
      val built = StarMv.build(spark, d,
        tableOverrides = byKey.map { case (p, s) => p -> s.snapshot() })
      StarMvMaintainer.create(spark, byKey, built, statePath)
    }
  }

  /** [[advise]] over an SQL-text query log — the form a deployment's
    * statement history actually arrives in. Each statement is PARSED
    * first (`sqlParser.parsePlan`) and only query-shaped plans proceed
    * to `spark.sql` (tables must be resolvable: registered temp views
    * or `parquet.`path`` references). The parse-first order matters:
    * `spark.sql` EXECUTES commands eagerly, and a real statement history
    * contains INSERT/CREATE/DROP — an analysis-only advisor must never
    * mutate state as a side effect of reading the log. Command and DDL/
    * DML statement plans are skipped, as are statements that fail to
    * parse — both like statements that refuse analysis.
    */
  def adviseSql(spark: SparkSession, workload: Seq[String],
      k: Int = 2): Seq[Recommendation] =
    adviseIndexed(spark, workload.zipWithIndex.flatMap { case (q, i) =>
      // a parse failure/skip drops the statement but keeps every other
      // statement's ORIGINAL index — queryIdx must point into the log
      scala.util.Try(spark.sessionState.sqlParser.parsePlan(q)).toOption
        .filter {
          // Command covers v2 DDL + runnable commands (DROP/SET/…);
          // ParsedStatement covers the v1 statement shapes (INSERT …)
          case _: org.apache.spark.sql.catalyst.plans.logical.Command => false
          case _: org.apache.spark.sql.catalyst.plans.logical.ParsedStatement => false
          case _ => true
        }
        .map(_ => i -> spark.sql(q))
    }, k)

  /** Analyze `workload`, return at most `k` recommendations, best first.
    * Queries that refuse analysis are skipped silently (pass them to
    * [[StarMv.fromQuery]] directly to see the refusal reason), as are
    * queries a registered summary ALREADY serves — a second advise()
    * over an accepted workload returns empty, not a re-recommendation.
    */
  def advise(spark: SparkSession, workload: Seq[DataFrame],
      k: Int = 2): Seq[Recommendation] =
    adviseIndexed(spark, workload.zipWithIndex.map(_.swap), k)

  private def adviseIndexed(spark: SparkSession,
      workload: Seq[(Int, DataFrame)], k: Int): Seq[Recommendation] = {
    // registered-summary subtraction: with the rewrite rule installed
    // (the serving deployment always has it), a served member's OPTIMIZED
    // plan scans the summary path — the one check that uses the actual
    // serving machinery instead of re-deriving servability here
    val summaries = StarMv.definitions
      .map(d => MaterializedView.normalize(d.summaryPath)).toSet
    val analyzed = workload.flatMap { case (i, q) =>
      if (summaries.nonEmpty && scanKeys(q).exists(summaries.contains)) None
      else scala.util.Try(StarMv.deriveDef(q, summaryPath = "")).toOption
        .map(d => (i, d))
    }
    if (analyzed.isEmpty) return Nil
    // one candidate per (table set, join edge set)
    val grouped = analyzed.groupBy { case (_, d) =>
      (d.tables.map(MaterializedView.normalize).toSet, d.joinPairSet) }
    val cands = grouped.values.toSeq.flatMap { members =>
      val defs = members.map(_._2)
      val merged = mergeDefs(defs)
      // structural subtraction, the registered-definition twin of the
      // plan-scan check above: a registered def over the same join tree
      // whose grain/measures COVER the candidate's already serves every
      // member by grain subsumption — even when the workload's static
      // paths no longer freshness-match (a maintainer moved the dir sets
      // to its stores), the summary exists and re-recommending it would
      // just build a stale twin. Derived forms compare by SQL text —
      // conservative: a semantically-equal rewrite re-recommends.
      if (alreadyCovered(merged)) None else Some { (members, merged) }
    }.map { case (members, merged) =>
      val defs = members.map(_._2)
      val base = defs.head.tables
        .map(t => MvCost.leafSize(spark, t, Seq(t)).rows)
        .foldLeft(Option(0L)) { (acc, r) =>
          for (a <- acc; v <- r) yield a + v }
      val est = estimateSummaryRows(spark, merged, base)
      val hits = members.size
      val saved = base.map(b => (b - est).max(0L).toDouble).getOrElse(0.0)
      Recommendation(merged, hits, members.map(_._1).sorted, est, base,
        saved * hits)
    }
    cands
      .filter(r => shrinkGate(r.estSummaryRows, r.baseRows))
      .sortBy(r => (-r.score, -r.hits))
      .take(k)
  }

  /** Does a registered definition — a star or a single-table MV, read as
    * its one-table star — already cover this candidate: same table set
    * and join edges, group/measure/derived sets that are supersets of the
    * candidate's (grain subsumption serves every member)? See the
    * subtraction note in [[adviseIndexed]].
    */
  private def alreadyCovered(c: StarMvDef): Boolean =
    StarMv.definitions.map(_.asStar).exists { r =>
      r.leafSet == c.leafSet && r.joinPairSet == c.joinPairSet &&
        c.groupCols.map(_.normalized).toSet
          .subsetOf(r.groupCols.map(_.normalized).toSet) &&
        c.measureCols.map(_.normalized).toSet
          .subsetOf(r.measureCols.map(_.normalized).toSet) &&
        c.derivedGroups.map(_._2).toSet
          .subsetOf(r.derivedGroups.map(_._2).toSet) &&
        c.derivedMeasures.map(_._2).toSet
          .subsetOf(r.derivedMeasures.map(_._2).toSet)
    }

  /** Normalized filesystem scan roots of a query's optimized plan. */
  private def scanKeys(q: DataFrame): Seq[String] =
    q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        MaterializedView.fsRoots(r.relation)
    }.flatten

  private def shrinkGate(est: Long, base: Option[Long]): Boolean =
    base.forall(b => b == 0L || (est.max(1L).toDouble * minShrink) <= b)

  /** Union-grain merge of same-join-tree definitions. Derived groups and
    * measures dedupe by their SQL form (the serve-time matcher's own
    * identity); a NAME collision between different forms gets a numeric
    * suffix so the summary schema stays unambiguous.
    */
  private def mergeDefs(defs: Seq[StarMvDef]): StarMvDef = {
    val head = defs.head
    val groupCols = defs.flatMap(_.groupCols).distinct
    val measures = defs.flatMap(_.measureCols).distinct
    // the collision set covers EVERY summary column — group AND measure
    // names: a derived-group alias colliding with a measure column (or a
    // renamed dmN landing on a user's own "dm0" alias) would yield a
    // duplicate-column summary schema and a failed build
    val taken = scala.collection.mutable.Set[String]()
    taken ++= groupCols.map(_.name)
    taken ++= measures.map(_.name)
    def claim(name: String): String = {
      var n = name; var i = 2
      while (taken.contains(n)) { n = s"${name}_$i"; i += 1 }
      taken += n
      n
    }
    val derivedGroups = scala.collection.mutable.LinkedHashMap[String, String]()
    defs.flatMap(_.derivedGroups).foreach { case (name, sql) =>
      if (!derivedGroups.contains(sql)) { derivedGroups += sql -> claim(name); () }
    }
    val derivedMeasures = scala.collection.mutable.LinkedHashMap[String, String]()
    defs.flatMap(_.derivedMeasures).foreach { case (_, sql) =>
      if (!derivedMeasures.contains(sql)) {
        derivedMeasures += sql -> claim(s"dm${derivedMeasures.size}"); ()
      }
    }
    head.copy(
      groupCols = groupCols,
      measureCols = measures,
      derivedGroups = derivedGroups.toSeq.map { case (sql, n) => (n, sql) },
      derivedMeasures = derivedMeasures.toSeq.map { case (sql, n) => (n, sql) })
  }

  /** Estimate the candidate summary's distinct group-key count, cheapest
    * sufficient tier first:
    *
    *  1. STATS — when every column the group key touches has a registered
    *     NDV ([[MvCost.registerColumnNdv]], published by maintainers from
    *     store-ANALYZE records), the product of those NDVs (capped at
    *     base rows) UPPER-bounds the joint distinct count. An upper bound
    *     can only short-circuit a POSITIVE gate decision: if it passes
    *     the shrink gate, the true count passes too and no data is
    *     touched; if it fails (correlated group columns can make the
    *     product overshoot badly), fall through and measure rather than
    *     refuse a good candidate on a bound.
    *  2. SAMPLE — when the candidate's largest table is known to exceed
    *     [[sampleEngage]]× the sample target, sample THAT table uniformly
    *     (its rows map 1:1 onto join rows in a star join, so the joined
    *     sample is uniform too), join the others in full, and estimate
    *     the key count with the Chao (1984) estimator
    *     `D ≈ d + f₁²/(2·f₂)` over per-key sample frequencies — the
    *     standard abundance-based richness estimator: a plain sample
    *     distinct count only LOWER-bounds D (which would overstate
    *     shrink), while Chao corrects with the singleton/doubleton ratio
    *     and is exact in the limit where every key was seen. Data touch
    *     is one dim-joined sample of ~`spark.graft.advisor.sampleRows`
    *     rows (default 100 000) regardless of fact size.
    *  3. ACD — `approx_count_distinct` over the candidate's own full
    *     join: one aggregate with constant-size output, the r11 behavior
    *     and the last resort when nothing cheaper is known.
    *
    * Group expressions evaluate in the joined frame exactly as the build
    * would evaluate them.
    */
  private def estimateSummaryRows(spark: SparkSession, d: StarMvDef,
      baseRows: Option[Long]): Long = {
    if (d.groupCols.isEmpty && d.derivedGroups.isEmpty) return 1L
    // tier 1: registered NDVs
    ndvBound(spark, d) match {
      case Some(bound) =>
        val capped = baseRows.fold(bound)(b => bound.min(b))
        if (shrinkGate(capped, baseRows)) {
          lastEstimateTier = "stats"
          return capped
        }
      case None => ()
    }
    def keyCols = d.groupCols.map(q => col(q.name)) ++
      d.derivedGroups.map { case (n, sql) => expr(sql).as(n) }
    // tier 2: sampled Chao probe off the largest table
    val target = spark.conf.getOption("spark.graft.advisor.sampleRows")
      .map(_.toLong).getOrElse(defaultSampleRows)
    val sized = d.tables.map(t => t -> MvCost.leafSize(spark, t, Seq(t)).rows)
    val largest = sized.collect { case (t, Some(n)) => (t, n) }
      .sortBy(-_._2).headOption
    largest match {
      case Some((big, n)) if target > 0 && n > sampleEngage * target =>
        lastEstimateTier = "sample"
        val frac = (target.toDouble / n).min(1.0)
        val overrides = Map(MaterializedView.normalize(big) ->
          spark.read.parquet(big).sample(withReplacement = false, frac,
            seed = 42L))
        val freq = StarMv.joinTables(spark, d, overrides)
          .groupBy(keyCols: _*).agg(count(lit(1)).as("f"))
        val r = freq.agg(
          count(lit(1)).as("d"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("f") === 2, 1L).otherwise(0L)).as("f2")).head()
        val dSeen = r.getLong(0)
        val f1 = r.getLong(1)
        val f2 = r.getLong(2)
        // Chao1: unseen-mass correction; the f2=0 fallback is the usual
        // bias-corrected form f1·(f1−1)/2
        val chao = dSeen + (if (f2 > 0) (f1.toDouble * f1) / (2.0 * f2)
          else f1.toDouble * (f1 - 1).max(0) / 2.0)
        baseRows.fold(chao.toLong)(b => chao.toLong.min(b)).max(dSeen)
      case _ =>
        // tier 3: full ACD over the candidate's join
        lastEstimateTier = "acd"
        StarMv.joinTables(spark, d)
          .agg(approx_count_distinct(struct(keyCols: _*)).as("n"))
          .head().getLong(0)
    }
  }

  /** Tier-1 bound: Π NDV over every column the group key references —
    * None unless ALL of them have a registered NDV. Derived-group SQL is
    * parsed (never analyzed or executed) to collect its column
    * references; an expression's distinct count is bounded by the product
    * of its inputs'. Column→table resolution scans the candidate's
    * registered maps (build enforces globally unique output names; a
    * same-named column on two tables takes the larger NDV — still a
    * bound). Saturating multiplication: NDV products overflow fast.
    */
  private def ndvBound(spark: SparkSession, d: StarMvDef): Option[Long] = {
    val plainNdv = d.groupCols.map(q => MvCost.columnNdv(q.path, q.name))
    val derivedRefs: Seq[Option[Long]] = d.derivedGroups.map { case (_, sql) =>
      val refs = scala.util.Try(
        spark.sessionState.sqlParser.parseExpression(sql)).toOption
        .map(_.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }.distinct).getOrElse(return None)
      if (refs.isEmpty) Some(1L) // constant expression: one value
      else {
        val perRef = refs.map { c =>
          val hits = d.tables.flatMap(t => MvCost.columnNdv(t, c))
          if (hits.isEmpty) None else Some(hits.max)
        }
        if (perRef.exists(_.isEmpty)) None
        else Some(perRef.flatten.foldLeft(1L)(satMul))
      }
    }
    val all = plainNdv ++ derivedRefs
    if (all.exists(_.isEmpty)) None
    else Some(all.flatten.foldLeft(1L)(satMul))
  }

  private def satMul(a: Long, b: Long): Long = {
    val aa = a.max(1L); val bb = b.max(1L)
    if (aa > Long.MaxValue / bb) Long.MaxValue else aa * bb
  }

  /** Eviction advice for one registered summary (single-table or star).
    * `hits` = workload queries whose OPTIMIZED plan actually scans the
    * summary; `maintEvents` = refresh/rebuild waves from the
    * [[MvUsage]] ledger's current window.
    */
  final case class DropAdvice(summaryPath: String, family: String,
      hits: Long, maintEvents: Long, summaryRows: Option[Long],
      baseRows: Option[Long], drop: Boolean, reason: String)

  /** The lifecycle closer: [[advise]] says what to CREATE, this says
    * what to RETIRE — registered summaries whose maintenance cost
    * exceeded their serving benefit over the observation window. The
    * workload is probed by OPTIMIZING each query (zero execution) and
    * checking whether the plan's scan roots land on the summary — the
    * same evidence a serve is, so a summary outcompeted by a cheaper
    * sibling ([[MvCost]] ordering) correctly reads as unserving here.
    * Maintenance events come from the [[MvUsage]] ledger.
    *
    * Decision per summary:
    *  - never hit, but maintained → DROP (pure cost);
    *  - hit: when both row counts are known, DROP iff
    *    `hits × (baseRows − summaryRows)` (rows saved serving) is
    *    below `maintEvents × summaryRows` (rows rewritten maintaining);
    *    unknown sizes keep (evidence of use, no evidence of waste);
    *  - neither hit nor maintained → keep (storage-only; retiring idle
    *    registrations is a policy call, not cost evidence).
    */
  def adviseDrop(spark: SparkSession,
      workload: Seq[DataFrame]): Seq[DropAdvice] = {
    val all = StarMv.definitions.map(d => (d.summaryPath, d.asStar.tables,
      if (d.baseKey.isDefined) "single" else "star"))
    if (all.isEmpty) return Nil
    val hitKeys: Seq[String] =
      workload.flatMap(q => scanKeys(q).map(MvUsage.key).distinct)
    val hitCount: Map[String, Long] =
      hitKeys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    all.map { case (path, bases, family) =>
      val k = MvUsage.key(path)
      val hits = hitCount.getOrElse(k, 0L)
      val maintEvents = MvUsage.usageOf(path).maintEvents
      val sRows = MvCost.sizeOf(spark, path).rows
      val bRows = bases.foldLeft(Option(0L)) { (acc, b) =>
        for (a <- acc; r <- MvCost.sizeOf(spark, b).rows) yield a + r
      }
      val (drop, reason) =
        if (hits == 0L && maintEvents > 0L)
          (true, s"maintained $maintEvents times, never served this workload")
        else if (hits == 0L)
          (false, "neither served nor maintained in the window")
        else (sRows, bRows) match {
          case (Some(s), Some(b)) =>
            val benefit = BigInt(hits) * BigInt(math.max(b - s, 0L))
            val cost = BigInt(maintEvents) * BigInt(s)
            if (benefit < cost)
              (true, s"serving saves $benefit rows, maintenance rewrites $cost")
            else (false, s"serving saves $benefit rows vs $cost maintained")
          case _ => (false, s"served $hits queries; sizes unknown")
        }
      DropAdvice(path, family, hits, maintEvents, sRows, bRows, drop, reason)
    }.sortBy(a => (!a.drop, a.summaryPath))
  }
}
