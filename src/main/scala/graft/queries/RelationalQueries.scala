package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared relational capability inventory (SURVEY.md §2.3) — the query
  * surface the reference delegates to Greenplum over synced tables
  * (reference: README.md:9,15), provided here by Catalyst over the same
  * Parquet tables.
  *
  * Every query reads `sfDir` parquet and has an equivalent DuckDB oracle in
  * [[RelationalQueries.oracles]]. Numeric aggregates are computed over exact
  * decimals and cast to double at the end so both engines produce
  * bit-identical values regardless of floating-point summation order — a sum
  * of doubles is order-dependent and would flake under Spark's parallel
  * partial aggregation.
  *
  * Scale notes (100 TB posture) live per-query below: filters stay pushed to
  * the scan, small dimensions are broadcast, and nothing collects to the
  * driver.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Schema-adaptive events reader. The corpus generator has shipped
    * events.parquet with `ts` as either parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects without `nanosAsLong`) or plain
    * TIMESTAMP(MICROS); dispatch on the type the scan actually produces so a
    * testdata regeneration can't break every events-backed query:
    *
    *   - LongType (= NANOS surfaced via `nanosAsLong`): truncate int64 ns to
    *     Catalyst's µs timestamps with integer div — ns values exceed
    *     double's exact range, so no float math here.
    *   - TimestampType (µs, the current corpus): pass through untouched.
    *   - TimestampNTZType: cast to session-TZ timestamp so downstream
    *     queries see one type.
    *
    * The `nanosAsLong` flag is deliberately SESSION-WIDE, not set/restored
    * around this call: `read.parquet` only plans lazily, and the scan
    * re-reads the conf when an action finally executes — a restore here
    * would make every events-backed query fail at execution time. The flag
    * only changes how TIMESTAMP(NANOS) columns surface; µs columns are
    * unaffected, so setting it unconditionally is safe for both corpus
    * shapes. Oracles restating precision-sensitive ts comparisons (q18's
    * session gap, q51's as-of tie-break) truncate via `epoch_ns(ts) // 1000`,
    * which is exact for ns input and a no-op at µs precision — both shapes
    * compare equal.
    */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw // TimestampType — already Catalyst µs
    }
  }

  /** sum(x) as exact decimal, emitted as double — the oracle-critical
    * numeric canonicalization shared by BOTH query packs (StreamingQueries
    * reuses it); a precision change here must stay in lockstep with the
    * `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)` form in every oracle.
    */
  private[queries] def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Scan + projection + filter: both predicates and the 4-column
    // projection must reach the parquet reader (PushedFilters/ReadSchema).
    "q01_scan_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_shipdate").cast("date").as("ship_date"))
    }),

    // ── Hash aggregate: sum/avg/min/max/count/count-distinct with partial
    // aggregation before the shuffle (one row per group per map task).
    "q02_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("cnt"),
          countDistinct(col("l_partkey")).as("distinct_parts"))
    }),

    // ── Broadcast join: nation (25 rows) and region (5) broadcast to every
    // task; no shuffle of the 100 TB fact side for the dimension joins.
    "q03_join_broadcast" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("customers"), dsum(col("c_acctbal")).as("total_bal"))
    }),

    // ── Large shuffle join orders⋈lineitem on the natural key: both sides
    // hash-partition on l_orderkey/o_orderkey; AQE handles skew at scale.
    "q04_join_large" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_orderkey")).as("order_cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("revenue"))
    }),

    // ── Left-semi join (EXISTS): the shape of the reference's delete apply L1
    // (reference: ChangeLoader.java:346-369).
    "q05_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 100000)
          .select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // ── Left-anti join (NOT EXISTS).
    "q06_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
    }),

    // ── Grouping sets: rollup.
    "q07_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ── Grouping sets: cube.
    "q08_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),

    // ── Ranking window: top-3 orders per customer. Deterministic via the
    // unique o_orderkey tiebreak.
    "q09_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    // ── Frame aggregate: per-customer running total ordered by date+key.
    "q10_window_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("running_total"))
    }),

    // ── Global top-k: orderBy+limit plans as TakeOrderedAndProject — each
    // partition keeps k rows, no full sort/shuffle of the table.
    "q11_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // ── Exact grouped quantiles over a DISCRETE measure (p25/p50/p90/p99
    // of l_quantity per returnflag × linestatus): the distinct-value
    // cumulative-count profile — one combiner-friendly shuffle on
    // (group, value), the per-group window over ~50 DISTINCT values
    // regardless of row count, every quantile read off the same profile
    // with integer ppm arithmetic. Exact at 100 TB where approx_percentile
    // is approximate and rank-selection sorts every row.
    "q232_grouped_quantiles" -> ((s, dir) => {
      graft.operators.Quantiles.groupedDiscrete(
        t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"),
        "l_quantity", Seq(250000L, 500000L, 900000L, 990000L))
    }),

    // ── Exact profile MERGE: the incremental form of q232 — yesterday's
    // value profile + today's delta profile union-and-resum into the
    // profile of the whole, and the read-off is EXACT (the quantile
    // family's sketch algebra, with nothing approximate). A 100 TB
    // pipeline stores the distinct-value-sized profile, never re-scans
    // history. The split here is arbitrary (orderkey mod 3); the oracle
    // is the straight full-table computation — merge correctness IS the
    // assertion.
    "q234_quantile_profile_merge" -> ((s, dir) => {
      import graft.operators.Quantiles
      val li = t(s, dir, "lineitem")
      val base = Quantiles.valueProfile(
        li.filter(col("l_orderkey") % 3 === 0), Seq("l_returnflag"), "l_quantity")
      val delta = Quantiles.valueProfile(
        li.filter(col("l_orderkey") % 3 =!= 0), Seq("l_returnflag"), "l_quantity")
      Quantiles.fromProfile(
        Quantiles.mergeProfiles(Seq(base, delta), Seq("l_returnflag"), "l_quantity"),
        Seq("l_returnflag"), "l_quantity", Seq(500000L, 900000L, 990000L))
    }),

    // ── Entity resolution (record linkage): a dirty registry — every
    // customer gets a hash-derived identity string (md5 keeps distinct
    // entities ~32 edits apart, so a 2-edit threshold separates true
    // variants from neighbors — dense sequential names would not), every
    // 5th entity a typo copy (1 substitution past the block prefix), every
    // 7th a punctuated "-Co" suffix copy (2 edits after normalization).
    // Block on the 6-hex name prefix → bounded within-block Levenshtein
    // match → transitive closure → min-id golden record. See
    // [[graft.operators.EntityResolution]]; a degenerate block key refuses
    // before any pair is materialized.
    "q235_entity_resolution" -> ((s, dir) => {
      import graft.operators.EntityResolution
      val base = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        md5(col("c_custkey").cast("string")).as("name"))
      val typo = base.filter(col("id") % 5 === 0).select(
        (col("id") + 10000000L).as("id"),
        concat(substring(col("name"), 1, 8), lit("z"),
          substring(col("name"), 10, 32)).as("name"))
      val sfx = base.filter(col("id") % 7 === 0).select(
        (col("id") + 20000000L).as("id"),
        concat(col("name"), lit("-Co")).as("name"))
      val dirty = base.unionByName(typo).unionByName(sfx)
      EntityResolution.resolve(dirty, "id", "name",
        substring(col("name"), 1, 6), maxEditDistance = 2, maxBlockSize = 64)
    }),

    // ── Column-level LINEAGE (plans/Lineage): which base-table columns
    // each output of a query derives from, extracted by ExprId walk of
    // the ANALYZED Catalyst plan — zero data touched, O(plan). The probe
    // query is a 3-table star rollup with an expression measure; the
    // derived edges (revenue ← price AND discount; filter columns gate
    // rows, they are not data sources) are pinned by the oracle as the
    // declared expectation — schema-only, so identical at every sf.
    "q250_column_lineage" -> ((s, dir) => {
      val q = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("c_mktsegment").as("segment"),
          year(col("o_orderdate")).as("order_year"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          max(col("l_quantity")).as("max_qty"))
      graft.plans.Lineage.render(s, q)
    }),

    // ── CONTROL lineage (Lineage.edges(includeControl)): the other half
    // of the governance question — "which outputs BREAK if column X is
    // dropped" needs the columns that GATE rows (filter/join conditions),
    // not only those whose values flow. Same q250 star rollup; every
    // output gains one control edge per join-key/filter column, the data
    // edges are bit-identical to q250's, and a filter-only column
    // (o_orderstatus) appears ONLY as control. Schema-level: identical at
    // every sf, zero data touched.
    "q259_control_lineage" -> ((s, dir) => {
      val q = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("c_mktsegment").as("segment"),
          year(col("o_orderdate")).as("order_year"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          max(col("l_quantity")).as("max_qty"))
      graft.plans.Lineage.renderWithControl(s, q)
    }),

    // ── Blocking-QUALITY report (EntityResolution.blockingReport):
    // evaluate a blocking key BEFORE a linkage campaign spends the match
    // join — reduction ratio (how much of the all-pairs space the key
    // eliminates) and pairs completeness (how many true-entity pairs
    // remain co-blocked). The q235 registry plus a fourth, block-BREAKING
    // variant family (%11: first character flipped, so its md5-prefix
    // block diverges) — completeness must come out < 1.0 and the report
    // quantifies exactly the orphaned pair mass. Three bounded aggregates,
    // closed-form integer pair counts, never a materialized pair.
    "q246_blocking_report" -> ((s, dir) => {
      import graft.operators.EntityResolution
      val base = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        md5(col("c_custkey").cast("string")).as("name"))
      val typo = base.filter(col("id") % 5 === 0).select(
        (col("id") + 10000000L).as("id"),
        concat(substring(col("name"), 1, 8), lit("z"),
          substring(col("name"), 10, 32)).as("name"))
      val sfx = base.filter(col("id") % 7 === 0).select(
        (col("id") + 20000000L).as("id"),
        concat(col("name"), lit("-Co")).as("name"))
      val pfx = base.filter(col("id") % 11 === 0).select(
        (col("id") + 30000000L).as("id"),
        concat(lit("z"), substring(col("name"), 2, 32)).as("name"))
      val dirty = base.unionByName(typo).unionByName(sfx).unionByName(pfx)
      EntityResolution.blockingReport(dirty, "id",
        substring(col("name"), 1, 6), col("id") % 10000000L)
    }),

    // ── INCREMENTAL entity resolution: the q235 registry persisted as a
    // signature table, then an arriving batch assigned against it — the
    // q58/q231 incremental-dedup cadence for entities. Every 3rd customer
    // sends a fresh typo variant (adopts its existing cluster through the
    // blocked registry probe — history is never re-resolved); every 13th
    // spawns a genuinely NEW entity in two spellings (no registry match →
    // the residual self-resolves into one fresh cluster). Assign-only
    // w.r.t. the registry: see [[graft.operators.EntityResolution.assignAgainst]].
    "q239_entity_assign" -> ((s, dir) => {
      import graft.operators.EntityResolution
      val blockKey = substring(col("name"), 1, 6)
      val base = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        md5(col("c_custkey").cast("string")).as("name"))
      val typo = base.filter(col("id") % 5 === 0).select(
        (col("id") + 10000000L).as("id"),
        concat(substring(col("name"), 1, 8), lit("z"),
          substring(col("name"), 10, 32)).as("name"))
      val sfx = base.filter(col("id") % 7 === 0).select(
        (col("id") + 20000000L).as("id"),
        concat(col("name"), lit("-Co")).as("name"))
      val dirty = base.unionByName(typo).unionByName(sfx)
      val resolved = EntityResolution.resolve(dirty, "id", "name", blockKey, 2, 64)
      val registry = EntityResolution.signatures(dirty, "id", "name", blockKey)
        .join(resolved.select("id", "cluster_id"), Seq("id"))
      val nm = md5((col("id") + 7777777L).cast("string"))
      val incs = base.filter(col("id") % 3 === 0).select(
          (col("id") + 30000000L).as("id"),
          concat(substring(col("name"), 1, 10), lit("q"),
            substring(col("name"), 12, 32)).as("name"))
        .unionByName(base.filter(col("id") % 13 === 0).select(
          (col("id") + 40000000L).as("id"), nm.as("name")))
        .unionByName(base.filter(col("id") % 13 === 0).select(
          (col("id") + 50000000L).as("id"),
          concat(substring(nm, 1, 8), lit("z"), substring(nm, 10, 32)).as("name")))
      EntityResolution.assignAgainst(registry, incs, "id", "name", blockKey, 2, 64)
    }),

    // ── Binned quantiles over a CONTINUOUS measure (l_extendedprice per
    // returnflag): bounded state — exactly 1000 counters per group at ANY
    // row count, where the q232 exact profile would be row-count-sized on
    // a continuous domain. Answers are bucket lower edges (within one bin
    // width of truth by construction); binning and read-off are one fixed
    // IEEE sequence + integer ppm arithmetic, so the oracle reproduces
    // them bit-for-bit. See [[graft.operators.Quantiles.binnedContinuous]].
    "q240_binned_quantiles" -> ((s, dir) => {
      graft.operators.Quantiles.binnedContinuous(
        t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        lo = 0.0, hi = 100000.0, bins = 1000, Seq(500000L, 990000L))
    }),

    // ── Set ops: union ∪, except ∖, intersect ∩ (all distinct semantics).
    "q12_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      val oo = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val pos = t(s, dir, "customer").filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("o_custkey"))
      f.union(p).distinct().except(oo).intersect(pos)
        .select(col("o_custkey").as("custkey"))
    }),

    // ── Scalar string/math functions (codegen'd column expressions, no UDFs).
    "q13_string_math" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 10)).as("name10"),
        length(col("p_name")).as("name_len"),
        regexp_replace(col("p_brand"), "#", "-").as("brand_dash"),
        (col("p_size") % 7).as("size_mod7"),
        floor(col("p_retailprice")).cast("long").as("price_floor"),
        abs(col("p_size") - 25).as("size_dist"))
    }),

    // ── Scalar date functions.
    "q14_datetime" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .as("days_since"))
    }),

    // ── Semi-structured: JSON field extraction from the events table.
    "q15_json" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("k_val")).as("sum_k"),
          max(col("k_val")).as("max_k"))
    }),

    // ── VARIANT semi-structured path (Spark 4's native open-JSON type,
    // beside q15's string-function extraction): parse the props column to
    // VARIANT once, then a TYPED path extraction — the binary-encoded
    // form is what a 100 TB semi-structured corpus should persist
    // (parse-once, shredded access) instead of re-parsing JSON text per
    // query. k in [0, 99] by corpus contract; `div` floors like the
    // oracle's `//` on the non-negative domain.
    "q130_variant_extract" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", variant_get(parse_json(col("props")), "$.k", "long"))
        .groupBy(col("event_type"), expr("k div 10").as("k_bucket"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
    }),

    // ── Tumbling event-time window (same window() op Structured Streaming
    // uses; here in batch so the driver can oracle-check it).
    "q16_window_tumbling" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("hour_start"),
          col("event_type"), col("cnt"), col("sum_value"))
    }),

    // ── Sliding window: 2h window, 1h slide → each event lands in 2 windows.
    "q17_window_sliding" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("window.start")).as("win_start"), col("cnt"))
    }),

    // ── Session window (10-minute gap) per user — the batch form of
    // session_window; the streaming variant is exercised in the test suite.
    "q18_session_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), unix_timestamp(col("session_window.start")).as("sess_start"),
          col("cnt"))
    }),

    // ── Full outer join: per-customer aggregates of two disjoint order
    // statuses stitched key-complete (USING-join coalesces the key). One
    // shuffle per aggregate + one on the join key; both sides pre-aggregated
    // so the outer join carries one row per customer, not per order.
    "q60_outer_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("f_cnt"), dsum(col("o_totalprice")).as("f_total"))
      val open = o.filter(col("o_orderstatus") === "O").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("o_cnt"))
      f.join(open, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey").as("custkey"),
          coalesce(col("f_cnt"), lit(0L)).as("f_cnt"),
          coalesce(col("f_total"), lit(0d)).as("f_total"),
          coalesce(col("o_cnt"), lit(0L)).as("o_cnt"),
          (col("f_cnt").isNotNull && col("o_cnt").isNotNull).cast("int").as("in_both"))
    }),

    // ── Pivot (cross-tab): per-cohort spend by event type. The pivot list is
    // explicit, so the plan is ONE pass — a single hash aggregate whose
    // grouping key is the cohort and whose values are 5 conditional sums (no
    // per-value scan, no distinct-values pre-job a dynamic pivot would need).
    "q61_pivot" -> ((s, dir) => {
      events(s, dir)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
    }),

    // ── GROUPING SETS with grouping() marker columns — the general form
    // underlying q07/q08's rollup/cube, through the SQL facade (synced tables
    // are first-class spark.sql views; SURVEY §7.1.6). Single shuffle: Spark
    // expands the 4 sets map-side, partials combine before the exchange.
    // ── Error-safe arithmetic (the try_ family): division by zero,
    // int64 overflow and failed casts all land as NULL instead of
    // poisoning the job — the semantics a 100 TB batch needs, where one
    // bad row must not kill hour N of an N+1-hour job. The bad rows are
    // deliberately RARE (overflow on the %1000 keys only): TRY mode pays
    // a caught exception per failing row, so an every-row-overflow shape
    // would turn the scan into an exception loop — measured 10.6 s vs
    // ~1 s at sf0.1 — which is also the right deployment guidance: try_
    // protects against stragglers, it is not a vectorized NULL filter.
    // The oracle restates each null condition declaratively, so the NULL
    // sets (and the surviving doubles' exact min/max) agree bit-for-bit.
    "q207_try_arithmetic" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q207_lineitem")
      s.sql(
        """SELECT count(*) AS n_rows,
          |  count(CASE WHEN up IS NULL THEN 1 END) AS n_div_null,
          |  min(up) AS min_unit_price, max(up) AS max_unit_price,
          |  count(CASE WHEN mu IS NULL THEN 1 END) AS n_mul_null,
          |  count(ci) AS n_cast_ok
          |FROM (
          |  SELECT
          |    try_divide(l_extendedprice, l_quantity - 1) AS up,
          |    try_multiply(l_orderkey,
          |      CASE WHEN l_orderkey % 1000 = 0
          |           THEN 9223372036854775807L ELSE 1L END) AS mu,
          |    try_cast(CASE WHEN l_returnflag = 'A' THEN '12'
          |                  ELSE 'oops' END AS INT) AS ci
          |  FROM q207_lineitem)""".stripMargin)
    }),

    // ── Native ordered string aggregation (Spark 4's listagg WITHIN
    // GROUP): per region, the lexicographically-ordered CSV of its nation
    // names — the report/export shape that previously needed a custom
    // aggregator; the explicit ORDER BY inside the aggregate makes the
    // scalar deterministic on both engines.
    "q206_listagg" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("q206_nation")
      t(s, dir, "region").createOrReplaceTempView("q206_region")
      s.sql(
        """SELECT r.r_name,
          |  listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations,
          |  count(*) AS n_nations
          |FROM q206_region r JOIN q206_nation n ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)
    }),

    "q62_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q62_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
          |  count(*) AS cnt,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM q62_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |                        (l_returnflag), (l_linestatus), ())""".stripMargin)
    }),

    // ── Array construction + higher-order functions (transform / filter /
    // aggregate / sort) — all codegen column expressions riding the scan,
    // zero shuffle, no UDFs.
    "q63_array_funcs" -> ((s, dir) => {
      val words = split(col("p_name"), " ")
      t(s, dir, "part").select(
        col("p_partkey"),
        size(words).as("n_words"),
        array_join(array_sort(words), ",").as("sorted_words"),
        array_contains(words, "green").cast("int").as("has_green"),
        element_at(words, 1).as("first_word"),
        aggregate(transform(words, w => length(w)), lit(0), (a, b) => a + b)
          .as("sum_word_len"),
        size(filter(words, w => length(w) > 4)).as("n_long"))
    }),

    // ── Theta/range join: band the fact rows by a tiny interval dimension.
    // The dimension is broadcast, so the plan is BroadcastNestedLoopJoin —
    // each task scans its fact partition once against 4 in-memory intervals;
    // nothing shuffles until the final 4-group aggregate. The scale-correct
    // shape for interval lookup (a shuffled range join would be a cross
    // product per partition pair).
    "q64_range_join" -> ((s, dir) => {
      val bins = s.createDataFrame(Seq(
        (0d, 10d, "xs"), (10d, 20d, "s"), (20d, 35d, "m"), (35d, 100d, "l")))
        .toDF("lo", "hi", "band")
      t(s, dir, "lineitem")
        .join(broadcast(bins),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // ── Subqueries through the SQL facade: correlated scalar (per-row order
    // count — Catalyst de-correlates it to an outer join + aggregate, NOT a
    // per-row probe), uncorrelated scalar (global decimal total — computed
    // once, broadcast as a literal), and IN (planned as a semi-join). The
    // threshold compare is exact decimal·count integer math so both engines
    // agree bit-for-bit (a float avg would be summation-order-dependent).
    "q65_subqueries" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q65_customer")
      t(s, dir, "orders").createOrReplaceTempView("q65_orders")
      t(s, dir, "nation").createOrReplaceTempView("q65_nation")
      s.sql(
        """SELECT c_custkey, c_acctbal,
          |  (SELECT count(*) FROM q65_orders o
          |   WHERE o.o_custkey = c.c_custkey) AS n_orders
          |FROM q65_customer c
          |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
          |        (SELECT count(*) FROM q65_customer) >
          |      (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM q65_customer)
          |  AND c_nationkey IN (SELECT n_nationkey FROM q65_nation
          |                      WHERE n_regionkey <= 1)""".stripMargin)
    }),

    // ── RECURSIVE CTE (Spark 4.1 `WITH RECURSIVE`, UNION ALL form):
    // hierarchical closure + rollup over the implicit customer tree
    // parent(k) = (k−1) div 2 for k ≥ 1 (heap indexing — custkeys start at
    // 0, and a k div 2 parent rule would make node 0 its own parent and
    // recurse forever) — every (ancestor, descendant) pair with its
    // distance, aggregated per depth. The tree shape guarantees each pair
    // is generated exactly once, so UNION ALL recursion (the only form
    // Spark supports; UNION DISTINCT raises UNION_NOT_SUPPORTED_IN_
    // RECURSIVE_CTE) terminates in ⌈log2 N⌉ levels — well under the
    // default 100-level cap, and each level is one ordinary Catalyst
    // join+union plan, so the pattern scales like ⌈log2 N⌉ chained joins.
    // Cyclic graphs must NOT use this operator (walk enumeration); the
    // driver-loop BFS/connected-components operators (q121, q42) are the
    // cycle-safe path.
    "q135_recursive_rollup" -> ((s, dir) => {
      s.sql(
        s"""WITH RECURSIVE closure(anc, node, d, bal) AS (
          |  -- anchor columns aliased DISTINCTLY: an anchor carrying the
          |  -- same attribute twice (c_custkey, c_custkey) trips Spark's
          |  -- internal LogicalRDD output check when the recursion
          |  -- materializes each level, spamming WARNs per iteration
          |  SELECT c_custkey AS anc, c_custkey AS node, 0 AS d,
          |         c_acctbal AS bal
          |  FROM parquet.`$dir/customer.parquet`
          |  UNION ALL
          |  SELECT cl.anc, c.c_custkey, cl.d + 1, c.c_acctbal
          |  FROM parquet.`$dir/customer.parquet` c
          |  JOIN closure cl ON (c.c_custkey - 1) div 2 = cl.node
          |  WHERE c.c_custkey >= 1)
          |SELECT d AS depth, count(*) AS n_pairs,
          |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
          |FROM closure GROUP BY d""".stripMargin)
    }),

    // ── As-of join: every event gets the id of the same user's most recent
    // purchase at or before its timestamp (inclusive; equal-time purchases
    // resolve to the max id). Union-tag + carry-forward window — one shuffle
    // on user_id, no range-join explosion (see [[graft.operators.AsOfJoin]]).
    "q51_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.operators.AsOfJoin.asOf(
        ev.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightValue = "event_id", asName = "last_purchase_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("last_purchase_id"))
    }),

    // ── FORWARD as-of: every event gets the same user's earliest purchase
    // at or after its timestamp — the time-to-event label (q51 mirrored in
    // time; AsOfJoin.asOfForward scaladoc). Same one-shuffle carry window.
    "q175_asof_forward" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.operators.AsOfJoin.asOfForward(
        ev.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightValue = "event_id", asName = "next_purchase_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("next_purchase_id"))
    }),

    // ── Incremental JOIN maintenance (the join-side twin of q110's
    // aggregate IVM): a materialized orders⋈lineitem result kept current
    // under row deltas by the delta-join algebra
    //   Δ(O⋈L) = O₀⋈ΔL ∪ ΔO⋈L₀ ∪ ΔO⋈ΔL
    // — each increment touches only delta-sized join work (the three delta
    // terms broadcast their small side; the big O₀⋈L₀ is paid ONCE at
    // init, never per refresh). Deltas are deterministic hash slices with
    // INDEPENDENT domains (so all four terms are non-empty and the
    // cross-term ΔO⋈ΔL is actually exercised). The query renders the
    // maintained result as a per-flag aggregate; the oracle recomputes the
    // one-shot join — the fold must match bit-for-bit or the algebra
    // dropped/duplicated a term.
    "q160_incremental_join" -> ((s, dir) => {
      import graft.functions.TextFunctions.domainHash
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"))
      val oIsDelta = pmod(domainHash("ivmo", col("o_orderkey")), lit(20L)) === 0
      val lIsDelta = pmod(domainHash("ivml",
        concat_ws(":", col("l_orderkey"), col("l_linenumber"))), lit(20L)) === 0
      val (o0, dO) = (o.filter(!oIsDelta), o.filter(oIsDelta))
      val (l0, dL) = (l.filter(!lIsDelta), l.filter(lIsDelta))
      val key = col("o_orderkey") === col("l_orderkey")
      val maintained = o0.join(l0, key)
        .unionByName(o0.join(broadcast(dL), key))
        .unionByName(broadcast(dO).join(l0, key))
        .unionByName(dO.join(broadcast(dL), key))
      maintained.groupBy(col("l_returnflag"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // ── As-of join WITH TOLERANCE: each click gets the latest purchase by
    // the same user only if it happened within the last 30 minutes —
    // otherwise NULL ("no recent enough state"), the merge_asof tolerance
    // semantic a feature pipeline needs when stale state is worse than no
    // state. Same single-shuffle carry-forward window as q51, with the
    // anchor's time riding a second carry over the SAME window spec and an
    // exact-µs age test. See [[graft.operators.AsOfJoin.asOfTolerance]].
    "q159_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.operators.AsOfJoin.asOfTolerance(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightValue = "event_id", asName = "recent_purchase_id",
        toleranceSeconds = 1800)
        .select(col("event_id"), col("user_id"), col("recent_purchase_id"))
    }),

    // ── Analytic window family (lead/lag/ntile/percent_rank/cume_dist/
    // first_value/last_value) — complements q09's ranking and q10's frame
    // aggregates. One shuffle on the partition key, then every function
    // evaluates in the same sorted pass (a single Window physical operator —
    // all seven share one (partition, ordering) spec by construction).
    // lag/lead/first/last copy o_totalprice bit-for-bit (no arithmetic), so
    // the double column hash-compares exactly; the ordering
    // (o_orderdate, o_orderkey) is total because o_orderkey is unique.
    "q67_analytic_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_orderkey")).over(wFull).as("last_key"))
    }),

    // ── Bloom-pruned semi-join: orders of high-balance BUILDING customers.
    // The bloom built over the filtered customer keys probes the orders scan
    // (codegen'd might_contain, no UDF) so non-matching orders drop BEFORE
    // the semi-join shuffle; the exact left_semi closes the false positives.
    // See [[graft.operators.BloomPrune]] for the 100 TB rationale.
    // ── Stats-only aggregation: MIN/MAX/COUNT answered from parquet
    // row-group FOOTER statistics via DSv2 aggregate pushdown — at 100 TB
    // the scan reads metadata, not data pages (the same reason zone maps
    // exist). The v2 parquet path is enabled for this ONE load only
    // (useV1SourceList restored in finally — bucketed scans and the rest of
    // the inventory stay on the v1 path they were planned for);
    // aggregatePushdown itself is inert for v1 reads, so leaving it set is
    // harmless. Guard rails: pushdown silently falls back to a normal scan
    // if the shape stops qualifying (a filter, a group-by on a data column)
    // — the plan-contract test pins `PushedAggregation` so that regression
    // is loud.
    "q148_agg_pushdown" -> ((s, dir) => {
      s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      val key = "spark.sql.sources.useV1SourceList"
      val prev = s.conf.get(key)
      val withoutParquet = prev.split(",").map(_.trim)
        .filterNot(_.equalsIgnoreCase("parquet")).mkString(",")
      s.conf.set(key, withoutParquet)
      try {
        t(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
      } finally s.conf.set(key, prev)
    }),

    // ── Materialized-view rollup rewrite e2e: build the
    // (l_returnflag, l_linestatus) summary once, register it, and phrase a
    // COARSER filtered rollup against the BASE table — the
    // [[graft.plans.MvRewriteRule]] optimizer rule reroutes the plan to
    // re-aggregate the summary (MvRewriteSpec pins the reroute on the
    // plan; this query pins that the rerouted VALUES are the base table's
    // truth). Measures avoid float accumulation (int sum, double min/max)
    // so rewritten and direct paths are bit-identical by construction. At
    // 100 TB: the base scan happens once at build; every rollup after
    // reads a few dozen summary rows.
    "q186_mv_rewrite" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      graft.plans.MaterializedView.build(s, s"$dir/lineitem.parquet",
        Seq("l_returnflag", "l_linestatus"), Seq("l_linenumber", "l_quantity"),
        QueryScratch.dir(s"mv_${java.lang.Integer.toHexString(dir.hashCode)}"))
      t(s, dir, "lineitem")
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          count(col("l_quantity")).as("n_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    }),

    // ── Incremental MV maintenance e2e: build the summary over 90% of
    // lineitem, land the remaining 10% as a CDC-style insert batch
    // (appended to the base AND folded into the summary via
    // [[graft.plans.MaterializedView.refresh]] — one delta-sized scan, no
    // base rescan, versioned-path swap), then run a rollup against the
    // base. The rewrite answers from the refreshed summary; the oracle is
    // the FULL table's truth, so a refresh that lost or double-counted the
    // delta hash-fails.
    "q187_mv_refresh" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"mvr_${java.lang.Integer.toHexString(dir.hashCode)}")
      val basePath = s"$scratch/base"
      val li = t(s, dir, "lineitem")
      li.filter(col("l_orderkey") % 10 =!= 0)
        .write.mode("overwrite").parquet(basePath)
      graft.plans.MaterializedView.build(s, basePath,
        Seq("l_returnflag", "l_linestatus"), Seq("l_linenumber", "l_quantity"),
        s"$scratch/summary")
      val delta = li.filter(col("l_orderkey") % 10 === 0)
      delta.write.mode("append").parquet(basePath)
      graft.plans.MaterializedView.refresh(s, basePath, delta)
      s.read.parquet(basePath)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    }),

    // ── Derived-group (time-hierarchy) MV e2e: the base has no day column,
    // but the MV is built with `day = cast(ts as date)` as a DERIVED group
    // — the rule matches queries grouping by the same analyzed expression
    // (inlining the optimizer's pulled-out `_groupingexpression` aliases)
    // and reroutes them to the daily summary. The dashboard shape at
    // 100 TB: every per-day rollup reads days × types summary rows instead
    // of re-scanning the corpus. Measures ride an exact decimal column so
    // partial re-aggregation is bit-identical to the oracle's one-shot sum.
    "q191_mv_derived_day" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"mvday_${java.lang.Integer.toHexString(dir.hashCode)}")
      val basePath = s"$scratch/base"
      // events() normalizes ts across corpus shapes; snapshot it once so
      // the MV base is a plain µs-timestamp parquet whatever the corpus is
      events(s, dir)
        .select(col("event_type"), col("ts"),
          col("value").cast("decimal(18,2)").as("value_dec"))
        .write.mode("overwrite").parquet(basePath)
      graft.plans.MaterializedView.build(s, basePath,
        Seq("event_type", "day"), Seq("value_dec"), s"$scratch/summary",
        derivedGroups = Seq("day" -> "cast(ts as date)"))
      s.read.parquet(basePath)
        .filter(col("event_type") =!= "view")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_dec")).cast("double").as("sum_value"),
          min(col("value_dec")).cast("double").as("min_value"),
          max(col("value_dec")).cast("double").as("max_value"))
    }),

    // ── Derived-day MV answering a day-RANGE dashboard rollup: the filter
    // is phrased on cast(ts as date) and the OPTIMIZER rewrites it into
    // raw-ts midnight bounds before the MV rule runs — the rule converts
    // those bounds back to day bounds (exact at fixed-offset session TZs)
    // and the whole week-window rollup answers from the summary
    // (MvDerivedSpec pins the reroute AND the non-midnight fallback). The
    // range is data-adaptive: [corpus-min-day + 2, + 9) — the oracle
    // derives the same window in SQL.
    "q204_mv_day_range" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"mvdr_${java.lang.Integer.toHexString(dir.hashCode)}")
      val basePath = s"$scratch/base"
      events(s, dir)
        .select(col("event_type"), col("ts"),
          col("value").cast("decimal(18,2)").as("value_dec"))
        .write.mode("overwrite").parquet(basePath)
      graft.plans.MaterializedView.build(s, basePath,
        Seq("event_type", "day"), Seq("value_dec"), s"$scratch/summary",
        derivedGroups = Seq("day" -> "cast(ts as date)"))
      val minDay = s.read.parquet(basePath)
        .agg(min(col("ts").cast("date"))).head().getDate(0).toLocalDate
      val lo = java.sql.Date.valueOf(minDay.plusDays(2))
      val hi = java.sql.Date.valueOf(minDay.plusDays(9))
      s.read.parquet(basePath)
        .filter(col("ts").cast("date") >= lit(lo) &&
          col("ts").cast("date") < lit(hi))
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_dec")).cast("double").as("sum_value"))
    }),

    // ── COUNT(DISTINCT group col) from the MV: distinct event types per
    // day answered from the derived-day summary — the summary holds every
    // distinct (type, day) combination, so distinct-counting a group
    // column over summary rows is EXACT, not a sketch. Composes the
    // derived-day matching with the distinct-group rewrite.
    "q209_mv_distinct_types" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"mvdt_${java.lang.Integer.toHexString(dir.hashCode)}")
      val basePath = s"$scratch/base"
      events(s, dir)
        .select(col("event_type"), col("ts"),
          col("value").cast("decimal(18,2)").as("value_dec"))
        .write.mode("overwrite").parquet(basePath)
      graft.plans.MaterializedView.build(s, basePath,
        Seq("event_type", "day"), Seq("value_dec"), s"$scratch/summary",
        derivedGroups = Seq("day" -> "cast(ts as date)"))
      s.read.parquet(basePath)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(countDistinct(col("event_type")).as("n_types"),
          count(lit(1)).as("n_events"))
    }),

    // ── AVG + group-expression aggregates from the MV: avg(x) decomposes
    // to Σ s_x / Σ c_x at Average's own internal types, and aggregates over
    // EXPRESSIONS OF GROUP COLUMNS (constant within a group) weight by the
    // summary's per-group cnt — Σ_base f = Σ_groups f·cnt. Measures are
    // integer-valued (int linenumber, integral-valued double quantity), so
    // every double sum is exact below 2^53 and the rewritten and direct
    // paths are bit-identical. The dashboard shape this serves at 100 TB:
    // per-flag averages and status mixes off a few dozen summary rows.
    "q213_mv_avg_rollup" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      graft.plans.MaterializedView.build(s, s"$dir/lineitem.parquet",
        Seq("l_returnflag", "l_linestatus"), Seq("l_linenumber", "l_quantity"),
        QueryScratch.dir(s"mvavg_${java.lang.Integer.toHexString(dir.hashCode)}"))
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_linenumber")).as("avg_lines"),
          sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_f"),
          avg(ascii(col("l_linestatus"))).as("avg_status_code"),
          count(lit(1)).as("n"))
    }),

    // ── ROLLUP through the MV rewrite: the analyzer plants an Expand below
    // the Aggregate (one projection per grouping set, keys nulled per set
    // plus a grouping-id literal), and the rule rebuilds that SAME Expand
    // over the summary — each summary row replicates once per tier exactly
    // as each base row did, so every tier re-aggregates partials
    // (sum→Σs, count(*)→Σcnt, avg→Σs/Σc, min/max→extremes of partials).
    // grouping() indicators compile to shifts over the grouping-id, which
    // survives with its exprId. The cube/grand-total dashboard at 100 TB:
    // ALL tiers from one pass over |groups| summary rows, zero base scans.
    "q215_mv_rollup" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      graft.plans.MaterializedView.build(s, s"$dir/lineitem.parquet",
        Seq("l_returnflag", "l_linestatus"), Seq("l_linenumber", "l_quantity"),
        QueryScratch.dir(s"mvru_${java.lang.Integer.toHexString(dir.hashCode)}"))
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          avg(col("l_quantity")).as("avg_qty"),
          grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
          grouping(col("l_linestatus")).cast("bigint").as("g_status"))
    }),

    // ── Time-HIERARCHY rollup from the day MV: the query groups by
    // trunc(cast(ts as date), 'mon') — an EXPRESSION over the derived day
    // — and the rule re-aggregates the day summary under it (grouping base
    // rows by f(group cols) partitions exactly as grouping summary rows by
    // f), so month/quarter/year dashboards all ride one day-grain MV.
    "q205_mv_month_rollup" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"mvmo_${java.lang.Integer.toHexString(dir.hashCode)}")
      val basePath = s"$scratch/base"
      events(s, dir)
        .select(col("event_type"), col("ts"),
          col("value").cast("decimal(18,2)").as("value_dec"))
        .write.mode("overwrite").parquet(basePath)
      graft.plans.MaterializedView.build(s, basePath,
        Seq("event_type", "day"), Seq("value_dec"), s"$scratch/summary",
        derivedGroups = Seq("day" -> "cast(ts as date)"))
      s.read.parquet(basePath)
        .groupBy(trunc(col("ts").cast("date"), "mon").as("month"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_dec")).cast("double").as("sum_value"),
          min(col("value_dec")).cast("double").as("min_value"))
    }),

    // ── DELETE-aware incremental MV maintenance e2e: build the summary
    // over the FULL base, land a CDC batch that DELETES every
    // l_orderkey%9==0 row and re-INSERTS copies of the %11==5 rows, fold
    // both into the summary via
    // [[graft.plans.MaterializedView.refreshDelta]] — signed-partial merge
    // for sums/counts, min/max REPAIRED for affected groups only from a
    // pruned post-batch base scan — then roll up against the base. The
    // delete batch contains group extremes with near-certainty (quantity
    // spans its full range inside every %9 slice), so the repair path, not
    // just the candidate merge, is what the oracle's full truth checks.
    "q190_mv_refresh_delete" -> ((s, dir) => {
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"mvd_${java.lang.Integer.toHexString(dir.hashCode)}")
      val basePath = s"$scratch/base"
      val li = t(s, dir, "lineitem")
      li.write.mode("overwrite").parquet(basePath)
      graft.plans.MaterializedView.build(s, basePath,
        Seq("l_returnflag", "l_linestatus"), Seq("l_linenumber", "l_quantity"),
        s"$scratch/summary")
      val deletes = li.filter(col("l_orderkey") % 9 === 0)
      val inserts = li.filter(col("l_orderkey") % 11 === 5)
      // the new base content derives from the SOURCE table, so overwriting
      // the base path mid-plan is safe
      li.filter(col("l_orderkey") % 9 =!= 0).unionByName(inserts)
        .write.mode("overwrite").parquet(basePath)
      graft.plans.MaterializedView.refreshDelta(s, basePath, inserts, deletes)
      s.read.parquet(basePath)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          count(col("l_quantity")).as("n_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    }),

    // ── Row-level QUARANTINE: the q99 rule engine's enforcement twin —
    // orders deterministically corrupted (key collisions for %31, negated
    // prices for %23, nulled priorities for %19), then every violating row
    // emitted with the sorted list of rules it broke. Unique flags EVERY
    // copy of a duplicated key (enforcement can't pick the innocent one);
    // the clean InSet rule shows non-firing rules cost nothing. See
    // [[graft.operators.Quality.quarantine]].
    "q203_quarantine" -> ((s, dir) => {
      import graft.operators.Quality
      val corrupted = t(s, dir, "orders").select(
        when(col("o_orderkey") % 31 === 0, lit(7L))
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        col("o_custkey"),
        when(col("o_orderkey") % 23 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("o_orderkey") % 19 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"),
        col("o_orderstatus"))
      Quality.quarantine(corrupted, Seq(
          Quality.Unique(Seq("o_orderkey")),
          Quality.NotNull("o_orderpriority"),
          Quality.InRange("o_totalprice", 0.0, 1000000000.0),
          Quality.InSet("o_orderstatus", Seq("F", "O", "P"))))
        .filter(!col("pass"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"), col("o_orderstatus"),
          array_join(col("violated"), "|").as("violations"))
    }),

    // ── ANALYZE-style per-column statistics: row count, non-null count,
    // HLL NDV estimate, and TYPED min/max (rendered through cross-engine-
    // stable string forms: integers, decimals, dates — never raw doubles)
    // for five lineitem columns, in ONE wide aggregate + ONE stacked HLL
    // pass — the optimizer-statistics artifact (`ANALYZE TABLE`) every
    // cost-based planner feeds on. At 100 TB both passes are single scans
    // with constant-size outputs (5 columns × 256 registers).
    "q202_analyze_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // (name, string form for NDV hashing, typed column for min/max)
      val specs: Seq[(String, Column, Column)] = Seq(
        ("l_orderkey", col("l_orderkey").cast("string"), col("l_orderkey")),
        ("l_linenumber", col("l_linenumber").cast("string"), col("l_linenumber")),
        ("l_returnflag", col("l_returnflag"), col("l_returnflag")),
        ("l_quantity", col("l_quantity").cast("decimal(18,2)").cast("string"),
          col("l_quantity").cast("decimal(18,2)")),
        ("l_shipdate", col("l_shipdate").cast("date").cast("string"),
          col("l_shipdate").cast("date")))
      val wide = li.agg(
        count(lit(1)).as("n_rows"),
        specs.flatMap { case (n, _, typed) => Seq(
          count(typed).as(s"nn_$n"),
          min(typed).cast("string").as(s"mn_$n"),
          max(typed).cast("string").as(s"mx_$n")) }: _*)
      val exact = wide.select(explode(array(specs.map { case (n, _, _) =>
        struct(lit(n).as("col_name"), col("n_rows"),
          col(s"nn_$n").as("n_nonnull"), col(s"mn_$n").as("min_str"),
          col(s"mx_$n").as("max_str")) }: _*)).as("kv"))
        .select(col("kv.*"))
      val stacked = li.select(explode(array(specs.map { case (n, sv, _) =>
        struct(lit(n).as("col_name"), sv.as("val")) }: _*)).as("kv"))
        .select(col("kv.col_name").as("col_name"), col("kv.val").as("val"))
        .where(col("val").isNotNull)
      val ndv = graft.operators.Sketches.hllDistinct(stacked, "col_name", "val")
        .select(col("col_name"), col("est_distinct").as("ndv_est"))
      exact.join(broadcast(ndv), Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nonnull"),
          col("ndv_est"), col("min_str"), col("max_str"))
    }),

    // ── CMS JOIN-SIZE estimate (AMS inner product on CM counters): the
    // self-join size of lineitem on l_partkey — Σ_k f(k)², the classic F2
    // moment — estimated as min-over-depth counter dot products from the
    // CONSTANT-size sketch, beside the exact value. est ≥ exact always
    // (collisions only add cross terms); this is the query-planning
    // primitive that prices a join before paying for it. See
    // [[graft.operators.Sketches.cmsJoinSize]].
    "q197_cms_join_size" -> ((s, dir) => {
      val keys = t(s, dir, "lineitem").select(col("l_partkey"))
      val counters = graft.operators.Sketches.cmsCounters(keys, "l_partkey")
      val est = graft.operators.Sketches.cmsJoinSize(counters, counters)
      val exact = keys.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("f"))
        .agg(sum(col("f").cast("decimal(38,0)") * col("f").cast("decimal(38,0)"))
          .cast("string").as("exact_join_size"))
      est.crossJoin(exact)
    }),

    // ── Count-Min frequency sketch over lineitem's part key: the sketch
    // compresses 100 TB of per-key rows into a CONSTANT depth×width counter
    // matrix (map-side combine bounds every task's output at ~2k rows), then
    // point-frequency probes broadcast-join that matrix — no per-key shuffle
    // ever happens. The exact counts ride alongside to exhibit the CM
    // guarantee (est ≥ exact, overestimate ≤ εN). See
    // [[graft.operators.Sketches.cmsCounters]].
    "q146_cms_freq" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val counters = graft.operators.Sketches.cmsCounters(li, "l_partkey")
      val probes = t(s, dir, "part")
        .filter(col("p_partkey") <= 50).select(col("p_partkey"))
      val exact = li.filter(col("l_partkey") <= 50)
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(count(lit(1)).as("exact_count"))
      graft.operators.Sketches.cmsEstimate(counters, probes, "p_partkey")
        .join(exact, Seq("p_partkey"), "left")
        .select(col("p_partkey"), col("est_count"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
    }),

    "q68_bloom_prune" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 4000)
      graft.operators.BloomPrune.semiJoin(
        t(s, dir, "orders"), "o_custkey", cust, "c_custkey",
        expectedItems = 100000L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),

    // ── Salted two-stage aggregation over a skewed key: event_type has ~5
    // distinct values, so a direct groupBy converges each type's entire row
    // set on one reducer — the straggler/OOM shape at 100 TB. The salted
    // fold aggregates (type, salt) first (every reducer gets ~1/16 of a hot
    // key), then combines ≤16 partial rows per type. Decimal partials merge
    // exactly, so the result is bit-identical to the direct aggregate.
    "q69_salted_skew" -> ((s, dir) => {
      graft.operators.Skew.saltedAgg(
        events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        keys = Seq("event_type"), salt = 16,
        partials = Seq(
          count(lit(1)).as("_cnt"),
          sum(col("value").cast("decimal(18,2)")).as("_sum"),
          max(col("event_id")).as("_max")),
        combine = Seq(
          sum(col("_cnt")).as("n_events"),
          sum(col("_sum")).cast("double").as("sum_value"),
          max(col("_max")).as("max_id")))
    }),

    // ── Star join (TPC-H Q5 shape): regional supplier revenue through a
    // six-table join graph with a cross-dimension constraint (customer and
    // supplier in the SAME nation). Declared as plain joins so Catalyst
    // orders them and broadcasts the dimension chain
    // (region→nation→supplier, customer) — only lineitem⋈orders shuffles at
    // scale. Revenue is exact decimal arithmetic: both factors cast to
    // decimal BEFORE multiplying (the doubles are 2-decimal values, so the
    // cast is unambiguous in both engines) and the sum folds integers.
    "q73_star_join" -> ((s, dir) => {
      val one = lit(1).cast("decimal(4,2)")
      val revenue = sum(col("l_extendedprice").cast("decimal(18,2)") *
        (one - col("l_discount").cast("decimal(4,2)")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(revenue.cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ── Star-schema MV: the q73 rollup shape rerouted to a PRE-JOINED
    // summary ([[graft.plans.StarMv]]). The build pays the six-table
    // shuffle join ONCE and groups it by (n_name, r_name, o_orderdate);
    // the query below — q73's own join tree, filters, and revenue
    // expression — is then matched by equivalence-class join
    // canonicalization and answered from |nation × day| summary rows with
    // the fact never rescanned (StarMvSpec pins the reroute on the plan).
    // The oracle is the plain six-table join: a summary that joined,
    // grouped, or re-aggregated wrongly hash-fails. At 100 TB this is THE
    // dashboard accelerator for a CDC-synced star schema — the exact
    // service Greenplum summary tables give the reference's users.
    // Measures: the decimal revenue expression (registered as a DERIVED
    // measure, matched on its optimized form) re-aggregates exactly;
    // min/max over double l_quantity are order-independent; the float SUM
    // of l_quantity is deliberately absent (order-dependent).
    "q210_star_mv" -> ((s, dir) => {
      import graft.plans.StarMv
      import graft.plans.StarMv.{QCol, StarMvDef}
      graft.plans.MaterializedView.install(s)
      val rev = "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
      // register over scratch COPIES of the six tables, not the shared
      // corpus paths: the registry is session-global, and a def keyed on
      // the corpus would silently reroute q73 (and any other star query)
      // run later in the same session — correct values, but plan pins and
      // round-over-round bench comparisons would move under them
      val scratch = QueryScratch.dir(
        s"starmv_${java.lang.Integer.toHexString(dir.hashCode)}")
      val names = Seq("lineitem", "orders", "customer", "supplier",
        "nation", "region")
      names.foreach(n => t(s, dir, n).write.mode("overwrite")
        .parquet(s"$scratch/$n"))
      def t2(n: String) = s.read.parquet(s"$scratch/$n")
      val Seq(li, or, cu, su, na, re) = names.map(n => s"$scratch/$n")
      StarMv.build(s, StarMvDef(
        tables = Seq(li, or, cu, su, na, re),
        joins = Seq(
          (QCol(li, "l_orderkey"), QCol(or, "o_orderkey")),
          (QCol(or, "o_custkey"), QCol(cu, "c_custkey")),
          (QCol(li, "l_suppkey"), QCol(su, "s_suppkey")),
          (QCol(cu, "c_nationkey"), QCol(su, "s_nationkey")),
          (QCol(su, "s_nationkey"), QCol(na, "n_nationkey")),
          (QCol(na, "n_regionkey"), QCol(re, "r_regionkey"))),
        groupCols = Seq(QCol(na, "n_name"), QCol(re, "r_name"),
          QCol(or, "o_orderdate")),
        measureCols = Seq(QCol(li, "l_quantity")),
        summaryPath = s"$scratch/summary",
        derivedMeasures = Seq("revenue" -> rev)))
      t2("lineitem")
        .join(t2("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t2("customer"), col("o_custkey") === col("c_custkey"))
        .join(t2("supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t2("nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t2("region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(sum(expr(rev)).cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    }),

    // ── Star-MV incremental maintenance e2e (join-delta IVM): build the
    // pre-joined summary over 90% of lineitem ⋈ orders ⋈ customer, land a
    // CDC batch on the FACT copy (insert the %10 tail, delete every
    // %13 row — extremes included, so the min/max repair path runs), fold
    // it with [[graft.plans.StarMv.refreshTableDelta]] — ONE signed
    // delta-sized join plus a pruned repair, never a fact re-join — then roll up
    // through the rewrite. The oracle is the POST-BATCH three-table join:
    // a refresh that lost, double-counted, or failed to repair an extreme
    // hash-fails. At 100 TB this is the REFRESH MATERIALIZED VIEW cadence
    // on a star schema at delta cost.
    "q212_star_mv_refresh" -> ((s, dir) => {
      import graft.plans.StarMv
      import graft.plans.StarMv.{QCol, StarMvDef}
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"starmvr_${java.lang.Integer.toHexString(dir.hashCode)}")
      val li = t(s, dir, "lineitem")
      li.filter(col("l_orderkey") % 10 =!= 0)
        .write.mode("overwrite").parquet(s"$scratch/lineitem")
      Seq("orders", "customer").foreach(n =>
        t(s, dir, n).write.mode("overwrite").parquet(s"$scratch/$n"))
      val (lp, op, cp) = (s"$scratch/lineitem", s"$scratch/orders",
        s"$scratch/customer")
      var d = StarMv.build(s, StarMvDef(
        tables = Seq(lp, op, cp),
        joins = Seq((QCol(lp, "l_orderkey"), QCol(op, "o_orderkey")),
          (QCol(op, "o_custkey"), QCol(cp, "c_custkey"))),
        groupCols = Seq(QCol(lp, "l_returnflag"),
          QCol(op, "o_orderpriority"), QCol(cp, "c_mktsegment")),
        measureCols = Seq(QCol(lp, "l_linenumber"), QCol(lp, "l_quantity")),
        summaryPath = s"$scratch/summary"))
      // the batch lands in the fact copy, THEN the summary folds the delta
      li.filter(col("l_orderkey") % 13 =!= 0)
        .write.mode("overwrite").parquet(lp)
      d = StarMv.refreshTableDelta(s, d, lp,
        inserts = li.filter(col("l_orderkey") % 10 === 0),
        deletes = li.filter(col("l_orderkey") % 13 === 0))
      s.read.parquet(lp)
        .join(s.read.parquet(op), col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(cp), col("o_custkey") === col("c_custkey"))
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    }),

    // ── AVG through the star-MV rewrite: per-segment average quantity and
    // line number over the three-table star, answered from the pre-joined
    // summary's (Σ s_x, Σ c_x). Both measures are integer-valued, so the
    // double sums are exact and the rerouted division renders the join's
    // own truth bit-for-bit. Composes q210's join canonicalization with
    // q213's avg decomposition — the per-dimension-average dashboard tier.
    "q214_star_mv_avg" -> ((s, dir) => {
      import graft.plans.StarMv
      import graft.plans.StarMv.{QCol, StarMvDef}
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"starmva_${java.lang.Integer.toHexString(dir.hashCode)}")
      val names = Seq("lineitem", "orders", "customer")
      names.foreach(n => t(s, dir, n).write.mode("overwrite")
        .parquet(s"$scratch/$n"))
      val Seq(lp, op, cp) = names.map(n => s"$scratch/$n")
      StarMv.build(s, StarMvDef(
        tables = Seq(lp, op, cp),
        joins = Seq((QCol(lp, "l_orderkey"), QCol(op, "o_orderkey")),
          (QCol(op, "o_custkey"), QCol(cp, "c_custkey"))),
        groupCols = Seq(QCol(lp, "l_returnflag"), QCol(cp, "c_mktsegment")),
        measureCols = Seq(QCol(lp, "l_linenumber"), QCol(lp, "l_quantity")),
        summaryPath = s"$scratch/summary"))
      s.read.parquet(lp)
        .join(s.read.parquet(op), col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(cp), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_linenumber")).as("avg_lines"),
          count(lit(1)).as("n"))
    }),

    // ── ROLLUP over the star through the Expand rewrite
    // ([[graft.plans.StarMv.tryRewrite]]): the analyzer plants an
    // Expand between the Aggregate and the three-table join, the rule
    // matches the join tree below it against the registered star and
    // rebuilds the SAME Expand over the pre-joined summary — every tier
    // (cells, per-flag subtotals, grand total) re-aggregates |groups|
    // summary rows with the fact never rescanned. grouping() indicators
    // compile to shifts over the grouping-id literal, which survives in
    // the rebuilt projections. SQL is the surface (vanilla Spark rejects
    // Dataset-API rollup over a join via DetectAmbiguousSelfJoin); the
    // oracle restates the full join + ROLLUP, so a rebuilt Expand that
    // mis-nulled a tier or double-counted a partial hash-fails. At 100 TB
    // this is the all-tiers star dashboard from one summary pass.
    "q219_star_mv_rollup" -> ((s, dir) => {
      import graft.plans.StarMv
      import graft.plans.StarMv.{QCol, StarMvDef}
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"starrol_${java.lang.Integer.toHexString(dir.hashCode)}")
      val names = Seq("lineitem", "orders", "customer")
      names.foreach(n => t(s, dir, n).write.mode("overwrite")
        .parquet(s"$scratch/$n"))
      val Seq(lp, op, cp) = names.map(n => s"$scratch/$n")
      StarMv.build(s, StarMvDef(
        tables = Seq(lp, op, cp),
        joins = Seq((QCol(lp, "l_orderkey"), QCol(op, "o_orderkey")),
          (QCol(op, "o_custkey"), QCol(cp, "c_custkey"))),
        groupCols = Seq(QCol(lp, "l_returnflag"), QCol(cp, "c_mktsegment")),
        measureCols = Seq(QCol(lp, "l_linenumber"), QCol(lp, "l_quantity")),
        summaryPath = s"$scratch/summary"))
      s.read.parquet(lp).createOrReplaceTempView("q219_lineitem")
      s.read.parquet(op).createOrReplaceTempView("q219_orders")
      s.read.parquet(cp).createOrReplaceTempView("q219_customer")
      s.sql(
        """SELECT l_returnflag, c_mktsegment, count(*) AS n,
          |  sum(l_linenumber) AS sum_lines,
          |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
          |  avg(l_quantity) AS avg_qty,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
          |  CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg
          |FROM q219_lineitem
          |JOIN q219_orders ON l_orderkey = o_orderkey
          |JOIN q219_customer ON o_custkey = c_custkey
          |GROUP BY ROLLUP(l_returnflag, c_mktsegment)""".stripMargin)
    }),

    // ── Lossless SUB-JOIN serving (aggregate navigation): the MV
    // pre-joins lineitem ⋈ orders ⋈ customer, with orders and customer
    // DECLARED lossless extensions — [[graft.plans.StarMv.build]] VERIFIES
    // on the data that each peels 1:1 (unique key, every partner row
    // matched) and refuses otherwise. The query below joins only
    // lineitem ⋈ orders; the rewrite peels customer and serves it from
    // the same summary. The oracle is the plain TWO-table join — if
    // peeling customer changed any multiplicity, every value hash-fails.
    // At 100 TB this is why one star summary replaces a whole family of
    // per-subset summaries: every peelable dashboard cut shares it.
    "q220_star_mv_subjoin" -> ((s, dir) => {
      import graft.plans.StarMv
      import graft.plans.StarMv.{QCol, StarMvDef}
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"starsub_${java.lang.Integer.toHexString(dir.hashCode)}")
      val names = Seq("lineitem", "orders", "customer")
      names.foreach(n => t(s, dir, n).write.mode("overwrite")
        .parquet(s"$scratch/$n"))
      val Seq(lp, op, cp) = names.map(n => s"$scratch/$n")
      StarMv.build(s, StarMvDef(
        tables = Seq(lp, op, cp),
        joins = Seq((QCol(lp, "l_orderkey"), QCol(op, "o_orderkey")),
          (QCol(op, "o_custkey"), QCol(cp, "c_custkey"))),
        groupCols = Seq(QCol(lp, "l_returnflag"),
          QCol(op, "o_orderpriority"), QCol(cp, "c_mktsegment")),
        measureCols = Seq(QCol(lp, "l_linenumber"), QCol(lp, "l_quantity")),
        summaryPath = s"$scratch/summary",
        losslessTables = Seq(op, cp)))
      s.read.parquet(lp)
        .join(s.read.parquet(op), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          avg(col("l_quantity")).as("avg_qty"))
    }),

    // ── Derived-GROUP star MV (day-grain summary over a timestamp fact):
    // the summary for lineitem ⋈ orders is keyed at day = cast(o_orderdate
    // as date) — NOT at raw timestamps, where it would be fact-sized. The
    // query below groups by the MONTH hierarchy over that derived day and
    // filters a day range; the optimizer has already rewritten the day
    // filter into raw-ts midnight bounds when the rule runs, and the
    // shared recovery converts them back to day bounds on the summary.
    // The oracle restates the raw two-table join. At 100 TB: one
    // |flags × days| summary serves every month/quarter/year dashboard.
    "q221_star_mv_day" -> ((s, dir) => {
      import graft.plans.StarMv
      import graft.plans.StarMv.{QCol, StarMvDef}
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"starday_${java.lang.Integer.toHexString(dir.hashCode)}")
      val names = Seq("lineitem", "orders")
      names.foreach(n => t(s, dir, n).write.mode("overwrite")
        .parquet(s"$scratch/$n"))
      val Seq(lp, op) = names.map(n => s"$scratch/$n")
      StarMv.build(s, StarMvDef(
        tables = Seq(lp, op),
        joins = Seq((QCol(lp, "l_orderkey"), QCol(op, "o_orderkey"))),
        groupCols = Seq(QCol(lp, "l_returnflag")),
        measureCols = Seq(QCol(lp, "l_linenumber"), QCol(lp, "l_quantity")),
        summaryPath = s"$scratch/summary",
        losslessTables = Seq(op),
        derivedGroups = Seq("day" -> "cast(o_orderdate as date)")))
      s.read.parquet(lp)
        .join(s.read.parquet(op), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
          col("o_orderdate").cast("date") < lit("1998-01-01"))
        .groupBy(trunc(col("o_orderdate").cast("date"), "mon").as("month"),
          col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    }),

    // ── CREATE MATERIALIZED VIEW … AS SELECT, graded end-to-end: the MV
    // definition is DERIVED from the query itself ([[StarMv.fromQuery]] —
    // tables, join graph, the day derived group named by the query's own
    // alias, plain + expression measures), built, and then the exact same
    // query runs again — served from the summary it just defined. The
    // oracle restates the query over the raw tables: an extraction that
    // mis-derived any part of the definition hash-fails. This is the
    // one-call UX the reference's users have in Greenplum.
    "q223_star_mv_fromquery" -> ((s, dir) => {
      import graft.plans.StarMv
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"starfq_${java.lang.Integer.toHexString(dir.hashCode)}")
      val names = Seq("lineitem", "orders")
      names.foreach(n => t(s, dir, n).write.mode("overwrite")
        .parquet(s"$scratch/$n"))
      val Seq(lp, op) = names.map(n => s"$scratch/$n")
      def q = s.read.parquet(lp)
        .join(s.read.parquet(op), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"),
          col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_lines"),
          avg(col("l_quantity")).as("avg_qty"),
          max(col("l_quantity") * col("l_linenumber")).as("max_ql"))
      StarMv.fromQuery(s, q, s"$scratch/summary")
      q
    }),

    // ── MV ADVISOR e2e ([[graft.plans.MvAdvisor]]): feed a 4-query rollup
    // WORKLOAD (three grains over lineitem ⋈ orders + one unservable
    // filtered shape) to the advisor — it must collapse the family into
    // ONE union-grain recommendation, skip the unservable member, and the
    // accepted build must turn the family's finest query into a summary
    // scan (require-pinned: a silent fallback fails the query rather than
    // hiding behind a correct live join). The oracle recomputes the same
    // rollup — a wrong union grain or a mis-merged measure hash-fails. At
    // 100 TB this is the "engine recommends" workflow: the advisor's only
    // data touch is one approx_count_distinct probe per join tree.
    "q226_mv_advisor" -> ((s, dir) => {
      import graft.plans.{MvAdvisor, StarMv}
      graft.plans.MaterializedView.install(s)
      val scratch = QueryScratch.dir(
        s"mvadv_${java.lang.Integer.toHexString(dir.hashCode)}")
      val names = Seq("lineitem", "orders")
      names.foreach(n => t(s, dir, n).write.mode("overwrite")
        .parquet(s"$scratch/$n"))
      val Seq(lp, op) = names.map(n => s"$scratch/$n")
      def joined = s.read.parquet(lp)
        .join(s.read.parquet(op), col("l_orderkey") === col("o_orderkey"))
      def w0 = joined.groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
      def w1 = joined.groupBy(col("l_returnflag"), col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      def w2 = joined.groupBy(col("o_orderpriority"))
        .agg(max(col("l_quantity")).as("max_qty"))
      def w3 = joined.filter(col("l_discount") > 0.05)
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
      val recs = MvAdvisor.advise(s, Seq(w0, w1, w2, w3), k = 1)
      require(recs.nonEmpty && recs.head.hits == 3,
        s"advisor must cover the 3-query family: $recs")
      val d = recs.head.buildAs(s, s"$scratch/summary")
      val out = w1
      val roots = out.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toUri.getPath)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(roots.nonEmpty && roots.forall(_.contains("summary")),
        s"accepted recommendation must serve the family, scanned: $roots")
      StarMv.unregister(d.summaryPath) // registry hygiene for later queries
      out
    }),

    // ── Map-typed columns and their function family (construction, keys/
    // values, lookup, filter, transform) — completes §2.2's scalar
    // inventory next to q63's arrays. The map is built per user from the
    // aggregate (array_sort fixes entry order → deterministic key order),
    // then every map op is flattened back to scalars the oracle can state
    // without map types. All column expressions after the one aggregate —
    // no extra shuffle.
    "q75_map_funcs" -> ((s, dir) => {
      val m = col("m")
      events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
        .select(col("user_id"),
          array_join(map_keys(m), ",").as("keys"),
          size(m).cast("bigint").as("n_types"),
          // try_element_at, not element_at: under ANSI (this build's
          // default) element_at ABORTS on a missing key, so a user with no
          // click events would kill the query instead of scoring 0
          coalesce(try_element_at(m, lit("click")), lit(0L)).as("clicks"),
          size(map_filter(m, (_, v) => v >= 3)).cast("bigint").as("n_frequent"),
          aggregate(map_values(m), lit(0L), (a, b) => a + b).as("n_events"),
          aggregate(map_values(transform_values(m, (_, v) => v * v)),
            lit(0L), (a, b) => a + b).as("sq_events"))
    }),

    // ── RANGE window frame: per-customer trailing-30-day order total — the
    // time-based moving aggregate q10's ROWS frame can't express (a ROWS
    // frame counts rows, not elapsed time; with multiple orders per day the
    // two differ). Ordered by epoch seconds so the frame bound is numeric
    // and identical in both engines; peers (same timestamp) are included in
    // each other's frames by RANGE semantics, which also makes the result
    // well-defined under ordering ties.
    "q76_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ts"))
        .rangeBetween(-30L * 86400, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("ts", unix_timestamp(col("o_orderdate")))
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("trailing_30d"),
          count(lit(1)).over(w).as("n_trailing"))
    }),

    // ── Fuzzy matching (entity-resolution primitive): which part-name words
    // are within edit distance 2 of each other, with each word's row count.
    // The scale-correct shape: REDUCE to the distinct vocabulary first (one
    // hash aggregate — vocabulary, unlike the table, doesn't grow 100× with
    // the data), then fuzzy self-join the tiny vocabulary broadcast-side.
    // A levenshtein join on the raw rows would be an all-pairs scan of the
    // table against itself.
    "q78_fuzzy_match" -> ((s, dir) => {
      val words = t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        // persisted: BOTH self-join sides read this aggregate — without the
        // cache the scan+explode+groupBy over part runs twice (the harness
        // clears caches between queries)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = words.select(col("w").as("w_a"), col("n").as("n_a"))
      val b = words.select(col("w").as("w_b"), col("n").as("n_b"))
      a.join(broadcast(b), col("w_a") < col("w_b"))
        // thresholded levenshtein (banded, early length-difference exit):
        // -1 iff distance > 2, the exact distance otherwise — identical
        // survivor set and dist values, ~k/len of the full-matrix work on
        // the vocabulary cross mass
        .withColumn("dist", levenshtein(col("w_a"), col("w_b"), 2))
        .filter(col("dist") >= 0)
        .select(col("w_a"), col("w_b"), col("dist").cast("bigint").as("dist"),
          col("n_a"), col("n_b"))
    }),

    // ── Unpivot/melt: wide per-row measures to long (metric, value) form —
    // the missing inverse of q61's pivot. Catalyst plans the unpivot as an
    // Expand (4 output rows per input row, map-side, zero shuffle); the
    // only exchange is the final partial-aggregated group-by. Sums are
    // exact decimals emitted as double (the dsum contract).
    "q90_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("quantity"),
          col("l_extendedprice").cast("decimal(18,2)").as("extendedprice"),
          col("l_discount").cast("decimal(18,2)").as("discount"),
          col("l_tax").cast("decimal(18,2)").as("tax"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "metric", "value")
        .groupBy("l_returnflag", "metric")
        .agg(sum(col("value")).cast("double").as("sum_value"),
          count(lit(1)).as("n"))
    }),

    // ── Modern aggregate family: ordered LISTAGG (string concatenation
    // aggregate, deterministic via WITHIN GROUP ordering), boolean
    // all/any aggregates, and predicate counting — the ANSI-2016-ish
    // surface both engines added recently. All partial-aggregable.
    "q101_agg_family" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          expr("listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)")
            .as("statuses"),
          expr("bool_and(o_totalprice > 0)").as("all_positive"),
          expr("bool_or(o_totalprice > 400000)").as("any_jumbo"),
          expr("count_if(o_orderstatus = 'F')").as("n_finished"))
    }),

    // ── Forward-fill (gap repair): last non-NULL value carried forward per
    // user in event order — `last(ignoreNulls)` over a running frame, the
    // IGNORE NULLS window surface. NULLs are planted deterministically so
    // both engines repair the same gaps. One shuffle on the partition key.
    "q98_forward_fill" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("v", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"),
          last(col("v"), ignoreNulls = true).over(w).as("filled"))
    }),

    // ── One-pass data-quality report (the post-merge integrity gate a CDC
    // sink runs): PK uniqueness, null checks, range and accepted-value
    // checks — every rule a violation-count expression in ONE aggregate.
    // See [[graft.operators.Quality]].
    "q99_data_quality" -> ((s, dir) => {
      import graft.operators.Quality._
      check(t(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 200000.0),
        InSet("o_orderstatus", Seq("F", "O", "P"))))
    }),

    // ── Bucketed-table co-located join: both sides written `bucketBy` on
    // the join key (the Spark-native form of pre-partitioning a warehouse
    // keeps on disk), so the SortMergeJoin consumes bucket files DIRECTLY —
    // zero Exchange before the join; the only shuffle in the plan is the
    // 3-group final aggregate. THE technique for a fact-fact join that
    // recurs at 100 TB: pay the partitioning once at write time, never
    // again per query (`BucketedJoinPlanSpec` pins the no-shuffle plan).
    "q93_bucketed_join" -> ((s, dir) => {
      val tmp = QueryScratch.dir("buck") // per-JVM scratch, swept on exit
      t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/li").saveAsTable("graft_li_b")
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/ord").saveAsTable("graft_ord_b")
      s.table("graft_li_b").hint("merge")
        .join(s.table("graft_ord_b").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"), count(lit(1)).as("n"))
    }),

    // ── LATERAL correlated subquery (Spark 4 `Dataset.lateralJoin` +
    // `Column.outer()`): per-nation top-2 customers by balance. Catalyst
    // DECORRELATES the per-row limit into a rank window partitioned by the
    // correlation key — one shuffle on c_nationkey with a WindowGroupLimit
    // cutting each partition to 2 rows before the final join, NOT a
    // per-outer-row re-execution of the subquery (which at 100 TB would be
    // 25 × a full customer scan). Tie-break on c_custkey keeps the picked
    // pair deterministic when balances collide at the cut.
    "q166_lateral_topn" -> ((s, dir) => {
      t(s, dir, "nation").select("n_nationkey", "n_name")
        .lateralJoin(
          t(s, dir, "customer")
            .where(col("c_nationkey") === col("n_nationkey").outer())
            .orderBy(col("c_acctbal").desc, col("c_custkey"))
            .limit(2)
            .select("c_custkey", "c_name", "c_acctbal"))
        .select(col("n_name"), col("c_custkey"), col("c_name"),
          col("c_acctbal"))
    }),

    // ── Inline observed metrics (`Dataset.observe` + `Observation`): the
    // data-quality counters a pipeline wants from its WRITE pass — row
    // count, empty/short-text counts, char volume — collected by
    // accumulator DURING the one corpus scan, zero extra jobs and zero
    // shuffles (CollectMetricsExec merges per-task partial aggregates on
    // the driver). At 100 TB this is the difference between "audit the
    // corpus" costing a second full read or costing nothing. The observed
    // row is returned as the query result; the action that populates it is
    // the count() inside (any downstream sink write plays that role in a
    // real pipeline).
    "q167_observe_metrics" -> ((s, dir) => {
      val obs = new org.apache.spark.sql.Observation()
      val docs = t(s, dir, "documents").observe(
        obs,
        count(lit(1)).as("n_rows"),
        sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("n_empty"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short"),
        sum(col("n_chars")).as("sum_chars"),
        max(col("n_chars")).as("max_chars"))
      docs.foreach(_ => ()) // the pass the metrics ride (= the sink write)
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("n_empty").asInstanceOf[Long],
        m("n_short").asInstanceOf[Long], m("sum_chars").asInstanceOf[Long],
        m("max_chars").asInstanceOf[Long]))
        .toDF("n_rows", "n_empty", "n_short", "sum_chars", "max_chars")
    })
  )

  val oracles: Map[String, String] = Map(
    "q135_recursive_rollup" ->
      """WITH RECURSIVE closure(anc, node, d, bal) AS (
        |  SELECT c_custkey, c_custkey, 0, c_acctbal FROM customer
        |  UNION ALL
        |  SELECT cl.anc, c.c_custkey, cl.d + 1, c.c_acctbal
        |  FROM customer c JOIN closure cl ON (c.c_custkey - 1) // 2 = cl.node
        |  WHERE c.c_custkey >= 1)
        |SELECT d AS depth, count(*) AS n_pairs,
        |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM closure GROUP BY d""".stripMargin,

    "q01_scan_filter" ->
      """SELECT l_orderkey, l_partkey, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05""".stripMargin,

    "q02_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  count(*) AS cnt, count(DISTINCT l_partkey) AS distinct_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q04_join_large" ->
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS order_cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q05_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin,

    "q06_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,

    "q07_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q08_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q09_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q10_window_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin,

    "q11_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    // q232: same lower-quantile definition, same integer ppm arithmetic —
    // smallest v whose cumulative count reaches ceil(q·n) per group.
    "q232_grouped_quantiles" ->
      """WITH vc AS (
        |  SELECT l_returnflag, l_linestatus, l_quantity AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT l_returnflag, l_linestatus, v,
        |    sum(c) OVER (PARTITION BY l_returnflag, l_linestatus
        |                 ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag, l_linestatus) AS n
        |  FROM vc)
        |SELECT l_returnflag, l_linestatus, CAST(max(n) AS BIGINT) AS n_rows,
        |  min(CASE WHEN cum * 1000000 >= n * 250000 THEN v END) AS p25,
        |  min(CASE WHEN cum * 1000000 >= n * 500000 THEN v END) AS p50,
        |  min(CASE WHEN cum * 1000000 >= n * 900000 THEN v END) AS p90,
        |  min(CASE WHEN cum * 1000000 >= n * 990000 THEN v END) AS p99
        |FROM cum GROUP BY 1, 2""".stripMargin,

    // q234: the oracle never sees the split — exact mergeability means
    // the merged-profile read-off equals the full-table computation.
    "q234_quantile_profile_merge" ->
      """WITH vc AS (
        |  SELECT l_returnflag, l_quantity AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, v,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM vc)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
        |  min(CASE WHEN cum * 1000000 >= n * 500000 THEN v END) AS p50,
        |  min(CASE WHEN cum * 1000000 >= n * 900000 THEN v END) AS p90,
        |  min(CASE WHEN cum * 1000000 >= n * 990000 THEN v END) AS p99
        |FROM cum GROUP BY 1""".stripMargin,

    // q235: the oracle rebuilds the dirty registry, the blocked match, the
    // recursive-CTE closure, and the min-id election — cluster labels,
    // golden names, and member counts must all agree bit-for-bit.
    // q250: the declared lineage expectation — the oracle IS the contract
    // the plan walk must reproduce (values-only; lineage is schema-level,
    // no table data participates).
    "q250_column_lineage" ->
      """SELECT * FROM (VALUES
        |  ('max_qty', 'lineitem', 'l_quantity'),
        |  ('order_year', 'orders', 'o_orderdate'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice'),
        |  ('segment', 'customer', 'c_mktsegment'))
        |AS t(output_col, src_table, src_column)""".stripMargin,

    // q259: q250's data edges plus the declared control expectation —
    // every output × every join-key/filter column, kind 'control'.
    "q259_control_lineage" ->
      """WITH d(output_col, src_table, src_column) AS (VALUES
        |  ('max_qty', 'lineitem', 'l_quantity'),
        |  ('order_year', 'orders', 'o_orderdate'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice'),
        |  ('segment', 'customer', 'c_mktsegment')),
        |outs(output_col) AS (VALUES
        |  ('segment'), ('order_year'), ('revenue'), ('max_qty')),
        |ctrl(src_table, src_column) AS (VALUES
        |  ('lineitem', 'l_orderkey'), ('orders', 'o_orderkey'),
        |  ('orders', 'o_custkey'), ('customer', 'c_custkey'),
        |  ('orders', 'o_orderstatus'))
        |SELECT output_col, src_table, src_column, 'data' AS kind FROM d
        |UNION ALL
        |SELECT o.output_col, c.src_table, c.src_column, 'control' AS kind
        |FROM outs o CROSS JOIN ctrl c""".stripMargin,

    // q246: identical dirty registry + the block-breaking %11 family,
    // re-counted declaratively — all pair masses are the m·(m−1)/2 closed
    // form over the three grouping grains (block, entity, entity×block).
    "q246_blocking_report" ->
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |         md5(CAST(c_custkey AS VARCHAR)) AS name
        |  FROM customer),
        |dirty AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 10000000, substr(name, 1, 8) || 'z' || substr(name, 10)
        |  FROM base WHERE id % 5 = 0
        |  UNION ALL
        |  SELECT id + 20000000, name || '-Co' FROM base WHERE id % 7 = 0
        |  UNION ALL
        |  SELECT id + 30000000, 'z' || substr(name, 2)
        |  FROM base WHERE id % 11 = 0),
        |recs AS (
        |  SELECT id, substr(name, 1, 6) AS blk, id % 10000000 AS ent
        |  FROM dirty),
        |bb AS (SELECT blk, count(*) AS n FROM recs WHERE blk IS NOT NULL GROUP BY 1),
        |ba AS (SELECT count(*) AS n_blocks, max(n) AS max_block,
        |         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs FROM bb),
        |eb AS (SELECT ent, count(*) AS n FROM recs GROUP BY 1),
        |ea AS (SELECT CAST(sum(n) AS BIGINT) AS n_records,
        |         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS truth_pairs FROM eb),
        |cb AS (SELECT ent, blk, count(*) AS n FROM recs
        |       WHERE blk IS NOT NULL GROUP BY 1, 2),
        |ca AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS captured_pairs FROM cb)
        |SELECT n_records, CAST(n_blocks AS BIGINT) AS n_blocks,
        |  CAST(max_block AS BIGINT) AS max_block, candidate_pairs,
        |  CAST(n_records * (n_records - 1) // 2 AS BIGINT) AS all_pairs,
        |  CAST((n_records * (n_records - 1) // 2 - candidate_pairs) * 1000000
        |    // greatest(n_records * (n_records - 1) // 2, 1) AS BIGINT)
        |    AS reduction_ppm,
        |  truth_pairs, captured_pairs,
        |  CAST(captured_pairs * 1000000 // greatest(truth_pairs, 1) AS BIGINT)
        |    AS completeness_ppm
        |FROM ea, ba, ca""".stripMargin,

    "q235_entity_resolution" ->
      """WITH RECURSIVE base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |         md5(CAST(c_custkey AS VARCHAR)) AS name
        |  FROM customer),
        |dirty AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 10000000, substr(name, 1, 8) || 'z' || substr(name, 10)
        |  FROM base WHERE id % 5 = 0
        |  UNION ALL
        |  SELECT id + 20000000, name || '-Co' FROM base WHERE id % 7 = 0),
        |recs AS (
        |  SELECT id, substr(name, 1, 6) AS blk,
        |    regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
        |  FROM dirty),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM recs a JOIN recs b ON a.blk = b.blk AND a.id < b.id
        |  WHERE levenshtein(a.norm, b.norm) <= 2),
        |nodes AS (
        |  SELECT DISTINCT id FROM
        |    (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |links AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT l.b AS id, reach.r FROM links l JOIN reach ON reach.id = l.a),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |lab AS (
        |  SELECT r.id, coalesce(cc.cluster_id, r.id) AS cluster_id
        |  FROM recs r LEFT JOIN cc ON r.id = cc.id),
        |sz AS (SELECT cluster_id, count(*) AS n_members FROM lab GROUP BY 1)
        |SELECT l.id, l.cluster_id, l.cluster_id AS canonical_id,
        |  d.name AS canonical_name, sz.n_members
        |FROM lab l
        |JOIN sz ON l.cluster_id = sz.cluster_id
        |JOIN dirty d ON d.id = l.cluster_id""".stripMargin,

    // q239: the oracle rebuilds the registry resolution (the q235 CTEs),
    // the signature table, the blocked assignment probe, and the residual
    // closure — adopted labels, fresh labels, and src tags all bit-exact.
    "q239_entity_assign" ->
      """WITH RECURSIVE base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |         md5(CAST(c_custkey AS VARCHAR)) AS name
        |  FROM customer),
        |dirty AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 10000000, substr(name, 1, 8) || 'z' || substr(name, 10)
        |  FROM base WHERE id % 5 = 0
        |  UNION ALL
        |  SELECT id + 20000000, name || '-Co' FROM base WHERE id % 7 = 0),
        |recs AS (
        |  SELECT id, substr(name, 1, 6) AS blk,
        |    regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
        |  FROM dirty),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM recs a JOIN recs b ON a.blk = b.blk AND a.id < b.id
        |  WHERE levenshtein(a.norm, b.norm) <= 2),
        |nodes AS (
        |  SELECT DISTINCT id FROM
        |    (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |links AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT l.b AS id, reach.r FROM links l JOIN reach ON reach.id = l.a),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |reg AS (
        |  SELECT r.id, r.blk, r.norm, coalesce(cc.cluster_id, r.id) AS cluster_id
        |  FROM recs r LEFT JOIN cc ON r.id = cc.id),
        |inc AS (
        |  SELECT id + 30000000 AS id,
        |    substr(name, 1, 10) || 'q' || substr(name, 12) AS name
        |  FROM base WHERE id % 3 = 0
        |  UNION ALL
        |  SELECT id + 40000000, md5(CAST(id + 7777777 AS VARCHAR))
        |  FROM base WHERE id % 13 = 0
        |  UNION ALL
        |  SELECT id + 50000000,
        |    substr(md5(CAST(id + 7777777 AS VARCHAR)), 1, 8) || 'z'
        |      || substr(md5(CAST(id + 7777777 AS VARCHAR)), 10)
        |  FROM base WHERE id % 13 = 0),
        |isig AS (
        |  SELECT id, substr(name, 1, 6) AS blk,
        |    regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
        |  FROM inc),
        |adopted AS (
        |  SELECT i.id, min(r.cluster_id) AS cluster_id
        |  FROM isig i JOIN reg r ON i.blk = r.blk
        |  WHERE levenshtein(i.norm, r.norm) <= 2
        |  GROUP BY i.id),
        |resid AS (
        |  SELECT * FROM isig WHERE id NOT IN (SELECT id FROM adopted)),
        |rp AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM resid a JOIN resid b ON a.blk = b.blk AND a.id < b.id
        |  WHERE levenshtein(a.norm, b.norm) <= 2),
        |rnodes AS (
        |  SELECT DISTINCT id FROM
        |    (SELECT id_a AS id FROM rp UNION ALL SELECT id_b FROM rp)),
        |rlinks AS (
        |  SELECT id_a AS a, id_b AS b FROM rp
        |  UNION ALL SELECT id_b, id_a FROM rp),
        |rreach AS (
        |  SELECT id, id AS r FROM rnodes
        |  UNION
        |  SELECT l.b AS id, rreach.r FROM rlinks l JOIN rreach ON rreach.id = l.a),
        |rcc AS (SELECT id, min(r) AS cluster_id FROM rreach GROUP BY id),
        |fresh AS (
        |  SELECT s.id, coalesce(rcc.cluster_id, s.id) AS cluster_id
        |  FROM resid s LEFT JOIN rcc ON s.id = rcc.id)
        |SELECT id, cluster_id, 'assigned' AS src FROM adopted
        |UNION ALL
        |SELECT id, cluster_id, 'new' AS src FROM fresh""".stripMargin,

    // q240: same fixed IEEE binning sequence, same integer ppm crossing,
    // same lower-edge arithmetic — a drift in op order changes a bin edge
    // and hash-fails.
    "q240_binned_quantiles" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    least(999, greatest(0, CAST(floor(
        |      (l_extendedprice - 0.0) * 1000.0 / 100000.0) AS INTEGER))) AS bin
        |  FROM lineitem),
        |bc AS (SELECT l_returnflag, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, bin,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM bc)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
        |  min(CASE WHEN cum * 1000000 >= n * 500000
        |    THEN 0.0 + (bin * 100000.0) / 1000.0 END) AS p50,
        |  min(CASE WHEN cum * 1000000 >= n * 990000
        |    THEN 0.0 + (bin * 100000.0) / 1000.0 END) AS p99
        |FROM cum GROUP BY 1""".stripMargin,

    "q12_setops" ->
      """SELECT o_custkey AS custkey FROM (
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |   UNION
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 0""".stripMargin,

    "q13_string_math" ->
      """SELECT p_partkey, upper(substring(p_name, 1, 10)) AS name10,
        |  length(p_name) AS name_len, replace(p_brand, '#', '-') AS brand_dash,
        |  p_size % 7 AS size_mod7, CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  abs(p_size - 25) AS size_dist
        |FROM part""".stripMargin,

    "q14_datetime" ->
      """SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  dayofmonth(o_orderdate) AS dy,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
        |FROM orders""".stripMargin,

    "q15_json" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    // q130: the VARIANT extraction restated over DuckDB's JSON functions —
    // identical typed value, identical floor bucketing on the k ≥ 0 domain.
    "q130_variant_extract" ->
      """WITH kv AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, k // 10 AS k_bucket, count(*) AS cnt,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM kv GROUP BY 1, 2""".stripMargin,

    "q16_window_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q17_window_sliding" ->
      """SELECT CAST(epoch(win_start) AS BIGINT) AS win_start, count(*) AS cnt FROM (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
        |  FROM events) GROUP BY 1""".stripMargin,

    // ev truncates ns → µs exactly as the Spark reader does (see events()):
    // the strict 10-minute gap compare would otherwise run at ns precision
    // here and µs there, splitting sessions differently on a gap within
    // 1 µs of the boundary.
    "q18_session_window" ->
      """WITH ev AS (
        |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
        |  FROM events),
        |marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              < INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_sess
        |  FROM ev),
        |sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marked)
        |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
        |  count(*) AS cnt
        |FROM sessions GROUP BY user_id, sess_id""".stripMargin,

    "q60_outer_join" ->
      """WITH f AS (
        |  SELECT o_custkey, count(*) AS f_cnt,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS f_total
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
        |o AS (
        |  SELECT o_custkey, count(*) AS o_cnt
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey)
        |SELECT coalesce(f.o_custkey, o.o_custkey) AS custkey,
        |  coalesce(f_cnt, 0) AS f_cnt, coalesce(f_total, 0) AS f_total,
        |  coalesce(o_cnt, 0) AS o_cnt,
        |  CAST(f.o_custkey IS NOT NULL AND o.o_custkey IS NOT NULL AS INT) AS in_both
        |FROM f FULL JOIN o ON f.o_custkey = o.o_custkey""".stripMargin,

    "q61_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q62_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), (l_linestatus), ())""".stripMargin,

    "q63_array_funcs" ->
      """SELECT p_partkey,
        |  len(string_split(p_name, ' ')) AS n_words,
        |  array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_words,
        |  CAST(list_contains(string_split(p_name, ' '), 'green') AS INT) AS has_green,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  CAST(list_sum(list_transform(string_split(p_name, ' '),
        |    w -> length(w))) AS INT) AS sum_word_len,
        |  len(list_filter(string_split(p_name, ' '), w -> length(w) > 4)) AS n_long
        |FROM part""".stripMargin,

    "q64_range_join" ->
      """SELECT band, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN (VALUES (0, 10, 'xs'), (10, 20, 's'), (20, 35, 'm'), (35, 100, 'l'))
        |  b(lo, hi, band)
        |  ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band""".stripMargin,

    "q65_subqueries" ->
      """SELECT c_custkey, c_acctbal,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        |        (SELECT count(*) FROM customer) >
        |      (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
        |  AND c_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_regionkey <= 1)""".stripMargin,

    // q51: same union-tag carry-forward formulation as the Spark plan —
    // anchors (tag 0) sort before probes (tag 1) at equal ts, equal-time
    // anchors in id order so the carried value is the max id.
    // ev truncates ns → µs like the Spark reader (see events()): the
    // (ts, tag, aid) tie-break below must see ties exactly where Spark
    // does — two events in the same MICROSECOND are a tie, not an order.
    "q51_asof_join" ->
      """WITH ev AS (
        |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |    event_id, event_type
        |  FROM events),
        |u AS (
        |  SELECT user_id, ts, NULL AS probe_id, NULL AS probe_type,
        |    event_id AS aid, 0 AS tag
        |  FROM ev WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, event_type, NULL, 1 FROM ev),
        |w AS (
        |  SELECT *, last_value(aid IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, tag, aid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_id
        |  FROM u)
        |SELECT probe_id AS event_id, user_id, probe_type AS event_type,
        |  last_purchase_id
        |FROM w WHERE tag = 1""".stripMargin,

    // q175: q51's carry traversed in DESCENDING time — at equal ts anchors
    // still precede probes (tag asc), so the at-or-after match is inclusive
    // and equal-time anchor ties resolve to the max id, mirroring q51.
    "q175_asof_forward" ->
      """WITH ev AS (
        |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |    event_id, event_type
        |  FROM events),
        |u AS (
        |  SELECT user_id, ts, NULL AS probe_id, NULL AS probe_type,
        |    event_id AS aid, 0 AS tag
        |  FROM ev WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, event_type, NULL, 1 FROM ev),
        |w AS (
        |  SELECT *, last_value(aid IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, tag, aid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS next_purchase_id
        |  FROM u)
        |SELECT probe_id AS event_id, user_id, probe_type AS event_type,
        |  next_purchase_id
        |FROM w WHERE tag = 1""".stripMargin,

    // q160: the oracle is the ONE-SHOT join — if the four-term delta
    // algebra dropped or duplicated a term, counts or exact-decimal sums
    // diverge.
    "q160_incremental_join" ->
      """SELECT l_returnflag, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2""".stripMargin,

    // q159: q51's carry restated with a second IGNORE NULLS carry for the
    // anchor time (same window — both carries land on the same final
    // anchor row) and the exact-µs staleness gate.
    "q159_asof_tolerance" ->
      """WITH ev AS (
        |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |    event_id, event_type
        |  FROM events),
        |u AS (
        |  SELECT user_id, ts, NULL AS probe_id, event_id AS aid, 0 AS tag
        |  FROM ev WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, NULL, 1 FROM ev
        |  WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    last_value(aid IGNORE NULLS) OVER win AS la,
        |    last_value(CASE WHEN tag = 0 THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER win AS lat
        |  FROM u WINDOW win AS (
        |    PARTITION BY user_id ORDER BY ts, tag, aid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT probe_id AS event_id, user_id,
        |  CASE WHEN epoch_us(ts) - lat <= 1800000000 THEN la END
        |    AS recent_purchase_id
        |FROM w WHERE tag = 1""".stripMargin,

    "q67_analytic_windows" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_orderkey) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q148_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,

    // q187: the oracle is the WHOLE table — base 90% + refreshed 10% must
    // reconstitute it exactly.
    "q187_mv_refresh" ->
      """SELECT l_linestatus, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY 1""".stripMargin,

    // q207: each try_ null condition restated declaratively — zero
    // denominator, the rare %1000-key overflow, unparseable string.
    "q207_try_arithmetic" ->
      """WITH t AS (
        |  SELECT
        |    CASE WHEN l_quantity - 1 = 0 THEN NULL
        |         ELSE l_extendedprice / (l_quantity - 1) END AS up,
        |    CASE WHEN l_orderkey % 1000 = 0 AND l_orderkey <> 0 THEN NULL
        |         ELSE l_orderkey END AS mu,
        |    CASE WHEN l_returnflag = 'A' THEN 12 END AS ci
        |  FROM lineitem)
        |SELECT count(*) AS n_rows,
        |  count(CASE WHEN up IS NULL THEN 1 END) AS n_div_null,
        |  min(up) AS min_unit_price, max(up) AS max_unit_price,
        |  count(CASE WHEN mu IS NULL THEN 1 END) AS n_mul_null,
        |  count(ci) AS n_cast_ok
        |FROM t""".stripMargin,

    // q206: DuckDB's ordered string_agg is the same WITHIN GROUP semantic.
    "q206_listagg" ->
      """SELECT r.r_name,
        |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
        |  count(*) AS n_nations
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin,

    // q209: the per-day distinct-type truth straight off events.
    "q209_mv_distinct_types" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  count(DISTINCT event_type) AS n_types,
        |  count(*) AS n_events
        |FROM events
        |GROUP BY 1""".stripMargin,

    // q205: the month truth straight off events — the day-summary detour
    // and the f(day) re-aggregation must be invisible.
    "q205_mv_month_rollup" ->
      """SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    // q204: the same data-adaptive week window derived in SQL; the summary
    // detour and the bound conversion must be invisible in the values.
    "q204_mv_day_range" ->
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events)
        |SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE CAST(ts AS DATE) >= d0 + 2 AND CAST(ts AS DATE) < d0 + 9
        |GROUP BY 1, 2""".stripMargin,

    // q191: the oracle is the per-day truth straight off events — the
    // derived-group summary detour must be invisible in the values.
    "q191_mv_derived_day" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
        |  CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
        |FROM events WHERE event_type <> 'view'
        |GROUP BY 1, 2""".stripMargin,

    // q190: the oracle restates the POST-BATCH base (deletes removed,
    // inserts appended) — a summary that mis-merged a signed partial or
    // kept a deleted extreme hash-fails.
    "q190_mv_refresh_delete" ->
      """WITH b AS (
        |  SELECT * FROM lineitem WHERE l_orderkey % 9 <> 0
        |  UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 11 = 5)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  count(l_quantity) AS n_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM b
        |GROUP BY 1""".stripMargin,

    // q186: the oracle states the BASE-table truth — the MV summary is an
    // implementation detour the rewrite must make invisible.
    "q186_mv_rewrite" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  count(l_quantity) AS n_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY 1""".stripMargin,

    // q213: base-table averages and status mix — the avg and cnt-weighted
    // group-expression decompositions must be invisible.
    "q213_mv_avg_rollup" ->
      """SELECT l_returnflag,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_linenumber) AS avg_lines,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_f,
        |  avg(ascii(l_linestatus)) AS avg_status_code,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY 1""".stripMargin,

    // q215: the full rollup restated — the Expand-over-summary rebuild
    // must render every tier exactly as the base would.
    "q215_mv_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  avg(l_quantity) AS avg_qty,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    // q146: the same depth×width counter matrix and min-over-rows probe,
    // restated with DuckDB's md5/% — every bucket index and counter is an
    // exact integer, so the estimates agree bit-for-bit.
    // q203: the corrupted table and each rule's per-row predicate restated;
    // the violation list rebuilt as a sorted filtered array.
    "q203_quarantine" ->
      """WITH c AS (
        |  SELECT
        |    CAST(CASE WHEN o_orderkey % 31 = 0 THEN 7
        |              ELSE o_orderkey END AS BIGINT) AS o_orderkey,
        |    o_custkey,
        |    CASE WHEN o_orderkey % 23 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 19 = 0 THEN NULL
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    o_orderstatus
        |  FROM orders),
        |d AS (SELECT o_orderkey FROM c GROUP BY 1 HAVING count(*) > 1),
        |f AS (
        |  SELECT c.*,
        |    list_sort(list_filter([
        |      CASE WHEN c.o_orderkey IN (SELECT o_orderkey FROM d)
        |             OR c.o_orderkey IS NULL THEN 'unique(o_orderkey)' END,
        |      CASE WHEN o_orderpriority IS NULL
        |           THEN 'not_null(o_orderpriority)' END,
        |      CASE WHEN o_totalprice IS NOT NULL
        |             AND (o_totalprice < 0.0 OR o_totalprice > 1000000000.0)
        |           THEN 'in_range(o_totalprice)' END,
        |      CASE WHEN o_orderstatus IS NOT NULL
        |             AND o_orderstatus NOT IN ('F', 'O', 'P')
        |           THEN 'in_set(o_orderstatus)' END
        |    ], x -> x IS NOT NULL)) AS v
        |  FROM c)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_orderstatus, array_to_string(v, '|') AS violations
        |FROM f WHERE len(v) > 0""".stripMargin,

    // q202: the exact stats restated per column, the NDV through the q131
    // HLL chain (same 'hll:' domain, registers, fixed-point estimator and
    // Scala-rendered linear-counting table) over the stacked string forms.
    "q202_analyze_stats" ->
      s"""WITH v AS (
        |  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS val FROM lineitem
        |  UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
        |  UNION ALL SELECT 'l_quantity',
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_shipdate',
        |    CAST(CAST(l_shipdate AS DATE) AS VARCHAR) FROM lineitem),
        |h AS (
        |  SELECT col_name,
        |    CAST(('0x' || substr(md5('hll:' || val), 1, 15)) AS BIGINT) AS h
        |  FROM v WHERE val IS NOT NULL),
        |reg AS (
        |  SELECT col_name, h % 256 AS j,
        |    max(CASE WHEN h // 256 = 0 THEN 53
        |             ELSE 53 - length(bin(h // 256)) END) AS m_j
        |  FROM h GROUP BY col_name, h % 256),
        |agg AS (
        |  SELECT col_name,
        |    sum(1::BIGINT << CAST(53 - m_j AS INT)) AS s_present,
        |    count(*) AS present
        |  FROM reg GROUP BY col_name),
        |est AS (
        |  SELECT col_name,
        |    CAST((CAST(718273 AS HUGEINT) * 65536 * (1::HUGEINT << 53))
        |         // ((s_present + (256 - present) * (1::BIGINT << 53))::HUGEINT
        |             * 1000000) AS BIGINT) AS raw_estimate,
        |    CAST(256 - present AS BIGINT) AS zero_registers
        |  FROM agg),
        |ndv AS (
        |  SELECT col_name,
        |    CASE WHEN raw_estimate < 640 AND zero_registers > 0
        |         THEN ([${graft.operators.Sketches.HllLinearCount.mkString(",")}])
        |                [CAST(zero_registers + 1 AS INT)]
        |         ELSE raw_estimate END AS ndv_est
        |  FROM est),
        |ex AS (
        |  SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |    count(l_orderkey) AS n_nonnull,
        |    CAST(min(l_orderkey) AS VARCHAR) AS min_str,
        |    CAST(max(l_orderkey) AS VARCHAR) AS max_str FROM lineitem
        |  UNION ALL SELECT 'l_linenumber', count(*), count(l_linenumber),
        |    CAST(min(l_linenumber) AS VARCHAR),
        |    CAST(max(l_linenumber) AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', count(*), count(l_returnflag),
        |    min(l_returnflag), max(l_returnflag) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', count(*), count(l_quantity),
        |    CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR),
        |    CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_shipdate', count(*), count(l_shipdate),
        |    CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR),
        |    CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) FROM lineitem)
        |SELECT ex.col_name, n_rows, n_nonnull, ndv.ndv_est, min_str, max_str
        |FROM ex JOIN ndv USING (col_name)""".stripMargin,

    // q197: same counter matrix, per-depth dot product, min across depths;
    // HUGEINT products, rendered as strings like the Spark DECIMAL(38,0).
    "q197_cms_join_size" ->
      """WITH d AS (SELECT unnest([0, 1, 2, 3]) AS i),
        |c AS (
        |  SELECT i,
        |    CAST(('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || ':'
        |           || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM lineitem, d GROUP BY 1, 2),
        |dots AS (
        |  SELECT i, sum(cnt::HUGEINT * cnt::HUGEINT) AS dot
        |  FROM c GROUP BY 1),
        |ex AS (
        |  SELECT sum(f::HUGEINT * f::HUGEINT) AS exact_join_size FROM (
        |    SELECT count(*) AS f FROM lineitem GROUP BY l_partkey))
        |SELECT CAST(min(dot) AS VARCHAR) AS est_join_size,
        |  CAST(ex.exact_join_size AS VARCHAR) AS exact_join_size
        |FROM dots, ex GROUP BY ex.exact_join_size""".stripMargin,

    "q146_cms_freq" ->
      """WITH d AS (SELECT unnest([0, 1, 2, 3]) AS i),
        |c AS (
        |  SELECT i,
        |    CAST(('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || ':'
        |           || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM lineitem, d GROUP BY 1, 2),
        |p AS (SELECT p_partkey FROM part WHERE p_partkey <= 50),
        |pb AS (
        |  SELECT p_partkey, i,
        |    CAST(('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || ':'
        |           || CAST(p_partkey AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket
        |  FROM p, d),
        |est AS (
        |  SELECT p_partkey, min(coalesce(c.cnt, 0)) AS est_count
        |  FROM pb LEFT JOIN c USING (i, bucket) GROUP BY p_partkey),
        |ex AS (
        |  SELECT l_partkey AS p_partkey, count(*) AS exact_count
        |  FROM lineitem WHERE l_partkey <= 50 GROUP BY 1)
        |SELECT est.p_partkey, est_count,
        |  coalesce(ex.exact_count, 0) AS exact_count
        |FROM est LEFT JOIN ex USING (p_partkey)""".stripMargin,

    "q68_bloom_prune" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 4000)
        |GROUP BY o_orderpriority""".stripMargin,

    "q69_salted_skew" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  max(event_id) AS max_id
        |FROM events GROUP BY event_type""".stripMargin,

    "q73_star_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    // q210: the oracle is the plain six-table star join — the pre-joined
    // summary is an implementation detour the rewrite must make invisible.
    "q210_star_mv" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS revenue,
        |  count(*) AS n_items,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    // q212: the oracle is the POST-BATCH three-table join — the summary's
    // delta maintenance (fold + extreme repair) must be invisible.
    "q212_star_mv_refresh" ->
      """SELECT l_returnflag, o_orderpriority, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM (SELECT * FROM lineitem WHERE l_orderkey % 13 <> 0) l
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // q214: the plain three-table join's averages — the pre-joined
    // summary's Σs/Σc decomposition must be invisible.
    "q214_star_mv_avg" ->
      """SELECT c_mktsegment,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_linenumber) AS avg_lines,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // q219: the full join + ROLLUP restated — the Expand rebuilt over the
    // pre-joined summary must render every tier exactly as the join would.
    "q219_star_mv_rollup" ->
      """SELECT l_returnflag, c_mktsegment, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  avg(l_quantity) AS avg_qty,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP (l_returnflag, c_mktsegment)""".stripMargin,

    // q220: the plain two-table join — the three-table summary the rewrite
    // peeled customer out of must be invisible.
    "q220_star_mv_subjoin" ->
      """SELECT l_returnflag, o_orderpriority, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  avg(l_quantity) AS avg_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    // q221: the raw join + month rollup + day range restated — the
    // day-grain summary, the peeled orders table, and the midnight-bound
    // recovery must all be invisible in the values.
    "q221_star_mv_day" ->
      """SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
        |    AS month,
        |  l_returnflag, count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |GROUP BY 1, 2""".stripMargin,

    // q223: the registered query restated over the raw tables — the
    // derived-from-itself summary must be invisible in the values.
    "q223_star_mv_fromquery" ->
      """SELECT l_returnflag, CAST(o_orderdate AS DATE) AS day,
        |  count(*) AS n,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lines,
        |  avg(l_quantity) AS avg_qty,
        |  max(l_quantity * l_linenumber) AS max_ql
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "q226_mv_advisor" ->
      """SELECT l_returnflag, o_orderpriority,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    // q75: the map ops restated as per-group conditional aggregates.
    "q75_map_funcs" ->
      """WITH per AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY event_type) AS keys,
        |  count(*) AS n_types,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN c END), 0)
        |       AS BIGINT) AS clicks,
        |  CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent,
        |  CAST(sum(c) AS BIGINT) AS n_events,
        |  CAST(sum(c * c) AS BIGINT) AS sq_events
        |FROM per GROUP BY user_id""".stripMargin,

    "q76_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS trailing_30d,
        |  count(*) OVER w AS n_trailing
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q78_fuzzy_match" ->
      """WITH words AS (
        |  SELECT w, count(*) AS n
        |  FROM (SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
        |  GROUP BY w)
        |SELECT a.w AS w_a, b.w AS w_b,
        |  CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist,
        |  a.n AS n_a, b.n AS n_b
        |FROM words a JOIN words b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 2""".stripMargin,

    // q90: the melt restated as UNION ALL (engine-agnostic UNPIVOT); sums
    // over exact decimals, cast to double at the end like every dsum query.
    "q90_unpivot" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'quantity' AS metric,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS value FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'extendedprice',
        |         CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'discount',
        |         CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax',
        |         CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
        |SELECT l_returnflag, metric,
        |  CAST(sum(value) AS DOUBLE) AS sum_value,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM m GROUP BY l_returnflag, metric""".stripMargin,

    // q101: string_agg is DuckDB's listagg; same DISTINCT + ordering.
    "q101_agg_family" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |    AS statuses,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_totalprice > 400000) AS any_jumbo,
        |  CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // q98: same planted NULLs, same IGNORE NULLS running window; the value
    // passes through unchanged (no arithmetic), so doubles compare exact.
    "q98_forward_fill" ->
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
        |             IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events""".stripMargin,

    // q99: each rule restated as a count over the same predicate; rule
    // names must match Quality.Rule.name character-for-character.
    "q99_data_quality" ->
      """WITH t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |                   AND (o_totalprice < 0 OR o_totalprice > 200000)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |                   AND o_orderstatus NOT IN ('F', 'O', 'P')
        |             THEN 1 ELSE 0 END) AS BIGINT) AS v3
        |  FROM orders)
        |SELECT r.rule, r.violations, t.n_rows, r.violations = 0 AS pass
        |FROM t, (
        |  SELECT 'not_null(o_custkey)' AS rule, v0 AS violations FROM t
        |  UNION ALL SELECT 'unique(o_orderkey)', v1 FROM t
        |  UNION ALL SELECT 'in_range(o_totalprice)', v2 FROM t
        |  UNION ALL SELECT 'in_set(o_orderstatus)', v3 FROM t) r""".stripMargin,

    // q93: bucketing only changes the physical plan; the logical result is
    // a plain join + aggregate over the base tables.
    "q93_bucketed_join" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,

    "q166_lateral_topn" ->
      """SELECT n_name, t.c_custkey, t.c_name, t.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin,

    "q167_observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_empty,
        |  CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents""".stripMargin
  )
}
