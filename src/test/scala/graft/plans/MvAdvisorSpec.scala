package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Workload-driven MV recommendation ([[MvAdvisor]]): a log of rollup
  * queries over two join trees collapses to ≤2 union-grain candidates,
  * ranked by savings × hits; accepting the top one turns its whole query
  * family into summary scans with unchanged values.
  */
class MvAdvisorSpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  test("advisor proposes ≤2 union-grain summaries; the accepted one serves the family") {
    val fact = tmpDir("adv_fact")
    val dim = tmpDir("adv_dim")
    val dim2 = tmpDir("adv_dim2")
    (1L to 400L).map(i => (i, 1L + i % 20, 1L + i % 6, i % 100))
      .toDF("o_id", "f_cust", "f_reg", "v").write.mode("overwrite").parquet(fact)
    (1L to 20L).map(c => (c, s"s${c % 5}"))
      .toDF("c_cust", "seg").write.mode("overwrite").parquet(dim)
    (1L to 6L).map(r => (r, s"r${r % 3}"))
      .toDF("r_id", "reg").write.mode("overwrite").parquet(dim2)

    def fd = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
    // defs, not vals: a DataFrame caches its queryExecution, and the
    // serving assertions below need plans optimized AFTER the build
    // the q73/q210/q219/q221-style family: one join tree, three grains
    def w0 = fd.groupBy("seg").agg(sum(col("v")).as("s"))
    def w1 = fd.groupBy("seg", "c_cust")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    def w2 = fd.groupBy("seg").agg(max(col("v")).as("mx"))
    // a second join tree (one hit)
    def w3 = spark.read.parquet(fact)
      .join(spark.read.parquet(dim2), col("f_reg") === col("r_id"))
      .groupBy("reg").agg(sum(col("v")).as("s"))
    // unservable shapes must be SKIPPED, not fatal
    def w4 = fd.filter(col("v") > 50L).groupBy("seg").agg(sum(col("v")).as("s"))

    val recs = MvAdvisor.advise(spark, Seq(w0, w1, w2, w3, w4), k = 2)
    assert(recs.size === 2, s"expected 2 candidates, got ${recs.size}")
    val top = recs.head
    assert(top.hits === 3 && top.queryIdx === Seq(0, 1, 2),
      s"the 3-query family must rank first: $top")
    // union grain: seg ∪ (seg, c_cust) = both; measures = v (sum/max/count ride)
    assert(top.definition.groupCols.map(_.name).toSet === Set("seg", "c_cust"))
    assert(top.definition.measureCols.map(_.name) === Seq("v"))
    assert(top.estSummaryRows <= 40L, s"~20 (seg,cust) pairs: $top")
    assert(top.baseRows === Some(420L))
    assert(recs(1).hits === 1 && recs(1).queryIdx === Seq(3))

    // accept the top recommendation → the whole family serves from it
    val d = top.buildAs(spark, tmpDir("adv_sum"))
    try {
      val truthOff = { // rewrite off = ground truth
        spark.conf.set("spark.graft.mv.enabled", "false")
        val t = (w0.as[(String, Long)].collect().toSet,
          w1.as[(String, Long, Long, Long)].collect().toSet,
          w2.as[(String, Long)].collect().toSet)
        spark.conf.set("spark.graft.mv.enabled", "true")
        t
      }
      for (q <- Seq(w0, w1, w2)) {
        val paths = scanPaths(q)
        assert(paths.nonEmpty && paths.forall(_.contains("adv_sum")),
          s"family member must serve from the summary: $paths")
      }
      assert(w0.as[(String, Long)].collect().toSet === truthOff._1)
      assert(w1.as[(String, Long, Long, Long)].collect().toSet === truthOff._2)
      assert(w2.as[(String, Long)].collect().toSet === truthOff._3)
      // the other tree still runs live (its candidate was not accepted)
      assert(!scanPaths(w3).forall(_.contains("adv_sum")))
    } finally StarMv.unregister(d.summaryPath)
  }

  test("adviseSql: an SQL-text log advises like the DataFrame form; bad statements keep indices") {
    val fact = tmpDir("advs_fact")
    val dim = tmpDir("advs_dim")
    (1L to 300L).map(i => (i, 1L + i % 10, i % 50))
      .toDF("o_id", "f_cust", "v").write.mode("overwrite").parquet(fact)
    (1L to 10L).map(c => (c, s"s${c % 3}"))
      .toDF("c_cust", "seg").write.mode("overwrite").parquet(dim)
    val from = s"FROM parquet.`$fact` JOIN parquet.`$dim` ON f_cust = c_cust"
    // DML/DDL probes: a real statement history contains these, and the
    // advisor must ANALYZE the log without executing any of it — the old
    // spark.sql-first form would have appended 300 rows to the fact and
    // dropped the view as side effects of "reading" the history
    spark.range(3).toDF("x").createOrReplaceTempView("advs_probe")
    val log = Seq(
      "THIS IS NOT SQL AT ALL (",                     // parse failure — skipped
      s"SELECT seg, sum(v) AS s $from GROUP BY seg",
      s"INSERT INTO parquet.`$fact` SELECT o_id, f_cust, v FROM parquet.`$fact`",
      "DROP VIEW advs_probe",
      s"SELECT seg, c_cust, max(v) AS mx $from GROUP BY seg, c_cust",
      s"SELECT seg, sum(v) AS s $from WHERE v > 10 GROUP BY seg") // unservable
    val recs = MvAdvisor.adviseSql(spark, log, k = 1)
    assert(recs.size === 1)
    assert(recs.head.hits === 2 && recs.head.queryIdx === Seq(1, 4),
      s"indices must point into the ORIGINAL log: ${recs.head}")
    assert(recs.head.definition.groupCols.map(_.name).toSet ===
      Set("seg", "c_cust"))
    assert(spark.read.parquet(fact).count() === 300L,
      "advising over an INSERT statement must not execute it")
    assert(spark.catalog.tableExists("advs_probe"),
      "advising over a DROP statement must not execute it")
    spark.catalog.dropTempView("advs_probe")
  }

  test("subtraction: an accepted workload advises empty; a new tree still recommends") {
    val fact = tmpDir("advsub_fact")
    val dim = tmpDir("advsub_dim")
    val dim2 = tmpDir("advsub_dim2")
    (1L to 400L).map(i => (i, 1L + i % 20, 1L + i % 6, i % 100))
      .toDF("o_id", "f_cust", "f_reg", "v").write.mode("overwrite").parquet(fact)
    (1L to 20L).map(c => (c, s"s${c % 5}"))
      .toDF("c_cust", "seg").write.mode("overwrite").parquet(dim)
    (1L to 6L).map(r => (r, s"r${r % 3}"))
      .toDF("r_id", "reg").write.mode("overwrite").parquet(dim2)
    def fd = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
    def w0 = fd.groupBy("seg").agg(sum(col("v")).as("s"))
    def w1 = fd.groupBy("seg", "c_cust").agg(max(col("v")).as("mx"))
    val recs = MvAdvisor.advise(spark, Seq(w0, w1), k = 2)
    assert(recs.size === 1)
    val d = recs.head.buildAs(spark, tmpDir("advsub_sum"))
    try {
      // plan-scan subtraction: the members now serve from the summary
      assert(MvAdvisor.advise(spark, Seq(w0, w1), k = 2).isEmpty,
        "served members must not be re-recommended")
      // a COARSER sibling of the served family is covered structurally
      // (grain subsumption) even though its literal plan also serves
      def w2 = fd.groupBy("c_cust").agg(sum(col("v")).as("s"))
      assert(MvAdvisor.advise(spark, Seq(w2), k = 2).isEmpty)
      // an unrelated join tree in the same log still recommends
      def w3 = spark.read.parquet(fact)
        .join(spark.read.parquet(dim2), col("f_reg") === col("r_id"))
        .groupBy("reg").agg(sum(col("v")).as("s"))
      val again = MvAdvisor.advise(spark, Seq(w0, w3), k = 2)
      assert(again.size === 1 && again.head.queryIdx === Seq(1),
        s"only the new tree recommends: $again")
      // with serving switched off (as for a maintained MV between a merge
      // and its sync) no member's plan scans a summary, so only the
      // structural subtraction can tell the family is covered — for a
      // covering single-table MV exactly as for a covering star
      def w5 = spark.read.parquet(fact).groupBy("f_reg")
        .agg(sum(col("v")).as("s"))
      assert(MvAdvisor.advise(spark, Seq(w5), k = 2).size === 1,
        "an uncovered single-table family recommends")
      MaterializedView.build(spark, fact, Seq("f_reg"), Seq("v"),
        tmpDir("advsub_single_sum"))
      spark.conf.set("spark.graft.mv.enabled", "false")
      try {
        assert(MvAdvisor.advise(spark, Seq(w0, w1), k = 2).isEmpty,
          "a covering star is subtracted while serving is off")
        assert(MvAdvisor.advise(spark, Seq(w5), k = 2).isEmpty,
          "a covering single-table MV is subtracted while serving is off")
      } finally spark.conf.set("spark.graft.mv.enabled", "true")
    } finally {
      StarMv.unregister(d.summaryPath)
      MaterializedView.unregister(fact)
    }
  }

  test("estimation tiers: registered NDVs price a candidate with no fact probe") {
    val fact = tmpDir("advt_fact")
    val dim = tmpDir("advt_dim")
    (1L to 500L).map(i => (i, 1L + i % 25, i % 100))
      .toDF("o_id", "f_cust", "v").write.mode("overwrite").parquet(fact)
    (1L to 25L).map(c => (c, s"s${c % 5}"))
      .toDF("c_cust", "seg").write.mode("overwrite").parquet(dim)
    def w = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
      .groupBy("seg").agg(sum(col("v")).as("s"))
    // no stats: the small-table fallback is the full ACD probe
    MvAdvisor.lastEstimateTier = ""
    val base = MvAdvisor.advise(spark, Seq(w), k = 1)
    assert(MvAdvisor.lastEstimateTier === "acd")
    assert(base.size === 1)
    // registered NDVs: the product bound passes the shrink gate, so the
    // advisor never touches the data — and the recommendation is the same
    MvCost.registerColumnNdv(dim, Map("seg" -> 5L, "c_cust" -> 25L))
    try {
      MvAdvisor.lastEstimateTier = ""
      val stats = MvAdvisor.advise(spark, Seq(w), k = 1)
      assert(MvAdvisor.lastEstimateTier === "stats",
        s"tier was ${MvAdvisor.lastEstimateTier}")
      assert(stats.size === 1)
      assert(stats.head.estSummaryRows === 5L) // the seg NDV bound, exact here
      assert(stats.head.definition.groupCols.map(_.name) ===
        base.head.definition.groupCols.map(_.name))
      assert(stats.head.definition.measureCols.map(_.name) ===
        base.head.definition.measureCols.map(_.name))
      // a derived group bounds through its referenced column's NDV
      def wd = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
        .groupBy(substring(col("seg"), 1, 1).as("s1"))
        .agg(sum(col("v")).as("s"))
      MvAdvisor.lastEstimateTier = ""
      assert(MvAdvisor.advise(spark, Seq(wd), k = 1).size === 1)
      assert(MvAdvisor.lastEstimateTier === "stats")
    } finally MvCost.unregisterColumnNdv(dim)
  }

  test("estimation tiers: the sampled Chao probe reads a pinned row budget") {
    val fact = tmpDir("advt2_fact")
    val dim = tmpDir("advt2_dim")
    (1L to 4000L).map(i => (i, 1L + i % 40, i % 100))
      .toDF("o_id", "f_cust", "v").write.mode("overwrite").parquet(fact)
    (1L to 40L).map(c => (c, s"s${c % 8}"))
      .toDF("c_cust", "seg").write.mode("overwrite").parquet(dim)
    def w = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
      .groupBy("seg", "c_cust").agg(sum(col("v")).as("s"))
    // force the sample tier: target 500 rows, fact 4000 > 4×500
    spark.conf.set("spark.graft.advisor.sampleRows", "500")
    try {
      MvAdvisor.lastEstimateTier = ""
      val recs = MvAdvisor.advise(spark, Seq(w), k = 1)
      assert(MvAdvisor.lastEstimateTier === "sample",
        s"tier was ${MvAdvisor.lastEstimateTier}")
      assert(recs.size === 1, "the 40-key rollup must still recommend")
      // every key repeats ~12× even in the 500-row sample, so Chao sits
      // at (or within noise of) the true 40 — and far from fact grain
      assert(recs.head.estSummaryRows >= 30L &&
        recs.head.estSummaryRows <= 80L,
        s"Chao estimate off: ${recs.head.estSummaryRows}")
    } finally spark.conf.unset("spark.graft.advisor.sampleRows")
  }

  test("advisor refuses a near-fact-grain family (no shrink, no recommendation)") {
    val fact = tmpDir("adv2_fact")
    val dim = tmpDir("adv2_dim")
    (1L to 300L).map(i => (i, 1L + i % 300, i % 9))
      .toDF("o_id", "f_cust", "v").write.mode("overwrite").parquet(fact)
    (1L to 300L).map(c => (c, s"u$c"))
      .toDF("c_cust", "uniq").write.mode("overwrite").parquet(dim)
    // grouped by a per-row-unique dim column: summary ≈ base, no savings
    val w = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
      .groupBy("uniq").agg(sum(col("v")).as("s"))
    assert(MvAdvisor.advise(spark, Seq(w, w)).isEmpty,
      "a summary the size of the base must not be recommended")
  }

  test("adviseDrop: unserved-but-maintained drops, still-hit keeps, maintenance-dominated drops") {
    MvUsage.reset()
    val mk = (n: String, rows: Long, card: Long) => {
      val p = tmpDir(s"advd_$n")
      (1L to rows).map(i => (i % card, i % 100))
        .toDF("g", "v").write.mode("overwrite").parquet(p)
      p
    }
    val baseA = mk("a", 400L, 10L) // serves a live workload
    val baseB = mk("b", 400L, 10L) // maintained, never queried
    val baseC = mk("c", 100L, 50L) // hit once, but maintenance dominates
    val sumOf = (b: String) => b + "_sum"
    try {
      MaterializedView.build(spark, baseA, Seq("g"), Seq("v"), sumOf(baseA))
      MaterializedView.build(spark, baseB, Seq("g"), Seq("v"), sumOf(baseB))
      MaterializedView.build(spark, baseC, Seq("g"), Seq("v"), sumOf(baseC))
      // one maintenance wave on A and B, three on C
      val delta = Seq((1L, 7L)).toDF("g", "v")
      MaterializedView.refresh(spark, baseA, delta)
      MaterializedView.refresh(spark, baseB, delta)
      (1 to 3).foreach(_ => MaterializedView.refresh(spark, baseC, delta))
      def q(b: String) = spark.read.parquet(b)
        .groupBy("g").agg(sum(col("v")).as("s"))
      val workload = Seq(q(baseA), q(baseA), q(baseC))
      // sanity: the workload really serves from the summaries
      assert(scanPaths(workload.head).exists(_.contains("_sum")))
      val advs = MvAdvisor.adviseDrop(spark, workload)
        .map(a => MvUsage.key(a.summaryPath) -> a).toMap
      val (aK, bK, cK) = (MvUsage.key(sumOf(baseA)),
        MvUsage.key(sumOf(baseB)), MvUsage.key(sumOf(baseC)))
      assert(advs(aK).hits == 2 && advs(aK).maintEvents == 1 && !advs(aK).drop,
        s"still-hit summary must keep: ${advs(aK)}")
      assert(advs(bK).hits == 0 && advs(bK).maintEvents == 1 && advs(bK).drop,
        s"unserved maintained summary must drop: ${advs(bK)}")
      // C: base 100 rows, summary 50; benefit = 1×(100−50)=50 <
      // cost = 3×50=150 — served, but not worth its maintenance
      assert(advs(cK).hits == 1 && advs(cK).maintEvents == 3 && advs(cK).drop,
        s"maintenance-dominated summary must drop: ${advs(cK)}")
    } finally {
      Seq(baseA, baseB, baseC).foreach(MaterializedView.unregister)
      MvUsage.reset()
    }
  }

  test("MvUsage persists across a process restart; versions accumulate; reset deletes the window") {
    MvUsage.reset()
    val dir = tmpDir("usage")
    val v3 = s"$dir/lake_sum_v3"
    try {
      MvUsage.recordServe(v3)
      MvUsage.recordServe(v3)
      MvUsage.recordMaintenance(v3)
      assert(MvUsage.usageOf(v3) == MvUsage.Usage(2, 1))
      // simulated process restart: in-memory window gone, file remains
      MvUsage.dropInMemoryWindow()
      assert(MvUsage.usageOf(v3) == MvUsage.Usage(2, 1),
        "the persisted window must survive a restart")
      // a later VERSION of the same summary accumulates onto one identity
      MvUsage.recordServe(s"$dir/lake_sum_v4")
      assert(MvUsage.usageOf(v3) == MvUsage.Usage(3, 1))
      // and the accumulated state is itself durable
      MvUsage.dropInMemoryWindow()
      assert(MvUsage.usageOf(v3) == MvUsage.Usage(3, 1))
      // reset ends the observation window on disk too
      MvUsage.reset()
      MvUsage.dropInMemoryWindow()
      assert(MvUsage.usageOf(v3) == MvUsage.Usage(0, 0),
        "reset must delete the persisted window")
    } finally MvUsage.reset()
  }
}
