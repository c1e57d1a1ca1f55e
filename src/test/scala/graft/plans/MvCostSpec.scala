package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Cost-based MV serving ([[MvCost]]): with several servable summaries
  * the rule picks the SMALLEST; a summary no smaller than the base scan
  * refuses and the query runs the base — both visible in the plan's scan
  * paths, both value-preserving, and both driven by row counts whose
  * source tiers (registered ANALYZE stats > parquet footers > unknown)
  * are checked here too.
  */
class MvCostSpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  test("two overlapping star MVs: the cheaper (coarser) summary serves") {
    val fact = tmpDir("cost_fact")
    val dim = tmpDir("cost_dim")
    (1L to 400L).map(i => (i, 1L + i % 20, i % 100))
      .toDF("o_id", "f_cust", "v").write.mode("overwrite").parquet(fact)
    (1L to 20L).map(c => (c, s"s${c % 4}", s"r${c % 2}"))
      .toDF("c_cust", "seg", "reg").write.mode("overwrite").parquet(dim)
    import StarMv.{QCol, StarMvDef}
    val joins = Seq((QCol(fact, "f_cust"), QCol(dim, "c_cust")))
    // register the FINE def first — registration order must not win
    val fine = StarMv.build(spark, StarMvDef(
      tables = Seq(fact, dim), joins = joins,
      groupCols = Seq(QCol(dim, "seg"), QCol(dim, "c_cust")),
      measureCols = Seq(QCol(fact, "v")),
      summaryPath = tmpDir("cost_fine")))
    val coarse = StarMv.build(spark, StarMvDef(
      tables = Seq(fact, dim), joins = joins,
      groupCols = Seq(QCol(dim, "seg")),
      measureCols = Seq(QCol(fact, "v")),
      summaryPath = tmpDir("cost_coarse")))
    try {
      val q = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
        .groupBy("seg").agg(sum(col("v")).as("s"))
      val paths = scanPaths(q)
      assert(paths.nonEmpty && paths.forall(_.contains("cost_coarse")),
        s"must pick the smaller summary, scanned: $paths")
      // truth: rewrite off
      spark.conf.set("spark.graft.mv.enabled", "false")
      val want = q.as[(String, Long)].collect().toSet
      spark.conf.set("spark.graft.mv.enabled", "true")
      assert(q.as[(String, Long)].collect().toSet === want)
      // a query the coarse def CANNOT serve (groups by c_cust) still
      // lands on the fine one — cost ordering never refuses servability
      val q2 = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("f_cust") === col("c_cust"))
        .groupBy("seg", "c_cust").agg(sum(col("v")).as("s"))
      assert(scanPaths(q2).forall(_.contains("cost_fine")),
        s"coarse cannot serve per-cust groups: ${scanPaths(q2)}")
    } finally {
      StarMv.unregister(fine.summaryPath)
      StarMv.unregister(coarse.summaryPath)
    }
  }

  test("refusal: a summary as big as the base falls back to the base scan") {
    val base = tmpDir("cost_base")
    (1L to 300L).map(i => (i, i % 7)).toDF("id", "v")
      .write.mode("overwrite").parquet(base)
    // grouped by the unique key: 300 summary rows over a 300-row base
    val mv = MaterializedView.build(spark, base, Seq("id"), Seq("v"),
      tmpDir("cost_useless"))
    try {
      // fresh plan per probe: a DataFrame caches its queryExecution
      def q = spark.read.parquet(base).groupBy("id").agg(sum(col("v")).as("s"))
      assert(scanPaths(q).forall(_.contains("cost_base")),
        s"a base-sized summary must refuse serving: ${scanPaths(q)}")
      // a worthwhile sibling on the same base still serves after re-build
      MaterializedView.unregister(base)
      val mv2 = MaterializedView.build(spark, base, Seq("v"), Nil,
        tmpDir("cost_small"))
      val q2 = spark.read.parquet(base).groupBy("v").agg(count(lit(1)).as("n"))
      assert(scanPaths(q2).forall(_.contains("cost_small")))
      assert(q2.as[(Long, Long)].collect().toMap ===
        (1L to 300L).groupBy(_ % 7).map { case (g, xs) => g -> xs.size.toLong })
    } finally MaterializedView.unregister(base)
  }

  test("size tiers: registered stats beat footers; eviction on re-register") {
    val p = tmpDir("cost_tier")
    (1L to 50L).map(i => (i, i % 3)).toDF("id", "v")
      .write.mode("overwrite").parquet(p)
    // footer tier: exact rows, real on-disk bytes
    val probed = MvCost.footerSize(spark, Seq(p))
    assert(probed.rows === Some(50L))
    assert(probed.bytes.exists(_ > 0L))
    assert(MvCost.leafSize(spark, p, Seq(p)).rows === Some(50L))
    // registered tier wins without touching the files
    MvCost.registerRowCount(p, 999L)
    try assert(MvCost.leafSize(spark, p, Seq(p)).rows === Some(999L))
    finally MvCost.unregisterRowCount(p)
    assert(MvCost.leafSize(spark, p, Seq(p)).rows === Some(50L))
    // a missing path is unknown, not an error — and the not-found probe
    // is cached (second call hits the cache, same answer)
    assert(MvCost.leafSize(spark, p + "_nope", Seq(p + "_nope")).rows.isEmpty)
    assert(MvCost.leafSize(spark, p + "_nope", Seq(p + "_nope")).rows.isEmpty)
    // an IN-PLACE overwrite re-probes instead of serving the stale cached
    // count. No sleep needed: the cache key folds in file count + summed
    // lengths alongside mtime, so even an overwrite landing inside one
    // mtime tick (1 s on ext3/HFS+) misses — 80 rows have a different
    // byte total than 50
    (1L to 80L).map(i => (i, i % 3)).toDF("id", "v")
      .write.mode("overwrite").parquet(p)
    assert(MvCost.footerSize(spark, Seq(p)).rows === Some(80L))
  }

  test("byte tier: a row-count-smaller but byte-larger summary refuses") {
    val base = tmpDir("cost_bytes_base")
    // narrow base: 2 small columns, 4000 rows
    (1L to 4000L).map(i => (i % 40, i % 5)).toDF("g", "v")
      .write.mode("overwrite").parquet(base)
    val mv = MaterializedView.build(spark, base, Seq("g"), Seq("v"),
      tmpDir("cost_bytes_sum"))
    try {
      // fewer rows than the base but far wider on disk: register a byte
      // size above the tier's 1 MiB engagement floor and above the base
      // (the deployment's ANALYZE would supply real numbers)
      MvCost.registerRowCount(mv.summaryPath, 40L, Some(8L << 20))
      def q = spark.read.parquet(base).groupBy("g").agg(sum(col("v")).as("s"))
      assert(scanPaths(q).forall(_.contains("cost_bytes_base")),
        s"byte-larger summary must refuse: ${scanPaths(q)}")
      // drop the byte claim → row tier decides again and the summary serves
      MvCost.registerRowCount(mv.summaryPath, 40L)
      assert(scanPaths(q).forall(_.contains("cost_bytes_sum")),
        s"row tier should serve the 40-row summary: ${scanPaths(q)}")
    } finally MaterializedView.unregister(base)
  }
}
