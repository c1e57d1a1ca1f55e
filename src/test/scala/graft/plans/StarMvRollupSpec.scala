package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** ROLLUP / CUBE / GROUPING SETS over a registered STAR
  * ([[StarMv.tryRewrite]]): the rebuilt Expand over the summary must
  * reproduce the multi-set semantics exactly — every test compares the
  * served values against the SAME query with the rewrite disabled
  * (`spark.graft.mv.enabled=false`), and pins that the served plan scans
  * ONLY the summary.
  *
  * All queries go through SQL: VANILLA Spark 4.1 rejects the Dataset-API
  * rollup/cube over a join outright (`DetectAmbiguousSelfJoin` flags the
  * grouping columns even when dataset-qualified, with no MV registered at
  * all — verified in-round), so SQL is the surface real users reach this
  * shape through.
  */
class StarMvRollupSpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  private val rnd = new scala.util.Random(23)
  private val custRows = (1 to 8).map(i => (i.toLong, s"r${i % 3}"))
  private val itemRows = (1 to 6).map(i => (i.toLong, s"cat${i % 2}"))
  private val factRows = (1 to 300).map { idx =>
    (rnd.nextInt(8).toLong + 1, rnd.nextInt(6).toLong + 1,
      rnd.nextInt(20) + 1, (100 + idx).toLong)
  }

  import StarMv.{QCol, StarMvDef}

  private def setup(tag: String): (String, String, String, String) = {
    val (f, c, i, s) = (tmpDir(s"sro_${tag}_fact"), tmpDir(s"sro_${tag}_cust"),
      tmpDir(s"sro_${tag}_item"), tmpDir(s"sro_${tag}_sum"))
    factRows.toDF("f_cust", "f_item", "f_qty", "f_price")
      .write.mode("overwrite").parquet(f)
    custRows.toDF("c_id", "c_region").write.mode("overwrite").parquet(c)
    itemRows.toDF("i_id", "i_cat").write.mode("overwrite").parquet(i)
    StarMv.build(spark, StarMvDef(
      tables = Seq(f, c, i),
      joins = Seq((QCol(f, "f_cust"), QCol(c, "c_id")),
        (QCol(f, "f_item"), QCol(i, "i_id"))),
      groupCols = Seq(QCol(c, "c_region"), QCol(i, "i_cat")),
      measureCols = Seq(QCol(f, "f_qty")),
      summaryPath = s,
      derivedMeasures = Seq("rev" -> "f_qty * f_price")))
    (f, c, i, s)
  }

  private def views(f: String, c: String, i: String): Unit = {
    spark.read.parquet(f).createOrReplaceTempView("sro_fact")
    spark.read.parquet(c).createOrReplaceTempView("sro_cust")
    spark.read.parquet(i).createOrReplaceTempView("sro_item")
  }

  /** rows with the rewrite ON (must scan only the summary) vs OFF. */
  private def served(q: => DataFrame, summary: String): (Set[String], Set[String]) = {
    val on = q
    val paths = scanPaths(on)
    assert(paths == Seq(MaterializedView.normalize(summary)),
      s"must scan ONLY the summary: $paths")
    val onRows = on.collect().map(_.toString).toSet
    spark.conf.set("spark.graft.mv.enabled", "false")
    val offRows = try q.collect().map(_.toString).toSet
      finally spark.conf.set("spark.graft.mv.enabled", "true")
    (onRows, offRows)
  }

  test("ROLLUP over the star serves from the summary, all aggregate kinds") {
    val (f, c, i, s) = setup("rollup")
    try {
      views(f, c, i)
      def q = spark.sql(
        """SELECT c_region, i_cat, count(*) AS n, sum(f_qty) AS sq,
          |  min(f_qty) AS mnq, max(f_qty) AS mxq, avg(f_qty) AS aq,
          |  sum(f_qty * f_price) AS srev
          |FROM sro_fact JOIN sro_cust ON f_cust = c_id
          |              JOIN sro_item ON f_item = i_id
          |GROUP BY ROLLUP(c_region, i_cat)""".stripMargin)
      val (on, off) = served(q, s)
      assert(on === off)
      assert(on.size === 3 * 2 + 3 + 1) // cells + region subtotals + grand total
    } finally StarMv.unregister(s)
  }

  test("CUBE and grouping_id over the star serve from the summary") {
    val (f, c, i, s) = setup("cube")
    try {
      views(f, c, i)
      def q = spark.sql(
        """SELECT c_region, i_cat, grouping(c_region) AS gr,
          |  grouping(i_cat) AS gi, count(*) AS n, sum(f_qty) AS sq
          |FROM sro_fact JOIN sro_cust ON f_cust = c_id
          |              JOIN sro_item ON f_item = i_id
          |GROUP BY CUBE(c_region, i_cat)""".stripMargin)
      val (on, off) = served(q, s)
      assert(on === off)
    } finally StarMv.unregister(s)
  }

  test("GROUPING SETS via SQL with HAVING and a group filter serve from the summary") {
    val (f, c, i, s) = setup("gsets")
    try {
      views(f, c, i)
      def q = spark.sql(
        """SELECT c_region, i_cat, sum(f_qty) AS sq, count(*) AS n
          |FROM sro_fact JOIN sro_cust ON f_cust = c_id
          |              JOIN sro_item ON f_item = i_id
          |WHERE i_cat = 'cat1'
          |GROUP BY GROUPING SETS ((c_region, i_cat), (c_region), ())
          |HAVING sum(f_qty) > 0""".stripMargin)
      val (on, off) = served(q, s)
      assert(on === off)
    } finally StarMv.unregister(s)
  }

  test("refusals: non-group rollup column and outer join fall back to the base") {
    val (f, c, i, s) = setup("refuse")
    try {
      views(f, c, i)
      // f_price is not a group column — the Expand can't rebind it
      val q1 = spark.sql(
        """SELECT c_region, f_price, count(*) AS n
          |FROM sro_fact JOIN sro_cust ON f_cust = c_id
          |              JOIN sro_item ON f_item = i_id
          |GROUP BY ROLLUP(c_region, f_price)""".stripMargin)
      assert(scanPaths(q1).exists(_ != MaterializedView.normalize(s)),
        "non-group rollup key must fall back to the base join")
      // outer join below the rollup — flatten refuses
      val q2 = spark.sql(
        """SELECT c_region, i_cat, count(*) AS n
          |FROM sro_fact LEFT JOIN sro_cust ON f_cust = c_id
          |              JOIN sro_item ON f_item = i_id
          |GROUP BY ROLLUP(c_region, i_cat)""".stripMargin)
      assert(scanPaths(q2).exists(_ != MaterializedView.normalize(s)))
    } finally StarMv.unregister(s)
  }

  test("maintained star also serves rollups over live snapshots") {
    // the Expand path composes with dir-set leaf matching: rollup a join
    // of LIVE store snapshots through a StarMvMaintainer-synced summary
    import graft.model.TableSpec
    import graft.operators.CompactedBatch
    import graft.sources.ParquetTableStore
    import org.apache.spark.sql.types._
    val factStore = new ParquetTableStore(spark, tmpDir("sro_live_fs"),
      TableSpec("public.sro_f", StructType(Seq(StructField("o", LongType),
        StructField("fc", LongType), StructField("v", LongType))), Seq("o")),
      4, retainedVersions = 2)
    val dimStore = new ParquetTableStore(spark, tmpDir("sro_live_ds"),
      TableSpec("public.sro_d", StructType(Seq(StructField("dc", LongType),
        StructField("seg", StringType))), Seq("dc")), 4, retainedVersions = 2)
    factStore.init((1L to 100L).map(o => (o, 1L + o % 10, o % 7))
      .toDF("o", "fc", "v"))
    dimStore.init((1L to 10L).map(c => (c, s"s${c % 3}")).toDF("dc", "seg"))
    val factKey = tmpDir("sro_live_fkey")
    val dimKey = tmpDir("sro_live_dkey")
    val mv = StarMv.build(spark, StarMvDef(
      tables = Seq(factKey, dimKey),
      joins = Seq((QCol(factKey, "fc"), QCol(dimKey, "dc"))),
      groupCols = Seq(QCol(dimKey, "seg")),
      measureCols = Seq(QCol(factKey, "v")),
      summaryPath = tmpDir("sro_live_sum")),
      tableOverrides = Map(factKey -> factStore.snapshot(),
        dimKey -> dimStore.snapshot()))
    val m = StarMvMaintainer.create(spark,
      Map(factKey -> factStore, dimKey -> dimStore), mv,
      tmpDir("sro_live_state") + "/s")
    try {
      factStore.merge(CompactedBatch(Seq(3L).toDF("o"),
        Seq((101L, 2L, 5L)).toDF("o", "fc", "v")))
      m.sync()
      def q = {
        factStore.snapshot().createOrReplaceTempView("sro_live_fact")
        dimStore.snapshot().createOrReplaceTempView("sro_live_dim")
        spark.sql(
          """SELECT seg, sum(v) AS sv, count(*) AS n
            |FROM sro_live_fact JOIN sro_live_dim ON fc = dc
            |GROUP BY ROLLUP(seg)""".stripMargin)
      }
      val (on, off) = served(q, m.definition.summaryPath)
      assert(on === off)
    } finally StarMv.unregister(m.definition.summaryPath)
  }
}
