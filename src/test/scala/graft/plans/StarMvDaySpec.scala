package graft.plans

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Derived GROUPS on star MVs ([[StarMv.StarMvDef.derivedGroups]]): the
  * summary is keyed at `day = cast(ts as date)` grain while the fact
  * carries raw timestamps — at 100 TB the difference between a MB-scale
  * summary and a fact-sized one. Queries grouping by the day expression,
  * by hierarchies over it (month), or filtering day ranges (which the
  * optimizer rewrites into raw-ts midnight bounds BEFORE the rule runs)
  * all serve from the summary; every test compares against the
  * rewrite-disabled run and pins summary-only scanning.
  */
class StarMvDaySpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  import StarMv.{QCol, StarMvDef}

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  private val rnd = new scala.util.Random(41)
  private val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private val factRows = (1 to 500).map { i =>
    (new Timestamp(base + rnd.nextInt(40) * 86400000L +
      rnd.nextInt(86400) * 1000L),
      rnd.nextInt(6).toLong + 1, rnd.nextInt(100).toLong)
  }
  private val dimRows = (1 to 6).map(k => (k.toLong, s"s${k % 3}"))

  private def setup(tag: String): (String, String, String, StarMvDef) = {
    val (f, dm, s) = (tmpDir(s"ssd_${tag}_fact"), tmpDir(s"ssd_${tag}_dim"),
      tmpDir(s"ssd_${tag}_sum"))
    factRows.toDF("ts", "f_d", "v").write.mode("overwrite").parquet(f)
    dimRows.toDF("d_k", "seg").write.mode("overwrite").parquet(dm)
    val d = StarMv.build(spark, StarMvDef(
      tables = Seq(f, dm),
      joins = Seq((QCol(f, "f_d"), QCol(dm, "d_k"))),
      groupCols = Seq(QCol(dm, "seg")),
      measureCols = Seq(QCol(f, "v")),
      summaryPath = s,
      derivedGroups = Seq("day" -> "cast(ts as date)")))
    (f, dm, s, d)
  }

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

  test("grouping by the day expression over the join serves from the summary") {
    val (f, dm, s, _) = setup("day")
    try {
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(dm), col("f_d") === col("d_k"))
        .groupBy(col("ts").cast("date").as("day"), col("seg"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"),
          min(col("v")).as("mnv"), avg(col("v")).as("av"))
      val (on, off) = served(q, s)
      assert(on === off)
    } finally StarMv.unregister(s)
  }

  test("month hierarchy over the derived day serves from the summary") {
    val (f, dm, s, _) = setup("mon")
    try {
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(dm), col("f_d") === col("d_k"))
        .groupBy(trunc(col("ts").cast("date"), "mon").as("month"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      val (on, off) = served(q, s)
      assert(on === off)
      assert(on.size === 2) // March + the April tail
    } finally StarMv.unregister(s)
  }

  test("day-range filter (optimizer-rewritten to ts bounds) recovers and serves") {
    val (f, dm, s, _) = setup("rng")
    try {
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(dm), col("f_d") === col("d_k"))
        .filter(col("ts").cast("date") >= lit("2024-03-10") &&
          col("ts").cast("date") < lit("2024-03-20"))
        .groupBy(col("seg"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      val (on, off) = served(q, s)
      assert(on === off)
    } finally StarMv.unregister(s)
  }

  test("ROLLUP over (seg, day) — the Expand path — serves from the summary") {
    val (f, dm, s, _) = setup("roll")
    try {
      spark.read.parquet(f).createOrReplaceTempView("ssd_fact")
      spark.read.parquet(dm).createOrReplaceTempView("ssd_dim")
      def q = spark.sql(
        """SELECT seg, cast(ts AS date) AS day, sum(v) AS sv, count(*) AS n
          |FROM ssd_fact JOIN ssd_dim ON f_d = d_k
          |GROUP BY ROLLUP(seg, cast(ts AS date))""".stripMargin)
      val (on, off) = served(q, s)
      assert(on === off)
    } finally StarMv.unregister(s)
  }

  test("grouping by the raw timestamp refuses — the day grain can't serve it") {
    val (f, dm, s, _) = setup("raw")
    try {
      val q = spark.read.parquet(f)
        .join(spark.read.parquet(dm), col("f_d") === col("d_k"))
        .groupBy(col("ts"))
        .agg(sum(col("v")).as("sv"))
      assert(scanPaths(q).exists(_ != MaterializedView.normalize(s)),
        "raw-ts grouping must fall back to the base join")
    } finally StarMv.unregister(s)
  }

  test("incremental fact delta maintains the day-grain summary") {
    val (f, dm, s, d0) = setup("delta")
    var d = d0
    try {
      val ins = Seq(
        (Timestamp.valueOf("2024-03-05 10:30:00"), 2L, 7L),
        (Timestamp.valueOf("2024-04-02 23:59:59"), 5L, 13L))
        .toDF("ts", "f_d", "v")
      val del = factRows.filter(_._3 % 9 == 0).toDF("ts", "f_d", "v")
      val post = factRows.filterNot(_._3 % 9 == 0) ++ Seq(
        (Timestamp.valueOf("2024-03-05 10:30:00"), 2L, 7L),
        (Timestamp.valueOf("2024-04-02 23:59:59"), 5L, 13L))
      post.toDF("ts", "f_d", "v").write.mode("overwrite").parquet(f)
      d = StarMv.refreshTableDelta(spark, d, f, inserts = ins, deletes = del)
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(dm), col("f_d") === col("d_k"))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"),
          min(col("v")).as("mnv"), max(col("v")).as("mxv"))
      val (on, off) = served(q, d.summaryPath)
      assert(on === off)
    } finally StarMv.unregister(d.summaryPath)
  }

  test("a derived group over pure table keys builds and never matches") {
    // the tables are registry keys with nothing behind them (store
    // snapshots passed as overrides), so the derived SQL cannot be
    // analyzed: the build must still succeed, and the group never matches
    val (fk, dk) = (tmpDir("ssd_keys_fact") + "/absent",
      tmpDir("ssd_keys_dim") + "/absent")
    val fact = factRows.toDF("ts", "f_d", "v")
    val d = StarMv.build(spark, StarMvDef(
      tables = Seq(fk, dk),
      joins = Seq((QCol(fk, "f_d"), QCol(dk, "d_k"))),
      groupCols = Seq(QCol(dk, "seg")),
      measureCols = Seq(QCol(fk, "v")),
      summaryPath = tmpDir("ssd_keys_sum"),
      derivedGroups = Seq("day" -> "cast(ts as date)")),
      tableOverrides = Map(fk -> fact, dk -> dimRows.toDF("d_k", "seg")))
    val single = MaterializedView.build(spark, fk, Seq("day"), Seq("v"),
      tmpDir("ssd_keys_single"), Seq("day" -> "cast(ts as date)"),
      base = Some(fact))
    try {
      def groupForms(summaryPath: String) = StarMv.entries
        .find(_.summaryPath == summaryPath).get.forms.groups
      assert(groupForms(d.summaryPath).isEmpty)
      assert(groupForms(single.summaryPath).isEmpty)
      val totals = spark.read.parquet(d.summaryPath)
        .agg(sum(col("s_v")), sum(col("cnt"))).as[(Long, Long)].head()
      assert(totals === ((factRows.map(_._3).sum, factRows.size.toLong)))
    } finally {
      StarMv.unregister(d.summaryPath)
      MaterializedView.unregister(fk)
    }
  }
}
