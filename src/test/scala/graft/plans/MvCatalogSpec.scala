package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** [[MvCatalog]]: the registries survive a restart. save → clear (the
  * restart stand-in) → load must restore serving byte-identically for
  * both MV kinds, skip summaries whose files vanished, and round-trip
  * every field — including lossless declarations and derived groups,
  * whose loss would be a silent performance cliff (sub-join and day
  * queries would quietly pay the base join again).
  */
class MvCatalogSpec extends SparkTestBase {
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

  test("save → clear → load restores single-table and star serving") {
    // the catalog persists the WHOLE registry — start from an empty one so
    // defs leaked by sibling suites in the shared JVM can't skew counts
    MaterializedView.clear(); StarMv.clear()
    val rnd = new scala.util.Random(7)
    // single-table MV
    val base = tmpDir("mvc_base")
    (1 to 300).map(_ => (s"g${rnd.nextInt(4)}", rnd.nextInt(100)))
      .toDF("g", "m").write.mode("overwrite").parquet(base)
    val mvSum = tmpDir("mvc_sum")
    MaterializedView.build(spark, base, Seq("g"), Seq("m"), mvSum)
    // star MV with lossless + derived-group fields populated
    val f = tmpDir("mvc_fact"); val dm = tmpDir("mvc_dim")
    (1 to 300).map(_ => (rnd.nextInt(5).toLong + 1, rnd.nextInt(50).toLong))
      .toDF("f_d", "v").write.mode("overwrite").parquet(f)
    (1 to 5).map(k => (k.toLong, s"s${k % 2}")).toDF("d_k", "seg")
      .write.mode("overwrite").parquet(dm)
    val starSum = tmpDir("mvc_star_sum")
    StarMv.build(spark, StarMvDef(
      tables = Seq(f, dm),
      joins = Seq((QCol(f, "f_d"), QCol(dm, "d_k"))),
      groupCols = Seq(QCol(dm, "seg")),
      measureCols = Seq(QCol(f, "v")),
      summaryPath = starSum,
      losslessTables = Seq(dm)))
    val cat = tmpDir("mvc_cat") + "/catalog"
    try {
      MvCatalog.save(spark, cat)
      MaterializedView.clear(); StarMv.clear() // the restart
      def q1 = spark.read.parquet(base).groupBy("g")
        .agg(sum(col("m")).as("sm"))
      def q2 = spark.read.parquet(f) // bare fact: needs lossless to survive
        .groupBy().agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      assert(scanPaths(q1) == Seq(MaterializedView.normalize(base)),
        "after clear, serving must be gone")
      val (loaded, skipped) = MvCatalog.load(spark, cat)
      assert(loaded === 2 && skipped.isEmpty)
      assert(scanPaths(q1) == Seq(MaterializedView.normalize(mvSum)))
      assert(scanPaths(q2) == Seq(MaterializedView.normalize(starSum)))
      // every field round-tripped — lossless and joins included
      val d = StarMv.registered.find(_.summaryPath == starSum).get
      assert(d.losslessTables === Seq(dm))
      assert(d.joins === Seq((QCol(f, "f_d"), QCol(dm, "d_k"))))
    } finally { MaterializedView.unregister(base); StarMv.unregister(starSum) }
  }

  test("a catalog file in the older format loads, serves, and round-trips once") {
    MaterializedView.clear(); StarMv.clear()
    val rnd = new scala.util.Random(11)
    val base = tmpDir("mvc_old_base")
    (1 to 300).map(_ => (s"g${rnd.nextInt(4)}", rnd.nextInt(100)))
      .toDF("g", "m").write.mode("overwrite").parquet(base)
    val f = tmpDir("mvc_old_fact"); val dm = tmpDir("mvc_old_dim")
    (1 to 300).map(_ => (rnd.nextInt(5).toLong + 1, rnd.nextInt(50).toLong))
      .toDF("f_d", "v").write.mode("overwrite").parquet(f)
    (1 to 5).map(k => (k.toLong, s"s${k % 2}")).toDF("d_k", "seg")
      .write.mode("overwrite").parquet(dm)
    val mvSum = tmpDir("mvc_old_sum"); val starSum = tmpDir("mvc_old_star_sum")
    MaterializedView.build(spark, base, Seq("g"), Seq("m"), mvSum)
    StarMv.build(spark, StarMvDef(
      tables = Seq(f, dm),
      joins = Seq((QCol(f, "f_d"), QCol(dm, "d_k"))),
      groupCols = Seq(QCol(dm, "seg")),
      measureCols = Seq(QCol(f, "v")),
      summaryPath = starSum,
      derivedMeasures = Seq("dv" -> "v * 2")))
    MaterializedView.clear(); StarMv.clear() // the restart
    // the catalog as it was written before the shared codec: a `kind`
    // per line, and the star's derived measures under `derivedMeasures`
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    def line(kv: (String, String)*) =
      kv.map { case (k, v) => s"$k\t$v" }.mkString("\u0001")
    val cat = tmpDir("mvc_old_cat") + "/catalog"
    val text = Seq(
      line("kind" -> "mv", "base" -> enc(base), "groups" -> "g",
        "measures" -> "m", "summary" -> enc(mvSum), "derivedGroups" -> ""),
      line("kind" -> "star", "tables" -> s"${enc(f)},${enc(dm)}",
        "joins" -> s"${enc(f)}|f_d~${enc(dm)}|d_k",
        "groups" -> s"${enc(dm)}|seg", "measures" -> s"${enc(f)}|v",
        "summary" -> enc(starSum), "derivedMeasures" -> s"dv=${enc("v * 2")}",
        "lossless" -> "", "derivedGroups" -> "")).mkString("\n")
    MvCatalog.writeText(spark, cat, text)
    def q1 = spark.read.parquet(base).groupBy("g")
      .agg(sum(col("m")).as("sm"), count(lit(1)).as("n"))
    def q2 = spark.read.parquet(f)
      .join(spark.read.parquet(dm), col("f_d") === col("d_k"))
      .groupBy("seg").agg(sum(col("v") * 2).as("s2"), max(col("v")).as("mx"))
    spark.conf.set("spark.graft.mv.enabled", "false")
    val (truth1, truth2) = try
      (q1.as[(String, Long, Long)].collect().toSet,
        q2.as[(String, Long, Long)].collect().toSet)
    finally spark.conf.set("spark.graft.mv.enabled", "true")
    try {
      assert(MvCatalog.load(spark, cat) === ((2, Nil)))
      def served() = {
        assert(scanPaths(q1) == Seq(MaterializedView.normalize(mvSum)))
        assert(scanPaths(q2) == Seq(MaterializedView.normalize(starSum)))
        assert(q1.as[(String, Long, Long)].collect().toSet === truth1)
        assert(q2.as[(String, Long, Long)].collect().toSet === truth2)
      }
      served()
      val loaded = StarMv.definitions
      val resaved = tmpDir("mvc_old_cat2") + "/catalog"
      MvCatalog.save(spark, resaved)
      MaterializedView.clear(); StarMv.clear()
      assert(MvCatalog.load(spark, resaved) === ((2, Nil)))
      assert(StarMv.definitions.toSet === loaded.toSet)
      assert(StarMv.definitions.size === 2,
        "each definition is restored exactly once")
      served()
    } finally { MaterializedView.unregister(base); StarMv.unregister(starSum) }
  }

  test("load skips definitions whose summary files vanished") {
    MaterializedView.clear(); StarMv.clear()
    val rnd = new scala.util.Random(9)
    val base = tmpDir("mvc_gone_base")
    (1 to 100).map(_ => (s"g${rnd.nextInt(3)}", rnd.nextInt(10)))
      .toDF("g", "m").write.mode("overwrite").parquet(base)
    val mvSum = tmpDir("mvc_gone_sum")
    MaterializedView.build(spark, base, Seq("g"), Seq("m"), mvSum)
    val cat = tmpDir("mvc_gone_cat") + "/catalog"
    try {
      MvCatalog.save(spark, cat)
      MaterializedView.clear()
      // the summary files vanish (crashed rebuild, manual cleanup, ...)
      val p = new org.apache.hadoop.fs.Path(mvSum)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val (loaded, skipped) = MvCatalog.load(spark, cat)
      assert(loaded === 0)
      assert(skipped === Seq(mvSum))
      val q = spark.read.parquet(base).groupBy("g").agg(sum(col("m")).as("sm"))
      assert(scanPaths(q) == Seq(MaterializedView.normalize(base)),
        "a skipped def must not serve")
    } finally MaterializedView.unregister(base)
  }
}
