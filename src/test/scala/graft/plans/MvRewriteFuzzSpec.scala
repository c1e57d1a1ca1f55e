package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Differential fuzz for the MV rewrite: random aggregate shapes over a
  * random base must produce IDENTICAL results with the registry populated
  * and empty — a plan-rewriting rule's failure mode is silent wrongness,
  * so the guard is breadth, not hand-picked cases. Shapes deliberately mix
  * rewritable forms (covered sums/counts/min/max/avgs over group subsets,
  * group-col filters) with non-rewritable ones (measure filters,
  * measure-expression aggregates, distinct over measures) — the rule must
  * accelerate the former and leave the latter byte-identical too.
  */
class MvRewriteFuzzSpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def snap(df: DataFrame): Set[String] =
    df.collect().map { row =>
      (0 until row.length).map { i =>
        row.get(i) match {
          case d: Double => f"$d%.9f" // avg emits doubles; pin formatting
          case other => String.valueOf(other)
        }
      }.mkString("|")
    }.toSet

  test("random aggregates: registry on vs off never changes a result") {
    val rnd = new scala.util.Random(101)
    val data = (1 to 600).map(_ => (
      s"g${rnd.nextInt(6)}", s"h${rnd.nextInt(4)}", s"i${rnd.nextInt(3)}",
      rnd.nextInt(1000) - 500, rnd.nextDouble() * 100 - 50))
    val base = tmpDir("mvfz_base")
    data.toDF("g1", "g2", "g3", "m1", "m2").write.mode("overwrite").parquet(base)
    val summary = tmpDir("mvfz_sum")

    val groupPools = Seq(Seq("g1"), Seq("g2"), Seq("g1", "g2"), Seq("g2", "g3"))
    val aggPool: Seq[Int => Column] = Seq(
      i => sum(col("m1")).as(s"a$i"),
      i => sum(col("m2")).as(s"a$i"),
      i => count(lit(1)).as(s"a$i"),
      i => count(col("m1")).as(s"a$i"),
      i => min(col("m2")).as(s"a$i"),
      i => max(col("m1")).as(s"a$i"),
      i => min(col("m1")).as(s"a$i"),
      i => max(col("m2")).as(s"a$i"),
      // group-expression aggregates — the distinct/extreme rewrites
      i => countDistinct(col("g3")).as(s"a$i"),
      i => min(upper(col("g2"))).as(s"a$i"),
      i => max(concat(col("g1"), col("g3"))).as(s"a$i"),
      i => avg(col("m1")).as(s"a$i"),
      // non-rewritable shapes — must fall through, still correct
      i => sum(col("m1") + 1).as(s"a$i"),
      i => countDistinct(col("m2")).as(s"a$i"))
    val filterPool: Seq[Option[Column]] = Seq(
      None, Some(col("g1") =!= "g0"), Some(col("g2") === "h1"),
      Some(col("g1").isin("g1", "g2", "g3")), Some(col("m1") > 0))

    def runShape(seed: Int): DataFrame = {
      val r = new scala.util.Random(seed)
      val groups = groupPools(r.nextInt(groupPools.size))
      val aggs = (0 until 1 + r.nextInt(3)).map(i =>
        aggPool(r.nextInt(aggPool.size))(i))
      val filt = filterPool(r.nextInt(filterPool.size))
      val src = filt.foldLeft(spark.read.parquet(base))(_ filter _)
      src.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }

    val shapes = (1 to 60).map(seed => seed -> snap(runShape(seed))).toMap
    MaterializedView.build(spark, base, Seq("g1", "g2", "g3"),
      Seq("m1", "m2"), summary)
    try {
      var rewrote = 0
      (1 to 60).foreach { seed =>
        val df = runShape(seed)
        val usesSummary = df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains("mvfz_sum"))
              case _ => false
            }
        }.exists(identity)
        if (usesSummary) rewrote += 1
        assert(snap(df) == shapes(seed),
          s"seed=$seed diverged (rewritten=$usesSummary)")
      }
      // the fuzz must actually exercise the rewrite, not just the fallback
      assert(rewrote >= 15, s"only $rewrote/60 shapes rewrote — pool too weak")
    } finally MaterializedView.unregister(base)
  }

  test("random aggregates over a DERIVED-day MV: registry on vs off never diverges") {
    val rnd = new scala.util.Random(211)
    val data = (1 to 500).map { _ =>
      (s"g${rnd.nextInt(5)}",
        new java.sql.Timestamp(
          // ten distinct days, random intra-day offsets
          86400000L * (20000 + rnd.nextInt(10)) + rnd.nextInt(86400000)),
        rnd.nextInt(1000) - 500)
    }
    val base = tmpDir("mvdz_base")
    data.toDF("g", "ts", "m").write.mode("overwrite").parquet(base)
    val summary = tmpDir("mvdz_sum")

    val dayCol: () => Column = () => col("ts").cast("date").as("day")
    // mix of derived-matching shapes, plain-group shapes, and shapes that
    // must fall through (finer truncation, raw ts, measure filters), each
    // grouped plainly or as ROLLUP / CUBE (served through the Expand path)
    val groupPools: Seq[(String, () => Seq[Column])] = Seq(
      "group" -> (() => Seq(col("g"), dayCol())),
      "group" -> (() => Seq(dayCol())),
      "group" -> (() => Seq(col("g"))),
      "group" -> (() => Seq(date_trunc("hour", col("ts")).as("h"))), // finer — no capture
      "group" -> (() => Seq(col("ts"))),                             // raw — no capture
      "rollup" -> (() => Seq(col("g"), dayCol())),
      "cube" -> (() => Seq(col("g"), dayCol())),
      "rollup" -> (() => Seq(dayCol())),
      "cube" -> (() => Seq(col("g"))),
      "rollup" -> (() => Seq(col("g"), col("ts"))))                  // raw — no capture
    val aggPool: Seq[Int => Column] = Seq(
      i => sum(col("m")).as(s"a$i"),
      i => count(lit(1)).as(s"a$i"),
      i => min(col("m")).as(s"a$i"),
      i => max(col("m")).as(s"a$i"),
      i => avg(col("m")).as(s"a$i"))  // decomposes to Σs/Σc
    def midnight(day: Int) = new java.sql.Timestamp(86400000L * day)
    val filterPool: Seq[Option[Column]] = Seq(
      None, Some(col("g") =!= "g0"), Some(col("m") > 0),
      // day ranges: on the derived day, and as the raw-ts midnight bounds
      // the optimizer turns a day filter into
      Some(col("ts").cast("date") >= lit(
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(20003)))),
      Some(col("ts") >= lit(midnight(20004)) && col("ts") < lit(midnight(20008))))

    def runShape(seed: Int): DataFrame = {
      val r = new scala.util.Random(seed)
      val (how, groupCols) = groupPools(r.nextInt(groupPools.size))
      val groups = groupCols()
      val aggs = (0 until 1 + r.nextInt(2)).map(i =>
        aggPool(r.nextInt(aggPool.size))(i))
      val filt = filterPool(r.nextInt(filterPool.size))
      val src = filt.foldLeft(spark.read.parquet(base))(_ filter _)
      val grouped = how match {
        case "rollup" => src.rollup(groups: _*)
        case "cube" => src.cube(groups: _*)
        case _ => src.groupBy(groups: _*)
      }
      grouped.agg(aggs.head, aggs.tail: _*)
    }

    val shapes = (1 to 50).map(seed => seed -> snap(runShape(seed))).toMap
    MaterializedView.build(spark, base, Seq("g", "day"), Seq("m"), summary,
      derivedGroups = Seq("day" -> "cast(ts as date)"))
    try {
      var rewrote = 0
      var rewroteExpand = 0
      (1 to 50).foreach { seed =>
        val df = runShape(seed)
        val plan = df.queryExecution.optimizedPlan
        val usesSummary = plan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains("mvdz_sum"))
              case _ => false
            }
        }.exists(identity)
        if (usesSummary) rewrote += 1
        if (usesSummary && plan.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Expand]))
          rewroteExpand += 1
        assert(snap(df) == shapes(seed),
          s"seed=$seed diverged (rewritten=$usesSummary)")
      }
      assert(rewrote >= 10, s"only $rewrote/50 shapes rewrote — pool too weak")
      assert(rewroteExpand >= 12,
        s"only $rewroteExpand/50 ROLLUP/CUBE shapes rewrote — pool too weak")
    } finally MaterializedView.unregister(base)
  }

  test("random rollup/cube shapes: registry on vs off never diverges") {
    val rnd = new scala.util.Random(307)
    val data = (1 to 600).map(_ => (
      s"g${rnd.nextInt(6)}", s"h${rnd.nextInt(4)}", s"i${rnd.nextInt(3)}",
      rnd.nextInt(1000) - 500, rnd.nextDouble() * 100 - 50))
    val base = tmpDir("mvxz_base")
    data.toDF("g1", "g2", "g3", "m1", "m2").write.mode("overwrite").parquet(base)
    val summary = tmpDir("mvxz_sum")

    val groupPools = Seq(Seq("g1"), Seq("g1", "g2"), Seq("g2", "g3"),
      Seq("g1", "g2", "g3"), Seq("g1", "m1")) // measure key — must fall back
    val aggPool: Seq[Int => Column] = Seq(
      i => sum(col("m1")).as(s"a$i"),
      i => sum(col("m2")).as(s"a$i"),
      i => count(lit(1)).as(s"a$i"),
      i => count(col("m2")).as(s"a$i"),
      i => min(col("m1")).as(s"a$i"),
      i => max(col("m2")).as(s"a$i"),
      i => avg(col("m1")).as(s"a$i"),
      i => countDistinct(col("g3")).as(s"a$i"),
      i => max(upper(col("g2"))).as(s"a$i"),
      i => sum(length(col("g2"))).as(s"a$i"),
      // fall-through shapes — must stay byte-identical off the base
      i => sum(col("m1") + 1).as(s"a$i"),
      i => countDistinct(col("m1")).as(s"a$i"))
    val filterPool: Seq[Option[Column]] = Seq(
      None, Some(col("g1") =!= "g0"), Some(col("g2") === "h1"),
      Some(col("m1") > 0))

    def runShape(seed: Int): DataFrame = {
      val r = new scala.util.Random(seed)
      val groups = groupPools(r.nextInt(groupPools.size))
      val aggs = (0 until 1 + r.nextInt(3)).map(i =>
        aggPool(r.nextInt(aggPool.size))(i))
      val filt = filterPool(r.nextInt(filterPool.size))
      val src = filt.foldLeft(spark.read.parquet(base))(_ filter _)
      val grouped =
        if (r.nextBoolean()) src.rollup(groups.map(col): _*)
        else src.cube(groups.map(col): _*)
      grouped.agg(aggs.head, aggs.tail: _*)
    }

    val shapes = (1 to 60).map(seed => seed -> snap(runShape(seed))).toMap
    MaterializedView.build(spark, base, Seq("g1", "g2", "g3"),
      Seq("m1", "m2"), summary)
    try {
      var rewrote = 0
      (1 to 60).foreach { seed =>
        val df = runShape(seed)
        val usesSummary = df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains("mvxz_sum"))
              case _ => false
            }
        }.exists(identity)
        if (usesSummary) rewrote += 1
        assert(snap(df) == shapes(seed),
          s"seed=$seed diverged (rewritten=$usesSummary)")
      }
      assert(rewrote >= 15, s"only $rewrote/60 shapes rewrote — pool too weak")
    } finally MaterializedView.unregister(base)
  }
}
