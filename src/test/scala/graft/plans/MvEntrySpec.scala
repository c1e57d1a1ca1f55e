package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.plans.StarMv.{QCol, StarMvDef}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The MV registry entry ([[StarMv.Entry]]): each registered definition
  * carries its summary's schema and its derived forms, so serving plans a
  * rollup without a Spark job, a refresh records the schema it wrote, and
  * a summary whose schema cannot be read is never served.
  */
class MvEntrySpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  private def entryAt(summaryPath: String): StarMv.Entry =
    StarMv.entries.find(_.summaryPath == summaryPath).get

  /** Spark jobs started while `body` runs. Listener delivery is async but
    * ordered, so a marked job run after `body` flushes every job before it.
    */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("mv.entry.flush") != null))
          flushed.countDown()
        else { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("mv.entry.flush", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("mv.entry.flush", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("optimizing a served rollup launches no Spark job, plain or ROLLUP/CUBE") {
    val fact = tmpDir("mve_fact")
    val dim = tmpDir("mve_dim")
    (1 to 60).map(i => (i % 5, i % 3, i.toLong)).toDF("f_d", "f_g", "v")
      .write.mode("overwrite").parquet(fact)
    (0 until 5).map(k => (k, s"s${k % 2}")).toDF("d_k", "seg")
      .write.mode("overwrite").parquet(dim)
    val single = MaterializedView.build(spark, fact, Seq("f_d", "f_g"),
      Seq("v"), tmpDir("mve_single"))
    val star = StarMv.build(spark, StarMvDef(
      tables = Seq(fact, dim),
      joins = Seq((QCol(fact, "f_d"), QCol(dim, "d_k"))),
      groupCols = Seq(QCol(dim, "seg"), QCol(fact, "f_g")),
      measureCols = Seq(QCol(fact, "v")),
      summaryPath = tmpDir("mve_star")))
    try {
      // the DataFrames are built first: reading a base infers ITS schema.
      // The cube goes through SQL: the Dataset API refuses a cube over a
      // join (see StarMvRollupSpec)
      val f = spark.read.parquet(fact)
      val joined = f.join(spark.read.parquet(dim), col("f_d") === col("d_k"))
      f.createOrReplaceTempView("mve_fact")
      spark.read.parquet(dim).createOrReplaceTempView("mve_dim")
      val queries = Seq(
        single.summaryPath -> f.groupBy("f_d").agg(sum(col("v")).as("s")),
        single.summaryPath -> f.rollup("f_d", "f_g").agg(sum(col("v")).as("s")),
        star.summaryPath -> joined.groupBy("seg").agg(max(col("v")).as("m")),
        star.summaryPath -> spark.sql("SELECT seg, f_g, count(*) AS n FROM " +
          "mve_fact JOIN mve_dim ON f_d = d_k GROUP BY CUBE(seg, f_g)"))
      queries.foreach { case (summary, q) =>
        assert(jobsDuring(q.queryExecution.optimizedPlan) === 0)
        assert(scanPaths(q).forall(_ == MaterializedView.normalize(summary)),
          s"served from $summary: ${scanPaths(q)}")
      }
      assert(queries(1)._2.collect().length === 5 * 3 + 5 + 1)
    } finally {
      MaterializedView.unregister(fact)
      StarMv.unregister(star.summaryPath)
    }
  }

  test("build and refresh record the schema they wrote; forms carry over") {
    val base = tmpDir("mve_dec_base")
    val rows = Seq(("a", "2024-01-01 10:00:00", "1.25"),
      ("b", "2024-01-02 11:00:00", "2.50"))
    def frame(rs: Seq[(String, String, String)]) = rs.toDF("g", "ts", "amt")
      .select(col("g"), to_timestamp(col("ts")).as("ts"),
        col("amt").cast(DecimalType(10, 2)).as("amt"))
    frame(rows).write.mode("overwrite").parquet(base)
    val built = MaterializedView.build(spark, base, Seq("g", "day"),
      Seq("amt"), tmpDir("mve_dec_sum"), Seq("day" -> "cast(ts as date)"))
    try {
      val forms = entryAt(built.summaryPath).forms
      assert(forms.dayOfTs === Map("ts" -> "day"))
      def partialType(s: String) = {
        val entry = entryAt(s)
        val onDisk = spark.read.parquet(s).schema
        assert(entry.schema === Some(onDisk), s"schema of $s")
        assert(entry.forms eq forms, "a refresh must not re-analyze the forms")
        onDisk("s_amt").dataType
      }
      var summary = built.summaryPath
      val partialTypes = partialType(summary) +: (1 to 2).map { i =>
        val delta = frame(Seq(("a", s"2024-01-0$i 12:00:00", "0.75")))
        delta.write.mode("append").parquet(base)
        summary = MaterializedView.refresh(spark, base, delta).summaryPath
        partialType(summary)
      }
      // the decimal partial widens per generation, so a schema carried
      // over from the previous one would be wrong
      assert(partialTypes ===
        Seq(DecimalType(20, 2), DecimalType(30, 2), DecimalType(38, 2)))
      val q = spark.read.parquet(base).groupBy("g").agg(sum(col("amt")).as("s"))
      assert(scanPaths(q).forall(_ == MaterializedView.normalize(summary)))
      assert(q.as[(String, java.math.BigDecimal)].collect().toMap
        .map { case (g, s) => g -> s.toPlainString } ===
        Map("a" -> "2.75", "b" -> "2.50"))
    } finally MaterializedView.unregister(base)
  }

  test("a registration whose summary schema cannot be read is never served") {
    val base = tmpDir("mve_rogue_base")
    Seq(("a", 1), ("a", 2), ("b", 5)).toDF("g", "m")
      .write.mode("overwrite").parquet(base)
    // an empty dir: no Parquet file to read a schema from
    val empty = tmpDir("mve_rogue_sum")
    MaterializedView.register(MaterializedView.MvDef(base, Seq("g"), Seq("m"),
      empty))
    try {
      assert(entryAt(empty).schema.isEmpty, "the entry stays registered")
      val q = spark.read.parquet(base).groupBy("g").agg(sum(col("m")).as("s"))
      assert(scanPaths(q) === Seq(MaterializedView.normalize(base)))
      assert(q.as[(String, Long)].collect().toMap === Map("a" -> 3L, "b" -> 5L))
    } finally MaterializedView.unregister(base)
  }
}
