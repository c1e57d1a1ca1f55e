package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Lossless SUB-JOIN serving (aggregate navigation): a query joining a
  * PEELABLE SUBSET of a star MV's tables — down to the bare fact — is
  * served from the same summary, because each declared-lossless extension
  * was verified 1:1 at build ([[StarMv.StarMvDef.losslessTables]]).
  * Every positive test pins summary-only scanning AND compares values
  * against the rewrite-disabled run; every negative test pins fallback or
  * a loud refusal.
  *
  * Chain shape: fact(f_flag, f_m, v) ⋈ mid(m_k, m_o, seg) ⋈ outer(o_k,
  * region) — outer peels first (partner mid), then mid (partner fact).
  */
class StarMvSubJoinSpec extends SparkTestBase {
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

  private val rnd = new scala.util.Random(31)
  private val outerRows = (1 to 4).map(o => (o.toLong, s"reg${o % 2}"))
  private val midRows = (1 to 12).map(m =>
    (m.toLong, (m % 4).toLong + 1, s"seg${m % 3}"))
  private val factRows = (1 to 400).map { i =>
    (s"f${i % 2}", rnd.nextInt(12).toLong + 1, rnd.nextInt(50).toLong)
  }

  /** writes the three tables, builds the MV with both extensions declared
    * lossless, returns (factPath, midPath, outerPath, summaryPath, def).
    */
  private def setup(tag: String): (String, String, String, String, StarMvDef) = {
    val (f, m, o, s) = (tmpDir(s"ssj_${tag}_fact"), tmpDir(s"ssj_${tag}_mid"),
      tmpDir(s"ssj_${tag}_outer"), tmpDir(s"ssj_${tag}_sum"))
    factRows.toDF("f_flag", "f_m", "v").write.mode("overwrite").parquet(f)
    midRows.toDF("m_k", "m_o", "seg").write.mode("overwrite").parquet(m)
    outerRows.toDF("o_k", "region").write.mode("overwrite").parquet(o)
    val d = StarMv.build(spark, StarMvDef(
      tables = Seq(f, m, o),
      joins = Seq((QCol(f, "f_m"), QCol(m, "m_k")),
        (QCol(m, "m_o"), QCol(o, "o_k"))),
      groupCols = Seq(QCol(f, "f_flag"), QCol(m, "seg"), QCol(o, "region")),
      measureCols = Seq(QCol(f, "v")),
      summaryPath = s,
      losslessTables = Seq(m, o)))
    (f, m, o, s, d)
  }

  private def servedRows(q: => DataFrame, summary: String): (Set[String], Set[String]) = {
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

  test("two-table sub-join (outer peeled) serves from the summary") {
    val (f, m, _, s, _) = setup("two")
    try {
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(m), col("f_m") === col("m_k"))
        .groupBy("f_flag", "seg")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mnv"), max(col("v")).as("mxv"),
          avg(col("v")).as("av"))
      val (on, off) = servedRows(q, s)
      assert(on === off)
      assert(on.size === 2 * 3)
    } finally StarMv.unregister(s)
  }

  test("bare-fact query (both extensions peeled) serves from the summary") {
    val (f, _, _, s, _) = setup("bare")
    try {
      def q = spark.read.parquet(f)
        .groupBy("f_flag")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mnv"), max(col("v")).as("mxv"))
      val (on, off) = servedRows(q, s)
      assert(on === off)
    } finally StarMv.unregister(s)
  }

  test("sub-join ROLLUP (Expand path) serves from the summary") {
    val (f, m, _, s, _) = setup("roll")
    try {
      spark.read.parquet(f).createOrReplaceTempView("ssj_fact")
      spark.read.parquet(m).createOrReplaceTempView("ssj_mid")
      def q = spark.sql(
        """SELECT f_flag, seg, count(*) AS n, sum(v) AS sv
          |FROM ssj_fact JOIN ssj_mid ON f_m = m_k
          |GROUP BY ROLLUP(f_flag, seg)""".stripMargin)
      val (on, off) = servedRows(q, s)
      assert(on === off)
      assert(on.size === 2 * 3 + 2 + 1)
    } finally StarMv.unregister(s)
  }

  test("bare-fact ROLLUP (Expand path + both peels) serves from the summary") {
    val (f, _, _, s, _) = setup("broll")
    try {
      spark.read.parquet(f).createOrReplaceTempView("ssj_bare_fact")
      def q = spark.sql(
        """SELECT f_flag, count(*) AS n, sum(v) AS sv, avg(v) AS av
          |FROM ssj_bare_fact
          |GROUP BY ROLLUP(f_flag)""".stripMargin)
      val (on, off) = servedRows(q, s)
      assert(on === off)
      assert(on.size === 2 + 1)
    } finally StarMv.unregister(s)
  }

  test("sub-join with a group filter on a retained dim serves and filters") {
    val (f, m, _, s, _) = setup("filt")
    try {
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(m), col("f_m") === col("m_k"))
        .filter(col("seg") === "seg1")
        .groupBy("f_flag")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      val (on, off) = servedRows(q, s)
      assert(on === off)
    } finally StarMv.unregister(s)
  }

  test("refusals: no declaration, or a non-peelable subset, fall back") {
    // same tables, NO losslessTables — the sub-join must not be served
    val (f, m, o, s) = (tmpDir("ssj_nod_fact"), tmpDir("ssj_nod_mid"),
      tmpDir("ssj_nod_outer"), tmpDir("ssj_nod_sum"))
    factRows.toDF("f_flag", "f_m", "v").write.mode("overwrite").parquet(f)
    midRows.toDF("m_k", "m_o", "seg").write.mode("overwrite").parquet(m)
    outerRows.toDF("o_k", "region").write.mode("overwrite").parquet(o)
    StarMv.build(spark, StarMvDef(
      tables = Seq(f, m, o),
      joins = Seq((QCol(f, "f_m"), QCol(m, "m_k")),
        (QCol(m, "m_o"), QCol(o, "o_k"))),
      groupCols = Seq(QCol(f, "f_flag"), QCol(m, "seg"), QCol(o, "region")),
      measureCols = Seq(QCol(f, "v")),
      summaryPath = s))
    try {
      val q = spark.read.parquet(f)
        .join(spark.read.parquet(m), col("f_m") === col("m_k"))
        .groupBy("f_flag").agg(sum(col("v")).as("sv"))
      assert(scanPaths(q).exists(_ != MaterializedView.normalize(s)),
        "undeclared sub-join must fall back to the base join")
    } finally StarMv.unregister(s)
    // declared, but the retained subset strands MID between fact and
    // outer: {fact, outer} removes mid, which touches TWO partners
    val (f2, m2, o2, s2, _) = setup("strand")
    try {
      val q2 = spark.read.parquet(f2)
        .join(spark.read.parquet(o2), col("f_m") === col("o_k"))
        .groupBy("f_flag").agg(sum(col("v")).as("sv"))
      assert(scanPaths(q2).exists(_ != MaterializedView.normalize(s2)),
        "a subset that strands a bridge table must fall back")
    } finally StarMv.unregister(s2)
  }

  test("build refuses unprovable declarations: dup keys, dangling FKs") {
    val (f, m, o, s) = (tmpDir("ssj_bad_fact"), tmpDir("ssj_bad_mid"),
      tmpDir("ssj_bad_outer"), tmpDir("ssj_bad_sum"))
    factRows.toDF("f_flag", "f_m", "v").write.mode("overwrite").parquet(f)
    // duplicate m_k = 1 — mid is not unique on its join key
    (midRows :+ ((1L, 2L, "segX"))).toDF("m_k", "m_o", "seg")
      .write.mode("overwrite").parquet(m)
    outerRows.toDF("o_k", "region").write.mode("overwrite").parquet(o)
    def defn = StarMvDef(
      tables = Seq(f, m, o),
      joins = Seq((QCol(f, "f_m"), QCol(m, "m_k")),
        (QCol(m, "m_o"), QCol(o, "o_k"))),
      groupCols = Seq(QCol(f, "f_flag"), QCol(m, "seg"), QCol(o, "region")),
      measureCols = Seq(QCol(f, "v")),
      summaryPath = s,
      losslessTables = Seq(m, o))
    val e1 = intercept[IllegalArgumentException] { StarMv.build(spark, defn) }
    assert(e1.getMessage.contains("not unique"))
    // scoped to THIS test's path — see StarMvFromQuerySpec's twin
    assert(!StarMv.registered.exists(_.summaryPath == s),
      "a refused build must not register")
    // fix the dup, dangle a fact FK instead (f_m = 99 matches nothing)
    midRows.toDF("m_k", "m_o", "seg").write.mode("overwrite").parquet(m)
    (factRows :+ (("f9", 99L, 1L))).toDF("f_flag", "f_m", "v")
      .write.mode("overwrite").parquet(f)
    val e2 = intercept[IllegalArgumentException] { StarMv.build(spark, defn) }
    assert(e2.getMessage.contains("no match"))
    // a bridge/cycle member can never be lossless: declaring ONLY mid
    // (outer undeclared) leaves mid touching two partners
    factRows.toDF("f_flag", "f_m", "v").write.mode("overwrite").parquet(f)
    val e3 = intercept[IllegalArgumentException] {
      StarMv.build(spark, defn.copy(losslessTables = Seq(m)))
    }
    assert(e3.getMessage.contains("peel"))
  }

  test("delta refresh guards the contract: orphan FK and dim deletes throw") {
    val (f, m, _, s, d0) = setup("guard")
    var d = d0
    try {
      // inserting a fact row whose FK matches nothing must refuse
      val badIns = Seq(("f0", 99L, 5L)).toDF("f_flag", "f_m", "v")
      val e1 = intercept[IllegalArgumentException] {
        StarMv.refreshTableDelta(spark, d, f,
          inserts = badIns, deletes = spark.emptyDataset[(String, Long, Long)]
            .toDF("f_flag", "f_m", "v"))
      }
      assert(e1.getMessage.contains("no match in lossless"))
      // deleting a still-referenced mid row must refuse (the guard reads
      // the POST-BATCH table — land the delete first, per the contract)
      val badDel = midRows.filter(_._1 == 1L).toDF("m_k", "m_o", "seg")
      midRows.filter(_._1 != 1L).toDF("m_k", "m_o", "seg")
        .write.mode("overwrite").parquet(m)
      val e2 = intercept[IllegalArgumentException] {
        StarMv.refreshTableDelta(spark, d, m,
          inserts = spark.emptyDataset[(Long, Long, String)]
            .toDF("m_k", "m_o", "seg"), deletes = badDel)
      }
      assert(e2.getMessage.contains("orphans"))
      // restore the dim before the legal-delta leg below
      midRows.toDF("m_k", "m_o", "seg").write.mode("overwrite").parquet(m)
      // a LEGAL fact delta refreshes, and the sub-join keeps serving the
      // post-batch truth from the refreshed summary
      val ins = Seq(("f1", 3L, 7L), ("f0", 5L, 11L))
        .toDF("f_flag", "f_m", "v")
      val del = factRows.filter(_._3 % 7 == 0)
        .toDF("f_flag", "f_m", "v")
      val post = factRows.filterNot(_._3 % 7 == 0) ++
        Seq(("f1", 3L, 7L), ("f0", 5L, 11L))
      post.toDF("f_flag", "f_m", "v").write.mode("overwrite").parquet(f)
      d = StarMv.refreshTableDelta(spark, d, f, inserts = ins, deletes = del)
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(m), col("f_m") === col("m_k"))
        .groupBy("f_flag", "seg")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mnv"), max(col("v")).as("mxv"))
      val (on, off) = servedRows(q, d.summaryPath)
      assert(on === off)
    } finally StarMv.unregister(d.summaryPath)
  }

  test("a two-table lossless sync runs its guards as ONE action") {
    val (f, m, _, _, d) = setup("fused")
    // actions run during the sync: the fused guard collect (its one output
    // column is `_graft_check`), and any per-check `isEmpty` probe
    val guards = new java.util.concurrent.atomic.AtomicInteger
    val probes = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.analyzed.output.map(_.name) match {
        case Seq("_graft_check") => guards.incrementAndGet(); ()
        case Seq("guard_spec_flush") => flushed.countDown()
        case _ => if (fn == "isEmpty") { probes.incrementAndGet(); () }
      }
      def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    var cur = d.summaryPath
    try {
      // one batch lands on the fact AND the mid table: legal fact rows in
      // and out, one new mid row under an existing outer key
      val insF = Seq(("f1", 3L, 7L), ("f0", 13L, 11L)).toDF("f_flag", "f_m", "v")
      val delF = factRows.filter(_._3 % 9 == 0).toDF("f_flag", "f_m", "v")
      val insM = Seq((13L, 2L, "seg1")).toDF("m_k", "m_o", "seg")
      val delM = spark.emptyDataset[(Long, Long, String)].toDF("m_k", "m_o", "seg")
      val before = Map(f -> factRows.toDF("f_flag", "f_m", "v"),
        m -> midRows.toDF("m_k", "m_o", "seg"))
      (factRows.filterNot(_._3 % 9 == 0) ++ Seq(("f1", 3L, 7L), ("f0", 13L, 11L)))
        .toDF("f_flag", "f_m", "v").write.mode("overwrite").parquet(f)
      (midRows :+ ((13L, 2L, "seg1"))).toDF("m_k", "m_o", "seg")
        .write.mode("overwrite").parquet(m)
      spark.listenerManager.register(listener)
      val next = try {
        val n = StarMv.refresh(spark, d, Seq((f, insF, delF), (m, insM, delM)),
          before, Map.empty, recomputeKeyCap = 1000)
        spark.range(1).toDF("guard_spec_flush").collect()
        assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
        n
      } finally spark.listenerManager.unregister(listener)
      cur = next.summaryPath
      assert(guards.get == 1, s"${guards.get} guard actions")
      assert(probes.get == 0, s"${probes.get} isEmpty probes")
      def q = spark.read.parquet(f)
        .join(spark.read.parquet(m), col("f_m") === col("m_k"))
        .groupBy("f_flag", "seg")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val (on, off) = servedRows(q, cur)
      assert(on === off)
    } finally StarMv.unregister(cur)
  }
}
