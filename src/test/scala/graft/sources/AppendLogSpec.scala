package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class AppendLogSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("kind", StringType),
    StructField("v", DoubleType)))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def day(d: Int, n: Int) =
    (0 until n).map { i =>
      (d * 100L + i, ts(f"2024-03-$d%02d 10:00:${i % 60}%02d"),
        if (i % 2 == 0) "click" else "view", d * 1.0 + i)
    }.toDF("id", "ts", "kind", "v")

  private def newLog(zones: Seq[String] = Seq("ts", "v")) =
    new AppendLog(spark, tmpDir("alog"), "public.ev", schema, zones)

  test("append + scan round-trips in order, scanFrom replays the tail") {
    val log = newLog()
    log.append(day(1, 5))
    log.append(day(2, 5))
    log.append(day(3, 5))
    assert(log.batchCount == 3)
    assert(log.scan().count() == 15)
    val tail = log.scanFrom(2)
    assert(tail.select("id").as[Long].collect().toSet == day(3, 5)
      .select("id").as[Long].collect().toSet)
  }

  test("zonePrune keeps only directories whose time range intersects") {
    val log = newLog()
    (1 to 9).foreach(d => log.append(day(d, 4)))
    val pred = col("ts") >= lit(ts("2024-03-03 00:00:00")) &&
      col("ts") < lit(ts("2024-03-05 00:00:00"))
    val (kept, total) = log.zonePrune(pred)
    assert(total == 9)
    assert(kept.size == 2, s"expected 2 day-dirs kept, got $kept")
    // result equals the unpruned filter — pruning is a superset filter
    val expect = log.scan().filter(pred).select("id").as[Long].collect().toSet
    val got = log.scanWhere(pred).select("id").as[Long].collect().toSet
    assert(got == expect && got.nonEmpty)
  }

  test("numeric, equality and IN probes prune; non-zone conjuncts don't widen wrongly") {
    val log = newLog()
    (1 to 6).foreach(d => log.append(day(d, 4)))
    // v ranges per day-dir: [d, d+3]
    // v in (4.5,5.5) vs per-dir ranges [d,d+3]: d=1 maxes at 4 (pruned),
    // d=6 starts at 6 (pruned), d=2..5 intersect
    val (keptRange, _) = log.zonePrune(col("v") > 4.5 && col("v") < 5.5)
    assert(keptRange.size == 4)
    val (keptEq, _) = log.zonePrune(col("v") === lit(2.0))
    assert(keptEq.size == 2) // d=1 ([1,4]) and d=2 ([2,5])
    val (keptIn, _) = log.zonePrune(col("v").isin(100.0, 200.0))
    assert(keptIn.isEmpty)
    // a conjunct on a non-zone column contributes nothing but doesn't
    // stop the zone column's conjunct from pruning
    val (keptMixed, total) = log.zonePrune(
      col("kind") === "click" && col("v") === lit(2.0))
    assert(keptMixed.size == 2 && total == 6)
    // OR trees prune by boolean refutation: a dir is kept when ANY
    // branch could match — v=2 hits dirs 1..2, v=100 hits none
    val (keptOr, _) = log.zonePrune(col("v") === 2.0 || col("v") === 100.0)
    assert(keptOr.size == 2, s"or-tree kept $keptOr")
    // the dashboard shape: two disjoint ranges OR-ed — [1,2) hits only
    // dir 1 ([1,4]), (8.5,9) only dir 6 ([6,9]); dir 5 ([5,8]) misses both
    val (keptOr2, _) = log.zonePrune(
      (col("v") >= 1.0 && col("v") < 2.0) || (col("v") > 8.5 && col("v") < 9.0))
    assert(keptOr2.size == 2, s"or-range kept $keptOr2")
    val orPred = (col("v") >= 1.0 && col("v") < 2.0) ||
      (col("v") > 8.5 && col("v") < 9.0)
    assert(log.scanWhere(orPred).select("id").as[Long].collect().toSet ==
      log.scan().filter(orPred).select("id").as[Long].collect().toSet)
    // an OR with a non-prunable branch keeps everything (superset)
    val (keptOr3, _) = log.zonePrune(col("v") === 2.0 || col("kind") === "zz")
    assert(keptOr3.size == 6)
  }

  test("string zones prune lexicographically; all-null dirs prune under range predicates") {
    val log = new AppendLog(spark, tmpDir("alog-s"), "public.s", schema,
      Seq("kind"))
    log.append(Seq((1L, ts("2024-01-01 00:00:00"), "alpha", 1.0),
      (2L, ts("2024-01-01 00:00:01"), "beta", 2.0)).toDF("id", "ts", "kind", "v"))
    log.append(Seq((3L, ts("2024-01-02 00:00:00"), "kappa", 3.0)).toDF("id", "ts", "kind", "v"))
    log.append(Seq((4L, ts("2024-01-03 00:00:00"), null.asInstanceOf[String], 4.0))
      .toDF("id", "ts", "kind", "v"))
    val (kept, total) = log.zonePrune(col("kind") >= "b" && col("kind") < "c")
    assert(total == 3 && kept.size == 1)
    assert(log.scanWhere(col("kind") >= "b" && col("kind") < "c")
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("compactRange folds adjacent batches, zone recomputed over the union, data preserved") {
    val log = newLog()
    (1 to 6).foreach(d => log.append(day(d, 3)))
    val before = log.scan().select("id").as[Long].collect().toSet
    log.compactRange(1, 4) // fold days 2,3,4 into one dir
    assert(log.batchCount == 4)
    assert(log.scan().select("id").as[Long].collect().toSet == before)
    // pruning still correct: day-5 query keeps only the day-5 dir
    val pred = col("ts") >= lit(ts("2024-03-05 00:00:00")) &&
      col("ts") < lit(ts("2024-03-06 00:00:00"))
    val (kept, total) = log.zonePrune(pred)
    assert(total == 4 && kept.size == 1)
    // and a day-3 query keeps exactly the folded dir
    val pred3 = col("ts") >= lit(ts("2024-03-03 00:00:00")) &&
      col("ts") < lit(ts("2024-03-04 00:00:00"))
    assert(log.zonePrune(pred3)._1.size == 1)
    assert(log.scanWhere(pred3).count() == 3)
  }

  test("zoneReport renders ranges; NaN-polluted double zone degrades to keep, never wrong") {
    val log = newLog(Seq("v"))
    log.append(Seq((1L, ts("2024-01-01 00:00:00"), "a", 1.0),
      (2L, ts("2024-01-01 00:00:01"), "a", Double.NaN)).toDF("id", "ts", "kind", "v"))
    log.append(Seq((3L, ts("2024-01-02 00:00:00"), "a", 7.0)).toDF("id", "ts", "kind", "v"))
    // Spark max() propagates NaN as greater than any double -> the zone
    // max is NaN, uncanonical -> the dir records no bounded zone and is
    // always kept
    val (kept, total) = log.zonePrune(col("v") === 7.0)
    assert(total == 2 && kept.size == 2)
    val rep = log.zoneReport().collect()
    assert(rep.length == 1) // only the bounded dir has a rendered zone
    assert(rep.head.getLong(0) == 1L && rep.head.getString(2) == "v" &&
      rep.head.getString(4) == "7")
  }

  test("probes extraction: reversed operands, between, contradictory INs") {
    import graft.sources.ZoneMaps._
    val xdf = Seq.empty[Int].toDF("x")
    def ce(c: org.apache.spark.sql.Column) = resolvedCondition(xdf, c)
    val kinds = Map("x" -> "num")
    val p1 = probes(ce(lit(5) < col("x")), kinds)("x")
    assert(p1.lo.exists { case (ZN(v), incl) => v == BigDecimal(5) && !incl case _ => false })
    val p2 = probes(ce(col("x").between(1, 3)), kinds)("x")
    assert(p2.lo.exists(_._2) && p2.hi.exists(_._2))
    val p3 = probes(ce(col("x").isin(1, 2) && col("x").isin(3, 4)), kinds)("x")
    assert(p3.eqs.exists(_.isEmpty)) // disjoint -> unsatisfiable
    assert(!keep(Seq(Zone("x", "num", Some(ZN(BigDecimal(0))),
      Some(ZN(BigDecimal(100))), allNull = false)), Map("x" -> p3)))
  }

  test("deleteWhere rewrites only zone-touched dirs, preserves order, keeps NULL rows") {
    val log = newLog()
    (1 to 6).foreach(d => log.append(day(d, 4)))
    val dirsBefore = log.zonePrune(lit(true))._1 // no probe -> all dirs
    // retention sweep: drop everything before day 3
    val pred = col("ts") < lit(ts("2024-03-03 00:00:00"))
    val removed = log.deleteWhere(pred)
    assert(removed == 8) // days 1,2 fully matched
    assert(log.batchCount == 4) // their dirs emptied out of the manifest
    val dirsAfter = log.zonePrune(lit(true))._1
    // untouched dirs keep their identity (no rewrite amplification)
    assert(dirsAfter.forall(dirsBefore.contains))
    assert(log.scan().count() == 16)
    // partial delete: day-3 "view" rows only; day-3 dir rewritten in place
    val removed2 = log.deleteWhere(
      col("ts") < lit(ts("2024-03-04 00:00:00")) && col("kind") === "view")
    assert(removed2 == 2)
    assert(log.batchCount == 4)
    val d3 = log.scanWhere(col("ts") >= lit(ts("2024-03-03 00:00:00")) &&
      col("ts") < lit(ts("2024-03-04 00:00:00")))
    assert(d3.count() == 2 &&
      d3.select("kind").as[String].collect().forall(_ == "click"))
    // NULL predicate rows are kept: a null-kind row survives a kind sweep
    log.append(Seq((999L, ts("2024-03-09 00:00:00"),
      null.asInstanceOf[String], 0.0)).toDF("id", "ts", "kind", "v"))
    val removed3 = log.deleteWhere(col("kind") === "view")
    assert(removed3 == 6) // 2 view rows in each of days 4,5,6; day 3's are gone
    assert(log.scan().filter(col("id") === 999L).count() == 1)
  }

  test("ZonePruneRule: a plain filter over scan() is dir-pruned at optimization time") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val log = newLog()
    (1 to 6).foreach(d => log.append(day(d, 4)))
    ZonePrune.register(log)
    ZonePrune.install(spark)
    try {
      val pred = col("ts") >= lit(ts("2024-03-03 00:00:00")) &&
        col("ts") < lit(ts("2024-03-04 00:00:00"))
      val q = log.scan().filter(pred).groupBy("kind").count()
      val roots = q.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation => h.location.rootPaths
          case _ => Nil
        }
      }.flatten
      assert(roots.size == 1, s"expected 1 pruned root, got $roots")
      // result identical to the unpruned run
      ZonePrune.unregister(log)
      val expect = log.scan().filter(pred).groupBy("kind").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ZonePrune.register(log)
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect && got.nonEmpty)
      // a COLUMN-PRUNING Project between filter and scan keeps pruning
      // (the optimizer pushes the projection below the filter when only
      // some columns are selected)
      val proj = log.scan().select("ts", "kind").filter(pred)
        .groupBy("kind").count()
      val projRoots = proj.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation => h.location.rootPaths
          case _ => Nil
        }
      }.flatten
      assert(projRoots.size == 1, s"projected scan must still prune: $projRoots")
      assert(proj.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        == expect)
      // an all-refuted predicate collapses the scan to an empty relation
      val none = log.scan().filter(col("v") === 99999.0)
      assert(none.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r }.isEmpty)
      assert(none.count() == 0)
      // a query over some OTHER parquet is untouched
      val other = spark.read.parquet(tmpDirWith(day(9, 2)))
        .filter(col("v") > 0.0)
      assert(other.count() == 2)
    } finally {
      ZonePrune.unregister(log)
    }
  }

  private def tmpDirWith(df: org.apache.spark.sql.DataFrame): String = {
    val p = tmpDir("alog-other")
    df.write.mode("overwrite").parquet(p)
    p
  }

  test("idempotent append: a retried epoch key is a no-op; schema evolution degrades zones safely") {
    val log = newLog(Seq("v"))
    log.append(day(1, 3), Some("b0"))
    log.append(day(1, 3), Some("b0")) // retry of the same epoch
    log.append(day(2, 3), Some("b1"))
    assert(log.batchCount == 2 && log.scan().count() == 6)
    intercept[IllegalArgumentException](log.append(day(3, 1), Some("bad key!")))
    // a reader with a WIDER schema (evolved: extra column) still scans —
    // the log's declared schema governs; missing columns read as null via
    // a fresh log over the same root with the wider schema
    val wider = new AppendLog(spark, tmpDir("alog-w"), "public.w",
      org.apache.spark.sql.types.StructType(schema.fields :+
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.StringType)), Seq("v", "extra"))
    wider.append(day(1, 2).withColumn("extra", lit("x")))
    wider.append(day(2, 2).withColumn("extra",
      lit(null).cast("string"))) // evolved-away column: all-null zone
    assert(wider.scan().count() == 4)
    val (kept, total) = wider.zonePrune(col("extra") === "x")
    assert(total == 2 && kept.size == 1) // all-null dir pruned
  }

  test("truncateBefore drops oldest batches in one manifest flip; explainPrune names the evidence") {
    val log = newLog()
    (1 to 5).foreach(d => log.append(day(d, 3)))
    assert(log.truncateBefore(2) == 2)
    assert(log.batchCount == 3 && log.scan().count() == 9)
    // surviving data is days 3..5
    assert(log.scan().agg(min(col("ts"))).head().getTimestamp(0)
      .toString.startsWith("2024-03-03"))
    intercept[IllegalArgumentException](log.truncateBefore(9))
    assert(log.truncateBefore(0) == 0)
    // explain: day-4 window keeps exactly the day-4 dir, names the refuter
    val pred = col("ts") >= lit(ts("2024-03-04 00:00:00")) &&
      col("ts") < lit(ts("2024-03-05 00:00:00"))
    val ex = log.explainPrune(pred).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getString(3)))
    assert(ex.count(_._2) == 1)
    assert(ex.filter(!_._2).forall(_._3 == "range-refuted:ts"))
    val noProbe = log.explainPrune(col("kind") === "click").collect()
    assert(noProbe.forall(r =>
      r.getBoolean(2) && r.getString(3) == "no-prunable-conjuncts"))
  }

  test("consolidated zone index: a fresh instance prunes from ONE file; absent index degrades to sidecars") {
    val rootDir = tmpDir("alog-cons")
    val log = new AppendLog(spark, rootDir, "public.ci", schema, Seq("ts"))
    (1 to 5).foreach(d => log.append(day(d, 3)))
    val base = new org.apache.hadoop.fs.Path(rootDir, "public_ci")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "_zones_current")))
    // delete every per-dir sidecar: a FRESH instance must still prune —
    // its zones can only have come from the consolidated index
    fs.listStatus(new org.apache.hadoop.fs.Path(base, "_zones"))
      .foreach(st => fs.delete(st.getPath, false))
    val log2 = new AppendLog(spark, rootDir, "public.ci", schema, Seq("ts"))
    val pred = col("ts") >= lit(ts("2024-03-02 00:00:00")) &&
      col("ts") < lit(ts("2024-03-03 00:00:00"))
    val (kept, total) = log2.zonePrune(pred)
    assert(total == 5 && kept.size == 1)
    assert(log2.scanWhere(pred).count() == 3)
    // index ALSO gone: a third instance degrades to keep-everything —
    // superset contract, results still exact
    fs.delete(new org.apache.hadoop.fs.Path(base, "_zones_current"), false)
    val log3 = new AppendLog(spark, rootDir, "public.ci", schema, Seq("ts"))
    val (kept3, total3) = log3.zonePrune(pred)
    assert(total3 == 5 && kept3.size == 5)
    assert(log3.scanWhere(pred).count() == 3)
  }

  test("a crashed zone-index commit temp is swept by the next append; the rewritten index prunes") {
    val rootDir = tmpDir("alog-ztmp")
    val log = new AppendLog(spark, rootDir, "public.zt", schema, Seq("ts"))
    (1 to 3).foreach(d => log.append(day(d, 3)))
    val base = new org.apache.hadoop.fs.Path(rootDir, "public_zt")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a commit killed between the index temp's write and its rename
    val temp = new org.apache.hadoop.fs.Path(base, "._zones_current.tmp.123")
    fs.create(temp).close()
    log.append(day(4, 3))
    assert(!fs.exists(temp), "the index commit temp survived the next append")
    // prune from a fresh instance with every sidecar gone: its zones can
    // only come from the index this append rewrote
    fs.listStatus(new org.apache.hadoop.fs.Path(base, "_zones"))
      .foreach(st => fs.delete(st.getPath, false))
    val fresh = new AppendLog(spark, rootDir, "public.zt", schema, Seq("ts"))
    val pred = col("ts") >= lit(ts("2024-03-04 00:00:00")) &&
      col("ts") < lit(ts("2024-03-05 00:00:00"))
    val (kept, total) = fresh.zonePrune(pred)
    assert(total == 4 && kept.size == 1, s"kept $kept of $total")
    assert(fresh.scanWhere(pred).count() == 3)
  }

  test("reclusterRange repairs pruning after out-of-order ingest") {
    val log = newLog(Seq("ts"))
    // interleaved ingest: each batch spans the WHOLE month -> every zone
    // overlaps every query window, pruning is useless
    (0 until 4).foreach { i =>
      val rows = (1 to 8).filter(d => d % 4 == i).flatMap(d =>
        (0 until 3).map(j => (d * 100L + j,
          ts(f"2024-03-0$d%d 10:00:0$j%d"), "k", d * 1.0)))
      log.append(rows.toDF("id", "ts", "kind", "v"))
    }
    val window = col("ts") >= lit(ts("2024-03-02 00:00:00")) &&
      col("ts") < lit(ts("2024-03-04 00:00:00"))
    val before = log.scan().filter(window).select("id").as[Long].collect().toSet
    // interleaving defeats pruning: 3 of 4 dirs overlap the 2-day window
    // (only the {4,8}-day batch starts past it)
    val (keptBefore, totalBefore) = log.zonePrune(window)
    assert(totalBefore == 4 && keptBefore.size == 3)
    log.reclusterRange(0, 4, "ts", targetBatches = 4)
    assert(log.batchCount == 4)
    // disjoint ~2-day ranges now: the window touches at most 2 dirs
    val (keptAfter, totalAfter) = log.zonePrune(window)
    assert(totalAfter == 4 && keptAfter.size <= 2 && keptAfter.nonEmpty,
      s"recluster must restore pruning, kept $keptAfter")
    // data preserved exactly
    assert(log.scanWhere(window).select("id").as[Long].collect().toSet == before)
    assert(log.scan().count() == 24)
    // zones are pairwise disjoint on ts after the recluster
    val zs = log.zoneReport().filter(col("column") === "ts")
      .select("zmin", "zmax").collect()
      .map(r => (BigDecimal(r.getString(0)), BigDecimal(r.getString(1))))
      .sortBy(_._1)
    zs.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2,
        s"ranges overlap after recluster: $zs")
      case _ => ()
    }
  }

  test("crash tolerance: a staging leftover and an orphan zone file are swept, missing zones degrade to keep") {
    val rootDir = tmpDir("alog-crash")
    val log = new AppendLog(spark, rootDir, "public.c", schema, Seq("v"))
    log.append(day(1, 3))
    val base = new org.apache.hadoop.fs.Path(rootDir, "public_c")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash: staging dir + zone sidecar for a never-committed dir
    fs.mkdirs(new org.apache.hadoop.fs.Path(base, ".staging_999"))
    val orphanZone = new org.apache.hadoop.fs.Path(base, "_zones/99-999")
    AtomicFiles.write(spark.sparkContext.hadoopConfiguration, orphanZone,
      "v\tnum\tn:0\tn:1".getBytes("UTF-8"))
    // and a committed dir with NO zone info anywhere (pre-zones writer):
    // drop its sidecar AND the consolidated index, probe from a FRESH
    // instance (the writing instance legitimately serves from its
    // in-process cache — immutable dirs make that safe)
    val zdir = fs.listStatus(new org.apache.hadoop.fs.Path(base, "_zones"))
      .map(_.getPath.getName).filterNot(_ == "99-999").head
    fs.delete(new org.apache.hadoop.fs.Path(base, s"_zones/$zdir"), false)
    fs.delete(new org.apache.hadoop.fs.Path(base, "_zones_current"), false)
    val fresh = new AppendLog(spark, rootDir, "public.c", schema, Seq("v"))
    val (kept, total) = fresh.zonePrune(col("v") === -1.0)
    assert(total == 1 && kept.size == 1) // missing zone -> keep
    log.append(day(2, 3)) // mutation sweeps the crash leftovers
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base, ".staging_999")))
    assert(!fs.exists(orphanZone))
    assert(log.scan().count() == 6)
  }

  test("schema evolution: era-mixed dirs union with nulls; writers null-fill; zones correct on both eras") {
    val rootDir = tmpDir("alog-evo")
    val v1 = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val v2 = StructType(v1.fields :+ StructField("tag", StringType))
    // era 1: two dirs under the narrow schema
    val log1 = new AppendLog(spark, rootDir, "public.evo", v1, Seq("v"))
    log1.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    log1.append(Seq((3L, 3.0)).toDF("id", "v"))
    // era 2: the WIDENED schema over the same root, zones now include tag
    val log2 = new AppendLog(spark, rootDir, "public.evo", v2, Seq("v", "tag"))
    // a new-era batch with the column...
    log2.append(Seq((4L, 4.0, "x")).toDF("id", "v", "tag"))
    // ...and an OLD producer's narrow batch: null-filled, not refused
    log2.append(Seq((5L, 5.0)).toDF("id", "v"))
    assert(log2.batchCount == 4)
    // union with nulls: era-1 dirs and the null-filled dir read tag NULL
    val rows = log2.scan().select("id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some("x"), 5L -> None))
    // zone correctness across eras for a probe on the ADDED column:
    // era-1 dirs have no tag zone entry -> kept (superset, never wrong);
    // the null-filled dir has an all-null zone -> pruned; dir 3 matches
    val (kept, total) = log2.zonePrune(col("tag") === "x")
    assert(total == 4 && kept.size == 3, s"kept $kept")
    assert(log2.scanWhere(col("tag") === "x").select("id").as[Long]
      .collect().toSeq == Seq(4L))
    // prunes on a PRE-EXISTING column ride old sidecars unchanged
    assert(log2.scanWhere(col("v") <= 2.0).count() == 2)
    // extra columns beyond the declared schema FAIL LOUDLY by default —
    // a producer typo ('usrid') would otherwise look like a stale narrow
    // producer and commit nulls for the real column with no error
    val typo = intercept[IllegalArgumentException] {
      log2.append(Seq((6L, 6.0, "y", 99L)).toDF("id", "v", "tag", "extra"))
    }
    assert(typo.getMessage.contains("extra"))
    assert(log2.batchCount == 4) // the refused batch committed nothing
    // ...and are dropped only under the explicit opt-in
    val lax = new AppendLog(spark, rootDir, "public.evo", v2, Seq("v", "tag"),
      allowExtraColumns = true)
    lax.append(Seq((6L, 6.0, "y", 99L)).toDF("id", "v", "tag", "extra"))
    assert(lax.scan().columns.toSeq == Seq("id", "v", "tag"))
    assert(lax.scan().count() == 6)
    // type WIDENING: int-era files scan under a long declaration, and
    // the "num" zone kind compares width-agnostically
    val w1 = StructType(Seq(StructField("k", IntegerType)))
    val wlogNarrow = new AppendLog(spark, rootDir, "public.wide", w1, Seq("k"))
    wlogNarrow.append(Seq(1, 2, 3).toDF("k"))
    val w2 = StructType(Seq(StructField("k", LongType)))
    val wlogWide = new AppendLog(spark, rootDir, "public.wide", w2, Seq("k"))
    wlogWide.append(Seq(10L).toDF("k"))
    assert(wlogWide.scan().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 10L))
    val (keptW, totalW) = wlogWide.zonePrune(col("k") >= 10L)
    assert(totalW == 2 && keptW.size == 1)
  }

  test("join-key zone prune API: value-set probe beats range probe; superset contract holds") {
    val log = new AppendLog(spark, tmpDir("alog-jk"), "public.jk", schema,
      Seq("id"))
    (1 to 6).foreach(d => log.append(day(d, 4))) // dir d holds ids [d*100, d*100+3]
    val dim = Seq((101L, "x"), (302L, "y")).toDF("k", "lbl")
    // sparse keys: the distinct-set probe keeps exactly the 2 hit dirs
    val (keptSet, total) = log.zonePruneForJoin(dim, "k", "id")
    assert(total == 6 && keptSet.size == 2, s"set probe kept $keptSet")
    // forced min/max fallback (maxValues=1): coarser — keeps the covering range
    val (keptRange, _) = log.zonePruneForJoin(dim, "k", "id", maxValues = 1)
    assert(keptRange.size == 3, s"range probe kept $keptRange")
    // pruned scan + join == unpruned scan + join (superset contract)
    val expect = log.scan().join(dim, col("id") === col("k"))
      .select("id", "lbl").as[(Long, String)].collect().toSet
    val got = log.scanForJoin(dim, "k", "id").join(dim, col("id") === col("k"))
      .select("id", "lbl").as[(Long, String)].collect().toSet
    assert(got == expect && got == Set((101L, "x"), (302L, "y")))
    // non-zoned column: no pruning
    assert(log.zonePruneForJoin(dim, "k", "v")._1.size == 6)
    // dim with only null keys: empty on the log side
    val nullDim = Seq(Tuple2(null.asInstanceOf[java.lang.Long], "x"))
      .toDF("k", "lbl")
    assert(log.zonePruneForJoin(nullDim, "k", "id")._1.isEmpty)
  }

  test("ZoneJoinPruneRule: fact-join-dim prunes the log's dirs at optimization time; outer sides are safe") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val log = new AppendLog(spark, tmpDir("alog-jkr"), "public.jkr", schema,
      Seq("id"))
    (1 to 6).foreach(d => log.append(day(d, 4)))
    ZonePrune.register(log)
    ZonePrune.install(spark)
    try {
      val dim = Seq((101L, "x"), (302L, "y")).toDF("k", "lbl")
      def logRoots(df: org.apache.spark.sql.DataFrame): Seq[Int] =
        df.queryExecution.optimizedPlan.collect {
          case r: LogicalRelation => r.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.size
            case _ => -1
          }
        }.filter(_ >= 2) // the dim side local relation never shows here
      // inner join: only the 2 key-hit dirs survive in the scan
      val inner = log.scan().join(dim, col("id") === col("k"))
      assert(logRoots(inner) == Seq(2), s"inner roots ${logRoots(inner)}")
      assert(inner.select("id", "lbl").as[(Long, String)].collect().toSet ==
        Set((101L, "x"), (302L, "y")))
      // left semi: same pruning
      val semi = log.scan().join(dim, col("id") === col("k"), "left_semi")
      assert(logRoots(semi) == Seq(2))
      assert(semi.select("id").as[Long].collect().toSet == Set(101L, 302L))
      // LEFT OUTER with the log on the left: non-matching log rows ARE
      // output — the rule must NOT prune (all 6 dirs stay)
      val lo = log.scan().join(dim, col("id") === col("k"), "left")
      assert(logRoots(lo) == Seq(6), s"left-outer roots ${logRoots(lo)}")
      assert(lo.count() == 24)
      // LEFT OUTER with the log on the RIGHT: log-side pruning is safe
      val loR = dim.join(log.scan(), col("id") === col("k"), "left")
      assert(logRoots(loR) == Seq(2))
      assert(loR.count() == 2)
      // a dim with no non-null keys collapses the log side entirely
      val nullDim = Seq(Tuple2(null.asInstanceOf[java.lang.Long], "z"))
        .toDF("k", "lbl")
      val empty = log.scan().join(nullDim, col("id") === col("k"))
      assert(empty.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r }.isEmpty)
      assert(empty.count() == 0)
      // composes with the literal rule: filter + join prunes by both
      val both = log.scan()
        .filter(col("ts") >= lit(ts("2024-03-03 00:00:00")))
        .join(dim, col("id") === col("k")) // hits dirs {1,3} ∩ ts>=d3 = {3}
      assert(both.select("id").as[Long].collect().toSet == Set(302L))
    } finally ZonePrune.unregister(log)
  }

  test("string zone probes use UTF-8 binary order — supplementary-plane values are not mispruned") {
    // U+FFFD (BMP, UTF-8: EF BF BD) vs U+1F600 (supplementary, UTF-8:
    // F0 9F 98 80): UTF-8 binary ranks U+FFFD < U+1F600, but UTF-16
    // code-unit order (String.compareTo) ranks the surrogate pair BELOW
    // U+FFFD. Zone min/max come from Spark's UTF8_BINARY min/max, so a
    // probe compared under String.compareTo would see U+1F600 < min and
    // falsely prune the directory that holds it.
    val emoji = "😀" // U+1F600
    val log = new AppendLog(spark, tmpDir("alog-u8"), "public.u8", schema,
      Seq("kind"))
    log.append(Seq((1L, ts("2024-01-01 00:00:00"), "�", 1.0),
      (2L, ts("2024-01-01 00:00:01"), emoji, 2.0)).toDF("id", "ts", "kind", "v"))
    log.append(Seq((3L, ts("2024-01-02 00:00:00"), "ascii", 3.0))
      .toDF("id", "ts", "kind", "v"))
    val (kept, total) = log.zonePrune(col("kind") === emoji)
    assert(total == 2 && kept.size == 1,
      s"emoji probe must keep exactly the mixed-plane dir, kept=$kept")
    assert(log.scanWhere(col("kind") === emoji).count() == 1)
    // and a range straddling the planes keeps the dir too
    assert(log.scanWhere(col("kind") > "�").count() == 1)
  }

  test("an all-digit idempotency key cannot collide with a non-keyed dir's nanoTime suffix") {
    val rootDir = tmpDir("alog-digk")
    val log = new AppendLog(spark, rootDir, "public.dk", schema, Seq("v"))
    log.append(day(1, 2)) // plain append: dir suffix is an all-digit token
    val base = new org.apache.hadoop.fs.Path(rootDir, "public_dk")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val plainSuffix = fs.listStatus(new org.apache.hadoop.fs.Path(base, "data"))
      .map(_.getPath.getName).head.dropWhile(_ != '-').drop(1)
    assert(plainSuffix.forall(_.isDigit))
    // an idempotency key equal to that suffix MUST still commit
    log.append(day(2, 2), Some(plainSuffix))
    assert(log.batchCount == 2 && log.scan().count() == 4)
    // while a true retry of the keyed epoch is still a no-op
    log.append(day(2, 2), Some(plainSuffix))
    assert(log.batchCount == 2)
  }

  test("keyed dir names are never reused across truncateBefore generations") {
    val rootDir = tmpDir("alog-gen")
    val log = new AppendLog(spark, rootDir, "public.gen", schema, Seq("v"))
    val base = new org.apache.hadoop.fs.Path(rootDir, "public_gen")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs() = fs.listStatus(new org.apache.hadoop.fs.Path(base, "data"))
      .map(_.getPath.getName).toSet
    log.append(day(1, 2), Some("w1"))
    log.append(day(2, 2), Some("w2"))
    val gen1 = dirs()
    assert(log.truncateBefore(2) == 2)
    // same keys, same seq positions as the swept generation
    log.append(day(3, 2), Some("w1"))
    log.append(day(4, 2), Some("w2"))
    val gen2Names = dirs() // swept dirs are gc'd by the appends
    assert(gen2Names.intersect(gen1).isEmpty,
      s"dir names reused across generations: ${gen2Names.intersect(gen1)}")
    assert(log.batchCount == 2 && log.scan().count() == 4)
    // and the new generation's keys still dedupe retries
    log.append(day(3, 2), Some("w1"))
    assert(log.batchCount == 2)
  }
}
