package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B harness for the MOR newest-wins resolution shapes (r15 guide §2.3/
  * §2.4 candidate): the shipped pk-window `row_number` form vs a `max_by`
  * aggregate (per-column and single-struct variants). Builds a stacked
  * delta dataset at a configurable scale (the lineitem sf0.1 shape: long
  * pk, numeric + string payload, 1 base + k delta layers with overlapping
  * keys), times each variant min-of-3 via the Bench methodology
  * (`toRdd.foreach`, cache clear + GC between runs), and prints the chosen
  * physical aggregate/window operators so the plan claim is auditable.
  *
  * Usage: `runMain graft.tools.MorResolveExp [nBase] [nDeltaLayers] [deltaFrac]`
  */
object MorResolveExp {
  def main(args: Array[String]): Unit = {
    val nBase = args.headOption.map(_.toLong).getOrElse(2000000L)
    val layers = args.lift(1).map(_.toInt).getOrElse(3)
    val frac = args.lift(2).map(_.toDouble).getOrElse(0.15)
    // multipliers COPRIME with nBase (and each id range < nBase/mult cycle):
    // a shared factor would place duplicate (pk, _seq) rows in one layer —
    // contract-violating input (CompactedBatch: one row per key per batch)
    // on which every resolution variant tie-breaks arbitrarily. Layer i
    // uses mults(i - 1), so both are checked before any work starts.
    val mults = Seq(3L, 7L, 11L, 13L, 17L, 19L, 23L, 29L)
    require(layers <= mults.size,
      s"nDeltaLayers is at most ${mults.size} (one multiplier per layer): $layers")
    val shared = mults.take(layers).filter(m => BigInt(m).gcd(nBase) != 1)
    require(shared.isEmpty, s"nBase $nBase shares a factor with the layer " +
      s"multipliers ${shared.mkString(", ")} — pick an nBase coprime with them")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try spark.range(2000000).selectExpr("sum(id * 2)").collect()
    catch { case _: Throwable => () }

    val dir = s"/tmp/mor_resolve_exp_${System.nanoTime()}"
    // stacked shape: base layer seq 0 covers all keys; each delta layer i
    // rewrites a deterministic `frac` slice (10% upserts : 1 in 11 deletes)
    val base = spark.range(nBase)
      .selectExpr("id AS pk", "id % 997 AS grp", "cast(id * 3 as double) AS v",
        "concat('payload_', cast(id % 10007 as string)) AS s",
        "'u' AS _op", "0L AS _seq")
    val deltas = (1 to layers).map { i =>
      spark.range((nBase * frac).toLong)
        .selectExpr(s"(id * ${mults(i - 1)}) % $nBase AS pk", "id % 997 AS grp",
          s"cast(id * 7 + $i as double) AS v",
          s"concat('upd${i}_', cast(id % 5003 as string)) AS s",
          s"CASE WHEN id % 11 = 0 THEN 'd' ELSE 'u' END AS _op",
          s"${i}L AS _seq")
    }
    (base +: deltas).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(dir)
    val pk = Seq("pk")
    val dataCols = Seq("pk", "grp", "v", "s")

    def windowResolve(stack: DataFrame): DataFrame = {
      val w = Window.partitionBy(pk.map(col): _*)
        .orderBy(col("_seq").desc, col("_op").desc)
      stack.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col("_op") === "u")
        .select(dataCols.map(col): _*)
    }
    def maxByPerCol(stack: DataFrame): DataFrame = {
      val ord = struct(col("_seq"), col("_op"))
      val nonPk = dataCols.filterNot(pk.contains)
      val aggs = nonPk.map(c => max_by(col(c), ord).as(c)) :+
        max_by(col("_op"), ord).as("_op")
      stack.groupBy(pk.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .filter(col("_op") === "u")
        .select(dataCols.map(col): _*)
    }
    def maxByStruct(stack: DataFrame): DataFrame = {
      val ord = struct(col("_seq"), col("_op"))
      val img = struct(col("_op") +: dataCols.filterNot(pk.contains).map(col): _*)
      stack.groupBy(pk.map(col): _*).agg(max_by(img, ord).as("_top"))
        .filter(col("_top._op") === "u")
        .select(pk.map(col) ++
          dataCols.filterNot(pk.contains).map(c => col(s"_top.$c").as(c)): _*)
    }

    val variants: Seq[(String, DataFrame => DataFrame)] = Seq(
      "window_rn" -> windowResolve,
      "maxby_percol" -> maxByPerCol,
      "maxby_struct" -> maxByStruct)

    variants.foreach { case (name, f) =>
      val df = f(spark.read.parquet(dir))
      val phys = df.queryExecution.executedPlan.toString
      val opLines = phys.linesIterator.filter(l =>
        l.contains("Aggregate") || l.contains("Window") || l.contains("Sort") ||
          l.contains("Exchange")).map(_.trim.take(120)).mkString("\n  ")
      println(s"\n### $name plan operators:\n  $opLines")
      println(s"rows: ${f(spark.read.parquet(dir)).count()}")
      val times = (1 to 5).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        System.gc(); Thread.sleep(150)
        val t0 = System.nanoTime()
        f(spark.read.parquet(dir)).queryExecution.toRdd.foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%14s times: ${times.map(t => f"$t%.2f").mkString(", ")} min ${times.min}%.2f s")
    }
    // correctness cross-check: all three variants agree
    val a = windowResolve(spark.read.parquet(dir))
    val b = maxByPerCol(spark.read.parquet(dir))
    val c = maxByStruct(spark.read.parquet(dir))
    println(s"percol XOR window diff: ${a.exceptAll(b).count() + b.exceptAll(a).count()}")
    println(s"struct XOR window diff: ${a.exceptAll(c).count() + c.exceptAll(a).count()}")
    spark.stop()
  }
}
