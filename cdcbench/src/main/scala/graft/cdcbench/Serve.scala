package graft.cdcbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The quiesced serve phase: after ingest has stopped, one client runs the
  * three query kinds in a fixed round-robin order over fresh store
  * snapshots, and checks every answer against the generator's model.
  *
  *  - `lookup`: 20 order keys drawn from the seed, `WHERE o_id IN (...)`.
  *  - `scan`: a full-table aggregate over orders with a distinct count, so
  *    no MV can answer it (on merge-on-read stores this is the resolve
  *    path).
  *  - `rollup`: the MV's own aggregate, phrased against the live tables;
  *    the rewrite should serve it from the summary.
  */
final class Serve(spark: SparkSession, rig: Rig, layout: Layout,
    model: Model, seed: Long) {
  import Serve._

  private val rnd = new java.util.SplittableRandom(seed ^ 0x5e17e5eedL)
  private def span[T](name: String)(body: => T): T = rig.tracer match {
    case Some(t) if rig.traced => t.span(name)(body)
    case _ => body
  }

  private val rollupSql = layout.mv match {
    case MvKind.Star =>
      """SELECT c_segment AS g, count(*) AS n, sum(o_amount) AS s,
        |min(o_amount) AS mn, max(o_amount) AS mx
        |FROM orders JOIN customer ON o_cust = c_id GROUP BY c_segment""".stripMargin
    case MvKind.Single =>
      """SELECT o_status AS g, count(*) AS n, sum(o_amount) AS s,
        |min(o_amount) AS mn, max(o_amount) AS mx
        |FROM orders GROUP BY o_status""".stripMargin
  }
  private val expectedRollup = layout.mv match {
    case MvKind.Star => model.starRollup
    case MvKind.Single => model.statusRollup
  }

  def run(kind: String): Sample = {
    val t0 = System.nanoTime()
    val (o, c) = span("sources.snapshot") {
      (rig.orders.snapshot(), if (kind == Rollup) rig.customer.snapshot() else null)
    }
    o.createOrReplaceTempView("orders")
    if (c != null) c.createOrReplaceTempView("customer")
    val (df, check) = kind match {
      case Lookup =>
        val keys = Seq.fill(20)(1L + rnd.nextInt(Generator.OrderKeys))
        (spark.sql(s"SELECT * FROM orders WHERE o_id IN (${keys.mkString(",")})"),
          (rows: Array[Row]) => rows.map(orderOf).toSet == keys.flatMap(model.orders.get).toSet)
      case Scan =>
        (spark.sql("SELECT count(*), sum(o_amount), count(DISTINCT o_cust) FROM orders"),
          (rows: Array[Row]) => rows.length == 1 &&
            (rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2)) == model.scanTotals)
      case Rollup =>
        (spark.sql(rollupSql),
          (rows: Array[Row]) => rows.map(rollupOf).toSet == expectedRollup)
    }
    span(s"plans.optimize:$kind")(df.queryExecution.optimizedPlan)
    val rows = span(s"sources.read:$kind")(df.collect())
    val ms = (System.nanoTime() - t0) / 1e6
    val fromSummary = kind == Rollup && servedFrom(df, rig.summaryRoot)
    Sample(kind, ms, check(rows), fromSummary)
  }
}

object Serve {
  /** One query: wall time, whether the answer matched, whether it was
    * served from the summary (rollups only).
    */
  final case class Sample(kind: String, ms: Double, ok: Boolean, fromSummary: Boolean)

  val Lookup = "lookup"
  val Scan = "scan"
  val Rollup = "rollup"
  val Kinds: Seq[String] = Seq(Lookup, Scan, Rollup)

  private def orderOf(r: Row): Order =
    Order(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
  private def rollupOf(r: Row): (String, Long, Long, Long, Long) =
    (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))

  /** Whether every file scan of the optimized plan reads under `root`. */
  def servedFrom(df: DataFrame, root: String): Boolean = {
    val roots = df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Seq("<non-file relation>")
      }
    }.flatten
    roots.nonEmpty && roots.forall(_.startsWith(root))
  }
}

/** The generator's final tables, with the answers every check expects. */
final class Model(val orders: Map[Long, Order], val customers: Map[Long, Customer]) {
  private def rollup(rows: Iterable[(String, Long)]) =
    rows.groupBy(_._1).map { case (g, rs) =>
      val v = rs.map(_._2)
      (g, v.size.toLong, v.sum, v.min, v.max)
    }.toSet

  lazy val starRollup: Set[(String, Long, Long, Long, Long)] = rollup(
    orders.values.flatMap(o => customers.get(o.cust).map(c => c.segment -> o.amount)))
  lazy val statusRollup: Set[(String, Long, Long, Long, Long)] =
    rollup(orders.values.map(o => o.status -> o.amount))
  lazy val scanTotals: (Long, Long, Long) = (orders.size.toLong,
    orders.values.map(_.amount).sum, orders.values.map(_.cust).toSet.size.toLong)
}
