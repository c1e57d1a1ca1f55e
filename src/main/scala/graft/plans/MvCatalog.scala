package graft.plans

import graft.plans.MaterializedView.MvDef
import graft.plans.StarMv.{QCol, StarMvDef}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Durable MV catalog: persist every registered definition — both shapes,
  * [[MaterializedView.MvDef]] and [[StarMv.StarMvDef]] — to ONE
  * atomically-renamed file, and re-register them in a fresh session. The
  * in-process registry is session state; without this, a restart silently
  * loses every ad-hoc MV and every query quietly pays the base scan again
  * — the failure mode is a PERFORMANCE cliff, not an error, which is
  * exactly the kind users don't notice. (MVs owned by a
  * [[MvMaintainer]]/[[StarMvMaintainer]]/[[JdbcStarMaintainer]] already
  * persist through their own state files and resume via `open()` — this
  * catalog is for standalone definitions.)
  *
  * [[load]] is additive (no clear) and SKIPS definitions whose summary
  * files no longer exist (a crash mid-rebuild leaves the registry's last
  * consistent version elsewhere) — skipped defs are returned so a caller
  * can rebuild them. Snapshot dir-set registrations are deliberately NOT
  * persisted: they pin live store versions, which a restart must
  * re-derive from the stores (the maintainers do exactly that).
  *
  * The codec: this object also writes down a definition for every file
  * that stores one — catalog lines and the maintainers' state files
  * alike ([[fields]]/[[parse]]) — as `key → value` fields, list values
  * comma-joined with each element URL-encoded (`path|name` for a
  * qualified column, `a~b` for a join pair, `name=sql` for a derived
  * column). A single-table MV writes `base`, `groups`, `measures`,
  * `summary`, `derivedGroups`; a star writes `tables`, `joins`, `groups`,
  * `measures`, `summary`, `derived` (derived measures), `lossless`,
  * `derivedGroups`. [[parse]] tells the shapes apart by `base` and also
  * reads the spellings older files used: `group`/`measure`/`derived`
  * (derived groups) in a single-table maintainer's state file, and
  * `derivedMeasures` in a catalog's star line. A catalog file holds one
  * definition per line (fields joined by `\u0001`, each `key<TAB>value`);
  * unknown keys (the older catalogs' `kind`) are ignored.
  */
object MvCatalog {

  private[plans] def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private[plans] def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
  private def split(s: String): Seq[String] =
    if (s.isEmpty) Nil else s.split(",", -1).toSeq
  private def qenc(q: QCol) = s"${enc(q.path)}|${enc(q.name)}"
  private def qdec(s: String): QCol = {
    val Array(p, n) = s.split("\\|", 2); QCol(dec(p), dec(n))
  }
  private def pairsEnc(ps: Seq[(String, String)]) =
    ps.map { case (n, v) => s"${enc(n)}=${enc(v)}" }.mkString(",")
  private def pairsDec(s: String): Seq[(String, String)] =
    split(s).map { p => val Array(n, v) = p.split("=", 2); (dec(n), dec(v)) }

  /** The fields that write `d` down (see the codec note above). */
  private[plans] def fields(d: MvDefinition): Seq[(String, String)] = d match {
    case m: MvDef => Seq(
      "base" -> enc(m.basePath),
      "groups" -> m.groupCols.map(enc).mkString(","),
      "measures" -> m.measureCols.map(enc).mkString(","),
      "summary" -> enc(m.summaryPath),
      "derivedGroups" -> pairsEnc(m.derivedGroups))
    case s: StarMvDef => Seq(
      "tables" -> s.tables.map(enc).mkString(","),
      "joins" -> s.joins.map { case (a, b) => s"${qenc(a)}~${qenc(b)}" }
        .mkString(","),
      "groups" -> s.groupCols.map(qenc).mkString(","),
      "measures" -> s.measureCols.map(qenc).mkString(","),
      "summary" -> enc(s.summaryPath),
      "derived" -> pairsEnc(s.derivedMeasures),
      "lossless" -> s.losslessTables.map(enc).mkString(","),
      "derivedGroups" -> pairsEnc(s.derivedGroups))
  }

  /** The definition `kv` writes down, in the current or an older spelling. */
  private[plans] def parse(kv: Map[String, String]): MvDefinition = {
    def any(keys: String*): String =
      keys.flatMap(kv.get).headOption.getOrElse("")
    val summary = dec(kv("summary"))
    if (kv.contains("base")) MvDef(
      basePath = dec(kv("base")),
      groupCols = split(any("groups", "group")).map(dec),
      measureCols = split(any("measures", "measure")).map(dec),
      summaryPath = summary,
      derivedGroups = pairsDec(any("derivedGroups", "derived")))
    else StarMvDef(
      tables = split(kv("tables")).map(dec),
      joins = split(kv("joins")).map { pr =>
        val Array(a, b) = pr.split("~", 2); (qdec(a), qdec(b)) },
      groupCols = split(kv("groups")).map(qdec),
      measureCols = split(kv("measures")).map(qdec),
      summaryPath = summary,
      derivedMeasures = pairsDec(any("derived", "derivedMeasures")),
      // absent in pre-lossless files → Nil (sub-join serving off, which
      // is the conservative direction)
      losslessTables = split(any("lossless")).map(dec),
      derivedGroups = pairsDec(any("derivedGroups")))
  }

  /** `key<TAB>value` fields → map. */
  private[plans] def kv(fields: Iterator[String]): Map[String, String] =
    fields.filter(_.nonEmpty).map { f =>
      val i = f.indexOf('\t'); f.substring(0, i) -> f.substring(i + 1)
    }.toMap

  /** `fields` as `key<TAB>value` entries joined by `sep`. */
  private[plans] def render(fields: Seq[(String, String)], sep: String): String =
    fields.map { case (k, v) => s"$k\t$v" }.mkString(sep)

  /** The whole text of `path`; `missing` is the refusal when it is absent. */
  private[plans] def readText(spark: SparkSession, path: String,
      missing: => String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), missing)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Replace `path` with `text` by one atomic rename. */
  private[plans] def writeText(spark: SparkSession, path: String,
      text: String): Unit =
    graft.sources.AtomicFiles.write(spark.sparkContext.hadoopConfiguration,
      new Path(path), text.getBytes("UTF-8"))

  /** Write the current registry to `path` (atomic rename). */
  def save(spark: SparkSession, path: String): Unit =
    writeText(spark, path, StarMv.definitions
      .map(d => render(fields(d), "\u0001")).mkString("\n"))

  /** Re-register every definition recorded at `path` whose summary still
    * exists AND whose slot has no live registration (a single-table MV on
    * the same base, a star over the same leaf set) — live wins, so loading
    * next to a maintainer's `open()` never shadows a newer generation with
    * the catalog's stale copy. Returns (loaded, skipped-summary-paths).
    */
  def load(spark: SparkSession, path: String): (Int, Seq[String]) = {
    val body = readText(spark, path, s"no MV catalog at $path")
    var loaded = 0
    val skipped = Seq.newBuilder[String]
    body.linesIterator.filter(_.nonEmpty).foreach { line =>
      val d = parse(kv(line.split("\u0001", -1).iterator))
      val sPath = new Path(d.summaryPath)
      // LIVE registrations win: a maintainer's open() may already have
      // re-registered a NEWER generation of the same MV — replacing (mv)
      // or shadowing (star, where insertion order decides) it with the
      // catalog's stale copy would serve superseded summaries whose files
      // the maintainer's gc may delete
      val live = StarMv.definitions.exists(r =>
        r.baseKey.isDefined == d.baseKey.isDefined &&
          r.asStar.leafSet == d.asStar.leafSet)
      if (live || !sPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(sPath)) {
        skipped += d.summaryPath; ()
      } else {
        StarMv.put(d)
        loaded += 1
      }
    }
    (loaded, skipped.result())
  }
}
