package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** USAGE ledger for registered summaries — the missing lifecycle half of
  * the advisor loop: [[MvAdvisor.advise]] creates summaries, the rewrite
  * serves them, the maintainers refresh them, and this asks whether a
  * summary still EARNS its maintenance. Two counters per summary
  * identity:
  *
  *  - `hits`: times the rewrite actually rerouted a query to the summary
  *    (recorded at every serve decision in [[StarMv.tryRewrite]];
  *    approximate under re-optimization — an advisor signal,
  *    not an audit log);
  *  - `maintEvents`: refresh/rebuild waves applied (each one rewrites
  *    the summary — the recurring cost serving must amortize).
  *
  * Identity strips the `_vN` version suffix ([[key]]): every refresh
  * retires the old path for a new version, and usage must accumulate
  * across versions or each refresh would zero the evidence.
  *
  * PERSISTENCE (r14 — the r13 verdict's "observation window should
  * survive the process"): counters are in-memory for the hot path, and
  * write through to a tiny `<identity>._usage` file beside the summary
  * (atomic rename, the same primitive as every manifest) — DEBOUNCED to
  * once per key per second for serve counts (a maintained loop
  * re-optimizes hundreds of times; per-serve writes measurably taxed the
  * bench) and immediate for maintenance events; [[flush]] closes the
  * window at shutdown. The first touch of an identity in a fresh process
  * SEEDS from the file — a session restart no longer zeroes the eviction
  * evidence [[MvAdvisor.adviseDrop]] needs. Persistence is
  * BEST-EFFORT by contract (an unwritable path degrades to the in-memory
  * window, never to a failed query); JDBC serving identities
  * (`jdbc::…`, not paths) stay memory-only. `reset()` starts a new
  * observation window and deletes the files of every identity it has
  * seen this process.
  */
object MvUsage {

  final case class Usage(hits: Long, maintEvents: Long)

  private val hits = new ConcurrentHashMap[String, AtomicLong]()
  private val maint = new ConcurrentHashMap[String, AtomicLong]()
  private val seeded = ConcurrentHashMap.newKeySet[String]()
  // write-through DEBOUNCE: serve decisions fire per optimization (a
  // maintained-MV loop re-optimizes hundreds of times — a synchronous
  // file write each time measurably taxed the r14 bench), so a key
  // persists at most once per second plus always on maintenance events
  // and on flush(); between persists the key sits in `dirty`. A hard
  // crash can lose ≤1 s of serve counts — within the ledger's declared
  // approximate-signal contract.
  private val lastPersistNs = new ConcurrentHashMap[String, java.lang.Long]()
  private val dirty = ConcurrentHashMap.newKeySet[String]()
  private val debounceNs = 1000000000L

  /** Version-stripped, normalized summary identity. */
  def key(summaryPath: String): String =
    MaterializedView.normalize(summaryPath).replaceAll("_v\\d+$", "")

  private def persistable(k: String): Boolean = !k.startsWith("jdbc::")

  private def hconf = org.apache.spark.sql.SparkSession.getActiveSession
    .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    .map(_.sparkContext.hadoopConfiguration)
    .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def usagePath(k: String) =
    new org.apache.hadoop.fs.Path(k + "._usage")

  /** First touch per process: fold the persisted window into the
    * in-memory counters (once — later records only write through).
    */
  private def seed(k: String): Unit = {
    if (!persistable(k) || !seeded.add(k)) return
    try {
      val p = usagePath(k)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val kv = body.split('\n').filter(_.contains('=')).map { l =>
          val Array(a, b) = l.split("=", 2); a -> b.toLong
        }.toMap
        kv.get("hits").filter(_ > 0L).foreach(h =>
          hits.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(h))
        kv.get("maint").filter(_ > 0L).foreach(m =>
          maint.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(m))
      }
    } catch { case _: Exception => () } // best-effort: memory window stands
  }

  private def persist(k: String): Unit = {
    if (!persistable(k)) return
    try {
      val u = Usage(Option(hits.get(k)).map(_.get).getOrElse(0L),
        Option(maint.get(k)).map(_.get).getOrElse(0L))
      graft.sources.AtomicFiles.write(hconf, usagePath(k),
        s"hits=${u.hits}\nmaint=${u.maintEvents}".getBytes("UTF-8"))
    } catch { case _: Exception => () } // best-effort
  }

  private def persistMaybe(k: String, force: Boolean): Unit = {
    if (!persistable(k)) return
    val now = System.nanoTime()
    val last = lastPersistNs.get(k)
    if (force || last == null || now - last >= debounceNs) {
      lastPersistNs.put(k, now)
      dirty.remove(k)
      persist(k)
    } else { dirty.add(k); () }
  }

  /** Write every debounced-pending key's window out now — call at
    * session shutdown (or before handing the warehouse to another
    * process) to close the ≤1 s serve-count window the debounce holds.
    */
  def flush(): Unit = {
    val it = dirty.iterator()
    while (it.hasNext) { val k = it.next(); it.remove(); persist(k) }
  }

  private[plans] def recordServe(summaryPath: String): Unit = {
    val k = key(summaryPath)
    seed(k)
    hits.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()
    persistMaybe(k, force = false)
  }

  private[plans] def recordMaintenance(summaryPath: String): Unit = {
    val k = key(summaryPath)
    seed(k)
    maint.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()
    persistMaybe(k, force = true) // waves are rare; their evidence matters
  }

  /** Usage for a summary path (any version) — persisted window included. */
  def usageOf(summaryPath: String): Usage = {
    val k = key(summaryPath)
    seed(k)
    Usage(Option(hits.get(k)).map(_.get).getOrElse(0L),
      Option(maint.get(k)).map(_.get).getOrElse(0L))
  }

  /** Test hook: drop the in-memory window WITHOUT touching the persisted
    * files — simulates a process restart (the scenario the write-through
    * exists for). Not part of the operational surface; reset() is.
    */
  private[plans] def dropInMemoryWindow(): Unit = {
    flush() // a graceful restart flushes; only a hard crash loses the tail
    hits.clear(); maint.clear(); seeded.clear()
    lastPersistNs.clear(); dirty.clear()
  }

  /** Start a new observation window: clear the in-memory counters AND
    * delete the persisted files of every identity this process has seen
    * (identities never touched here keep their windows — reset is not a
    * warehouse-wide sweep).
    */
  def reset(): Unit = {
    val known = new java.util.HashSet[String]()
    known.addAll(hits.keySet); known.addAll(maint.keySet); known.addAll(seeded)
    known.forEach { k =>
      if (persistable(k)) {
        try {
          val p = usagePath(k)
          val fs = p.getFileSystem(hconf)
          if (fs.exists(p)) { fs.delete(p, false); () }
        } catch { case _: Exception => () }
      }
    }
    hits.clear(); maint.clear(); seeded.clear()
    lastPersistNs.clear(); dirty.clear()
  }
}
