package graft.queries

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query scratch space (q89/q92/q93/q94): every write into it uses
  * mode(overwrite), so reuse WITHIN a JVM is safe and one run never
  * accumulates multiple corpus copies. The base dir carries a per-JVM token
  * — two concurrent sessions on one machine would otherwise overwrite each
  * other's scratch mid-read — and a shutdown hook removes it, so repeated
  * Bench/Verify runs don't accumulate either. A CRASHED JVM (OOM, kill -9)
  * never runs its hook, so base creation also sweeps sibling
  * `graft_scratch_*` dirs older than 24 h: dead sessions' scratch is
  * reclaimed, while any plausibly-live concurrent session (younger than a
  * day) is left alone. `GRAFT_SCRATCH_DIR` overrides the base; the
  * `java.io.tmpdir` default is DRIVER-LOCAL and therefore correct only on
  * local[*] (the same shared-filesystem contract Spark sets for a
  * streaming query's checkpoint location) — a multi-node deployment must
  * point this at shared storage.
  */
private[queries] object QueryScratch {
  private lazy val base: java.io.File = {
    val root = sys.env.get("GRAFT_SCRATCH_DIR").map(new java.io.File(_))
      .getOrElse(new java.io.File(sys.props("java.io.tmpdir")))
    // reclaim crash-orphaned scratch from dead sessions (see scaladoc)
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(root.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft_scratch_") && f.lastModified() < cutoff)
        delete(f)
    })
    val d = new java.io.File(root, s"graft_scratch_${java.util.UUID.randomUUID()}")
    d.mkdirs()
    sys.addShutdownHook(delete(d))
    d
  }
  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }
  def dir(tag: String): String = {
    val d = new java.io.File(base, tag)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** LLM-training-data pipeline operators as driver-verifiable queries over
  * `documents.parquet` / `embeddings.parquet` (driver mandate, SURVEY.md
  * §7.1.8). The corpus has no natural duplicates, so dedup queries first
  * union in deterministic synthetic copies (exact copies for md5 dedup,
  * 80%-prefix copies for near-dedup) — the oracle, or the rows-only check,
  * then validates that the operator finds exactly the planted pairs plus
  * whatever true near-dups exist.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def scratchDir(tag: String): String = QueryScratch.dir(tag)

  /** documents ∪ exact copies of every 10th doc (id+10⁶). */
  private def withExactDups(d: DataFrame): DataFrame =
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))

  /** The 80%-prefix near-copies of every 5th doc (id+10⁶) — the planted
    * delta batch shared by the batch union AND the incremental query.
    */
  private[queries] def nearDupBatch(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 5 === 0)
      .withColumn("text", substring(col("text"), lit(1), (col("n_chars") * 4 / 5).cast("int")))
      .withColumn("doc_id", col("doc_id") + 1000000L)

  /** documents ∪ 80%-prefix near-copies of every 5th doc (id+10⁶). */
  private def withNearDups(d: DataFrame): DataFrame =
    d.unionByName(nearDupBatch(d))

  private val stops = TextFunctions.langMarkers.head._2 // the "en" list

  /** Synthetic multimodal asset table over documents (q38/q41): a modality
    * from doc_id mod 3 and the text bytes as the opaque payload.
    */
  private def assets(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("payload"))

  /** embeddings ∪ perturbed copies (×0.9 + 0.01 per component, exact double
    * math both engines reproduce) of every 5th vector (id+10⁶). Cast to
    * double FIRST so Spark and the oracle compute identical values.
    */
  /** The perturbed delta batch (×0.9 + 0.01, every 5th vector, id+10⁶) —
    * shared by the batch union and the incremental assignment query.
    * Expects an ALREADY double-cast embedding column.
    */
  private def nearVecBatch(d: DataFrame): DataFrame =
    d.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(0.9) + lit(0.01)).as("embedding"))

  private def withNearVecs(e: DataFrame): DataFrame = {
    val d = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    d.unionByName(nearVecBatch(d))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Exact dedup: hash aggregate on content digest.
    "q30_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(withExactDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Integer-exact HyperLogLog per language: register sketch → fixed-
    // point estimate; at corpus scale the shuffle carries 256 register rows
    // per group instead of every distinct text. See
    // [[graft.operators.Sketches.hllDistinct]].
    "q131_hll_distinct" -> ((s, dir) => {
      graft.operators.Sketches.hllDistinct(docs(s, dir), "lang", "text")
    }),

    // ── Exact 1/800-heavy-hitter tokens over the corpus: per-partition
    // Misra-Gries candidates (union is a guaranteed superset — no merge),
    // then an exact broadcast-semi-join recount; output is exact and
    // partitioning-independent despite the approximate intermediate. The
    // shape that finds the ~30 frequent words in a 100 TB corpus without
    // shuffling billions of distinct-token rows. See
    // [[graft.operators.Sketches.heavyHitters]].
    "q184_heavy_hitters" -> ((s, dir) => {
      val toks = docs(s, dir).select(
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .where(col("tok") =!= "")
      graft.operators.Sketches.heavyHitters(toks, "tok", s = 800)
    }),

    // ── Bloom membership sweep: a 4096-bit filter built over src0's texts
    // (one 512-byte bitmap via word-OR merge — the constant-state build),
    // probed against the whole corpus as a codegen'd bit test. True =
    // possibly-src0-text (exact members plus the deterministic FP set both
    // engines reproduce); false = definitively new — the scalable
    // decontamination pre-filter ahead of an exact join. See
    // [[graft.operators.Sketches.bloomBits]]/[[graft.operators.Sketches.bloomMightContain]].
    "q144_bloom_membership" -> ((s, dir) => {
      val d = docs(s, dir)
      val bits = graft.operators.Sketches.bloomBits(
        d.filter(col("source") === "src0"), "text")
      d.select(col("doc_id"),
        graft.operators.Sketches.bloomMightContain(bits, 4096, 3, col("text"))
          .as("might_contain"))
    }),

    // ── Entity resolution e2e: canonicalize the part-name vocabulary —
    // block on the last name token (the item type), verify candidates with
    // edit distance ≤ 4, close matches transitively with the shared
    // min-label CC operator, and emit a per-cluster census (variant count,
    // record count, representative = the name owning the cluster's min
    // id). The standard ER shape at scale: pairs are generated ONLY within
    // blocks over the DISTINCT-name table (|names| ≪ |records|, so the
    // quadratic step never touches record volume), and the record weight
    // rides the name table as a pre-aggregated count.
    "q157_entity_resolution" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .groupBy(col("p_name").as("name"))
        .agg(min("p_partkey").as("nid"), count(lit(1)).as("n_parts"))
        .withColumn("blk", element_at(split(col("name"), " "), -1))
        // both candidate-pair sides and the final census read this tiny
        // aggregate; persist so the part scan runs once
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = names.select(col("blk"), col("name").as("name_a"), col("nid").as("id_a"))
      val b = names.select(col("blk"), col("name").as("name_b"), col("nid").as("id_b"))
      val pairs = a.join(broadcast(b), Seq("blk"))
        // thresholded levenshtein: -1 iff distance > 4 — same predicate as
        // `levenshtein(a,b) <= 4` but banded O(k·len) per candidate pair
        .where(col("name_a") < col("name_b")
          && levenshtein(col("name_a"), col("name_b"), 4) >= 0)
        .select("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs).withColumnRenamed("doc_id", "nid")
      names.join(cc, Seq("nid"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("nid")))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_names"), sum("n_parts").as("n_parts"),
          min(when(col("nid") === col("cluster_id"), col("name"))).as("rep_name"))
    }),

    // ── Inverted index build: bigram phrase → (df, exact sorted posting
    // list) for mid-frequency phrases (5 ≤ df ≤ 50) — the retrieval/dedup
    // index a corpus search layer persists (bigrams, not unigrams: phrase
    // postings are the selective tier worth materializing; stop-word-level
    // terms are pruned by the df cap). ONE group-key shuffle: per-doc
    // phrases dedup map-side (array_distinct before the explode), df rides
    // the same aggregate as the postings, and the posting buffer is the
    // bounded-distinct aggregator (no task ever holds more than cap+1
    // ids, so a boilerplate phrase's degenerate group cannot blow memory —
    // it surfaces as an empty list and the df filter drops it). Postings
    // emitted as a comma-joined string: a deterministic scalar both
    // engines hash identically.
    "q153_inverted_index" -> ((s, dir) => {
      val bounded = udaf(new graft.functions.BoundedDistinctAggregator(50),
        org.apache.spark.sql.Encoders.scalaLong)
      docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.TextFunctions.bigrams(col("text")))).as("phrase"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("df"), bounded(col("doc_id")).as("ps"))
        .where(col("df").between(5, 50))
        .select(col("phrase"), col("df"),
          array_join(transform(col("ps"), _.cast("string")), ",").as("postings"))
    }),

    // ── Boolean retrieval OVER the index: take the 3 most-frequent
    // indexed phrases (df desc, phrase asc — deterministic), explode their
    // posting lists and score each document by hit count — the OR-search
    // with AND visible as n_hits = 3. The search never touches the corpus:
    // it reads 3 index rows and explodes ≤ 150 posting entries, which is
    // the point of materializing the index at 100 TB. Postings are
    // complete for the indexed tier (df ≤ 50 = the aggregator cap), so
    // the result is exact, not approximate.
    "q200_index_search" -> ((s, dir) => {
      val bounded = udaf(new graft.functions.BoundedDistinctAggregator(50),
        org.apache.spark.sql.Encoders.scalaLong)
      val idx = docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.TextFunctions.bigrams(col("text")))).as("phrase"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("df"), bounded(col("doc_id")).as("ps"))
        .where(col("df").between(5, 50))
      idx.orderBy(col("df").desc, col("phrase")).limit(3)
        .select(explode(col("ps")).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
    }),

    // ── Padding-waste report: the training-batch efficiency argument for
    // length bucketing, measured — assemble 16-doc batches per language
    // under two policies (arrival order by doc_id vs length-sorted) and
    // compare padded-token waste when every batch pads to its longest
    // member. All integer arithmetic (capacity = n·max, waste ppm by
    // integer div); one window per policy partitioned BY LANGUAGE (never a
    // global single-task rank), batch rollups ride the same partitioning.
    "q165_padding_waste" -> ((s, dir) => {
      val base = docs(s, dir).select(col("lang"), col("doc_id"),
        TextFunctions.bpeTokenEstimate(col("text")).as("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      import org.apache.spark.sql.expressions.Window
      def policy(name: String,
          order: Seq[org.apache.spark.sql.Column]): DataFrame =
        base
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy(order: _*)))
          .withColumn("batch", expr("(rn - 1) div 16"))
          .groupBy(col("lang"), col("batch"))
          .agg(count(lit(1)).as("bn"), max(col("tok")).as("mx"),
            sum(col("tok")).as("tk"))
          .agg(sum(col("bn") * col("mx")).as("capacity"),
            sum(col("tk")).as("n_tokens"))
          .select(lit(name).as("policy"), col("capacity"), col("n_tokens"),
            (col("capacity") - col("n_tokens")).as("padded"),
            expr("(capacity - n_tokens) * 1000000 div capacity").as("waste_ppm"))
      policy("arrival", Seq(col("doc_id")))
        .unionByName(policy("length_sorted", Seq(col("tok"), col("doc_id"))))
    }),

    // ── Dedup threshold sweep: how many near-dup pairs (and docs touched)
    // survive at each Jaccard cutoff τ ∈ {0.5 … 0.9} — the sensitivity
    // report that picks a production threshold BEFORE committing to a full
    // dedup pass (one pair table at the loosest τ, five verdicts from its
    // exact integer (inter, uni) columns; nobody re-shingles per τ). The
    // pair table is persisted once and cross-joined with the tiny τ list;
    // both rollups (pair count, distinct-doc count) read the same
    // materialization.
    "q163_dedup_sweep" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(withNearDups(docs(s, dir)),
          "doc_id", "text", thresholdNum = 1, thresholdDen = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val taus = s.range(5).select((col("id") * 10 + 50).as("tau"))
      val passing = pairs.crossJoin(broadcast(taus))
        .where(col("inter") * 100 >= col("uni") * col("tau"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perPairs = passing.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
      val perDocs = passing
        .select(col("tau"), explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("tau").agg(countDistinct(col("id")).as("n_docs"))
      taus.join(perPairs, Seq("tau"), "left").join(perDocs, Seq("tau"), "left")
        .select(col("tau"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
    }),

    // ── k-anonymity audit: quasi-identifier cells (lang, source,
    // length-centile band) with fewer than k members — the privacy gate a
    // dataset release runs before publication; flagged cells must be
    // suppressed or generalized. One aggregate exchange; the release-wide
    // suppression cost rides a broadcast single-row aggregate, so the
    // report carries both the per-cell verdict and the global fraction at
    // risk. All counts exact integers, the ppm by integer div.
    "q162_k_anonymity" -> ((s, dir) => {
      val cells = docs(s, dir)
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 500").as("len_band"))
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = cells.agg(sum("n").as("n_total"),
        sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_risky"))
      cells.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("len_band"), col("n"),
          (col("n") < 5).as("below_k"),
          expr("n_risky * 1000000 div n_total").as("risky_ppm"))
    }),

    // ── Corpus drift monitor: chi-square shift statistic per (lang,
    // source) cell between two deterministic hash-halves of the corpus —
    // run between snapshot N and N+1 it flags the cells whose mix moved;
    // run on hash-halves (as here) it calibrates the null. All-integer
    // contingency arithmetic, divisions only at the final double cast.
    // See [[graft.operators.RobustStats.chiSquareDrift]].
    "q155_corpus_drift" -> ((s, dir) => {
      graft.operators.RobustStats.chiSquareDrift(docs(s, dir),
        Seq("lang", "source"),
        pmod(graft.functions.TextFunctions.domainHash("drift", col("doc_id")),
          lit(2L)))
    }),

    // ── Hot-key profile of the corpus source column — the measurement that
    // decides salting vs broadcast before a 100 TB shuffle, instead of
    // guessing (the q69 salted join's hot keys were KNOWN; this is how you
    // know). Exact integer ppm shares. See
    // [[graft.operators.Skew.keyProfile]].
    "q138_skew_profile" -> ((s, dir) => {
      graft.operators.Skew.keyProfile(docs(s, dir), "source", topK = 10)
    }),

    // ── Stratified weighted sample: the q132 priorities ranked WITHIN each
    // language — importance sampling that cannot let one stratum starve
    // another; WindowGroupLimit keeps the exchange at groups × k rows. See
    // [[graft.operators.Sketches.weightedPrioritySamplePerGroup]].
    "q142_weighted_sample_grouped" -> ((s, dir) => {
      graft.operators.Sketches.weightedPrioritySamplePerGroup(
          docs(s, dir), "doc_id", "lang", expr("1 + n_chars div 500"),
          kPerGroup = 20)
        .select("doc_id", "lang", "weight", "priority")
    }),

    // ── Sketch mergeability as a query: registers built at (lang, source)
    // granularity, max-merged to per-lang estimates WITHOUT rescanning the
    // corpus — the union law an incremental 100 TB load relies on (persist
    // per-partition sketches, roll up on demand). Output equals q131's
    // direct per-lang estimates bit-for-bit. See
    // [[graft.operators.Sketches.hllEstimate]].
    "q137_hll_merge" -> ((s, dir) => {
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(
          docs(s, dir), Seq("lang", "source"), "text"),
        Seq("lang"))
    }),

    // ── Pairwise source-overlap estimates at sketch cost: per-source HLL
    // registers max-merged per pair (the union law), |A∩B| by inclusion–
    // exclusion — the shortlist ranker that replaces |groups|² exact
    // intersection joins at 100 TB; the exact q116 join then runs only on
    // the shortlist. See [[graft.operators.Sketches.hllIntersectPairs]].
    "q149_hll_intersect" -> ((s, dir) => {
      graft.operators.Sketches.hllIntersectPairs(docs(s, dir), "source", "text")
    }),

    // ── Per-language QUANTILE NORMALIZATION: each document's token-length
    // score mapped to its within-language percentile (exact integer ppm of
    // rank over group size) — the calibration step before cross-lingual
    // mixing, where raw score distributions differ per language but a
    // "keep the top 30%" policy must mean the same thing everywhere. One
    // window shuffle on the language key; (score, doc_id) ordering makes
    // ties deterministic.
    "q208_quantile_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.bpeTokenEstimate(col("text")).as("score"))
      d.withColumn("rnk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .select(col("doc_id"), col("lang"), col("score"),
          expr("rnk * 1000000 div n").as("pct_ppm"))
    }),

    // ── VOLUME-weighted quantiles: per-lang token-count distribution
    // weighted by n_chars — "the doc size at which half the corpus BYTES
    // sit", the packing planner's statistic (a by-doc median is blind to
    // a few huge docs carrying most of the volume). Exact mergeable
    // profile machinery (Quantiles), weights summed as longs.
    "q233_weighted_quantiles" -> ((s, dir) => {
      graft.operators.Quantiles.groupedDiscrete(
        docs(s, dir).select(col("lang"),
          TextFunctions.bpeTokenEstimate(col("text")).as("tokens"),
          col("n_chars")),
        Seq("lang"), "tokens", Seq(500000L, 900000L),
        weightCol = Some("n_chars"))
    }),

    // ── BPE merge TRAINER: learn the corpus's top-8 symbol merges — the
    // vocabulary-building pass of tokenizer training, run as N iterations
    // of (pair-count argmax over the CACHED word-frequency table → two-pass
    // replace). The corpus is scanned once; every iteration touches only
    // distinct words. The oracle re-learns the merges in DuckDB with the
    // same counting, tie-break and replace chain, so the LEARNED TABLE
    // itself is the differential. See [[graft.operators.BpeTrainer]].
    "q198_bpe_train" -> ((s, dir) => {
      graft.operators.BpeTrainer.train(docs(s, dir), "text", merges = 8)
    }),

    // ── BPE ENCODE: apply the 8 learned merges in rank order and emit
    // the token-usage table — what the tokenizer would emit, and how
    // often, after adopting the learned vocab. The oracle re-learns AND
    // re-applies in DuckDB, so training and encoding are both
    // differentials. See [[graft.operators.BpeTrainer.segmentCounts]].
    "q199_bpe_tokens" -> ((s, dir) => {
      graft.operators.BpeTrainer.segmentCounts(docs(s, dir), "text", merges = 8)
    }),

    // ── Per-GROUP exact heavy hitters: each language's 1/400-frequent
    // tokens — the stopword/trending-terms shape, q184 with the MG
    // candidate pass and the threshold scoped per group. See
    // [[graft.operators.Sketches.heavyHittersPerGroup]].
    "q194_heavy_hitters_lang" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("lang"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .where(col("tok") =!= "")
      graft.operators.Sketches.heavyHittersPerGroup(toks, "lang", "tok", s = 400)
    }),

    // ── KMV distinct estimate: per-lang k-minimum-values sketch (k=64) —
    // the direct-estimate sibling of q131's HLL registers, exact below k
    // and (k−1)·2^60/h_k above, all integer arithmetic. See
    // [[graft.operators.Sketches.kmvSketch]].
    "q192_kmv_distinct" -> ((s, dir) => {
      graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvSketch(docs(s, dir), "lang", "text", k = 64),
        "lang", k = 64)
    }),

    // ── KMV pairwise overlap: per-source sketches → union/Jaccard/
    // intersection estimates per source pair. The reason KMV exists next
    // to q149's HLL inclusion–exclusion: when |A∩B| ≪ |A∪B| (the
    // contamination-screening regime) incl–excl is the difference of two
    // large noisy numbers, while the KMV ratio estimator reads the overlap
    // directly off the union sketch. See
    // [[graft.operators.Sketches.kmvOverlapPairs]].
    "q193_kmv_overlap" -> ((s, dir) => {
      graft.operators.Sketches.kmvOverlapPairs(docs(s, dir), "source", "text",
        k = 64)
    }),

    // ── Weighted priority sample: k docs with odds ∝ length-derived weight,
    // via min-of-w-uniforms integer priorities (the Efraimidis–Spirakis
    // shape without cross-engine transcendentals). See
    // [[graft.operators.Sketches.weightedPrioritySample]].
    "q132_weighted_sample" -> ((s, dir) => {
      graft.operators.Sketches.weightedPrioritySample(
          docs(s, dir), "doc_id", expr("1 + n_chars div 500"), k = 100)
        .select("doc_id", "lang", "weight", "priority")
    }),

    // ── MinHash-LSH near-dedup: one compiled signature pass, banded id-only
    // join, exact integer Jaccard output (inter/uni) — no all-pairs, no float.
    "q31_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashPairs(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── SimHash near-dedup: Hamming-band blocking.
    "q32_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Exact n-gram Jaccard near-dedup: inverted shingle index with a
    // document-frequency skew cap; same integer (inter, uni) contract.
    "q39_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Candidate-pair mass diagnostic (SCALING.md's budgeting probe):
    // Σ df·(df−1)/2 over distinct word-3-gram shingles — the unit every
    // shingle-candidate near-dup operator's cost is linear in. One
    // explode + two aggregations, constant-size output, no pair
    // materialization: at 100 TB this is what you run BEFORE committing
    // to a posting join, and a pair_mass ≫ n_docs says raise the shingle
    // width or tighten the df cap first.
    "q227_pair_mass" -> ((s, dir) =>
      Dedup.pairMassReport(docs(s, dir), "doc_id", "text")),

    // ── The q227 diagnostic as AUTOMATIC behavior ([[PairBudget]], r11
    // verdict #1): the same near-dup corpus as q39 run under a 12k
    // candidate-pair budget the synthetic vocabulary-saturated shingle
    // profile EXCEEDS at every test SF — the gate measures Σ df·(df−1)/2
    // from the df aggregate the operator already materializes and
    // auto-tightens maxShingleDf to the largest cap fitting the budget
    // (cap 3 at sf0.01) before paying the posting join. The oracle
    // replays the histogram arithmetic in SQL (2·mass vs 2·budget, no
    // division) and the capped join: a gate that picked a different cap,
    // or tightened when it shouldn't, hash-fails. At 100 TB this is what
    // keeps a campaign from silently going quadratic on boilerplate.
    "q228_budget_gate" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(withNearDups(docs(s, dir)), "doc_id", "text",
        budget = graft.operators.PairBudget.AutoTighten(12000L))
    }),

    // ── Directional containment pairs over the same planted corpus —
    // the asymmetric sub-document duplication measure (quoted article in
    // a page) Jaccard misses when the union is dominated by the larger
    // side; exact integer ppm both ways (Dedup.containmentPairs scaladoc).
    "q177_containment" -> ((s, dir) => {
      Dedup.containmentPairs(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Exact Jaccard join via PREFIX FILTERING (AllPairs/PPJoin): each
    // doc indexes only its rarest |d|−⌈τ|d|⌉+1 shingles in one global
    // (df, shingle) order — recall 1 by theorem, no df-cap tuning, and
    // the candidate volume concentrates on short posting lists. The exact
    // alternative to q39's capped posting join.
    "q123_prefix_jaccard" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Embedding-cosine near-dedup: multi-probe hyperplane buckets + exact
    // cosine ≥ 0.9 over a corpus with planted perturbed copies.
    "q40_dedup_embed" -> ((s, dir) => {
      Similarity.cosinePairs(withNearVecs(emb(s, dir)), "vec_id", "embedding")
    }),

    // ── Incremental near-dedup: the 80%-prefix copies arrive as a NEW batch
    // and are checked against the ORIGINAL corpus's persisted signature
    // index — only the batch is hashed, only cross-set pairs emitted (the
    // daily-delta cadence; a 100 TB corpus is never re-signed per run).
    "q58_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val index = Dedup.minhashSignatures(d, "doc_id", "text")
      Dedup.minhashPairsAgainstIndex(
        Dedup.minhashSignatures(nearDupBatch(d), "doc_id", "text"), index)
    }),

    // ── Near-dup clusters: pairwise MinHash output closed under
    // transitivity (min-label propagation) — the keep-one-per-group step.
    "q42_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(withNearDups(docs(s, dir)), "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs)
    }),

    // ── Keep-best-per-cluster: the final dedup DECISION — near-dup clusters
    // closed under transitivity, with the keeper chosen by quality score
    // (highest quality wins, doc_id breaks ties) instead of "lowest id".
    // One window over the clustered docs; everything upstream reuses the
    // pair/cluster machinery.
    "q59_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = withNearDups(docs(s, dir))
      val pairs = Dedup.minhashPairs(d, "doc_id", "text").select("id_a", "id_b")
      val clusters = Dedup.connectedComponents(pairs)
      val qual = d.select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stops).as("quality"))
      val w = Window.partitionBy("cluster_id")
      clusters.join(qual, "doc_id")
        .withColumn("rn", row_number().over(
          w.orderBy(col("quality").desc, col("doc_id").desc)))
        .withColumn("n_members", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"), col("n_members"))
    }),

    // ── Dataset-version delta report: what did this release add / remove /
    // change? The "new" snapshot drops every 7th doc, rewrites every 11th,
    // and re-adds every 13th under a new id; the diff must emit exactly
    // those keys with the right classification (one full-outer shuffle join
    // — see [[graft.operators.SnapshotDiff]]).
    "q66_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val next = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 3000000L))
      graft.operators.SnapshotDiff.diff(d, next, Seq("doc_id"))
    }),

    // ── Typed-Aggregator UDAF: top-3 longest documents per language via a
    // bounded mergeable buffer ([[graft.functions.TopKAggregator]]) instead
    // of a full per-group sort — the shuffle carries ≤3 rows per (lang,
    // map task). posexplode re-flattens the per-group array into graded
    // rows; n_chars < 2^53 so the double round-trip through the score is
    // exact.
    "q70_topk_agg" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(topk(col("doc_id"), col("n_chars").cast("double")).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("bigint").as("rank"),
          col("col.id").as("doc_id"), col("col.score").cast("bigint").as("n_chars"))
    }),

    // ── Per-source document cap (q77): at most 25 docs per source, kept by
    // smallest key hash — deterministic and growth-stable (see
    // [[graft.operators.Sampling.capPerGroup]]); bounded top-k per group,
    // no per-group sort.
    "q77_cap_per_source" -> ((s, dir) => {
      graft.operators.Sampling.capPerGroup(docs(s, dir), "doc_id", "source", 25)
        .select(col("doc_id"), col("source"))
    }),

    // ── Grouped embedding centroids (cluster representatives): exact
    // decimal elementwise mean per label, shuffle carries (label, pos)
    // partial sums — never vectors. Exploded back to (label, pos, mean) so
    // the oracle compares scalars. See [[graft.operators.Similarity.groupCentroids]].
    "q74_centroids" -> ((s, dir) => {
      graft.operators.Similarity.groupCentroids(emb(s, dir), "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "mean_val")))
        .select(col("label"), col("pos").cast("bigint").as("pos"), col("mean_val"))
    }),

    // ── BPE-ish token budget estimate next to the whitespace word count.
    "q43_token_estimate" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_words"),
        TextFunctions.bpeTokenEstimate(col("text")).as("n_tokens_est"))
    }),

    // ── Training-mixture epoch plan: given per-source BPE-estimate token
    // inventories, a 10M-token budget, and fixed mixture weights (ppm),
    // how many passes (milli-epochs, exact integer: target·1000 div
    // natural) each source must run and whether it exceeds the 4-epoch
    // upsampling guideline — the data-mix planning artifact behind every
    // "how many epochs of source X" decision. One aggregate over the
    // corpus; weights are broadcast literals.
    "q178_epoch_plan" -> ((s, dir) => {
      val budget = 10000000L
      val weightsPpm = Map( // mixture shares in exact ppm over 4 upweighted
        // sources; the other 16 default to 0 (dropped from the mix)
        "src0" -> 400000L, "src1" -> 250000L, "src2" -> 200000L,
        "src3" -> 150000L)
      val w = typedLit(weightsPpm)
      docs(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextFunctions.bpeTokenEstimate(col("text"))).as("natural_tokens"))
        .withColumn("weight_ppm", coalesce(w(col("source")), lit(0L)))
        .withColumn("target_tokens",
          expr(s"$budget * weight_ppm div 1000000"))
        .withColumn("milli_epochs",
          when(col("natural_tokens") > 0,
            expr("target_tokens * 1000 div natural_tokens")).otherwise(lit(0L)))
        .withColumn("over_4_epochs", (col("milli_epochs") > 4000L).cast("int"))
    }),

    // ── Deterministic stratified sampling (corpus mixing): keep 'en' at
    // 50%, everything else at 20%, by md5 key-hash bucket.
    "q44_sample_stratified" -> ((s, dir) => {
      graft.operators.Sampling.sampleByHash(
        docs(s, dir), "doc_id", "lang", Map("en" -> 50), defaultRate = 20)
        .select(col("doc_id"), col("lang"))
    }),

    // ── Gopher-style repetition signals: duplicate-word fraction + share of
    // the most frequent bigram. Per-row sort+fold — zero shuffle, rides the
    // scan (the explode/groupBy alternative shuffles every bigram).
    "q45_repetition" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        TextFunctions.dupTokenFraction(col("text")).as("dup_word_frac"),
        TextFunctions.topBigramFraction(col("text")).as("top_bigram_frac"))
    }),

    // ── Exact per-stratum token-count percentiles via the histogram method:
    // the shuffle carries (lang, n_tokens) partial counts, never documents,
    // so the window below runs over a tiny value histogram — the exact-
    // percentile shape that survives 100 TB (a global per-group sort would
    // not; truly unbounded value domains would switch to approx_percentile).
    "q46_token_percentiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = docs(s, dir).select(col("lang"),
        TextFunctions.tokenCount(col("text")).as("n"))
      val hist = t.groupBy("lang", "n").agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("cum", sum("c").over(Window.partitionBy("lang").orderBy("n")))
        .withColumn("tot", sum("c").over(Window.partitionBy("lang")))
      cum.groupBy("lang").agg(
        min(when(col("cum") >= ceil(col("tot") * 0.5), col("n"))).as("p50"),
        min(when(col("cum") >= ceil(col("tot") * 0.9), col("n"))).as("p90"),
        min(when(col("cum") >= ceil(col("tot") * 0.99), col("n"))).as("p99"))
    }),

    // ── Token-budget shard packing: distributed two-phase prefix sum over
    // the deterministic hash order; 4000-token shards.
    "q48_pack_shards" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextFunctions.bpeTokenEstimate(col("text")).as("w"))
      graft.operators.Sharding.packByBudget(d, "doc_id", "w", budget = 4000L)
    }),

    // ── Shard MANIFEST — the reproducibility artifact an exported
    // training set ships with: per shard, doc count, token count, and an
    // order-insensitive integer content checksum (Σ md5h60(doc_id:w),
    // exact in DECIMAL(38,0), emitted as a string so both engines compare
    // the full integer). Auditing "did we train on exactly this data"
    // reduces to re-deriving this table. Rides q48's packing; one extra
    // aggregate.
    "q179_shard_manifest" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextFunctions.bpeTokenEstimate(col("text")).as("w"))
      graft.operators.Sharding.packByBudget(d, "doc_id", "w", budget = 4000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_tokens"),
          sum(TextFunctions.md5Hash60(
              concat(col("doc_id").cast("string"), lit(":"),
                col("w").cast("string")))
            .cast("decimal(38,0)")).cast("string").as("checksum"))
    }),

    // ── PII redaction: the corpus has no natural PII, so both engines build
    // the SAME deterministic PII-bearing string from (text, doc_id) and the
    // operator under test is the redaction chain + per-pattern counts
    // (codegen'd regexp_replace / regexp_count — zero shuffle).
    "q50_pii_redact" -> ((s, dir) => {
      val raw = concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" or admin@mail.example.org from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"),
        lit(" ssn 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val d = docs(s, dir).select(col("doc_id"), raw.as("raw"))
      d.select(col("doc_id") +:
        TextFunctions.redactPii(col("raw")).as("redacted") +:
        TextFunctions.piiCounts(col("raw")).map { case (n, c) => c.as(n) }: _*)
    }),

    // ── Benchmark decontamination: the benchmark is every 7th doc; the
    // corpus is everything else plus PLANTED leaks (60%-prefix excerpts of
    // benchmark docs at id+2·10⁶). Any corpus doc sharing an 8-gram with the
    // benchmark is flagged with its shared-shingle count.
    "q52_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 7 === 0)
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
        .unionByName(bench
          .withColumn("text", substring(col("text"), lit(1), (col("n_chars") * 3 / 5).cast("int")))
          .withColumn("doc_id", col("doc_id") + 2000000L))
      Dedup.decontaminate(corpus, bench, "doc_id", "text")
    }),

    // ── Mixture balancing: every language downsampled to ≈ the smallest
    // stratum by deterministic key-hash rates (one tiny count job, then a
    // pure map-side filter).
    "q54_balance_mixture" -> ((s, dir) => {
      graft.operators.Sampling.balanceStrata(docs(s, dir), "doc_id", "lang")
        .select(col("doc_id"), col("lang"))
    }),

    // ── Per-document keywords: top-3 tokens by (tf DESC, df ASC, token ASC)
    // — the integer-exact tf-idf ranking (rarest-but-frequent terms first;
    // no float idf, so both engines agree bit-for-bit). Shuffle shape at
    // scale: tf is a map-side-combined (doc, token) aggregate; df aggregates
    // tf's (much smaller) output; the tf⋈df join is token-keyed with the df
    // side orders of magnitude smaller (AQE broadcasts when it fits); the
    // final top-3 is one window per doc partition.
    "q55_tfidf_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = docs(s, dir).select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "tok")
        .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("tok").asc)).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("tok").as("keyword"), col("tf"), col("df"), col("rnk"))
    }),

    // ── Context-window chunking: each document split into ≤64-token windows
    // with 16-token overlap (stride 48) — the step that shapes documents to
    // a model's context length before packing. Chunk count and slicing are
    // integer-exact; the whole transform is generate+project riding the scan
    // (zero shuffle), which is the only shape that survives a 100 TB corpus.
    "q57_chunk_windows" -> ((s, dir) => {
      val C = 64; val stride = 48 // overlap 16
      val toks = TextFunctions.tokens(col("text"))
      val n = size(toks)
      // extra chunks beyond the first: ceil(max(n-C,0) / stride), computed
      // as an exact integer floor((x + stride-1) / stride)
      val extra = floor((greatest(n - C, lit(0)) + lit(stride - 1)) / lit(stride)).cast("int")
      docs(s, dir)
        .select(col("doc_id"), toks.as("toks"), n.as("n"), extra.as("extra"))
        .filter(col("n") > 0)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), col("extra")),
          i => struct(
            array_join(slice(col("toks"), i * stride + 1, lit(C)), " ").as("chunk_text"),
            size(slice(col("toks"), i * stride + 1, lit(C))).as("n_toks")))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col.chunk_text"), col("col.n_toks").cast("long").as("n_toks"))
    }),

    // ── C4/Gopher-style composite quality filter: the keep/drop decision a
    // cleaning pipeline applies before assembly — length window, repetition
    // cap, and language-consistency check composed into one verdict. Every
    // signal is a codegen column expression; the whole filter rides the scan
    // with zero shuffle.
    "q56_quality_filter" -> ((s, dir) => {
      val text = col("text")
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(text).as("n_tokens"),
          TextFunctions.dupTokenFraction(text).as("dup_frac"),
          TextFunctions.langId(text).as("lang_pred"))
        .select(col("doc_id"), col("n_tokens"), col("dup_frac"),
          (col("lang_pred") === col("lang")).cast("int").as("lang_ok"),
          (col("n_tokens").between(30, 90) && col("dup_frac") <= 0.65 &&
            col("lang_pred") === col("lang")).cast("int").as("keep"))
    }),

    // ── Per-document text statistics (all codegen column expressions).
    "q33_text_stats" -> ((s, dir) => {
      val text = col("text")
      docs(s, dir).select(
        col("doc_id"),
        TextFunctions.tokenCount(text).as("n_tokens"),
        TextFunctions.charCount(text).as("n_chars_m"),
        TextFunctions.punctRatio(text).as("punct_ratio"),
        TextFunctions.stopwordRatio(text, stops).as("stop_ratio"),
        TextFunctions.avgTokenLen(text).as("avg_tok_len"),
        TextFunctions.qualityScore(text, stops).as("quality"))
    }),

    // ── Language ID heuristic (marker-word argmax).
    "q34_lang_id" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("lang_pred"))
    }),

    // ── Order-sensitive rolling-hash fingerprint (md5-based so the oracle
    // can recompute it exactly).
    "q35_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
    }),

    // ── Exact cosine top-10 for 8 query vectors (broadcast + windowed rank).
    "q36_ann_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding")
    }),

    // ── Two-stage retrieval: coarse top-50 by int8-code dot (the 4×-smaller
    // persisted index a 100 TB store scans), exact-cosine re-rank of the
    // survivors to top-10 — no full-width vector crosses an exchange before
    // the candidate cut. See [[graft.operators.Similarity.rerankTopK]].
    "q147_ann_rerank" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      Similarity.rerankTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, coarseK = 50)
    }),

    // ── IVF ANN: deterministic md5-sampled codebook, inverted-list cell
    // assignment riding the scan, 4-of-16 cell probing + exact rescore.
    "q47_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
        cells = 16, probes = 4)
    }),

    // ── Product-quantization ADC top-10: 4 subspaces × 16 codewords —
    // the corpus compresses to 4 small ints per vector and queries rank
    // the whole corpus from broadcast per-subspace lookup tables riding
    // the code scan with zero exchanges (the PQ memory story at 100 TB;
    // Similarity.pqTopK scaladoc pins the determinism contract the oracle
    // replays).
    "q188_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, subspaces = 4, codewords = 16)
    }),

    // ── Corpus-wide kNN graph: top-5 neighbors of EVERY vector via the
    // bucket self-join (multi-probe on the query side, id-only candidate
    // shuffle, exact cosine rescore).
    "q53_knn_graph" -> ((s, dir) => {
      Similarity.knnGraph(emb(s, dir), "vec_id", "embedding", k = 5, planes = 6)
    }),

    // ── LSH-bucketed ANN: the 100 TB path (multi-probe bucket join + exact
    // rescoring). planes sizes the bucket count to the corpus: 2^4 buckets
    // for the 10³-vector test corpora; a web-scale corpus raises it so the
    // per-probe candidate set stays bounded.
    "q37_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
        planes = 4)
    }),

    // ── Multimodal plumbing: binary payload + partition-batched decode stub
    // + digest-derived feature vector.
    "q38_multimodal" -> ((s, dir) => {
      val a = assets(s, dir)
      val meta = Multimodal.decode(a).toDF()
      val feats = Multimodal.features(a)
      meta.join(feats, "asset_id")
    }),

    // ── Multimodal prep transforms: fit-within resize metadata + evenly
    // spaced frame sampling (the keyframe step before per-frame features).
    "q41_multimodal_prep" -> ((s, dir) => {
      val assets = PipelineQueries.assets(s, dir)
      Multimodal.resizeMeta(
        Multimodal.frameSampleIndices(Multimodal.decode(assets)))
        .select(col("asset_id"), col("modality"), col("n_frames"),
          col("resized_w"), col("resized_h"),
          // csv-join the index array: list-vs-ndarray renderings differ
          // between engines, strings compare exactly
          array_join(col("sample_frames").cast("array<string>"), ",").as("frames_csv"))
    }),

    // ── Embedding k-means (Lloyd, deterministic seeds, 2 update steps):
    // the clustering primitive for corpus curation. Centroids are driver
    // state (k×dim), every assignment rides one scan, every update shuffles
    // only (cluster, pos) partial sums. See [[graft.operators.Clustering]].
    "q79_kmeans" -> ((s, dir) => {
      graft.operators.Clustering.kmeans(emb(s, dir), "vec_id", "embedding",
        k = 8, iters = 2)
    }),

    // ── SemDeDup: k-means bounds the candidate space, exact cosine ≥ 0.9
    // verifies within-cluster pairs only — the cluster-then-pair shape that
    // replaces all-pairs at 100 TB. Planted perturbed copies (same corpus
    // as q40) are found when co-clustered; the deterministic assignment
    // means the oracle misses boundary-straddling pairs identically.
    "q80_semdedup" -> ((s, dir) => {
      graft.operators.Clustering.semanticPairs(withNearVecs(emb(s, dir)),
        "vec_id", "embedding", k = 8, iters = 1, threshold = 0.9)
    }),

    // ── Cluster exemplars: the member closest to each k-means centroid
    // (d² = v·v + the assignment's carried score — no second centroid
    // pass), ties on id — diversity selection / eval-set seeding.
    "q83_cluster_exemplars" -> ((s, dir) => {
      graft.operators.Clustering.clusterExemplars(emb(s, dir),
        "vec_id", "embedding", k = 8, iters = 2)
    }),

    // ── Token-stream sequence packing: concatenate the corpus in the
    // deterministic (md5, id) order and cut fixed 512-token training
    // sequences, docs splitting across boundaries — one (doc, seq) slice
    // row each. Same two-phase prefix scan as q48; the explode is
    // output-linear. See [[graft.operators.Sharding.packSequences]].
    "q82_pack_sequences" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextFunctions.bpeTokenEstimate(col("text")).as("w"))
      graft.operators.Sharding.packSequences(d, "doc_id", "w", seqLen = 512L)
    }),

    // ── Incremental k-means assignment: centroids trained ONCE on the
    // corpus, the perturbed delta batch assigned against them with one
    // scan — the daily cadence (train never re-runs per delta), mirroring
    // q58's signature-index pattern in vector space.
    "q85_kmeans_incremental" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val cent = graft.operators.Clustering.kmeansCentroids(
        base, "vec_id", "embedding", k = 8, iters = 1)
      graft.operators.Clustering.assign(nearVecBatch(base), "vec_id", "embedding", cent)
    }),

    // ── LM-dictionary quality signal: score every doc by its overlap with
    // the corpus's top-200 bigrams — integer counts only (a log-prob score
    // would hang verification on libm ulps). See [[graft.operators.LmScore]].
    "q81_lm_dict_score" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.LmScore.bigramDictScore(
        d, d, "doc_id", "text", vocab = 200)
    }),

    // ── Corpus-wide duplicated-block removal WITH reassembly (the CCNet
    // "dedup lines across the corpus" pass): only the first occurrence of
    // each 25-token block survives; documents are rebuilt from their
    // surviving blocks. The near-dup corpus plants prefix copies whose
    // leading blocks are exact duplicates of the originals' — those blocks
    // vanish from the copies, and the report shows how much of each doc
    // remains. See [[graft.operators.Dedup.dedupBlocks]].
    "q86_block_dedup" -> ((s, dir) => {
      Dedup.dedupBlocks(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── One-pass corpus card: the per-(lang, source) report a pipeline runs
    // after every build — doc/char/token totals, extrema, short-doc count,
    // distinct-content count — as ONE hash aggregate (the count-distinct
    // expands to a two-phase aggregate on (group, digest); nothing else
    // shuffles more than the group keys).
    "q87_corpus_report" -> ((s, dir) => {
      val nt = TextFunctions.tokenCount(col("text")).cast("long")
      docs(s, dir).groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        sum(nt).as("sum_tokens"),
        max(nt).as("max_tokens"),
        min(nt).as("min_tokens"),
        sum(when(nt < 40, 1L).otherwise(0L)).as("short_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("distinct_texts"))
    }),

    // ── Symmetric int8 embedding quantization (the 4× storage shrink an
    // embedding store applies before ANN indexing): per-vector max-abs
    // scale, codes = floor(x·127/scale + ½) ∈ [−127, 127], plus the exact
    // reconstruction-error bound. Pure map-side column math — zero shuffle;
    // every arithmetic step is IEEE-double so the oracle reproduces codes
    // AND error bit-for-bit.
    "q88_embed_quantize" -> ((s, dir) => {
      emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
        .withColumn("codes",
          when(col("scale") === 0, transform(col("v"), _ => lit(0)))
            .otherwise(transform(col("v"),
              x => floor(x * lit(127.0) / col("scale") + lit(0.5)).cast("int"))))
        .withColumn("max_abs_err",
          when(col("scale") === 0, lit(0.0)).otherwise(
            array_max(zip_with(col("v"), col("codes"),
              (x, c) => abs(x - c * col("scale") / lit(127.0))))))
        // joined to a string for the hash-compare (array cells don't sort)
        .select(col("vec_id"), col("scale"),
          array_join(col("codes"), ",").as("codes"), col("max_abs_err"))
    }),

    // ── Interchange-format round-trip: the corpus written to JSONL and
    // CSV (quoted/escaped) sinks, read back with the explicit schema, and
    // summarized per (format, lang) with an order-independent xor checksum
    // over every field of every row — a checksum mismatch means the sink
    // or source mangled a value. Exercises the text source/sink surface
    // (Spark's JSON/CSV readers scale with input splits like parquet).
    "q89_text_formats" -> ((s, dir) => {
      val d = docs(s, dir)
      val tmp = scratchDir("fmt")
      d.write.mode("overwrite").json(s"$tmp/json")
      // nullValue sentinel keeps empty strings distinguishable from NULL on
      // the way back; multiLine lets quoted embedded newlines round-trip —
      // the quoted/escaped surface this query claims to exercise
      d.write.mode("overwrite").option("header", "true")
        .option("nullValue", "\\N").csv(s"$tmp/csv")
      def report(df: DataFrame, fmt: String): DataFrame =
        df.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          bit_xor(TextFunctions.md5Hash60(concat_ws("|",
            col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars")))).as("checksum"))
          .withColumn("format", lit(fmt))
      report(s.read.schema(d.schema).json(s"$tmp/json"), "json")
        .unionByName(report(
          s.read.schema(d.schema).option("header", "true")
            .option("nullValue", "\\N").option("multiLine", "true")
            .csv(s"$tmp/csv"), "csv"))
    }),

    // ── Schema evolution: a corpus written in two generations — v1 lacks
    // the source/n_chars columns a later pipeline added — read as ONE
    // dataset via mergeSchema, legacy rows null-filled. The report counts
    // legacy rows and sums the new column where present. This is how a
    // 100 TB corpus actually evolves: old shards are never rewritten.
    "q92_schema_evolution" -> ((s, dir) => {
      val d = docs(s, dir)
      val tmp = scratchDir("evo")
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$tmp/v1")
      d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/v2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_legacy"),
          sum(col("n_chars")).as("sum_chars_v2"))
    }),

    // ── Partitioned layout + partition pruning: the corpus written
    // `partitionBy(lang)` (the physical layout a multilingual corpus store
    // uses), then a single-language query whose filter must prune at the
    // DIRECTORY level — the scan never opens the other languages' files
    // (`PartitionPruneSpec` pins `PartitionFilters` in the plan).
    "q94_partition_pruning" -> ((s, dir) => {
      val tmp = scratchDir("part")
      docs(s, dir).write.mode("overwrite").partitionBy("lang").parquet(tmp)
      s.read.parquet(tmp).filter(col("lang") === "en")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ── Winnowing fingerprints (SIGMOD'03): positional k-gram hashes,
    // per-window minima, distinct sorted picks — the position-robust
    // fingerprint index whose guarantee is that any shared token run of
    // ≥ w+k−1 tokens yields a shared fingerprint. One compiled pass per
    // doc; see [[graft.operators.Dedup.winnowFingerprints]].
    "q95_winnow" -> ((s, dir) => {
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          expr("array_join(transform(fps, x -> cast(x as string)), ',')")
            .as("fps"))
    }),

    // ── Capstone funnel: quality filter → exact dedup → train/val/test
    // split → per-split corpus report, composed from the same verified
    // operators — one oracled query proving the COMPOSITION is
    // deterministic end-to-end (what PipelineDemo narrates, hash-checked).
    "q100_pipeline_e2e" -> ((s, dir) => {
      val text = col("text")
      // persisted: both the dedup winner election and the join probe read
      // it — without the cache the whole filter (tokenize + lang argmax)
      // would evaluate twice (Bench/Verify clear caches between queries)
      val kept = docs(s, dir).filter(
        TextFunctions.tokenCount(text).between(30, 90) &&
          TextFunctions.dupTokenFraction(text) <= 0.65 &&
          TextFunctions.langId(text) === col("lang"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val winners = Dedup.exactGroups(kept, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val deduped = kept.join(winners, "doc_id")
      graft.operators.Sampling.splitByHash(deduped, "doc_id",
          Seq(("train", 900), ("val", 50), ("test", 50)))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(text).cast("long")).as("sum_tokens"))
    }),

    // ── Embedding-curation capstone: k-means cells → within-cell exact
    // cosine pairs → transitive closure → keep the smallest-id
    // representative per near-dup cluster — q100's funnel in vector space,
    // composed from the verified q79/q80/q42 operators. Output is the
    // per-outcome census (unique / representative / dropped) a curation
    // run reports before assembly; everything stays declarative (the only
    // driver loop is connectedComponents' own bounded iteration).
    //
    // GATED (r14, the r13 verdict's one `weak`): fixed k=8 makes the
    // within-cell pair mass Σc² ≈ n²/8 — superlinear by construction
    // (soak-measured exp 1.41 at r13) — so the pair stage runs under
    // PairBudget.AutoTighten: at oracle scales the mass is far under the
    // 16M budget and results are bit-identical, while a corpus whose
    // fixed-k cells outgrow it has the cluster cap tightened and the
    // join BOUNDED (recall degrades, runtime does not explode). The
    // scale-CORRECT shape remains q264/semanticPairsAuto (exp 0.79 on
    // the same corpus): this query now demonstrates the fixed-k form
    // with its safety net engaged end-to-end, not an ungated n² law.
    "q128_semdedup_e2e" -> ((s, dir) => {
      val corpus = withNearVecs(emb(s, dir))
      val pairs = graft.operators.Clustering.semanticPairs(corpus,
        "vec_id", "embedding", k = 8, iters = 1, threshold = 0.9,
        budget = graft.operators.PairBudget.AutoTighten(16000000L))
      val clusters = Dedup.connectedComponents(pairs) // (doc_id, cluster_id)
      corpus.select(col("vec_id"))
        .join(clusters.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
        .select(when(col("cluster_id").isNull, lit("unique"))
          .when(col("vec_id") === col("cluster_id"), lit("representative"))
          .otherwise(lit("dropped")).as("outcome"))
        .groupBy("outcome").agg(count(lit(1)).as("n"))
    }),

    // ── SemDeDup at SCALE shape (Clustering.semanticPairsAuto): q128
    // with k scaled to the corpus (constant expected cell size) instead
    // of fixed k=8. Fixed k makes within-cell pair mass n²/k —
    // superlinear, soak-measured (q128's exponent rises on exactly that
    // law); constant cell size bounds it at n·cell — linear, the form a
    // 1000× corpus survives. Same census output; the oracle computes k
    // from the corpus with the same ceiling formula.
    "q264_semdedup_auto" -> ((s, dir) => {
      val corpus = withNearVecs(emb(s, dir))
      val pairs = graft.operators.Clustering.semanticPairsAuto(corpus,
        "vec_id", "embedding", targetCellSize = 250L, iters = 1,
        threshold = 0.9)
      val clusters = Dedup.connectedComponents(pairs)
      corpus.select(col("vec_id"))
        .join(clusters.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
        .select(when(col("cluster_id").isNull, lit("unique"))
          .when(col("vec_id") === col("cluster_id"), lit("representative"))
          .otherwise(lit("dropped")).as("outcome"))
        .groupBy("outcome").agg(count(lit(1)).as("n"))
    }),

    // ── Train/val/test split: per-mille hash ranges over the doc key —
    // reproducible, leak-free (a key can never change split), growth-
    // stable, zero shuffle. See [[graft.operators.Sampling.splitByHash]].
    "q97_dataset_split" -> ((s, dir) => {
      graft.operators.Sampling.splitByHash(docs(s, dir), "doc_id",
          Seq(("train", 900), ("val", 50), ("test", 50)))
        .groupBy("split", "lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ── Winnow-index candidate pairs: docs sharing ≥1 fingerprint over the
    // near-dup corpus, boilerplate fingerprints df-capped first — the
    // second stage of the winnowing dedup cadence (q95 builds the index,
    // this joins it). See [[graft.operators.Dedup.winnowPairs]].
    "q96_winnow_pairs" -> ((s, dir) => {
      Dedup.winnowPairs(
        Dedup.winnowFingerprints(withNearDups(docs(s, dir)), "doc_id", "text"))
    }),

    // ── Temperature mixture (α = ½): keep volume ∝ count^α per language —
    // the multilingual upsampling step between balancing (α→0, q54) and
    // the raw mix (α=1). Rates stay in-plan (broadcast), decided per-key
    // by hash bucket. See [[graft.operators.Sampling.temperatureMix]].
    "q91_temperature_mix" -> ((s, dir) => {
      graft.operators.Sampling
        .temperatureMix(docs(s, dir), "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang")
    }),

    // ── Hashed-feature linear scorer (fastText-shaped serving path): each
    // token hashes into one of 1024 weight slots, doc score = Σ matched
    // weights. Weight table broadcast; integer sums only. See
    // [[graft.operators.LmScore.hashedLinearScore]].
    "q102_hashed_linear_score" -> ((s, dir) => {
      graft.operators.LmScore.hashedLinearScore(
        docs(s, dir), "doc_id", "text")
    }),

    // ── JL random projection to 16 dims over the embedding corpus — the
    // project-once front end that shrinks every downstream ANN/cluster
    // shuffle 4×. Map-only plan; exact quantized component sums. See
    // [[graft.operators.Similarity.randomProjection]].
    "q103_random_projection" -> ((s, dir) => {
      Similarity.randomProjection(emb(s, dir), "vec_id", "embedding",
        Similarity.projectionMatrix("jl", inDim = 64, outDim = 16))
    }),

    // ── Per-label embedding outliers: the 5 members farthest from their
    // label centroid — the mislabel/corrupt-vector sweep before training.
    // Exact integer-grid distances; WindowGroupLimit rank. See
    // [[graft.operators.Similarity.labelOutliers]].
    "q104_label_outliers" -> ((s, dir) => {
      Similarity.labelOutliers(emb(s, dir), "vec_id", "label", "embedding",
        topK = 5)
    }),

    // ── N-gram novelty profile over the near-dup corpus: planted 80%-prefix
    // copies share every full 8-gram with their original, so both sides of
    // each planted pair report a depressed corpus-unique fraction while
    // untouched docs stay fully novel. See
    // [[graft.operators.Dedup.ngramNovelty]].
    "q113_ngram_novelty" -> ((s, dir) => {
      Dedup.ngramNovelty(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Duplicate-substring coverage over the near-dup corpus: every token
    // inside the planted 80% prefixes sits in a duplicated 8-token window,
    // so coverage ≈ the prefix length on both members of a pair — the
    // removable-repetition profile substring dedup acts on. See
    // [[graft.operators.Dedup.duplicateSpanCoverage]].
    "q114_dup_span_coverage" -> ((s, dir) => {
      Dedup.duplicateSpanCoverage(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Duplicate-span REMOVAL: the action step behind q114's coverage
    // profile — every token inside a duplicated 8-token window is dropped
    // (all copies) and each document reassembled from its surviving
    // tokens. See [[graft.operators.Dedup.removeDuplicateSpans]].
    "q127_dup_span_removal" -> ((s, dir) => {
      Dedup.removeDuplicateSpans(withNearDups(docs(s, dir)), "doc_id", "text")
    }),

    // ── Collocation heavy hitters: top-100 unordered token pairs within 2
    // positions, exact integer counts — the PMI numerator table. See
    // [[graft.operators.LmScore.topCooccurrence]].
    "q115_cooccurrence" -> ((s, dir) => {
      graft.operators.LmScore.topCooccurrence(docs(s, dir), "text")
    }),

    // ── Cross-source overlap matrix: every 5th doc re-published under a
    // synthetic 'mirror' source, so each real source shares its mirrored
    // docs' 8-grams with 'mirror' while real-real pairs show only natural
    // overlap. See [[graft.operators.Dedup.sourceOverlap]].
    "q116_source_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.sourceOverlap(
        d.unionByName(d.filter(col("doc_id") % 5 === 0)
          .withColumn("source", lit("mirror"))),
        "source", "text")
    }),

    // ── ORC round-trip under two codecs: the columnar interchange format
    // beyond parquet (cold-archive tiers and Hive-era lakes are ORC).
    // Same order-independent per-field checksum device as q89 — a
    // mismatch means the ORC writer/reader (or a codec) mangled a value.
    // ORC scans split and push down like parquet, so the read side scales
    // identically.
    // ── Avro interchange WITHOUT spark-avro (absent from the offline
    // distribution — only the core avro/avro-mapred jars ship): the corpus
    // written to Avro container files through the public Hadoop-format API
    // and read back via the container's own header schema; the checksum
    // folds every row's content, so a type-mapping slip (Utf8 leaking,
    // timestamp precision loss) breaks the hash. See
    // [[graft.sources.AvroIO]].
    "q141_avro_roundtrip" -> ((s, dir) => {
      val d = docs(s, dir)
      val tmp = scratchDir("avrort")
      val out = s"$tmp/docs_${System.nanoTime()}"
      graft.sources.AvroIO.write(d, out)
      graft.sources.AvroIO.read(s, out)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          bit_xor(TextFunctions.md5Hash60(concat_ws("|",
            col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars")))).as("checksum"))
    }),

    "q111_orc_roundtrip" -> ((s, dir) => {
      val d = docs(s, dir)
      val tmp = scratchDir("orc")
      d.write.mode("overwrite").option("compression", "zlib").orc(s"$tmp/zlib")
      d.write.mode("overwrite").option("compression", "snappy").orc(s"$tmp/snappy")
      def report(df: DataFrame, codecName: String): DataFrame =
        df.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          bit_xor(TextFunctions.md5Hash60(concat_ws("|",
            col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars")))).as("checksum"))
          .withColumn("codec", lit(codecName))
      report(s.read.schema(d.schema).orc(s"$tmp/zlib"), "zlib")
        .unionByName(report(s.read.schema(d.schema).orc(s"$tmp/snappy"), "snappy"))
    }),

    // ── Timestamp fidelity through ORC: the events table (µs-truncated ns
    // timestamps) written to ORC and read back; the per-type checksum
    // folds the exact microsecond value of every row, so ANY precision or
    // timezone shift in the ORC timestamp path breaks the hash. (ORC
    // stores writer-timezone metadata — the session is pinned UTC.)
    // ── Timestamp fidelity through the Avro interchange (q112's twin):
    // events written as timestamp-micros Avro longs and read back; the
    // checksum folds every row's exact microsecond, so any precision or
    // epoch slip in the logical-type mapping breaks the hash.
    "q143_avro_events_roundtrip" -> ((s, dir) => {
      val ev = RelationalQueries.events(s, dir)
      val tmp = scratchDir("avrots")
      val out = s"$tmp/events_${System.nanoTime()}"
      graft.sources.AvroIO.write(ev, out)
      graft.sources.AvroIO.read(s, out)
        .groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("min_us"),
          max(unix_micros(col("ts"))).as("max_us"),
          bit_xor(TextFunctions.md5Hash60(concat_ws("|",
            col("event_id"), unix_micros(col("ts")), col("user_id"),
            col("event_type"), col("props")))).as("checksum"))
    }),

    "q112_orc_events_roundtrip" -> ((s, dir) => {
      val ev = RelationalQueries.events(s, dir)
      val tmp = scratchDir("orcts")
      ev.write.mode("overwrite").orc(tmp)
      s.read.schema(ev.schema).orc(tmp)
        .groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("min_us"),
          max(unix_micros(col("ts"))).as("max_us"),
          bit_xor(TextFunctions.md5Hash60(concat_ws("|",
            col("event_id"), unix_micros(col("ts")), col("user_id"),
            col("event_type"), col("props")))).as("checksum"))
    }),

    // ── Provenance funnel (Provenance.funnel): auditable drop attribution
    // for a 4-stage curation cascade — length gate, language whitelist,
    // exact prefix-dup rank, decontamination phrase. Attribution is the
    // FIRST failing stage in declared order (a short zh document counts
    // as 'len', not 'lang'), so every row lands in exactly one class and
    // the funnel telescopes: surviving(i) == entering(i+1), total ==
    // kept + Σ dropped. One projection + one bounded aggregate — no
    // per-stage rescans. Oracle: the same CASE chain + telescoping
    // arithmetic in SQL.
    "q245_provenance_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d = docs.withColumn("rn", row_number().over(
        Window.partitionBy(md5(substring(col("text"), 1, 32).cast("binary")))
          .orderBy(col("doc_id"))))
      graft.operators.Provenance.funnel(d, Seq(
        graft.operators.Provenance.Stage("len", col("n_chars") >= 60),
        graft.operators.Provenance.Stage("lang",
          col("lang").isin("en", "fr", "de", "es")),
        graft.operators.Provenance.Stage("prefix_dup", col("rn") === 1),
        graft.operators.Provenance.Stage("decontam",
          !col("text").contains("customer query"))))
    })
  )

  /** Shared oracle fragment: the near-dup corpus (must mirror withNearDups —
    * `//` floor-division matches Spark's cast-to-int truncation of the
    * positive double `n_chars*4/5`) and the tokenizer.
    */
  private val nearDupTok: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 1, CAST(n_chars * 4 // 5 AS INT))
      |  FROM documents WHERE doc_id % 5 = 0),
      |tok AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                t -> t <> '') AS toks
      |  FROM corpus)""".stripMargin

  /** Shared oracle fragment: the winnowing chain (k=3, w=4) — positional
    * 3-gram hashes, per-4-window minima, distinct sorted picks. Assumes a
    * `tok(doc_id, toks)` CTE in scope; yields `f(doc_id, fps)`.
    */
  private val winnowChain: String =
    """g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             j -> CAST(('0x' || substr(md5(
      |                    toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2]),
      |                  1, 15)) AS BIGINT))
      |      ELSE [CAST(('0x' || substr(md5(array_to_string(toks, ' ')),
      |                  1, 15)) AS BIGINT)]
      |    END AS grams
      |  FROM tok),
      |p AS (
      |  SELECT doc_id,
      |    CASE WHEN len(grams) >= 4
      |      THEN list_transform(range(1, len(grams) - 2),
      |             j -> list_min(grams[j : j + 3]))
      |      ELSE [list_min(grams)]
      |    END AS picks
      |  FROM g),
      |f AS (SELECT doc_id, list_sort(list_distinct(picks)) AS fps FROM p)""".stripMargin

  /** Shared oracle fragment: distinct hashed 3-gram shingle sets per doc
    * (the front of both Jaccard-family oracles).
    */
  private val shingleCtes: String =
    s"""$nearDupTok,
      |shing AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             j -> toks[j] || ' ' || toks[j + 1] || ' ' || toks[j + 2])
      |      ELSE [array_to_string(toks, ' ')] END AS sh
      |  FROM tok WHERE len(toks) > 0),
      |hsh AS (
      |  SELECT doc_id, list_sort(list_distinct(list_transform(sh,
      |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1073741789))) AS hs
      |  FROM shing)""".stripMargin

  /** Shared oracle fragment: exact-Jaccard verification of a
    * `cand(id_a, id_b)` CTE over the full shingle sets.
    */
  private val jaccardVerified: String =
    """verified AS (
      |  SELECT c.id_a, c.id_b,
      |    CAST(len(list_filter(ha.hs, h -> list_contains(hb.hs, h))) AS BIGINT) AS inter,
      |    CAST(len(ha.hs) + len(hb.hs) AS BIGINT) AS tot
      |  FROM cand c
      |  JOIN hsh ha ON ha.doc_id = c.id_a
      |  JOIN hsh hb ON hb.doc_id = c.id_b)""".stripMargin

  /** Shared oracle tail: integer (inter, uni) output, threshold 3/5. */
  private val jaccardTail: String =
    s"""$jaccardVerified
      |SELECT id_a, id_b, inter, tot - inter AS uni
      |FROM verified WHERE inter * 5 >= (tot - inter) * 3""".stripMargin

  /** Shared oracle fragment: MinHash signatures → LSH band keys (the index
    * every minhash-family oracle builds on).
    */
  private val minhashBkeys: String =
    """dochash AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
      |coeffs AS (
      |  SELECT i,
      |    CAST(('0x' || substr(md5('a:' || i), 1, 15)) AS BIGINT) % 1073741788 + 1 AS a,
      |    CAST(('0x' || substr(md5('b:' || i), 1, 15)) AS BIGINT) % 1073741789 AS b
      |  FROM range(64) t(i)),
      |sig AS (
      |  SELECT doc_id, i, min((a * h + b) % 1073741789) AS s
      |  FROM dochash CROSS JOIN coeffs GROUP BY doc_id, i),
      |bkeys AS (
      |  SELECT doc_id, i // 4 AS band,
      |    CAST(((i // 4) * 923521 + sum(s *
      |      CASE i % 4 WHEN 0 THEN 29791 WHEN 1 THEN 961 WHEN 2 THEN 31 ELSE 1 END))
      |      % 1099511627776 AS BIGINT) AS bkey
      |  FROM sig GROUP BY doc_id, i // 4)""".stripMargin

  /** Shared oracle fragment: MinHash-LSH candidate generation (the body of
    * the q31 oracle between the shingle CTEs and the Jaccard verification).
    */
  private val minhashCand: String =
    s"""$minhashBkeys,
      |capped AS (
      |  SELECT doc_id, band, bkey FROM (
      |    SELECT doc_id, band, bkey,
      |      count(*) OVER (PARTITION BY band, bkey) AS bsize
      |    FROM bkeys)
      |  WHERE bsize <= 1000),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  /** q50 oracle assembled from [[TextFunctions.piiPatterns]] so the regexes
    * are character-identical in both engines (DuckDB single-quoted strings
    * pass backslashes through literally; the patterns contain no quotes).
    */
  private val piiOracle: String = {
    val redacted = TextFunctions.piiPatterns.foldLeft("raw") {
      case (acc, (_, pat, tag)) => s"regexp_replace($acc, '$pat', '$tag', 'g')"
    }
    val counts = TextFunctions.piiPatterns.map { case (name, pat, _) =>
      s"CAST(len(regexp_extract_all(raw, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n  ")
    s"""WITH r AS (
      |  SELECT doc_id,
      |    substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
      |    || '@example.com or admin@mail.example.org from 10.'
      |    || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
      |    || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      |  FROM documents)
      |SELECT doc_id, $redacted AS redacted,
      |  $counts
      |FROM r""".stripMargin
  }

  /** q52 oracle: 8-token window join expression, generated so the window
    * width is stated once.
    */
  private val eightGram: String =
    (0 until 8).map(o => s"toks[j + $o]").mkString(" || ' ' || ")

  /** Shared oracle fragment (q34, q56): per-language marker scores over a
    * `tok(doc_id, lang, toks)` CTE, and the argmax CASE mirroring
    * [[TextFunctions.langId]]'s tie-break order.
    */
  private val langScoredCte: String =
    """scored AS (
      |  SELECT *,
      |    len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it'], t))) AS s_en,
      |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','se','un'], t))) AS s_es,
      |    len(list_filter(toks, t -> list_contains(['le','la','de','et','un','les','des','en'], t))) AS s_fr,
      |    len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','von','den','ein'], t))) AS s_de,
      |    len(list_filter(toks, t -> list_contains(['de','shi','le','zai','you','wo','ta','men'], t))) AS s_zh
      |  FROM tok)""".stripMargin

  private val langPredExpr: String =
    """CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
      |     WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
      |     WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
      |     WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'de'
      |     WHEN s_zh > 0 AND s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'zh'
      |     ELSE 'und' END""".stripMargin

  /** q79/q80 oracle: the k-means CTE chain, generated per (k, iters) so
    * every iteration is stated once. Mirrors [[graft.operators.Clustering]]
    * exactly: md5-ranked seeds (ci = rank − 1), argmin of
    * −2·(v·c) + (c·c) with smallest-ci tie-break, q74-quantized exact
    * means rebuilt into lists with `list(m ORDER BY pos)` (so iteration
    * i+1's dot products replay the SAME sequential fold Spark's codegen'd
    * DotProduct runs), empty clusters carried forward by the LEFT JOIN
    * coalesce. Requires an `e(id, v DOUBLE[])` CTE from the caller; the
    * final assignment lands in CTE `a<iters>`.
    */
  private def kmeansCtes(k: Int, iters: Int): String =
    kmeansCtesK(k.toString, iters)

  /** `kExpr` may be a literal ("8") or a SQL scalar subquery — the
    * adaptive-k (constant-cell-size) oracles compute k from the corpus
    * the same way Clustering.semanticPairsAuto does.
    */
  private def kmeansCtesK(kExpr: String, iters: Int): String = {
    def assign(name: String, cent: String): String =
      s"""$name AS (
         |  SELECT id, v, ci AS cluster, s FROM (
         |    SELECT e.id, e.v, c.ci,
         |      -2 * list_dot_product(e.v, c.cv) + list_dot_product(c.cv, c.cv) AS s,
         |      row_number() OVER (PARTITION BY e.id
         |      ORDER BY -2 * list_dot_product(e.v, c.cv)
         |               + list_dot_product(c.cv, c.cv) ASC, c.ci) AS r
         |    FROM e CROSS JOIN $cent c) WHERE r = 1)""".stripMargin
    val seeds =
      s"""ranked AS (
         |  SELECT id, v, row_number() OVER (
         |    ORDER BY CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT),
         |             id) AS rn
         |  FROM e),
         |c0 AS (SELECT CAST(rn - 1 AS INT) AS ci, v AS cv FROM ranked WHERE rn <= $kExpr)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""u$i AS (
         |  SELECT cluster AS ci, list(m ORDER BY pos) AS cv FROM (
         |    SELECT cluster, u.i AS pos,
         |      CAST(sum(CAST(round(v[u.i + 1] * 1e9) AS BIGINT)) AS DOUBLE)
         |        / 1e9 / count(*) AS m
         |    FROM a${i - 1}, LATERAL (SELECT unnest(range(len(v))) AS i) u
         |    GROUP BY cluster, u.i)
         |  GROUP BY cluster),
         |c$i AS (SELECT p.ci, coalesce(u.cv, p.cv) AS cv
         |        FROM c${i - 1} p LEFT JOIN u$i u USING (ci))""".stripMargin
    }
    val assigns = (0 to iters).map(i => assign(s"a$i", s"c$i"))
    (Seq(seeds) ++ assigns.init.zip(steps).flatMap { case (a, u) => Seq(a, u) }
      :+ assigns.last).mkString(",\n")
  }

  /** q80's corpus CTE — must mirror [[withNearVecs]] (same as q40). */
  private val nearVecsE: String =
    """e AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.9 + 0.01)
      |  FROM embeddings WHERE vec_id % 5 = 0)""".stripMargin

  /** q198's oracle, GENERATED per merge count: DuckDB re-learns the BPE
    * merge table with the same word counting, pair counting (overlapping,
    * frequency-weighted, lateral index join), (count DESC, lhs, rhs)
    * tie-break, and the same two-pass replace application — stage i+1's
    * replace pattern comes from stage i's argmax via scalar subqueries, so
    * the whole training loop runs inside one SQL statement and the learned
    * table is the cross-engine differential.
    */
  private def bpeOracle(merges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w AS MATERIALIZED (
        |  SELECT word, count(*) AS f FROM (
        |    SELECT unnest(list_filter(
        |        string_split_regex(lower(text), '[^a-z0-9]+'),
        |        t -> t <> '')) AS word
        |    FROM documents)
        |  GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT f,
        |    ' ' || array_to_string(string_split_regex(word, ''), ' ') || ' '
        |      AS seg
        |  FROM w)""".stripMargin)
    for (i <- 1 to merges) {
      val prev = s"s${i - 1}"
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT sym[i] AS lhs, sym[i + 1] AS rhs, sum(f) AS c
        |  FROM (SELECT f,
        |          list_filter(string_split(seg, ' '), t -> t <> '') AS sym
        |        FROM $prev),
        |    UNNEST(generate_series(1, len(sym) - 1)) AS u(i)
        |  GROUP BY 1, 2),
        |b$i AS MATERIALIZED (SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1),
        |s$i AS MATERIALIZED (
        |  SELECT f, replace(replace(seg,
        |      (SELECT ' ' || lhs || ' ' || rhs || ' ' FROM b$i),
        |      (SELECT ' ' || lhs || rhs || ' ' FROM b$i)),
        |      (SELECT ' ' || lhs || ' ' || rhs || ' ' FROM b$i),
        |      (SELECT ' ' || lhs || rhs || ' ' FROM b$i)) AS seg
        |  FROM $prev)""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to merges).map(i =>
      s"SELECT CAST($i AS INT) AS merge_rank, lhs, rhs, " +
        s"CAST(c AS BIGINT) AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n"))
    sb.toString
  }

  /** q199's oracle: the q198 chain re-run to its final segmentation, then
    * the token-usage rollup off the last stage — the encode-side twin.
    */
  private def bpeTokensOracle(merges: Int): String = {
    val chain = bpeOracle(merges)
    val upToStages = chain.substring(0, chain.lastIndexOf("\nSELECT CAST(1"))
    upToStages +
      s"""
        |SELECT token, CAST(sum(f) AS BIGINT) AS cnt FROM (
        |  SELECT f, unnest(list_filter(string_split(seg, ' '),
        |      t -> t <> '')) AS token
        |  FROM s$merges)
        |GROUP BY 1""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q198_bpe_train" -> bpeOracle(8),
    "q199_bpe_tokens" -> bpeTokensOracle(8),
    "q50_pii_redact" -> piiOracle,

    // HLL restated in HUGEINT: same md5-derived registers, same fixed-point
    // sum (2^(53-M_j) by bit-shift), same scaled-α integral divide, and the
    // q184: the oracle states the SPEC (exact counts over the full token
    // stream, integer threshold cnt×800 > n) — the MG candidate pass is an
    // implementation device invisible in the answer.
    "q184_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '')) AS tok
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM tok),
        |c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1)
        |SELECT c.tok, c.cnt FROM c, n WHERE c.cnt * 800 > n.n""".stripMargin,

    // SAME linear-counting integers — the list literal below is rendered
    // from graft.operators.Sketches.HllLinearCount, so both engines consult
    // one table instead of each evaluating ln.
    "q131_hll_distinct" ->
      s"""WITH h AS (
        |  SELECT lang,
        |    CAST(('0x' || substr(md5('hll:' || text), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |reg AS (
        |  SELECT lang, h % 256 AS j,
        |    max(CASE WHEN h // 256 = 0 THEN 53
        |             ELSE 53 - length(bin(h // 256)) END) AS m_j
        |  FROM h GROUP BY lang, h % 256),
        |agg AS (
        |  SELECT lang,
        |    sum(1::BIGINT << CAST(53 - m_j AS INT)) AS s_present,
        |    count(*) AS present
        |  FROM reg GROUP BY lang),
        |est AS (
        |  SELECT lang,
        |    CAST((CAST(718273 AS HUGEINT) * 65536 * (1::HUGEINT << 53))
        |         // ((s_present + (256 - present) * (1::BIGINT << 53))::HUGEINT
        |             * 1000000) AS BIGINT) AS raw_estimate,
        |    CAST(256 - present AS BIGINT) AS zero_registers
        |  FROM agg)
        |SELECT lang,
        |  CASE WHEN raw_estimate < 640 AND zero_registers > 0
        |       THEN ([${graft.operators.Sketches.HllLinearCount.mkString(",")}])
        |              [CAST(zero_registers + 1 AS INT)]
        |       ELSE raw_estimate END AS est_distinct,
        |  raw_estimate, zero_registers
        |FROM est""".stripMargin,

    // q144: bitmap semantics restated as a distinct-position set — a probe
    // is "possibly in" iff ALL k of its positions were set by the build
    // (duplicate positions within one probe row test the same bit twice,
    // which the per-position left join reproduces).
    "q144_bloom_membership" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5('bloom:' || text), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, h % 4096 AS h1,
        |    1 + ((h // 4096) % 4095) AS h2
        |  FROM h),
        |ks AS (SELECT unnest([0, 1, 2]) AS i),
        |built AS (
        |  SELECT DISTINCT (h1 + i * h2) % 4096 AS pos
        |  FROM p, ks WHERE source = 'src0'),
        |probes AS (
        |  SELECT p.doc_id, (h1 + i * h2) % 4096 AS pos FROM p, ks)
        |SELECT pr.doc_id, (count(b.pos) = 3) AS might_contain
        |FROM probes pr LEFT JOIN built b ON b.pos = pr.pos
        |GROUP BY pr.doc_id""".stripMargin,

    // q157: the same block/verify/close chain; reach closure restates the
    // min-label CC as in q42; singletons keep their own nid as cluster_id.
    "q157_entity_resolution" ->
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS nid,
        |    CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1),
        |blk AS (SELECT *, string_split(name, ' ')[-1] AS blk FROM names),
        |pairs AS (
        |  SELECT a.nid AS id_a, b.nid AS id_b
        |  FROM blk a JOIN blk b USING (blk)
        |  WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 4),
        |nodes AS (
        |  SELECT DISTINCT id FROM
        |    (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |links AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT l.b AS id, reach.r FROM links l JOIN reach ON reach.id = l.a),
        |cc AS (SELECT id AS nid, min(r) AS cluster_id FROM reach GROUP BY 1),
        |lab AS (
        |  SELECT n.name, n.nid, n.n_parts,
        |    coalesce(cc.cluster_id, n.nid) AS cluster_id
        |  FROM names n LEFT JOIN cc USING (nid))
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_names,
        |  CAST(sum(n_parts) AS BIGINT) AS n_parts,
        |  min(CASE WHEN nid = cluster_id THEN name END) AS rep_name
        |FROM lab GROUP BY 1""".stripMargin,

    // q153: same tokenizer/bigram forms as q81; DISTINCT (phrase, doc)
    // pairs make df and postings agree; string_agg with an explicit
    // ORDER BY mirrors the aggregator's sorted-ascending contract.
    "q153_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id, phrase FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(toks)),
        |                            i -> toks[i] || ' ' || toks[i + 1])) AS phrase
        |    FROM tok WHERE len(toks) >= 2)),
        |g AS (
        |  SELECT phrase, CAST(count(*) AS BIGINT) AS df,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM bg GROUP BY 1)
        |SELECT phrase, df, postings FROM g WHERE df BETWEEN 5 AND 50""".stripMargin,

    // q200: the same bigram/df tier, top-3 by (df DESC, phrase), hits off
    // the distinct (doc, phrase) pairs — the postings' defining relation.
    "q200_index_search" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id, phrase FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(toks)),
        |                            i -> toks[i] || ' ' || toks[i + 1])) AS phrase
        |    FROM tok WHERE len(toks) >= 2)),
        |g AS (
        |  SELECT phrase, count(*) AS df FROM bg GROUP BY 1
        |  HAVING count(*) BETWEEN 5 AND 50),
        |top3 AS (SELECT phrase FROM g ORDER BY df DESC, phrase LIMIT 3)
        |SELECT doc_id, count(*) AS n_hits FROM bg
        |WHERE phrase IN (SELECT phrase FROM top3)
        |GROUP BY 1""".stripMargin,

    // q165: q43's token-estimate formula, both batch policies as identical
    // rank/div-16 chains differing only in ORDER BY.
    "q165_padding_waste" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(coalesce(list_sum(list_transform(
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                  t -> t <> ''),
        |      t -> (length(t) + 5) // 6)), 0)
        |      + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        |      AS BIGINT) AS tok
        |  FROM documents),
        |b1 AS (
        |  SELECT lang, batch, count(*) AS bn, max(tok) AS mx, sum(tok) AS tk
        |  FROM (SELECT lang, tok,
        |          (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
        |            // 16 AS batch
        |        FROM tok)
        |  GROUP BY 1, 2),
        |a1 AS (SELECT CAST(sum(bn * mx) AS BIGINT) AS capacity,
        |              CAST(sum(tk) AS BIGINT) AS n_tokens FROM b1),
        |b2 AS (
        |  SELECT lang, batch, count(*) AS bn, max(tok) AS mx, sum(tok) AS tk
        |  FROM (SELECT lang, tok,
        |          (row_number() OVER (PARTITION BY lang ORDER BY tok, doc_id)
        |            - 1) // 16 AS batch
        |        FROM tok)
        |  GROUP BY 1, 2),
        |a2 AS (SELECT CAST(sum(bn * mx) AS BIGINT) AS capacity,
        |              CAST(sum(tk) AS BIGINT) AS n_tokens FROM b2)
        |SELECT 'arrival' AS policy, capacity, n_tokens,
        |  capacity - n_tokens AS padded,
        |  (capacity - n_tokens) * 1000000 // capacity AS waste_ppm FROM a1
        |UNION ALL
        |SELECT 'length_sorted', capacity, n_tokens, capacity - n_tokens,
        |  (capacity - n_tokens) * 1000000 // capacity FROM a2""".stripMargin,

    // q163: q39's candidate/verify chain at the loosest τ = 1/2, then the
    // five verdicts from the shared exact (inter, uni) columns.
    "q163_dedup_sweep" ->
      s"""WITH $shingleCtes,
        |post AS (
        |  SELECT doc_id, h FROM (
        |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfreq
        |    FROM (SELECT doc_id, unnest(hs) AS h FROM hsh))
        |  WHERE dfreq <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id),
        |$jaccardVerified,
        |p AS (
        |  SELECT id_a, id_b, inter, tot - inter AS uni
        |  FROM verified WHERE inter * 2 >= (tot - inter) * 1),
        |taus AS (SELECT CAST(unnest([50, 60, 70, 80, 90]) AS BIGINT) AS tau),
        |pass AS (
        |  SELECT t.tau, p.id_a, p.id_b FROM p, taus t
        |  WHERE p.inter * 100 >= p.uni * t.tau),
        |pc AS (SELECT tau, count(*) AS n_pairs FROM pass GROUP BY 1),
        |dc AS (
        |  SELECT tau, count(DISTINCT id) AS n_docs FROM (
        |    SELECT tau, id_a AS id FROM pass
        |    UNION ALL SELECT tau, id_b FROM pass)
        |  GROUP BY 1)
        |SELECT t.tau, CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(dc.n_docs, 0) AS BIGINT) AS n_docs
        |FROM taus t LEFT JOIN pc USING (tau) LEFT JOIN dc USING (tau)""".stripMargin,

    // q162: same integer banding and k = 5; HUGEINT sums cast back to
    // BIGINT, risky ppm via `//` mirroring Spark's `div`.
    "q162_k_anonymity" ->
      """WITH cells AS (
        |  SELECT lang, source, n_chars // 500 AS len_band,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky
        |  FROM cells)
        |SELECT lang, source, len_band, n, n < 5 AS below_k,
        |  n_risky * 1000000 // n_total AS risky_ppm
        |FROM cells, t""".stripMargin,

    // q155: the same all-integer contingency chain in HUGEINT; only the
    // final two divisions are double, on bit-identical operands.
    "q155_corpus_drift" ->
      """WITH b AS (
        |  SELECT lang, source,
        |    CAST(('0x' || substr(md5('drift:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 2 AS s
        |  FROM documents),
        |c AS (
        |  SELECT lang, source,
        |    CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_a,
        |    CAST(sum(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_b
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_a) AS HUGEINT) AS na_tot,
        |             CAST(sum(n_b) AS HUGEINT) AS nb_tot FROM c)
        |SELECT lang, source,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN na_tot = 0 OR nb_tot = 0 THEN NULL ELSE
        |    CAST(((na_tot + nb_tot) * n_a - na_tot * (n_a + n_b))
        |         * ((na_tot + nb_tot) * n_a - na_tot * (n_a + n_b)) AS DOUBLE)
        |    / CAST((na_tot + nb_tot) * na_tot * (n_a + n_b) AS DOUBLE)
        |    + CAST(((na_tot + nb_tot) * n_b - nb_tot * (n_a + n_b))
        |           * ((na_tot + nb_tot) * n_b - nb_tot * (n_a + n_b)) AS DOUBLE)
        |    / CAST((na_tot + nb_tot) * nb_tot * (n_a + n_b) AS DOUBLE)
        |  END AS chi2
        |FROM c, t""".stripMargin,

    "q138_skew_profile" ->
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS key, count(*) AS cnt
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT key, cnt, CAST(cnt * 1000000 // total AS BIGINT) AS ppm
        |FROM c, t ORDER BY cnt DESC, key LIMIT 10""".stripMargin,

    // q142: the q132 priority formula ranked per language.
    "q142_weighted_sample_grouped" ->
      """SELECT doc_id, lang, w AS weight, pr AS priority FROM (
        |  SELECT doc_id, lang, w, pr,
        |    row_number() OVER (PARTITION BY lang ORDER BY pr, doc_id) AS rk
        |  FROM (
        |    SELECT doc_id, lang, w,
        |      list_min(list_transform(generate_series(1, w),
        |        r -> CAST(('0x' || substr(md5('wps:' || CAST(doc_id AS VARCHAR)
        |                   || ':' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT))) AS pr
        |    FROM (SELECT doc_id, lang,
        |            least(8, greatest(1, CAST(1 + n_chars // 500 AS INT))) AS w
        |          FROM documents)))
        |WHERE rk <= 20""".stripMargin,

    // q208: q43's token-estimate formula + the same rank/ppm chain.
    // q233: the q208/q43 token formula, then the same lower-quantile
    // definition with n_chars as the weight — cum/total are weight sums.
    "q233_weighted_quantiles" ->
      """WITH s AS (
        |  SELECT lang,
        |    CAST(coalesce(list_sum(list_transform(
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                  t -> t <> ''),
        |      t -> (length(t) + 5) // 6)), 0)
        |      + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        |      AS BIGINT) AS v,
        |    n_chars
        |  FROM documents),
        |vc AS (SELECT lang, v, sum(n_chars) AS c FROM s GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |    sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM vc)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_rows,
        |  min(CASE WHEN cum * 1000000 >= n * 500000 THEN v END) AS p50,
        |  min(CASE WHEN cum * 1000000 >= n * 900000 THEN v END) AS p90
        |FROM cum GROUP BY 1""".stripMargin,

    "q208_quantile_normalize" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(coalesce(list_sum(list_transform(
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                  t -> t <> ''),
        |      t -> (length(t) + 5) // 6)), 0)
        |      + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        |      AS BIGINT) AS score
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM s)
        |SELECT doc_id, lang, score,
        |  CAST(rnk * 1000000 // n AS BIGINT) AS pct_ppm
        |FROM r""".stripMargin,

    // q194: exact per-group threshold — the MG machinery is invisible in
    // the answer by design.
    "q194_heavy_hitters_lang" ->
      """WITH tok AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |           t -> t <> '')) AS tok
        |  FROM documents),
        |n AS (SELECT lang, count(*) AS n FROM tok GROUP BY 1),
        |c AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY 1, 2)
        |SELECT c.lang, c.tok, c.cnt FROM c JOIN n USING (lang)
        |WHERE c.cnt * 400 > n.n""".stripMargin,

    // q192: the same bottom-k rank + (k−1)·2^60/h_k estimator in HUGEINT —
    // exact below k, truncating division above.
    "q192_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    CAST(('0x' || substr(md5('kmv:' || text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        |  FROM h),
        |s AS (
        |  SELECT lang, count(*) AS n_k,
        |    max(CASE WHEN rn = 64 THEN h END) AS h_k
        |  FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT lang,
        |  CASE WHEN n_k < 64 THEN CAST(n_k AS BIGINT)
        |       ELSE CAST((63::HUGEINT * 1152921504606846976::HUGEINT)
        |                 // h_k::HUGEINT AS BIGINT) END AS est_distinct
        |FROM s""".stripMargin,

    // q193: union sketch = k smallest of the combined hash lists; t its
    // last element; matches = shared hashes at-or-below t. One formula
    // covers the exact (<k) and estimated regimes on both engines.
    "q193_kmv_overlap" ->
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5('kmv:' || text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM h),
        |a AS (
        |  SELECT source, list(h ORDER BY h) AS hs
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |p AS (
        |  SELECT x.source AS src_a, y.source AS src_b, x.hs AS ha, y.hs AS hb,
        |    list_slice(list_sort(list_distinct(x.hs || y.hs)), 1, 64) AS u
        |  FROM a x JOIN a y ON x.source < y.source),
        |q AS (
        |  SELECT src_a, src_b, len(u) AS nu, u[len(u)] AS t,
        |    len(list_filter(list_intersect(ha, hb),
        |        x -> x <= u[len(u)])) AS matches
        |  FROM p),
        |e AS (
        |  SELECT src_a, src_b, nu, t, matches,
        |    CASE WHEN nu < 64 THEN CAST(nu AS BIGINT)
        |         ELSE CAST((63::HUGEINT * 1152921504606846976::HUGEINT)
        |                   // t::HUGEINT AS BIGINT) END AS est_union,
        |    CAST((matches::HUGEINT * 1000000::HUGEINT) // nu::HUGEINT
        |         AS BIGINT) AS jaccard_ppm
        |  FROM q)
        |SELECT src_a, src_b, CAST(nu AS BIGINT) AS n_union_k, est_union,
        |  jaccard_ppm,
        |  CAST((jaccard_ppm::HUGEINT * est_union::HUGEINT) // 1000000
        |       AS BIGINT) AS est_intersect
        |FROM e""".stripMargin,

    // q149: per-source registers, singles estimated directly, pair unions
    // from max-merged registers, inclusion–exclusion at the end — the same
    // HUGEINT estimator as q131 run at two granularities.
    "q149_hll_intersect" ->
      s"""WITH h AS (
        |  SELECT source,
        |    CAST(('0x' || substr(md5('hll:' || text), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |reg AS (
        |  SELECT source, h % 256 AS j,
        |    max(CASE WHEN h // 256 = 0 THEN 53
        |             ELSE 53 - length(bin(h // 256)) END) AS m_j
        |  FROM h GROUP BY source, h % 256),
        |sagg AS (
        |  SELECT source,
        |    sum(1::BIGINT << CAST(53 - m_j AS INT)) AS s_present,
        |    count(*) AS present
        |  FROM reg GROUP BY source),
        |sest0 AS (
        |  SELECT source,
        |    CAST((CAST(718273 AS HUGEINT) * 65536 * (1::HUGEINT << 53))
        |         // ((s_present + (256 - present) * (1::BIGINT << 53))::HUGEINT
        |             * 1000000) AS BIGINT) AS raw_estimate,
        |    CAST(256 - present AS BIGINT) AS zero_registers
        |  FROM sagg),
        |sest AS (
        |  SELECT source,
        |    CASE WHEN raw_estimate < 640 AND zero_registers > 0
        |         THEN ([${graft.operators.Sketches.HllLinearCount.mkString(",")}])
        |                [CAST(zero_registers + 1 AS INT)]
        |         ELSE raw_estimate END AS est
        |  FROM sest0),
        |prs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM (SELECT DISTINCT source FROM reg) a,
        |       (SELECT DISTINCT source FROM reg) b
        |  WHERE a.source < b.source),
        |preg AS (
        |  SELECT p.src_a, p.src_b, r.j, max(r.m_j) AS m_j
        |  FROM prs p JOIN reg r ON r.source = p.src_a OR r.source = p.src_b
        |  GROUP BY p.src_a, p.src_b, r.j),
        |pagg AS (
        |  SELECT src_a, src_b,
        |    sum(1::BIGINT << CAST(53 - m_j AS INT)) AS s_present,
        |    count(*) AS present
        |  FROM preg GROUP BY src_a, src_b),
        |pest0 AS (
        |  SELECT src_a, src_b,
        |    CAST((CAST(718273 AS HUGEINT) * 65536 * (1::HUGEINT << 53))
        |         // ((s_present + (256 - present) * (1::BIGINT << 53))::HUGEINT
        |             * 1000000) AS BIGINT) AS raw_estimate,
        |    CAST(256 - present AS BIGINT) AS zero_registers
        |  FROM pagg),
        |pest AS (
        |  SELECT src_a, src_b,
        |    CASE WHEN raw_estimate < 640 AND zero_registers > 0
        |         THEN ([${graft.operators.Sketches.HllLinearCount.mkString(",")}])
        |                [CAST(zero_registers + 1 AS INT)]
        |         ELSE raw_estimate END AS est_union
        |  FROM pest0)
        |SELECT p.src_a, p.src_b, ea.est AS est_a, eb.est AS est_b, p.est_union,
        |  ea.est + eb.est - p.est_union AS raw_intersect,
        |  greatest(ea.est + eb.est - p.est_union, 0) AS est_intersect
        |FROM pest p
        |JOIN sest ea ON ea.source = p.src_a
        |JOIN sest eb ON eb.source = p.src_b""".stripMargin,

    // q137: registers per (lang, source), max-merged onto lang, then the
    // q131 estimator — the merge step made explicit in SQL.
    "q137_hll_merge" ->
      s"""WITH h AS (
        |  SELECT lang, source,
        |    CAST(('0x' || substr(md5('hll:' || text), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |reg AS (
        |  SELECT lang, source, h % 256 AS j,
        |    max(CASE WHEN h // 256 = 0 THEN 53
        |             ELSE 53 - length(bin(h // 256)) END) AS m_j
        |  FROM h GROUP BY lang, source, h % 256),
        |merged AS (
        |  SELECT lang, j, max(m_j) AS m_j FROM reg GROUP BY lang, j),
        |agg AS (
        |  SELECT lang,
        |    sum(1::BIGINT << CAST(53 - m_j AS INT)) AS s_present,
        |    count(*) AS present
        |  FROM merged GROUP BY lang),
        |est AS (
        |  SELECT lang,
        |    CAST((CAST(718273 AS HUGEINT) * 65536 * (1::HUGEINT << 53))
        |         // ((s_present + (256 - present) * (1::BIGINT << 53))::HUGEINT
        |             * 1000000) AS BIGINT) AS raw_estimate,
        |    CAST(256 - present AS BIGINT) AS zero_registers
        |  FROM agg)
        |SELECT lang,
        |  CASE WHEN raw_estimate < 640 AND zero_registers > 0
        |       THEN ([${graft.operators.Sketches.HllLinearCount.mkString(",")}])
        |              [CAST(zero_registers + 1 AS INT)]
        |       ELSE raw_estimate END AS est_distinct,
        |  raw_estimate, zero_registers
        |FROM est""".stripMargin,

    // Weighted priority sample: identical min-of-w md5 uniforms, identical
    // (priority, key) total order.
    "q132_weighted_sample" ->
      """SELECT doc_id, lang, w AS weight, pr AS priority FROM (
        |  SELECT doc_id, lang, w,
        |    list_min(list_transform(generate_series(1, w),
        |      r -> CAST(('0x' || substr(md5('wps:' || CAST(doc_id AS VARCHAR)
        |                 || ':' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT))) AS pr
        |  FROM (SELECT doc_id, lang,
        |          least(8, greatest(1, CAST(1 + n_chars // 500 AS INT))) AS w
        |        FROM documents))
        |ORDER BY pr, doc_id LIMIT 100""".stripMargin,

    "q79_kmeans" ->
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |${kmeansCtes(k = 8, iters = 2)}
         |SELECT id AS vec_id, cluster FROM a2""".stripMargin,

    // q85: the training chain's c1 centroids, then one assignment of the
    // delta batch (the final a1 CTE of the chain goes unreferenced).
    "q85_kmeans_incremental" ->
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |${kmeansCtes(k = 8, iters = 1)},
         |nb AS (
         |  SELECT vec_id + 1000000 AS id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.9 + 0.01) AS v
         |  FROM embeddings WHERE vec_id % 5 = 0)
         |SELECT id AS vec_id, cluster FROM (
         |  SELECT nb.id, c.ci AS cluster,
         |    row_number() OVER (PARTITION BY nb.id
         |      ORDER BY -2 * list_dot_product(nb.v, c.cv)
         |               + list_dot_product(c.cv, c.cv) ASC, c.ci) AS r
         |  FROM nb CROSS JOIN c1 c) WHERE r = 1""".stripMargin,

    "q83_cluster_exemplars" ->
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |${kmeansCtes(k = 8, iters = 2)},
         |d AS (SELECT id, cluster, list_dot_product(v, v) + s AS d2 FROM a2)
         |SELECT cluster, exemplar_id FROM (
         |  SELECT cluster, id AS exemplar_id,
         |    row_number() OVER (PARTITION BY cluster ORDER BY d2 ASC, id) AS r
         |  FROM d) WHERE r = 1""".stripMargin,

    "q80_semdedup" ->
      s"""WITH $nearVecsE,
         |${kmeansCtes(k = 8, iters = 1)},
         |sized AS (SELECT cluster FROM a1 GROUP BY cluster
         |          HAVING count(*) <= 10000),
         |kept AS (SELECT a1.id, a1.cluster FROM a1 JOIN sized USING (cluster))
         |SELECT a.id AS id_a, b.id AS id_b
         |FROM kept a JOIN kept b ON a.cluster = b.cluster AND a.id < b.id
         |JOIN e ea ON ea.id = a.id
         |JOIN e eb ON eb.id = b.id
         |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.9""".stripMargin,

    // q128: the q80 pair chain closed transitively by the q42 recursive
    // reach, census over a left join — cluster_id IS the smallest reachable
    // id on both engines (CC's min-label contract), so the outcome CASE
    // replays exactly.
    "q128_semdedup_e2e" ->
      s"""WITH RECURSIVE $nearVecsE,
         |${kmeansCtes(k = 8, iters = 1)},
         |sized AS (SELECT cluster FROM a1 GROUP BY cluster
         |          HAVING count(*) <= 10000),
         |kept AS (SELECT a1.id, a1.cluster FROM a1 JOIN sized USING (cluster)),
         |prs AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM kept a JOIN kept b ON a.cluster = b.cluster AND a.id < b.id
         |  JOIN e ea ON ea.id = a.id
         |  JOIN e eb ON eb.id = b.id
         |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.9),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)),
         |links AS (SELECT id_a AS a, id_b AS b FROM prs
         |  UNION ALL SELECT id_b, id_a FROM prs),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT l.b AS id, reach.r FROM links l JOIN reach ON reach.id = l.a),
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT outcome, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT CASE WHEN cl.cluster_id IS NULL THEN 'unique'
         |              WHEN e.id = cl.cluster_id THEN 'representative'
         |              ELSE 'dropped' END AS outcome
         |  FROM e LEFT JOIN cl ON cl.id = e.id)
         |GROUP BY outcome""".stripMargin,

    // q264: q128's oracle with k computed from the corpus (same ceiling
    // formula as semanticPairsAuto: max(8, ceil(n / 250))).
    "q264_semdedup_auto" ->
      s"""WITH RECURSIVE $nearVecsE,
         |${kmeansCtesK(
            "(SELECT greatest(8, CAST(ceil(count(*) / 250.0) AS BIGINT)) FROM e)",
            iters = 1)},
         |sized AS (SELECT cluster FROM a1 GROUP BY cluster
         |          HAVING count(*) <= 10000),
         |kept AS (SELECT a1.id, a1.cluster FROM a1 JOIN sized USING (cluster)),
         |prs AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM kept a JOIN kept b ON a.cluster = b.cluster AND a.id < b.id
         |  JOIN e ea ON ea.id = a.id
         |  JOIN e eb ON eb.id = b.id
         |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.9),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)),
         |links AS (SELECT id_a AS a, id_b AS b FROM prs
         |  UNION ALL SELECT id_b, id_a FROM prs),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT l.b AS id, reach.r FROM links l JOIN reach ON reach.id = l.a),
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT outcome, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT CASE WHEN cl.cluster_id IS NULL THEN 'unique'
         |              WHEN e.id = cl.cluster_id THEN 'representative'
         |              ELSE 'dropped' END AS outcome
         |  FROM e LEFT JOIN cl ON cl.id = e.id)
         |GROUP BY outcome""".stripMargin,

    // q81: same tokenizer/bigram forms as q45; the dictionary cutoff
    // restates Spark's orderBy(cnt DESC, bg).limit(200) as a row_number.
    // Counts CAST to BIGINT (DuckDB sums BIGINT into HUGEINT).
    "q81_lm_dict_score" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> t <> '') AS toks
        |  FROM documents),
        |big AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        |      ELSE [] END AS bgs
        |  FROM tok),
        |bg AS (SELECT doc_id, unnest(bgs) AS bg FROM big),
        |dict AS (
        |  SELECT bg, cnt FROM (
        |    SELECT bg, count(*) AS cnt,
        |      row_number() OVER (ORDER BY count(*) DESC, bg) AS rn
        |    FROM bg GROUP BY bg) WHERE rn <= 200),
        |scored AS (
        |  SELECT b.doc_id, count(*) AS n_bigrams, count(d.cnt) AS hits,
        |    coalesce(sum(d.cnt), 0) AS freq_sum
        |  FROM bg b LEFT JOIN dict d USING (bg) GROUP BY b.doc_id)
        |SELECT t.doc_id,
        |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
        |  CAST(coalesce(freq_sum, 0) AS BIGINT) AS freq_sum
        |FROM tok t LEFT JOIN scored USING (doc_id)""".stripMargin,

    "q66_snapshot_diff" ->
      """WITH nxt AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN (o.text, o.lang, o.source, o.n_chars) IS DISTINCT FROM
        |              (n.text, n.lang, n.source, n.n_chars) THEN 'changed'
        |    END AS change
        |  FROM documents o FULL JOIN nxt n ON o.doc_id = n.doc_id)
        |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin,

    // q77: the cap restated as a ranking window over the same md5-derived
    // hash (mod 2^50, ties by doc_id — identical to the aggregator order).
    "q77_cap_per_source" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |               AS BIGINT) % 1125899906842624, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 25""".stripMargin,

    // q74: the same integer quantization (round(v×1e9), ties away from zero
    // in both engines), exact bigint sums, identical fixed-order double
    // arithmetic for the mean — see groupCentroids' scaladoc for why
    // decimal sums were rejected (engine-specific tie rounding).
    "q74_centroids" ->
      """SELECT t.label, u.i AS pos,
        |  CAST(sum(CAST(round(CAST(t.embedding[u.i + 1] AS DOUBLE) * 1e9)
        |                AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS mean_val
        |FROM embeddings t,
        |  LATERAL (SELECT unnest(range(len(t.embedding))) AS i) u
        |GROUP BY t.label, u.i""".stripMargin,

    // q70: the aggregator's (score desc, id asc) order restated as a window.
    "q70_topk_agg" ->
      """SELECT lang, rn AS rank, doc_id, n_chars
        |FROM (SELECT lang, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 3""".stripMargin,

    "q52_decontaminate" ->
      s"""WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, substr(text, 1, CAST(n_chars * 3 // 5 AS INT))
        |  FROM documents WHERE doc_id % 7 = 0),
        |btok AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> t <> '') AS toks
        |  FROM bench),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM corpus),
        |bsh AS (
        |  SELECT DISTINCT
        |    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1073741789 AS h
        |  FROM (SELECT unnest(list_transform(range(1, len(toks) - 6),
        |                j -> $eightGram)) AS s
        |        FROM btok WHERE len(toks) >= 8)),
        |csh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_transform(range(1, len(toks) - 6), j -> $eightGram),
        |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1073741789))) AS h
        |  FROM ctok WHERE len(toks) >= 8)
        |SELECT c.doc_id, count(*) AS n_shared
        |FROM csh c JOIN bsh b ON c.h = b.h
        |GROUP BY c.doc_id""".stripMargin,

    // q113: distinct hashed 8-grams per doc (q52's hash form) over the
    // near-dup corpus; df from one count per distinct hash.
    "q113_ngram_novelty" ->
      s"""WITH $nearDupTok,
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_transform(range(1, len(toks) - 6), j -> $eightGram),
        |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1073741789))) AS h
        |  FROM tok WHERE len(toks) >= 8),
        |dfreq AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
        |SELECT s.doc_id, count(*) AS n_ngrams,
        |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |FROM sh s JOIN dfreq d ON s.h = d.h
        |GROUP BY s.doc_id""".stripMargin,

    // q114: POSITIONAL 8-gram hashes (winnowChain's raw md5-60 form, no
    // mod — duplicates and order kept); a window is hot at ≥2 total
    // occurrences; coverage = distinct union of [j, j+7] over hot windows.
    "q127_dup_span_removal" ->
      s"""WITH $nearDupTok,
        |g AS (
        |  SELECT doc_id, toks, len(toks) AS n_toks,
        |    CASE WHEN len(toks) >= 8
        |      THEN list_transform(range(1, len(toks) - 6),
        |             j -> CAST(('0x' || substr(md5($eightGram), 1, 15)) AS BIGINT))
        |      ELSE [] END AS hs
        |  FROM tok),
        |pos AS (
        |  SELECT doc_id, j, hs[j] AS h
        |  FROM g, LATERAL (SELECT unnest(range(1, len(hs) + 1)) AS j) u),
        |hot AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM (SELECT doc_id, j, unnest(range(j, j + 8)) AS p
        |        FROM pos JOIN hot USING (h))),
        |tp AS (
        |  SELECT doc_id, j AS p, toks[j] AS tok
        |  FROM g, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS j) u),
        |kept AS (
        |  SELECT t.doc_id, count(*) AS n_kept,
        |    string_agg(t.tok, ' ' ORDER BY t.p) AS text_kept
        |  FROM tp t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
        |  WHERE c.p IS NULL GROUP BY t.doc_id)
        |SELECT g.doc_id, CAST(g.n_toks AS BIGINT) AS n_toks,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(k.text_kept, '') AS text_kept
        |FROM g LEFT JOIN kept k ON g.doc_id = k.doc_id""".stripMargin,

    "q114_dup_span_coverage" ->
      s"""WITH $nearDupTok,
        |g AS (
        |  SELECT doc_id, len(toks) AS n_toks,
        |    list_transform(range(1, len(toks) - 6),
        |      j -> CAST(('0x' || substr(md5($eightGram), 1, 15)) AS BIGINT)) AS hs
        |  FROM tok),
        |pos AS (
        |  SELECT doc_id, j, hs[j] AS h
        |  FROM g, LATERAL (SELECT unnest(range(1, len(hs) + 1)) AS j) u),
        |hot AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, j FROM pos JOIN hot USING (h)),
        |cov AS (
        |  SELECT doc_id, count(DISTINCT j) AS n_dup_windows,
        |         count(DISTINCT p) AS n_covered
        |  FROM (SELECT doc_id, j, unnest(range(j, j + 8)) AS p FROM dup)
        |  GROUP BY doc_id)
        |SELECT g.doc_id, CAST(g.n_toks AS BIGINT) AS n_toks,
        |  CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered
        |FROM g LEFT JOIN cov c ON g.doc_id = c.doc_id""".stripMargin,

    // q115: skip-gram pairs at distances 1 and 2, unordered via
    // least/greatest (pure-ASCII tokens, so both engines' lexicographic
    // order agrees); rank over the counted pairs.
    "q115_cooccurrence" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> t <> '') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT least(toks[j], toks[j + 1]) AS tok_a,
        |         greatest(toks[j], toks[j + 1]) AS tok_b
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(toks))) AS j) u
        |  UNION ALL
        |  SELECT least(toks[j], toks[j + 2]), greatest(toks[j], toks[j + 2])
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS j) u),
        |c AS (SELECT tok_a, tok_b, count(*) AS cnt FROM p GROUP BY tok_a, tok_b)
        |SELECT rank, tok_a, tok_b, cnt FROM (
        |  SELECT row_number() OVER (ORDER BY cnt DESC, tok_a, tok_b) AS rank,
        |         tok_a, tok_b, cnt
        |  FROM c)
        |WHERE rank <= 100""".stripMargin,

    // q116: distinct (source, 8-gram-hash) pairs (q52's hash form) over
    // documents ∪ the mirrored fifth; self-join on the hash for pair
    // counts, per-source totals joined back.
    "q116_source_overlap" ->
      s"""WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 5 = 0),
        |tok AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM corpus),
        |sh AS (
        |  SELECT DISTINCT source, h FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      list_transform(range(1, len(toks) - 6), j -> $eightGram),
        |      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1073741789))) AS h
        |    FROM tok WHERE len(toks) >= 8)),
        |tot AS (SELECT source, count(*) AS n FROM sh GROUP BY source)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS shared_ngrams, min(ta.n) AS n_a, min(tb.n) AS n_b
        |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |JOIN tot ta ON ta.source = a.source
        |JOIN tot tb ON tb.source = b.source
        |GROUP BY a.source, b.source""".stripMargin,

    "q54_balance_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT min(n) AS t FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN c ON d.lang = c.lang
        |WHERE (CAST(('0x' || substr(md5('balance:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |       % 1000000) * c.n < (SELECT t FROM t) * 1000000""".stripMargin,

    "q57_chunk_windows" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, toks,
        |    (greatest(len(toks) - 64, 0) + 47) // 48 AS extra
        |  FROM tok WHERE len(toks) > 0)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text,
        |  CAST(len(toks[i * 48 + 1 : i * 48 + 64]) AS BIGINT) AS n_toks
        |FROM p, unnest(range(extra + 1)) AS u(i)""".stripMargin,

    "q56_quality_filter" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |$langScoredCte,
        |m AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE (len(toks) - len(list_distinct(toks))) / len(toks) END AS dup_frac,
        |    CAST($langPredExpr = lang AS INT) AS lang_ok
        |  FROM scored)
        |SELECT doc_id, n_tokens, dup_frac, lang_ok,
        |  CAST((n_tokens BETWEEN 30 AND 90) AND dup_frac <= 0.65 AND lang_ok = 1
        |    AS INT) AS keep
        |FROM m""".stripMargin,

    "q55_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       t -> t <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |r AS (
        |  SELECT t.doc_id, t.tok AS keyword, t.tf, d.df,
        |    row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY t.tf DESC, d.df ASC, t.tok ASC) AS rnk
        |  FROM tf t JOIN dfreq d ON t.tok = d.tok)
        |SELECT doc_id, keyword, tf, df, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "q31_dedup_minhash" ->
      s"""WITH $shingleCtes,
        |$minhashCand,
        |$jaccardTail""".stripMargin,

    "q58_dedup_incremental" ->
      s"""WITH $shingleCtes,
        |$minhashBkeys,
        |cappedix AS (
        |  SELECT doc_id, band, bkey FROM (
        |    SELECT doc_id, band, bkey,
        |      count(*) OVER (PARTITION BY band, bkey) AS bsize
        |    FROM bkeys WHERE doc_id < 1000000)
        |  WHERE bsize <= 1000),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS id_a, x.doc_id AS id_b
        |  FROM bkeys n JOIN cappedix x ON n.band = x.band AND n.bkey = x.bkey
        |  WHERE n.doc_id >= 1000000),
        |$jaccardTail""".stripMargin,

    "q42_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashCand,
        |$jaccardVerified,
        |pairs AS (
        |  SELECT id_a, id_b FROM verified WHERE inter * 5 >= (tot - inter) * 3),
        |nodes AS (
        |  SELECT DISTINCT id FROM
        |    (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |links AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT l.b AS id, reach.r FROM links l JOIN reach ON reach.id = l.a)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    "q59_keep_best" ->
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashCand,
        |$jaccardVerified,
        |pairs AS (
        |  SELECT id_a, id_b FROM verified WHERE inter * 5 >= (tot - inter) * 3),
        |nodes AS (
        |  SELECT DISTINCT id FROM
        |    (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |links AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT l.b AS id, reach.r FROM links l JOIN reach ON reach.id = l.a),
        |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |qual AS (
        |  SELECT c.doc_id,
        |    0.4 * least(len(t.toks) / 50.0, 1.0)
        |      + 0.3 * (1.0 - coalesce(length(regexp_replace(lower(c.text), '[a-z0-9 ]', '', 'g'))
        |                                / nullif(length(c.text), 0), 1.0))
        |      + 0.3 * coalesce(len(list_filter(t.toks, x -> list_contains(
        |            ['the','and','of','to','a','in','is','it'], x)))
        |          / nullif(len(t.toks), 0), 0.0) AS quality
        |  FROM corpus c JOIN tok t ON c.doc_id = t.doc_id),
        |m AS (
        |  SELECT cc.cluster_id, cc.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY cc.cluster_id
        |      ORDER BY q.quality DESC, cc.doc_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
        |  FROM cc JOIN qual q ON cc.doc_id = q.doc_id)
        |SELECT cluster_id, doc_id AS keep_id, n_members FROM m WHERE rn = 1""".stripMargin,

    "q43_token_estimate" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, len(toks) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(toks, t -> (length(t) + 5) // 6)), 0)
        |    + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT)
        |    AS n_tokens_est
        |FROM tok""".stripMargin,

    // q178: q43's token estimate aggregated per source, mixed by the same
    // ppm weights; every derived quantity an exact integer division.
    "q178_epoch_plan" ->
      """WITH tok AS (
        |  SELECT source, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |nat AS (
        |  SELECT source,
        |    CAST(sum(coalesce(list_sum(list_transform(toks,
        |        t -> (length(t) + 5) // 6)), 0)
        |      + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')))
        |      AS BIGINT) AS natural_tokens
        |  FROM tok GROUP BY source),
        |wt AS (
        |  SELECT source, natural_tokens,
        |    CAST(CASE source WHEN 'src0' THEN 400000 WHEN 'src1' THEN 250000
        |      WHEN 'src2' THEN 200000 WHEN 'src3' THEN 150000
        |      ELSE 0 END AS BIGINT) AS weight_ppm
        |  FROM nat),
        |m AS (
        |  SELECT source, natural_tokens, weight_ppm,
        |    10000000 * weight_ppm // 1000000 AS target_tokens,
        |    CASE WHEN natural_tokens > 0
        |      THEN (10000000 * weight_ppm // 1000000) * 1000 // natural_tokens
        |      ELSE 0 END AS milli_epochs
        |  FROM wt)
        |SELECT source, natural_tokens, weight_ppm, target_tokens,
        |  milli_epochs,
        |  CAST(CASE WHEN milli_epochs > 4000 THEN 1 ELSE 0 END AS INT)
        |    AS over_4_epochs
        |FROM m""".stripMargin,

    "q44_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |  < CASE WHEN lang = 'en' THEN 50 ELSE 20 END""".stripMargin,

    "q45_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> t <> '') AS toks
        |  FROM documents),
        |big AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        |      ELSE [] END AS bgs
        |  FROM tok),
        |cnt AS (
        |  SELECT doc_id, max(c) AS maxc, sum(c) AS totc FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(bgs) AS g FROM big)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE (len(toks) - len(list_distinct(toks))) / len(toks) END AS dup_word_frac,
        |  coalesce(maxc / totc, 0.0) AS top_bigram_frac
        |FROM tok t LEFT JOIN cnt ON t.doc_id = cnt.doc_id""".stripMargin,

    "q46_token_percentiles" ->
      """WITH t AS (
        |  SELECT lang, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                               s -> s <> '')) AS n
        |  FROM documents),
        |h AS (SELECT lang, n, count(*) AS c FROM t GROUP BY lang, n),
        |cum AS (
        |  SELECT lang, n,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS tot
        |  FROM h)
        |SELECT lang,
        |  min(CASE WHEN cum >= ceil(tot * 0.5) THEN n END) AS p50,
        |  min(CASE WHEN cum >= ceil(tot * 0.9) THEN n END) AS p90,
        |  min(CASE WHEN cum >= ceil(tot * 0.99) THEN n END) AS p99
        |FROM cum GROUP BY lang""".stripMargin,

    // q188: the PQ chain replayed — hash-ranked codeword pick, per-
    // subspace slices (DuckDB's [a:b] is 1-based inclusive = Spark's
    // slice(v, a, b-a+1)), argmin by the ‖c‖²−2·v·c ranking form with
    // lowest-j ties, ADC as a left-associated 4-term sum. Every float
    // comparison reruns through list_dot_product exactly as the Spark side
    // pinned it.
    "q188_ann_pq" -> {
      val m = (0 until 4).map(i => (i, i * 16 + 1, (i + 1) * 16))
      val subCte = m.map { case (i, lo, hi) =>
        s"cw$i AS (SELECT CAST(rn - 1 AS INT) AS j, v[$lo:$hi] AS cv, " +
          s"list_dot_product(v[$lo:$hi], v[$lo:$hi]) AS n2 FROM ranked WHERE rn <= 16)"
      }.mkString(",\n")
      val scCte = m.map { case (i, lo, hi) =>
        s"""sc$i AS (SELECT e.vec_id, c.j,
           |  c.n2 - 2 * list_dot_product(e.v[$lo:$hi], c.cv) AS s
           |  FROM e CROSS JOIN cw$i c),
           |code$i AS (SELECT vec_id, j AS code FROM (
           |  SELECT vec_id, j, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY s, j) AS r FROM sc$i) WHERE r = 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ranked AS (
         |  SELECT vec_id, v, row_number() OVER (
         |    ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
         |             vec_id) AS rn
         |  FROM e WHERE list_dot_product(v, v) > 0),
         |$subCte,
         |$scCte,
         |adc AS (
         |  SELECT l0.vec_id AS query_id, c0.vec_id AS neighbor_id,
         |    l0.s + l1.s + l2.s + l3.s AS ad2
         |  FROM code0 c0
         |  JOIN code1 c1 ON c1.vec_id = c0.vec_id
         |  JOIN code2 c2 ON c2.vec_id = c0.vec_id
         |  JOIN code3 c3 ON c3.vec_id = c0.vec_id
         |  JOIN sc0 l0 ON l0.vec_id < 8 AND l0.j = c0.code
         |  JOIN sc1 l1 ON l1.vec_id = l0.vec_id AND l1.j = c1.code
         |  JOIN sc2 l2 ON l2.vec_id = l0.vec_id AND l2.j = c2.code
         |  JOIN sc3 l3 ON l3.vec_id = l0.vec_id AND l3.j = c3.code
         |  WHERE l0.vec_id <> c0.vec_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY ad2, neighbor_id) AS rank
         |  FROM adc)
         |WHERE rank <= 10""".stripMargin
    },

    "q47_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ranked AS (
        |  SELECT vec_id, v, row_number() OVER (
        |    ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |             vec_id) AS rn
        |  FROM e),
        |cent AS (
        |  SELECT CAST(rn - 1 AS INT) AS ci,
        |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        |  FROM ranked WHERE rn <= 16),
        |sc AS (SELECT e.vec_id, ci, list_dot_product(e.v, cent.cv) AS s
        |       FROM e CROSS JOIN cent),
        |assign AS (
        |  SELECT vec_id, ci AS cell FROM (
        |    SELECT vec_id, ci,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS r
        |    FROM sc) WHERE r = 1),
        |qprobe AS (
        |  SELECT vec_id AS query_id, ci AS cell FROM (
        |    SELECT vec_id, ci,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS r
        |    FROM sc WHERE vec_id < 8) WHERE r <= 4),
        |cand AS (
        |  SELECT q.query_id, a.vec_id AS neighbor_id
        |  FROM qprobe q JOIN assign a ON q.cell = a.cell
        |  WHERE q.query_id <> a.vec_id)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT c.query_id, c.neighbor_id,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, c.neighbor_id) AS rank
        |  FROM cand c
        |  JOIN e qe ON qe.vec_id = c.query_id
        |  JOIN e ne ON ne.vec_id = c.neighbor_id)
        |WHERE rank <= 10""".stripMargin,

    // q82: q48's weight + order, then each doc's [start, start+w) token
    // interval is cut at multiples of 512 — `//` floor-division matches
    // Spark DIV on the non-negative prefix sums.
    "q82_pack_sequences" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(toks, t -> (length(t) + 5) // 6)), 0)
        |      + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS w,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM tok),
        |st AS (
        |  SELECT doc_id, w,
        |    CAST(sum(w) OVER (ORDER BY h, doc_id) - w AS BIGINT) AS start
        |  FROM t),
        |sp AS (
        |  SELECT doc_id, w, start,
        |    unnest(range(start // 512, (start + w - 1) // 512 + 1)) AS seq
        |  FROM st WHERE w > 0)
        |SELECT doc_id, CAST(seq AS BIGINT) AS seq,
        |  CAST(greatest(start, seq * 512) - start AS BIGINT) AS doc_from,
        |  CAST(least(start + w, (seq + 1) * 512) - start AS BIGINT) AS doc_to,
        |  CAST(greatest(start, seq * 512) - seq * 512 AS BIGINT) AS off_in_seq
        |FROM sp""".stripMargin,

    "q48_pack_shards" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(toks, t -> (length(t) + 5) // 6)), 0)
        |      + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS w,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM tok)
        |SELECT doc_id, w,
        |  CAST((sum(w) OVER (ORDER BY h, doc_id) - w) // 4000 AS BIGINT) AS shard
        |FROM t""".stripMargin,

    // q179: q48's packing aggregated into the manifest; HUGEINT sum of
    // the same 60-bit hashes, emitted as VARCHAR like Spark's decimal.
    "q179_shard_manifest" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(toks, t -> (length(t) + 5) // 6)), 0)
        |      + length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS w,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM tok),
        |sh AS (
        |  SELECT doc_id, w,
        |    CAST((sum(w) OVER (ORDER BY h, doc_id) - w) // 4000 AS BIGINT) AS shard
        |  FROM t)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(w AS VARCHAR)), 1, 15)) AS BIGINT)) AS VARCHAR) AS checksum
        |FROM sh GROUP BY shard""".stripMargin,

    "q123_prefix_jaccard" ->
      s"""WITH $shingleCtes,
        |post AS (SELECT doc_id, len(hs) AS sz, unnest(hs) AS h FROM hsh),
        |dfx AS (SELECT h, count(*) AS dfreq FROM post GROUP BY 1),
        |rk AS (
        |  SELECT p.doc_id, p.h, p.sz,
        |    row_number() OVER (PARTITION BY p.doc_id ORDER BY d.dfreq, p.h) AS rk
        |  FROM post p JOIN dfx d USING (h)),
        |pre AS (SELECT doc_id, h FROM rk
        |        WHERE rk <= sz - (3 * sz + 4) // 5 + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id),
        |$jaccardTail""".stripMargin,

    // q227: plain word-3-gram pair mass — shingles distinct per doc,
    // df over docs, Σ d(d−1)/2 in integer arithmetic (DuckDB's sum is
    // HUGEINT — cast back to BIGINT for the schema compare).
    "q227_pair_mass" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM idx),
        |df AS (SELECT shingle, count(*) AS d FROM sh GROUP BY 1)
        |SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  count(*) AS n_shingles,
        |  CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS pair_mass,
        |  max(d) AS max_df
        |FROM df""".stripMargin,

    "q39_dedup_ngram" ->
      s"""WITH $shingleCtes,
        |post AS (
        |  SELECT doc_id, h FROM (
        |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfreq
        |    FROM (SELECT doc_id, unnest(hs) AS h FROM hsh))
        |  WHERE dfreq <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id),
        |$jaccardTail""".stripMargin,

    // q228: q39 under PairBudget.AutoTighten(12000) — replay the gate's
    // cap choice (2·mass cumulative vs 2·budget over the df histogram,
    // c in [2, 1000]; keep 1000 when the total fits, else the largest
    // fitting c, else 1) and run the capped posting join.
    "q228_budget_gate" ->
      s"""WITH $shingleCtes,
        |post AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
        |dfh AS (SELECT h, count(*) AS c FROM post GROUP BY 1),
        |hist AS (
        |  SELECT c, count(*) AS n FROM dfh
        |  WHERE c >= 2 AND c <= 1000 GROUP BY 1),
        |cum AS (SELECT c, sum(n * c * (c - 1)) OVER (ORDER BY c) AS m2
        |        FROM hist),
        |cap AS (
        |  SELECT CASE
        |    WHEN coalesce((SELECT max(m2) FROM cum), 0) <= 24000 THEN 1000
        |    ELSE coalesce((SELECT max(c) FROM cum WHERE m2 <= 24000), 1)
        |  END AS cap),
        |postc AS (
        |  SELECT p.doc_id, p.h FROM post p JOIN dfh d USING (h)
        |  WHERE d.c <= (SELECT cap FROM cap)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM postc a JOIN postc b ON a.h = b.h AND a.doc_id < b.doc_id),
        |$jaccardTail""".stripMargin,

    // q177: q39's candidate chain verified by DIRECTIONAL containment
    // (inter/|side| as exact integer ppm, emitted when either direction
    // reaches 4/5).
    "q177_containment" ->
      s"""WITH $shingleCtes,
        |post AS (
        |  SELECT doc_id, h FROM (
        |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfreq
        |    FROM (SELECT doc_id, unnest(hs) AS h FROM hsh))
        |  WHERE dfreq <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(len(list_filter(ha.hs, h -> list_contains(hb.hs, h)))
        |      AS BIGINT) AS inter,
        |    CAST(len(ha.hs) AS BIGINT) AS n_a,
        |    CAST(len(hb.hs) AS BIGINT) AS n_b
        |  FROM cand c
        |  JOIN hsh ha ON ha.doc_id = c.id_a
        |  JOIN hsh hb ON hb.doc_id = c.id_b)
        |SELECT id_a, id_b, inter, n_a, n_b,
        |  inter * 1000000 // n_a AS cont_ab_ppm,
        |  inter * 1000000 // n_b AS cont_ba_ppm
        |FROM v WHERE inter * 5 >= n_a * 4 OR inter * 5 >= n_b * 4""".stripMargin,

    "q40_dedup_embed" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.9 + 0.01)
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |proj AS (
        |  SELECT vec_id, p.p,
        |    list_sum(list_transform(range(1, len(v) + 1), j -> v[j] *
        |      CASE WHEN CAST(('0x' || substr(md5(p.p || ':' || (j - 1)), 1, 15)) AS BIGINT) & 1 = 1
        |        THEN 1.0 ELSE -1.0 END)) AS pr
        |  FROM e CROSS JOIN range(6) p(p)),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |c AS (SELECT e.vec_id AS id, v, bucket FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
        |probed AS (
        |  SELECT id, v, bucket FROM c
        |  UNION ALL
        |  SELECT id, v, CAST(xor(bucket, CAST(1 AS BIGINT) << p.p) AS BIGINT)
        |  FROM c CROSS JOIN range(6) p(p))
        |SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |FROM probed a JOIN c b USING (bucket)
        |WHERE a.id < b.id AND list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin,

    "q32_dedup_simhash" ->
      s"""WITH $nearDupTok,
        |tkn AS (SELECT doc_id, unnest(toks) AS tk FROM tok WHERE len(toks) > 0),
        |th AS (SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h FROM tkn),
        |votes AS (
        |  SELECT doc_id, b.bit,
        |    sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN range(60) b(bit)
        |  GROUP BY doc_id, b.bit),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS fp
        |  FROM votes GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, fp, b.band, (fp >> (b.band * 15)) & 32767 AS bkey
        |  FROM fp CROSS JOIN range(4) b(band))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,

    "q37_ann_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |proj AS (
        |  SELECT vec_id, p.p,
        |    list_sum(list_transform(range(1, len(v) + 1), j -> v[j] *
        |      CASE WHEN CAST(('0x' || substr(md5(p.p || ':' || (j - 1)), 1, 15)) AS BIGINT) & 1 = 1
        |        THEN 1.0 ELSE -1.0 END)) AS pr
        |  FROM e CROSS JOIN range(4) p(p)),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |c AS (SELECT e.vec_id AS neighbor_id, v AS cv, bucket
        |      FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
        |q AS (SELECT neighbor_id AS query_id, cv AS qv, bucket FROM c WHERE neighbor_id < 8),
        |probed AS (
        |  SELECT query_id, qv, bucket FROM q
        |  UNION ALL
        |  SELECT query_id, qv, CAST(xor(bucket, CAST(1 AS BIGINT) << p.p) AS BIGINT)
        |  FROM q CROSS JOIN range(4) p(p))
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        |  FROM probed JOIN c USING (bucket) WHERE query_id <> neighbor_id)
        |WHERE rank <= 10""".stripMargin,

    "q53_knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |proj AS (
        |  SELECT vec_id, p.p,
        |    list_sum(list_transform(range(1, len(v) + 1), j -> v[j] *
        |      CASE WHEN CAST(('0x' || substr(md5(p.p || ':' || (j - 1)), 1, 15)) AS BIGINT) & 1 = 1
        |        THEN 1.0 ELSE -1.0 END)) AS pr
        |  FROM e CROSS JOIN range(6) p(p)),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |c AS (SELECT e.vec_id AS neighbor_id, v AS cv, bucket
        |      FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
        |q AS (SELECT neighbor_id AS query_id, cv AS qv, bucket FROM c),
        |probed AS (
        |  SELECT query_id, qv, bucket FROM q
        |  UNION ALL
        |  SELECT query_id, qv, CAST(xor(bucket, CAST(1 AS BIGINT) << p.p) AS BIGINT)
        |  FROM q CROSS JOIN range(6) p(p))
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        |  FROM probed JOIN c USING (bucket) WHERE query_id <> neighbor_id)
        |WHERE rank <= 5""".stripMargin,

    "q30_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS copies
        |FROM corpus GROUP BY md5(text)""".stripMargin,

    "q33_text_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  len(toks) AS n_tokens,
        |  length(text) AS n_chars_m,
        |  length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        |    / nullif(length(text), 0) AS punct_ratio,
        |  len(list_filter(toks, t -> list_contains(
        |      ['the','and','of','to','a','in','is','it'], t)))
        |    / nullif(len(toks), 0) AS stop_ratio,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
        |    / nullif(len(toks), 0) AS avg_tok_len,
        |  0.4 * least(len(toks) / 50.0, 1.0)
        |    + 0.3 * (1.0 - coalesce(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        |                              / nullif(length(text), 0), 1.0))
        |    + 0.3 * coalesce(len(list_filter(toks, t -> list_contains(
        |          ['the','and','of','to','a','in','is','it'], t)))
        |        / nullif(len(toks), 0), 0.0) AS quality
        |FROM tok""".stripMargin,

    "q34_lang_id" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |$langScoredCte
        |SELECT doc_id, lang, $langPredExpr AS lang_pred
        |FROM scored""".stripMargin,

    "q35_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks,
        |        t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT))),
        |    (a, h) -> (a * 31 + h) % 1099511627776) END AS fp
        |FROM tok""".stripMargin,

    "q36_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        |  FROM q, c WHERE query_id <> neighbor_id)
        |WHERE rank <= 10""".stripMargin,

    // q147: the q88 code chain (scale, floor-quantize) feeds a coarse
    // integer-exact dot rank, then list_cosine_similarity re-ranks the
    // survivors — the same two windows in the same total order.
    "q147_ann_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |cd AS (SELECT vec_id, v,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |             ELSE list_transform(v,
        |               x -> floor(x * 127.0 / scale + 0.5)) END AS c
        |      FROM s),
        |q AS (SELECT vec_id AS query_id, v AS qv, c AS qc FROM cd
        |      WHERE vec_id < 8),
        |coarse AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, cd.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qc, cd.c) DESC, cd.vec_id) AS crank
        |    FROM q, cd WHERE q.query_id <> cd.vec_id)
        |  WHERE crank <= 50)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT co.query_id, co.neighbor_id,
        |    row_number() OVER (PARTITION BY co.query_id
        |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, co.neighbor_id) AS rank
        |  FROM coarse co
        |  JOIN e ON e.vec_id = co.neighbor_id
        |  JOIN q ON q.query_id = co.query_id)
        |WHERE rank <= 10""".stripMargin,

    "q41_multimodal_prep" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |    ['image', 'audio', 'video'][(doc_id % 3 + 1)] AS modality,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents),
        |m AS (
        |  SELECT asset_id, modality,
        |    n % 512 + 32 AS width,
        |    n // 7 % 512 + 32 AS height,
        |    CASE WHEN modality = 'image' THEN 1 ELSE n * 3 // 1000 + 1 END AS n_frames
        |  FROM a)
        |SELECT asset_id, modality, n_frames,
        |  CASE WHEN greatest(width, height) <= 224 THEN width
        |       ELSE width * 224 // greatest(width, height) END AS resized_w,
        |  CASE WHEN greatest(width, height) <= 224 THEN height
        |       ELSE height * 224 // greatest(width, height) END AS resized_h,
        |  CASE WHEN n_frames > 1
        |       THEN array_to_string(range(0, n_frames, greatest(1, n_frames // 10)), ',')
        |       ELSE '0' END AS frames_csv
        |FROM m""".stripMargin,

    "q38_multimodal" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |    ['image', 'audio', 'video'][(doc_id % 3 + 1)] AS modality,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    md5(text) AS digest
        |  FROM documents)
        |SELECT asset_id, modality, byte_len,
        |  CAST(byte_len % 512 + 32 AS INT) AS width,
        |  CAST(byte_len // 7 % 512 + 32 AS INT) AS height,
        |  CASE WHEN modality = 'image' THEN 0 ELSE byte_len * 3 END AS duration_ms,
        |  CAST(CASE WHEN modality = 'image' THEN 1
        |            ELSE byte_len * 3 // 1000 + 1 END AS INT) AS n_frames,
        |  CAST(('0x' || substr(digest, 1, 8)) AS BIGINT) / 4294967295.0 AS feat_0,
        |  CAST(('0x' || substr(digest, 9, 8)) AS BIGINT) / 4294967295.0 AS feat_1,
        |  CAST(('0x' || substr(digest, 17, 8)) AS BIGINT) / 4294967295.0 AS feat_2,
        |  CAST(('0x' || substr(digest, 25, 8)) AS BIGINT) / 4294967295.0 AS feat_3
        |FROM a""".stripMargin,

    // q86: first occurrence restated as row_number over (doc_id, pos) within
    // each block digest; reassembly as an ordered string_agg. `//` matches
    // Spark's floor(+(B-1)/B) block count; slice bounds are 1-based
    // inclusive in both engines.
    "q86_block_dedup" ->
      s"""WITH $nearDupTok,
         |p AS (SELECT doc_id, toks, (len(toks) + 24) // 25 AS nb FROM tok),
         |b AS (
         |  SELECT doc_id, i AS pos,
         |    array_to_string(toks[i * 25 + 1 : i * 25 + 25], ' ') AS block
         |  FROM p, unnest(range(nb)) AS u(i)),
         |k AS (
         |  SELECT doc_id, pos, block,
         |    row_number() OVER (PARTITION BY md5(block)
         |                       ORDER BY doc_id, pos) AS rn
         |  FROM b),
         |r AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(block, ' ' ORDER BY pos) AS text_kept
         |  FROM k WHERE rn = 1 GROUP BY doc_id)
         |SELECT p.doc_id, CAST(p.nb AS BIGINT) AS n_blocks,
         |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(r.text_kept, '') AS text_kept
         |FROM p LEFT JOIN r USING (doc_id)""".stripMargin,

    "q87_corpus_report" ->
      """WITH t AS (
        |  SELECT lang, source, len(text) AS nc,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                    t -> t <> '')) AS nt,
        |    md5(text) AS dg
        |  FROM documents)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
        |  CAST(max(nt) AS BIGINT) AS max_tokens,
        |  CAST(min(nt) AS BIGINT) AS min_tokens,
        |  CAST(sum(CASE WHEN nt < 40 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
        |  CAST(count(DISTINCT dg) AS BIGINT) AS distinct_texts
        |FROM t GROUP BY lang, source""".stripMargin,

    // q88: every arithmetic step mirrors the Spark expression order
    // ((x*127.0)/scale)+0.5 etc. so doubles are bit-identical; DuckDB CAST
    // rounds, but floor() first makes the value integral so the cast is
    // exact.
    "q88_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |c AS (SELECT vec_id, v, scale,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |             ELSE list_transform(v,
        |               x -> CAST(floor(x * 127.0 / scale + 0.5) AS INT)) END AS codes
        |      FROM s)
        |SELECT vec_id, scale, array_to_string(codes, ',') AS codes,
        |  CASE WHEN scale = 0 THEN 0.0
        |       ELSE list_max(list_transform(range(1, len(v) + 1),
        |              i -> abs(v[i] - codes[i] * scale / 127.0))) END AS max_abs_err
        |FROM c""".stripMargin,

    // q89: the oracle computes the expected per-(format, lang) report from
    // the parquet truth — a lossless round-trip must reproduce it for both
    // formats. The checksum is the same md5-60-bit fold over the same
    // '|'-joined row rendering.
    "q89_text_formats" ->
      """WITH t AS (
        |  SELECT lang, len(text) AS nc,
        |    CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang,
        |      source, n_chars)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT f.format, t.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  bit_xor(h) AS checksum
        |FROM t CROSS JOIN (SELECT unnest(['json', 'csv']) AS format) f
        |GROUP BY f.format, t.lang""".stripMargin,

    // q92: the two generations restated as a UNION with nulls for the
    // columns v1 lacked.
    "q92_schema_evolution" ->
      """WITH u AS (
        |  SELECT doc_id, lang, NULL AS source, NULL AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, source, n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars_v2
        |FROM u GROUP BY lang""".stripMargin,

    // q94: pruning only changes which files the scan opens; the logical
    // result is a plain filtered aggregate.
    "q94_partition_pruning" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,

    // q95: positional 3-gram hashes (duplicates KEPT, order preserved —
    // unlike the shingle-set fragment), per-4-window minima via 1-based
    // inclusive list slices, distinct sorted picks.
    "q95_winnow" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                t -> t <> '') AS toks
         |  FROM documents),
         |$winnowChain
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
         |  array_to_string(fps, ',') AS fps
         |FROM f""".stripMargin,

    // q100: q56's filter CTEs + digest dedup + q97's split buckets + the
    // final report, one chain.
    "q100_pipeline_e2e" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, text,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                t -> t <> '') AS toks
         |  FROM documents),
         |$langScoredCte,
         |kept AS (
         |  SELECT doc_id, lang, text, len(toks) AS n_tokens
         |  FROM scored
         |  WHERE len(toks) BETWEEN 30 AND 90
         |    AND (CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE (len(toks) - len(list_distinct(toks))) / len(toks) END)
         |        <= 0.65
         |    AND ($langPredExpr) = lang),
         |ded AS (
         |  SELECT k.doc_id, k.lang, k.n_tokens
         |  FROM kept k
         |  JOIN (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)) w
         |    USING (doc_id)),
         |sp AS (
         |  SELECT lang, n_tokens,
         |    CASE WHEN b < 900 THEN 'train'
         |         WHEN b < 950 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT *,
         |          CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |            AS BIGINT) % 1000 AS b
         |        FROM ded))
         |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM sp GROUP BY split, lang""".stripMargin,

    // q97: the same md5-60-bit per-mille bucket, CASE over cumulative cuts.
    "q97_dataset_split" ->
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 1000 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 900 THEN 'train'
        |            WHEN bucket < 950 THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1, 2""".stripMargin,

    // q96: the winnow index over the near-dup corpus, exploded and
    // self-joined on the fingerprint after the df cap.
    "q96_winnow_pairs" ->
      s"""WITH $nearDupTok,
         |$winnowChain,
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         |d AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 1000),
         |ke AS (SELECT e.doc_id, e.fp FROM e JOIN d USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS shared_fps
         |FROM ke a JOIN ke b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id""".stripMargin,

    // q91: same ppm formula — 1000000.0 * sqrt(min/cnt) floored, min 1
    // (sqrt is IEEE-exact, so the cut reproduces bit-for-bit) — and the
    // domain-prefixed md5-60-bit key bucket ("temp:").
    "q91_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |mn AS (SELECT min(cnt) AS min_cnt FROM c),
        |r AS (SELECT lang,
        |        greatest(CAST(floor(1000000.0 * sqrt(CAST(min_cnt AS DOUBLE) /
        |                                             CAST(cnt AS DOUBLE))) AS BIGINT),
        |                 1) AS ppm
        |      FROM c, mn)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 1000000 < ppm""".stripMargin,

    // q102: same tokenizer as q81; bucket = md5-60-bit(token) % 1024,
    // weight(b) = md5-60-bit('w_' || b) % 17 − 8. explode_outer semantics
    // restated as a LEFT JOIN from documents (token-less docs keep one row
    // with zero counts). Counts cast BIGINT (DuckDB sums into HUGEINT).
    "q102_hashed_linear_score" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
        |  FROM documents),
        |w AS (
        |  SELECT r.range AS b,
        |    CAST(('0x' || substr(md5('w_' || CAST(r.range AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 17 - 8 AS wt
        |  FROM range(1024) r),
        |h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM tok),
        |s AS (
        |  SELECT h.doc_id, count(*) AS n_tokens, sum(w.wt) AS score
        |  FROM h JOIN w USING (b) GROUP BY h.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(s.score, 0) AS BIGINT) AS score
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,

    // q103: the ±1 matrix restated from the repo-wide md5-60-bit parity
    // (bit 0 of the first-15-hex-chars value of 'jl:i:j'; even → +1 — the
    // same device as lshBucket); components as exact BIGINT sums of
    // 1e9-quantized elements, then the identical double division chain
    // (/1e9, /sqrt(16)) — bit-for-bit against Spark's integer fold.
    "q103_random_projection" ->
      """WITH m AS (
        |  SELECT i.range AS i, j.range AS j,
        |    CASE WHEN CAST(('0x' || substr(md5('jl:' || CAST(i.range AS VARCHAR)
        |           || ':' || CAST(j.range AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM range(16) i, range(64) j),
        |q AS (
        |  SELECT t.vec_id, u.i AS j,
        |    CAST(round(CAST(t.embedding[u.i + 1] AS DOUBLE) * 1e9) AS BIGINT) AS qv
        |  FROM embeddings t,
        |    LATERAL (SELECT unnest(range(len(t.embedding))) AS i) u)
        |SELECT q.vec_id, CAST(m.i AS BIGINT) AS pos,
        |  CAST(sum(m.s * q.qv) AS DOUBLE) / 1e9 / sqrt(16.0) AS val
        |FROM q JOIN m ON m.j = q.j
        |GROUP BY q.vec_id, m.i""".stripMargin,

    // q104: the label centroid is quantized straight from its exact
    // 1e9-unit integer sum — qc = round-half-away(s/(1000·n)) via hugeint
    // floor division on the positive magnitude, so the mean never exists
    // as a double on either engine (the r7 hash divergence was a double
    // mean within 1 ulp of a .5 boundary on the 1e6 grid); d2q summed in
    // DECIMAL(38,0) exactly as the Spark fold does and emitted as BIGINT;
    // rank restated as the same (d2q DESC, vec_id) window.
    "q104_label_outliers" ->
      """WITH cent AS (
        |  SELECT t.label, u.i AS pos,
        |    sum(CAST(round(CAST(t.embedding[u.i + 1] AS DOUBLE) * 1e9)
        |             AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM embeddings t,
        |    LATERAL (SELECT unnest(range(len(t.embedding))) AS i) u
        |  GROUP BY t.label, u.i),
        |qc AS (
        |  SELECT label, pos,
        |    CAST(CASE WHEN s < 0 THEN -((2 * abs(s) + 1000 * n) // (2000 * n))
        |              ELSE (2 * s + 1000 * n) // (2000 * n) END
        |         AS BIGINT) AS qc FROM cent),
        |qv AS (
        |  SELECT t.vec_id, t.label, u.i AS pos,
        |    CAST(round(CAST(t.embedding[u.i + 1] AS DOUBLE) * 1e6) AS BIGINT) AS qv
        |  FROM embeddings t,
        |    LATERAL (SELECT unnest(range(len(t.embedding))) AS i) u),
        |d AS (
        |  SELECT qv.vec_id, qv.label,
        |    CAST(CAST(sum(CAST(qv.qv - qc.qc AS DECIMAL(19,0)) *
        |                  CAST(qv.qv - qc.qc AS DECIMAL(19,0))) AS DECIMAL(38,0))
        |         AS BIGINT) AS d2q
        |  FROM qv JOIN qc ON qv.label = qc.label AND qv.pos = qc.pos
        |  GROUP BY qv.vec_id, qv.label)
        |SELECT label, vec_id, d2q, CAST(rn AS INT) AS rank FROM (
        |  SELECT label, vec_id, d2q,
        |    row_number() OVER (PARTITION BY label
        |                       ORDER BY d2q DESC, vec_id) AS rn
        |  FROM d)
        |WHERE rn <= 5""".stripMargin,

    // q111: the oracle computes the expected per-(codec, lang) report from
    // the parquet truth — a lossless ORC round-trip must reproduce it for
    // both codecs (same device as q89).
    // q141: the expected per-lang report straight from the source table —
    // a lossless avro round trip must reproduce it exactly.
    "q141_avro_roundtrip" ->
      """WITH t AS (
        |  SELECT lang, len(text) AS nc,
        |    CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang,
        |      source, n_chars)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  bit_xor(h) AS checksum
        |FROM t GROUP BY lang""".stripMargin,

    "q111_orc_roundtrip" ->
      """WITH t AS (
        |  SELECT lang, len(text) AS nc,
        |    CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang,
        |      source, n_chars)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT c.codec, t.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  bit_xor(h) AS checksum
        |FROM t CROSS JOIN (SELECT unnest(['zlib', 'snappy']) AS codec) c
        |GROUP BY c.codec, t.lang""".stripMargin,

    // q112: per-type expected report straight from the parquet events —
    // the µs truncation restated (epoch_ns // 1000) and every row's exact
    // microsecond folded into the checksum.
    "q112_orc_events_roundtrip" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, props,
        |    epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  min(us) AS min_us, max(us) AS max_us,
        |  bit_xor(CAST(('0x' || substr(md5(concat_ws('|', event_id, us,
        |    user_id, event_type, props)), 1, 15)) AS BIGINT)) AS checksum
        |FROM ev GROUP BY event_type""".stripMargin,

    // q143: identical expected report — a lossless Avro timestamp mapping
    // must reproduce the ORC/parquet one exactly.
    "q143_avro_events_roundtrip" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, props,
        |    epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  min(us) AS min_us, max(us) AS max_us,
        |  bit_xor(CAST(('0x' || substr(md5(concat_ws('|', event_id, us,
        |    user_id, event_type, props)), 1, 15)) AS BIGINT)) AS checksum
        |FROM ev GROUP BY event_type""".stripMargin,

    // q245: the same first-failing-stage attribution in SQL, then the
    // telescoping funnel derived from the one-hot class counts.
    "q245_provenance_funnel" ->
      """WITH d AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY md5(substring(text, 1, 32)) ORDER BY doc_id) AS rn
        |  FROM documents
        |), attr AS (
        |  SELECT CASE
        |    WHEN NOT (n_chars >= 60) THEN 'len'
        |    WHEN NOT (lang IN ('en','fr','de','es')) THEN 'lang'
        |    WHEN NOT (rn = 1) THEN 'prefix_dup'
        |    WHEN NOT (text NOT LIKE '%customer query%') THEN 'decontam'
        |    ELSE 'kept' END AS d
        |  FROM d
        |), c AS (SELECT d AS stage, count(*) AS n FROM attr GROUP BY 1),
        |s(stage_idx, stage) AS (SELECT * FROM (VALUES
        |  (0, 'len'), (1, 'lang'), (2, 'prefix_dup'), (3, 'decontam')) v),
        |t AS (SELECT count(*) AS total FROM attr)
        |SELECT CAST(s.stage_idx AS BIGINT) AS stage_idx, s.stage,
        |  CAST(t.total - COALESCE((SELECT sum(c2.n) FROM c c2 JOIN s s2
        |    ON c2.stage = s2.stage WHERE s2.stage_idx < s.stage_idx), 0)
        |    AS BIGINT) AS entering,
        |  CAST(COALESCE((SELECT n FROM c WHERE c.stage = s.stage), 0)
        |    AS BIGINT) AS dropped,
        |  CAST(t.total - COALESCE((SELECT sum(c2.n) FROM c c2 JOIN s s2
        |    ON c2.stage = s2.stage WHERE s2.stage_idx < s.stage_idx), 0)
        |    - COALESCE((SELECT n FROM c WHERE c.stage = s.stage), 0)
        |    AS BIGINT) AS surviving
        |FROM s, t""".stripMargin
  )
}
