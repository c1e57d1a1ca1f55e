package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class EntityResolutionSpec extends SparkTestBase {

  import spark.implicits._

  private def registry = Seq(
    (1L, "Acme Corp", "a"),
    (2L, "ACME-Corp.", "a"),     // punctuation/case variant of 1 (dist 0)
    (3L, "Acme Corpn", "a"),     // 1 edit from 1
    (4L, "Bolt Works", "b"),
    (5L, "Bolt Wyrks", "b"),     // 1 edit from 4
    (6L, "Bolt Wyrkz", "b"),     // 1 edit from 5, 2 from 4 — transitive
    (7L, "Zenith", "z")          // singleton
  ).toDF("id", "name", "blk")

  test("resolve clusters variants transitively and elects the min-id golden record") {
    val out = EntityResolution.resolve(
      registry, "id", "name", col("blk"), maxEditDistance = 2, maxBlockSize = 10)
      .orderBy("id")
      .select("id", "cluster_id", "canonical_id", "canonical_name", "n_members")
      .as[(Long, Long, Long, String, Long)]
      .collect()
    assert(out.toSeq === Seq(
      (1L, 1L, 1L, "Acme Corp", 3L),
      (2L, 1L, 1L, "Acme Corp", 3L),
      (3L, 1L, 1L, "Acme Corp", 3L),
      (4L, 4L, 4L, "Bolt Works", 3L),
      (5L, 4L, 4L, "Bolt Works", 3L),
      (6L, 4L, 4L, "Bolt Works", 3L),
      (7L, 7L, 7L, "Zenith", 1L)))
  }

  test("matches never cross blocks even under the edit threshold") {
    // Same normalized name, different blocks: must stay separate entities.
    val df = Seq((1L, "Same Name", "a"), (2L, "Same Name", "b")).toDF("id", "name", "blk")
    val out = EntityResolution.resolve(df, "id", "name", col("blk"), 2, 10)
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 2L))
  }

  test("a degenerate blocking key is refused before the join, with the block named") {
    val flat = (1 to 50).map(i => (i.toLong, s"name$i", "only")).toDF("id", "name", "blk")
    val e = intercept[IllegalArgumentException] {
      EntityResolution.matchPairs(flat, "id", "name", col("blk"), 1, maxBlockSize = 10)
    }
    assert(e.getMessage.contains("only") && e.getMessage.contains("50"))
  }

  test("null blocking keys are refused (they can never match deterministically)") {
    val df = Seq((1L, "x", Some("a")), (2L, "y", None))
      .toDF("id", "name", "blk")
    val e = intercept[IllegalArgumentException] {
      EntityResolution.matchPairs(df, "id", "name", col("blk"), 1, 10)
    }
    assert(e.getMessage.contains("degenerate"))
  }

  test("assignAgainst adopts existing clusters; the residual self-resolves") {
    val resolved = EntityResolution.resolve(
      registry, "id", "name", col("blk"), 2, 10)
    val regSigs = EntityResolution.signatures(registry, "id", "name", col("blk"))
      .join(resolved.select("id", "cluster_id"), Seq("id"))
    val incs = Seq(
      (10L, "ACME corp!", "a"),  // norm == cluster-1 member → adopt 1
      (11L, "Bolt Worxs", "b"),  // 1 edit from "Bolt Works" → adopt 4
      (12L, "Nova Labs", "n"),   // new entity…
      (13L, "Nova Labz", "n"),   // …second spelling: same FRESH cluster
      (14L, "Solo Co", "s")      // singleton new entity
    ).toDF("id", "name", "blk")
    val out = EntityResolution.assignAgainst(
        regSigs, incs, "id", "name", col("blk"), 2, 10)
      .orderBy("id").as[(Long, Long, String)].collect()
    assert(out.toSeq === Seq(
      (10L, 1L, "assigned"),
      (11L, 4L, "assigned"),
      (12L, 12L, "new"),
      (13L, 12L, "new"),
      (14L, 14L, "new")))
  }

  test("assignAgainst and resolve leave no pinned cache blocks behind") {
    // r14 advice: the operator's persisted intermediates had no unpersist —
    // a long-lived session (q241 assigns once per micro-batch) accumulated
    // blocks unboundedly. The result frames are eagerly detached
    // (localCheckpoint), so everything the operators pinned must be GONE
    // from the CacheManager the moment they return.
    spark.sharedState.cacheManager.clearCache()
    val resolved = EntityResolution.resolve(
      registry, "id", "name", col("blk"), 2, 10)
    resolved.collect() // drain the lazy tail over the checkpointed labels
    val regSigs = EntityResolution.signatures(registry, "id", "name", col("blk"))
      .join(resolved.select("id", "cluster_id"), Seq("id"))
    val incs = Seq((10L, "ACME corp!", "a"), (12L, "Nova Labs", "n"))
      .toDF("id", "name", "blk")
    val out = EntityResolution.assignAgainst(
      regSigs, incs, "id", "name", col("blk"), 2, 10)
    assert(out.count() == 2L)
    assert(spark.sharedState.cacheManager.isEmpty,
      "entity-resolution persists must be released when the operators return")
  }

  test("assignAgainst leaves a registry the caller persisted cached") {
    // the operator pins (and releases) the registry only when the caller
    // has not: unpersisting a caller's cache would silently turn its next
    // reuse of the registry into a full recompute
    val resolved = EntityResolution.resolve(
      registry, "id", "name", col("blk"), 2, 10)
    val regSigs = EntityResolution.signatures(registry, "id", "name", col("blk"))
      .join(resolved.select("id", "cluster_id"), Seq("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val incs = Seq((10L, "ACME corp!", "a"), (12L, "Nova Labs", "n"))
        .toDF("id", "name", "blk")
      val out = EntityResolution.assignAgainst(
        regSigs, incs, "id", "name", col("blk"), 2, 10)
      assert(out.count() == 2L)
      assert(regSigs.storageLevel ==
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        "the caller's persisted registry must still be cached")
    } finally { regSigs.unpersist(); () }
  }

  test("normalizeName strips case and punctuation only") {
    val out = registry.select(EntityResolution.normalizeName(col("name")).as("n"))
      .as[String].collect()
    assert(out.toSeq === Seq("acmecorp", "acmecorp", "acmecorpn",
      "boltworks", "boltwyrks", "boltwyrkz", "zenith"))
  }
}
