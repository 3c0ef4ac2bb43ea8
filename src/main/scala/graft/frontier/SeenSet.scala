package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.CrawlConfig
import graft.functions.gf

/**
 * URL-seen filtering (SURVEY.md J1): a partitioned Bloom pre-filter in
 * front of the authoritative exact anti-join (north rule: "partitioned
 * bloom/cuckoo URL-seen filter ... exact anti-join stays authoritative").
 *
 * The filter pass splits candidates into
 *   - definitely-new (filter says absent) → skip the expensive anti-join
 *     shuffle against the (10^10-row at target scale) seen table entirely;
 *   - maybe-seen (filter positives)       → exact `left_anti` verdict.
 * Filters are built per `pmod(urlHash, bloomBuckets)` bucket so each
 * filter stays executor-sized as the seen set grows; the bucket column
 * rides along on both sides so the filter join is a broadcast equi-join.
 *
 * Three filter kinds share that one code path: [[Bloom]] (plain bits,
 * the drain default) and the deletable [[Counting]] and [[Cuckoo]]
 * filters, which can also retire seen entries for recrawl scheduling.
 */
object SeenSet {

  /**
   * One kind of per-bucket seen filter: the column its `(bloomBucket,
   * <column>)` state rows carry and the `gf` functions that build, merge
   * and probe it.
   */
  sealed class FilterKind(
      val column: String,
      agg: (Column, Long, CrawlConfig) => Column,
      mergeAgg: Column => Column,
      probe: (Column, Column) => Column) {

    /** (bloomBucket, filter) over the seen hashes, one filter per bucket
      * sized for `expectedPerBucket` keys. */
    def build(seenHashes: DataFrame, expectedPerBucket: Long, cfg: CrawlConfig): DataFrame =
      seenHashes
        .groupBy(pmod(col("urlHash"), lit(cfg.bloomBuckets)).as("bloomBucket"))
        .agg(agg(col("urlHash"), expectedPerBucket, cfg).as(column))

    /** Fold a round's ADD delta into filter state: the delta's filters,
      * built at the state's shape, merged in — exactly the filter of the
      * union (bytes for bloom and counting, answers for cuckoo), with no
      * full-state scan. */
    def add(state: DataFrame, deltaHashes: DataFrame, expectedPerBucket: Long,
            cfg: CrawlConfig): DataFrame =
      state.unionByName(build(deltaHashes, expectedPerBucket, cfg))
        .groupBy("bloomBucket")
        .agg(mergeAgg(col(column)).as(column))

    /** candidates − seen against filter state. `candidates` must be
      * unique by urlHash; the result keeps the candidate columns. */
    def filterUnseen(candidates: DataFrame, seenHashes: DataFrame,
                     filters: DataFrame, cfg: CrawlConfig): DataFrame = {
      val tested = candidates
        .withColumn("bloomBucket", pmod(col("urlHash"), lit(cfg.bloomBuckets)))
        .join(broadcast(filters), Seq("bloomBucket"), "left")
        .withColumn("maybeSeen",
          col(column).isNotNull && probe(col(column), col("urlHash")))
        .drop(column, "bloomBucket")
      val definitelyNew = tested.filter(!col("maybeSeen")).drop("maybeSeen")
      val verified = tested.filter(col("maybeSeen")).drop("maybeSeen")
        .join(seenHashes.select("urlHash"), Seq("urlHash"), "left_anti")
      definitelyNew.unionByName(verified)
    }
  }

  /** A filter kind that can also retire keys. */
  final class DeletableKind(
      column: String,
      agg: (Column, Long, CrawlConfig) => Column,
      mergeAgg: Column => Column,
      probe: (Column, Column) => Column,
      subtract: (Column, Column) => Column)
    extends FilterKind(column, agg, mergeAgg, probe) {

    /** Retire hashes from filter state: build a deletion filter of the
      * SAME shape per bucket and subtract it. Retired keys must come from
      * the seen set (they do: [[SnapshotDiff.recrawlPlan]] retires
      * `changed ∪ removed`, both present in seen). The result equals a
      * rebuild from `seen ∖ retired` (bytes for counting, answers for
      * cuckoo; spec-asserted) with NO full-state scan: the round pays
      * O(retired), not O(seen). */
    def retire(state: DataFrame, retiredHashes: DataFrame, expectedPerBucket: Long,
               cfg: CrawlConfig): DataFrame = {
      val deltas = build(retiredHashes, expectedPerBucket, cfg)
        .withColumnRenamed(column, "__delta")
      state.join(deltas, Seq("bloomBucket"), "left")
        .select(col("bloomBucket"),
          when(col("__delta").isNull, col(column))
            .otherwise(subtract(col(column), col("__delta")))
            .as(column))
    }
  }

  /** Plain Bloom filters (`bloom` column): one bit per position, OR-merge. */
  val Bloom = new FilterKind("bloom",
    (v, n, cfg) => gf.bloom_agg(v, n, cfg.bloomFpp), gf.bloom_merge_agg, gf.might_contain)

  /** Counting Bloom filters (`cbloom`, [[graft.core.CountingBloom]]): one
    * byte per position instead of one bit — 8× the plain bloom's
    * footprint, the price of retirement without a full-state rebuild.
    * Use when recrawl scheduling retires seen entries
    * ([[SnapshotDiff.recrawlPlan]]); drain-only crawls keep [[Bloom]]. */
  val Counting = new DeletableKind("cbloom",
    (v, n, cfg) => gf.cbloom_agg(v, n, cfg.bloomFpp), gf.cbloom_merge_agg,
    gf.cbloom_might_contain, gf.cbloom_subtract)

  /** Cuckoo filters (`ckf`, [[graft.core.CuckooFilter]]): 16-bit
    * fingerprints in 4-slot buckets ≈ 2.9 B/key at fpp ≈ 1.2e-4 — ~3×
    * smaller than the counting filter at ~80× lower fpp, still deletable.
    * The trade: incremental state equals a rebuild ANSWER-identically
    * rather than byte-identically, so never hash or compare the blob. */
  val Cuckoo = new DeletableKind("ckf",
    (v, n, _) => gf.cuckoo_agg(v, n), gf.cuckoo_merge_agg,
    gf.cuckoo_might_contain, gf.cuckoo_subtract)

  /** (bucket, bloom) table over the seen hashes. */
  def buildBlooms(seenHashes: DataFrame, expectedPerBucket: Long, cfg: CrawlConfig): DataFrame =
    Bloom.build(seenHashes, expectedPerBucket, cfg)

  /**
   * Incremental bloom state (north rule "per-partition state"): carried
   * `(bloomBucket, bloom)` rows plus a fixed per-bucket capacity. Filters
   * of identical shape OR-merge exactly (bit union = filter of set
   * union), so folding each round's O(budget) delta into the state is
   * byte-identical to rebuilding from the full seen set — the full-state
   * scan happens only on the driver's geometric capacity rebuilds.
   */
  final case class BloomState(blooms: DataFrame, capacityPerBucket: Long,
                              count: Long) {
    /** true when `count` new items would push any (uniform-hash) bucket
      * past ~80 % of capacity — time to rebuild at doubled capacity. */
    def needsRebuild(newCount: Long, cfg: CrawlConfig): Boolean =
      newCount > capacityPerBucket * cfg.bloomBuckets * 4 / 5
  }

  /** Per-bucket capacity for a seen set expected to reach `total` items. */
  def capacityFor(total: Long, cfg: CrawlConfig): Long =
    math.max(total / cfg.bloomBuckets + 1, 1024L)

  /**
   * Advance the bloom state by one round: merge the delta's blooms into
   * the carried state, or rebuild from the full seen set at (at least)
   * doubled capacity when the exact count approaches capacity.
   */
  def advance(state: Option[BloomState], deltaHashes: DataFrame,
              seenHashes: DataFrame, newCount: Long,
              cfg: CrawlConfig): BloomState = state match {
    case Some(s) if !s.needsRebuild(newCount, cfg) =>
      BloomState(Bloom.add(s.blooms, deltaHashes, s.capacityPerBucket, cfg),
        s.capacityPerBucket, newCount)
    case _ =>
      var cap = math.max(capacityFor(newCount, cfg),
        state.map(_.capacityPerBucket).getOrElse(0L))
      while (newCount > cap * cfg.bloomBuckets * 2 / 5) cap *= 2 // headroom
      BloomState(buildBlooms(seenHashes, cap, cfg), cap, newCount)
  }

  /**
   * candidates − seen. `candidates` must be unique by urlHash; result
   * preserves candidate columns. `prebuilt` carries incremental bloom
   * state; without it the blooms are built from the full seen set.
   */
  def filterUnseen(candidates: DataFrame, seenHashes: DataFrame, seenCount: Long,
                   cfg: CrawlConfig, prebuilt: Option[DataFrame] = None): DataFrame =
    if (seenCount == 0) candidates
    else Bloom.filterUnseen(candidates, seenHashes,
      prebuilt.getOrElse(buildBlooms(seenHashes, capacityFor(seenCount, cfg), cfg)), cfg)
}
