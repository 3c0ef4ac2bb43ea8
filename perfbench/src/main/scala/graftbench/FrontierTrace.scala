package graftbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.core.CrawlConfig
import graft.functions.gf

/**
 * Pieces the traced crawl loops share. The loops drive the round through
 * the frontier layers' public functions themselves, so each layer's work
 * can be closed inside a span: every intermediate is checkpointed eagerly
 * (`localCheckpoint(true)`), which materializes exactly what the lazy
 * checkpoints of the untraced loops materialize, one layer at a time.
 */
final class FrontierTrace(val tr: Tracer) {

  /** Eager checkpoint whose plan's Catalyst phases are charged now. */
  def eager(df: DataFrame): DataFrame = {
    val r = df.localCheckpoint(true)
    tr.charge(df.queryExecution)
    r
  }

  private var pending: List[String] = Nil

  /** `CrawlRound.run`'s `ck` seam: each call checkpoints eagerly inside a
    * span named by its position in the round (rank, fetch..., discover). */
  val ck: DataFrame => DataFrame = df => pending match {
    case name :: rest => pending = rest; tr.span(name)(eager(df))
    case Nil => throw new IllegalStateException(
      "CrawlRound.run checkpointed more frames than the trace names")
  }

  /** Call around `CrawlRound.run(..., ck, ...)`: names the frames it will
    * checkpoint, and fails if it checkpointed a different number. */
  def round[T](keepPayload: Boolean)(run: => T): T = {
    pending = "frontier.rank" :: "frontier.fetch" :: "frontier.fetch" ::
      (if (keepPayload) Nil else List("frontier.fetch")) ::: List("frontier.discover")
    val r = run
    if (pending.nonEmpty) throw new IllegalStateException(
      s"CrawlRound.run checkpointed fewer frames than the trace names: $pending left")
    r
  }

  private val inputs = Util.persistedIds(tr.spark)
  var carriedMb = 0.0

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  /** End of a round: release every checkpoint the round made except the
    * state carried into the next round, and record that state's size. */
  def endRound(carried: DataFrame*): Unit = {
    val ids = carried.flatMap(rddIds).toSet
    Util.releaseAllBut(tr.spark, inputs ++ ids)
    carriedMb = tr.spark.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6
  }

  // ---- counts over the traced call (base of every ratio) ----
  val counts = mutable.LinkedHashMap[String, Long](
    "frontier.fetched" -> 0L, "frontier.misses" -> 0L, "frontier.discovered" -> 0L,
    "frontier.deferred" -> 0L, "frontier.dedup_hits" -> 0L, "frontier.next" -> 0L,
    "frontier.seen_total" -> 0L, "frontier.seen.bloom_skips" -> 0L)
  val sizeEstimateBits = mutable.ArrayBuffer[Int]()

  /** Count one round's frames (already materialized, so each count is a
    * cached scan) under a `trace.count` span, outside every layer. */
  def countRound(fetched: DataFrame, discovered: DataFrame, deferred: DataFrame,
                 next: DataFrame, blooms: DataFrame, seenTotal: Long,
                 cfg: CrawlConfig): Unit = tr.span("trace.count") {
    val f = fetched.count()
    val misses = fetched.filter(!col("fetchOk")).count()
    val disc = discovered.count()
    val defer = deferred.count()
    val nxt = next.count()
    // candidates the Bloom pre-filter passes as new, skipping the exact
    // anti-join (SeenSet.filterUnseen's split, recomputed)
    val skips = discovered
      .withColumn("bloomBucket", pmod(col("urlHash"), lit(cfg.bloomBuckets)))
      .join(broadcast(blooms), Seq("bloomBucket"), "left")
      .filter(!(col("bloom").isNotNull && gf.might_contain(col("bloom"), col("urlHash"))))
      .count()
    counts("frontier.fetched") += f
    counts("frontier.misses") += misses
    counts("frontier.discovered") += disc
    counts("frontier.deferred") += defer
    counts("frontier.dedup_hits") += disc + defer - nxt
    counts("frontier.next") += nxt
    counts("frontier.seen_total") = seenTotal
    counts("frontier.seen.bloom_skips") += skips
    sizeEstimateBits += next.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
  }

  /** Frontier-layer metrics from the finished trace. */
  def metrics(view: TraceView): Seq[(String, Double, String)] = {
    def c(k: String) = counts(k).toDouble
    def frac(n: Double, d: Double) = if (d > 0) n / d else 0.0
    Seq("frontier.rank", "frontier.fetch", "frontier.discover").flatMap { l =>
      Seq((s"$l.s", view.self(l), "s"), (s"$l.task_s", view.taskS(l), "s"),
        (s"$l.shuffle_write_mb", view.shuffleWriteMb(l), "MB"))
    } ++ Seq(
      ("frontier.seen.s", view.self("frontier.seen"), "s"),
      ("frontier.seen.shuffle_write_mb", view.shuffleWriteMb("frontier.seen"), "MB"),
      ("frontier.seen.bloom_skip_frac",
        frac(c("frontier.seen.bloom_skips"), c("frontier.discovered")), "frac"),
      ("frontier.next.s", view.self("frontier.next"), "s"),
      ("frontier.state_mb", carriedMb, "MB")) ++
      counts.toSeq.map { case (k, v) => (k, v.toDouble, "count") } ++ Seq(
      ("frontier.fetch.hit_frac",
        frac(c("frontier.fetched") - c("frontier.misses"), c("frontier.fetched")), "frac"),
      ("frontier.dedup_frac", frac(c("frontier.dedup_hits"),
        c("frontier.discovered") + c("frontier.deferred")), "frac"),
      ("frontier.dedup_base", c("frontier.discovered") + c("frontier.deferred"), "count"),
      ("catalyst.size_estimate_bits", sizeEstimateBits.maxOption.getOrElse(0).toDouble, "bits"))
  }
}
