package graft.frontier

import org.apache.spark.sql.functions.col
import graft.SparkTestBase
import graft.core.CrawlConfig
import graft.synth.{PageSynth, SynthConfig}

/**
 * `Crawler.fastDrain` (the loop the drain benchmark times) against
 * `Crawler.crawl` on the CrawlSpec corpus, hot host included. fastDrain
 * applies no per-site cap and no probe seeding, so the two are compared
 * with both switched off: the per-round fetch counts must be equal.
 */
class FastDrainSpec extends SparkTestBase {
  import spark.implicits._

  private val synthCfg = SynthConfig(nPages = 800L, nHosts = 6, hotFrac = 0.5)
  private val cfg = CrawlConfig(maxDepth = 6, perHostBudget = 25, saltBuckets = 4,
    bloomBuckets = 8, maxPagesPerSite = Int.MaxValue, probeSeeds = false)

  test("fastDrain per-round fetch counts equal crawl's RoundMetrics.fetched") {
    val pages = PageSynth.pages(spark, synthCfg).toDF()
    val robots = PageSynth.robots(spark, synthCfg).toDF()
    val seeds = PageSynth.seeds(synthCfg).toDF("url")
    val keyed = Crawler.keyPages(pages, 4)
    val rounds = 8
    val crawled = Crawler.crawl(spark, pages, robots, seeds, cfg, rounds, None, Some(keyed))
    val (total, roundsRun, perRound) =
      Crawler.fastDrain(spark, keyed, robots, seeds, cfg, rounds)
    keyed.unpersist()

    val fetched = crawled.metrics.map(_.fetched)
    assert(perRound == fetched)
    assert(roundsRun == crawled.metrics.size)
    assert(total == crawled.metrics.last.seenTotal)
    // not vacuous: several rounds, and the hot host hit its round budget
    assert(roundsRun >= 4 && total > 100, s"rounds=$roundsRun total=$total")
    assert(crawled.order.groupBy("round", "host").count()
      .filter(col("count") === cfg.perHostBudget)
      .count() > 0)
  }
}
