package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CrawlConfig
import graft.frontier.{CrawlRound, Crawler, SeenSet}
import graft.synth.{PageSynth, SynthConfig}
import Util._

/**
 * drain-wide: `Crawler.fastDrain` over a synthetic corpus with wide seeds
 * and a per-host budget far above any host's size, so rounds stay wide and
 * the executors do most of the work (fetch join, link discovery, salted
 * rank). Bench's drain config, with the corpus sized so that several
 * drains fit in one run.
 */
object DrainWide extends Workload {
  val Pages = 100000L
  val Hosts = 40
  val HotFrac = 0.4
  val SeedsPerHost = 64
  val Rounds = 8
  val cfg = CrawlConfig(maxDepth = 30, perHostBudget = 50000,
    maxPagesPerSite = Int.MaxValue, maxPageNo = Int.MaxValue,
    saltBuckets = 16, bloomBuckets = 32, keepPayload = false)

  def run(spark: SparkSession, args: RunArgs, trap: ErrorTrap, out: Outcome): Unit = {
    val synth = SynthConfig(nPages = Pages, nHosts = Hosts, hotFrac = HotFrac, seed = args.seed)
    val parts = Main.Cores
    val (setupS, keyed) = setupMedian(3) {
      val k = Crawler.keyPages(PageSynth.pages(spark, synth).toDF(), parts)
      k.count()
      k
    }(_.unpersist(blocking = true))
    val robots = PageSynth.robots(spark, synth).toDF()
    val seeds = PageSynth.wideSeeds(spark, synth, SeedsPerHost).toDF("url")

    // untimed warm-up on a small corpus: codegen and JIT happen here
    val warm = SynthConfig(nPages = 2000L, nHosts = 8, seed = args.seed)
    val keep = persistedIds(spark)
    Crawler.fastDrain(spark, Crawler.keyPages(PageSynth.pages(spark, warm).toDF(), parts),
      PageSynth.robots(spark, warm).toDF(), PageSynth.wideSeeds(spark, warm, 16).toDF("url"),
      cfg, maxRounds = 2)
    releaseAllBut(spark, keep)

    val pinned = expected(args).get("per_round_fetched")
    val want = (0 until pinned.size).map(i => pinned.get(i).asLong)
    val walls, rates = mutable.ArrayBuffer[Double]()
    var perRound: Seq[Long] = Nil
    trap.arm()
    val t0 = clock()
    // at least two drains: the first runs a little colder than the rest,
    // and a run must not change its mix of cold and warm drains with the
    // host's speed
    while (walls.size < 2 || (clock() < args.deadline(t0) && out.failed == 0)) {
      out.attempted += 1
      val t = clock()
      try {
        val (fetched, rounds, per) = Crawler.fastDrain(spark, keyed, robots, seeds, cfg, Rounds)
        val w = secsSince(t)
        walls += w; rates += fetched / w
        perRound = per
        out.check(s"drain ${walls.size} per-round fetched", want, per)
        out.check(s"drain ${walls.size} rounds", want.size, rounds)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] drain threw: $e"); out.failed += 1
          walls += secsSince(t)
      }
      releaseAllBut(spark, keep)
    }
    trap.disarm()
    writeObserved(args, s"""{"per_round_fetched": [${perRound.mkString(", ")}]}""")
    System.err.println(f"[perfbench] drain walls: ${walls.map(w => f"$w%.3f").mkString(", ")}")

    if (!args.trace) {
      out.put("setup_s", setupS, "s")
      out.put("wall_s", p50(walls.toSeq), "s")
      out.put("items_per_s", p50(rates.toSeq), "1/s")
      val roundWalls = walls.map(_ / Rounds).toSeq
      out.put("step_p50_s", p50(roundWalls), "s")
      out.put("step_p90_s", pct(roundWalls, 90), "s")
    } else {
      val tr = new Tracer(spark, s"drain-wide/seed${args.seed}").install()
      val ft = new FrontierTrace(tr)
      trap.arm()
      val traced = tr.span("drain")(tracedDrain(spark, ft, keyed, robots, seeds, parts))
      trap.disarm()
      out.check("traced per-round fetched = untraced", perRound, traced)
      val view = new TraceView(tr.finish())
      view.write(args.traces.resolve(s"drain-wide-seed${args.seed}.jsonl"))
      val wall = view.wall("drain")
      out.putAll(ft.metrics(view))
      out.putAll(view.common(wall, Main.Cores))
      out.put("trace.wall_s", wall, "s")
      out.put("trace.overhead_s", wall - p50(walls.toSeq), "s")
      out.put("failed_frac", out.failed.toDouble / out.attempted, "frac")
    }
  }

  /** `Crawler.fastDrain`'s loop, layer by layer. Returns per-round fetches. */
  def tracedDrain(spark: SparkSession, ft: FrontierTrace, keyed: DataFrame,
                  robots: DataFrame, seeds: DataFrame, parts: Int): Seq[Long] = {
    val tr = ft.tr
    var frontier = tr.span("frontier.seed")(ft.eager(CrawlRound.seedFrontier(seeds)))
    val robotsK = tr.span("frontier.seed")(ft.eager(robots))
    var seen: DataFrame = frontier.select("urlHash").limit(0)
    var seenCount = 0L
    var bloomState: Option[SeenSet.BloomState] = None
    var frontierCount = tr.span("frontier.next")(frontier.count())
    val perRound = mutable.ArrayBuffer[Long]()
    var round = 1
    while (round <= Rounds && frontierCount > 0) tr.span("round", "round" -> round.toString) {
      val r = ft.round(keepPayload = false) {
        CrawlRound.run(round, frontier, keyed, robotsK, cfg, ft.ck)
      }
      val seenUpper = seenCount + frontierCount
      val (newSeen, bs, fresh) = tr.span("frontier.seen") {
        val newSeen = ft.eager(seen.unionByName(r.fetched.select("urlHash"))
          .repartition(parts, col("urlHash")))
        val bs0 = SeenSet.advance(bloomState, r.fetched.select("urlHash"), newSeen, seenUpper, cfg)
        val bs = bs0.copy(blooms = ft.eager(bs0.blooms))
        val fresh = ft.eager(SeenSet.filterUnseen(r.discovered, newSeen, seenUpper, cfg,
          Some(bs.blooms)))
        (newSeen, bs, fresh)
      }
      val (next, newSeenCount) = tr.span("frontier.next") {
        val next = ft.eager(CrawlRound.dedupeCandidates(r.deferred.unionByName(fresh)))
        frontierCount = next.count()
        (next, newSeen.count())
      }
      ft.countRound(r.fetched, r.discovered, r.deferred, next, bs.blooms,
        newSeenCount, cfg)
      perRound += newSeenCount - seenCount
      seenCount = newSeenCount
      bloomState = Some(bs.copy(count = newSeenCount))
      seen = newSeen; frontier = next
      ft.endRound(seen, frontier, bs.blooms, robotsK)
      round += 1
    }
    perRound.toSeq
  }
}
