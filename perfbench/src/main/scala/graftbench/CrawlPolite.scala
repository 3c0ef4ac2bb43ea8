package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CrawlConfig
import graft.frontier.{CrawlRound, Crawler, FrontierStore, SeenSet}
import graft.synth.{PageSynth, SynthConfig}
import Util._

/**
 * crawl-polite: `Crawler.crawl` BFS from the single seed with the
 * reference's politeness config (`CrawlConfig` defaults: depth 4, 30 URLs
 * per host per round, 500 pages per site) and a `FrontierStore` that
 * compacts every 8 rounds. Many tiny, driver-bound rounds; the only
 * workload that writes; and the one whose Catalyst size estimate for the
 * per-host budget join grows round over round.
 */
object CrawlPolite extends Workload {
  val Pages = 60000L
  val Hosts = 40
  val Rounds = 10
  val cfg = CrawlConfig(compactEvery = 8)

  /** RoundMetrics without its wall time: what a run must reproduce. */
  def key(m: Crawler.RoundMetrics): Seq[Long] =
    Seq(m.round.toLong, m.fetched, m.fetchMisses, m.discovered, m.dedupHits,
      m.frontierNext, m.seenTotal)

  def run(spark: SparkSession, args: RunArgs, trap: ErrorTrap, out: Outcome): Unit = {
    import spark.implicits._
    val synth = SynthConfig(nPages = Pages, nHosts = Hosts, seed = args.seed)
    val parts = Main.Cores
    val (setupS, keyed) = setupMedian(3) {
      val k = Crawler.keyPages(PageSynth.pages(spark, synth).toDF(), parts)
      k.count()
      k
    }(_.unpersist(blocking = true))
    val robots = PageSynth.robots(spark, synth).toDF()
    val seeds = PageSynth.seeds(synth).toDF("url")
    val stores = args.work.resolve("stores")

    // untimed warm-up: four rounds with a store on a small corpus, then one
    // compaction, so the timed crawls' compaction round runs warm code too
    val warm = SynthConfig(nPages = 2000L, nHosts = 8, seed = args.seed)
    val keep = persistedIds(spark)
    val warmStore = new FrontierStore(spark, stores.resolve("warm").toString)
    Crawler.crawl(spark, null, PageSynth.robots(spark, warm).toDF(),
      PageSynth.seeds(warm).toDF("url"), cfg, 4, Some(warmStore),
      Some(Crawler.keyPages(PageSynth.pages(spark, warm).toDF(), parts)))
    warmStore.lastCommittedRound.foreach { r => warmStore.compact(r); warmStore.gc() }
    releaseAllBut(spark, keep)
    rmTree(stores)

    val exp = expected(args).get("rounds")
    val want = (0 until exp.size).map(i => (0 until 7).map(j => exp.get(i).get(j).asLong))
    val walls, rates, roundWalls = mutable.ArrayBuffer[Double]()
    var got: Seq[Seq[Long]] = Nil
    trap.arm()
    val t0 = clock()
    while (walls.isEmpty || (clock() < args.deadline(t0) && out.failed == 0)) {
      val dir = stores.resolve(s"crawl-${walls.size}")
      val store = new FrontierStore(spark, dir.toString)
      val t = clock()
      try {
        val res = Crawler.crawl(spark, null, robots, seeds, cfg, Rounds, Some(store), Some(keyed))
        val w = secsSince(t)
        out.attempted += res.metrics.size
        walls += w; rates += res.metrics.map(_.fetched).sum / w
        roundWalls ++= res.metrics.map(_.wallMs / 1e3)
        got = res.metrics.map(key)
        val n = walls.size
        out.check(s"crawl $n RoundMetrics", want, got)
        val last = res.metrics.lastOption.map(_.round).getOrElse(0)
        out.check(s"crawl $n store manifest round", Some(Rounds), store.lastCommittedRound)
        out.check(s"crawl $n store seen readback",
          res.metrics.lastOption.map(_.seenTotal).getOrElse(0L),
          store.readSeenUpTo(last).count())
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] crawl threw: $e"); out.attempted += 1; out.failed += 1
          if (walls.isEmpty) walls += secsSince(t)
      }
      releaseAllBut(spark, keep)
      rmTree(dir)
    }
    trap.disarm()
    writeObserved(args, got.map(_.mkString("[", ", ", "]"))
      .mkString("{\"rounds\": [\n  ", ",\n  ", "]}"))
    System.err.println(f"[perfbench] crawl walls: ${walls.map(w => f"$w%.3f").mkString(", ")}; " +
      f"round walls: ${roundWalls.map(w => f"$w%.2f").mkString(", ")}")

    if (!args.trace) {
      out.put("setup_s", setupS, "s")
      out.put("wall_s", p50(walls.toSeq), "s")
      out.put("items_per_s", p50(rates.toSeq), "1/s")
      out.put("step_p50_s", p50(roundWalls.toSeq), "s")
      out.put("step_p90_s", pct(roundWalls.toSeq, 90), "s")
    } else {
      val tr = new Tracer(spark, s"crawl-polite/seed${args.seed}").install()
      val ft = new FrontierTrace(tr)
      val dir = stores.resolve("traced")
      val store = new FrontierStore(spark, dir.toString)
      trap.arm()
      val traced = tr.span("crawl")(tracedCrawl(spark, ft, keyed, robots, seeds, store, parts))
      trap.disarm()
      out.check("traced RoundMetrics = untraced", got, traced)
      out.check("traced store manifest round", Some(Rounds), store.lastCommittedRound)
      out.check("traced store seen readback", traced.lastOption.map(_(6)).getOrElse(0L),
        store.readSeenUpTo(Rounds).count())
      val view = new TraceView(tr.finish())
      view.write(args.traces.resolve(s"crawl-polite-seed${args.seed}.jsonl"))
      val wall = view.wall("crawl")
      out.putAll(ft.metrics(view))
      out.putAll(view.common(wall, Main.Cores))
      out.put("frontier.store.write_s", view.wall("frontier.store.write"), "s")
      out.put("frontier.store.compact_s", view.wall("frontier.store.compact"), "s")
      out.put("frontier.store.files", store.fileCount.toDouble, "count")
      out.put("frontier.store.mb", dirBytes(dir) / 1e6, "MB")
      out.put("trace.wall_s", wall, "s")
      out.put("trace.overhead_s", wall - p50(walls.toSeq), "s")
      out.put("failed_frac", out.failed.toDouble / out.attempted, "frac")
      System.err.println(s"[perfbench] size estimate bits per round: " +
        ft.sizeEstimateBits.mkString(", "))
      rmTree(dir)
    }
  }

  private def emptyOrder(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, String, Int, String, Long, Double, Boolean)]
      .toDF("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk")
  }

  /** `Crawler.crawl`'s loop (fresh store, no resume), layer by layer.
    * Returns each round's RoundMetrics key. */
  def tracedCrawl(spark: SparkSession, ft: FrontierTrace, keyed: DataFrame,
                  robots: DataFrame, seeds: DataFrame, store: FrontierStore,
                  parts: Int): Seq[Seq[Long]] = {
    val tr = ft.tr
    var frontier = tr.span("frontier.seed")(ft.eager(CrawlRound.seedFrontier(seeds)))
    tr.span("frontier.store.write")(store.writeRound(0, frontier,
      frontier.select("urlHash").limit(0), emptyOrder(spark)))
    var seen: DataFrame = frontier.select("urlHash").limit(0)
    var seenCount = 0L
    var frontierCount = tr.span("frontier.next")(frontier.count())
    var bloomState: Option[SeenSet.BloomState] = None
    var hostFetched: DataFrame = emptyOrder(spark).groupBy("host").agg(count("*").as("hostDone"))
    val robotsK = tr.span("frontier.seed")(ft.eager(robots))
    val rows = mutable.ArrayBuffer[Seq[Long]]()
    var round = 1
    while (round <= Rounds && frontierCount > 0) tr.span("round", "round" -> round.toString) {
      val r = ft.round(keepPayload = cfg.keepPayload) {
        CrawlRound.run(round, frontier, keyed, robotsK, cfg, ft.ck, Some(hostFetched))
      }
      val delta = r.fetched.select("urlHash")
      val (newSeen, bs, fresh, fetchedCount) = tr.span("frontier.seen") {
        val fetchedCount = r.fetched.count()
        val newSeen = ft.eager(seen.unionByName(delta).repartition(parts, col("urlHash")))
        val newSeenCount = seenCount + fetchedCount
        val bs0 = SeenSet.advance(bloomState, delta, newSeen, newSeenCount, cfg)
        val bs = bs0.copy(blooms = ft.eager(bs0.blooms))
        val fresh = ft.eager(SeenSet.filterUnseen(r.discovered, newSeen, newSeenCount, cfg,
          Some(bs.blooms)))
        (newSeen, bs, fresh, fetchedCount)
      }
      val newSeenCount = seenCount + fetchedCount
      val next = tr.span("frontier.next") {
        val next = ft.eager(CrawlRound.dedupeCandidates(r.deferred.unionByName(fresh)))
        frontierCount = next.count()
        next
      }
      tr.span("frontier.store.write")(store.writeRound(round, next, delta,
        r.order.select("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk")))
      if (cfg.compactEvery > 0 && round % cfg.compactEvery == 0)
        tr.span("frontier.store.compact") { store.compact(round); store.gc() }
      val before = ft.counts.toMap
      ft.countRound(r.fetched, r.discovered, r.deferred, next, bs.blooms,
        newSeenCount, cfg)
      def d(k: String) = ft.counts(k) - before(k)
      rows += Seq(round.toLong, d("frontier.fetched"), d("frontier.misses"),
        d("frontier.discovered"), d("frontier.dedup_hits"), d("frontier.next"), newSeenCount)
      hostFetched = tr.span("frontier.host_done")(ft.eager(hostFetched
        .unionByName(r.fetched.groupBy("host").agg(count("*").as("hostDone")))
        .groupBy("host").agg(sum("hostDone").as("hostDone"))))
      bloomState = Some(bs)
      seen = newSeen; seenCount = newSeenCount
      frontier = next
      ft.endRound(seen, frontier, bs.blooms, hostFetched, robotsK)
      round += 1
    }
    rows.toSeq
  }
}
