package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one invocation was asked to do. `seed` reaches only the input
  * generators (SynthConfig.seed, the query order). */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
                         trace: Boolean, work: Path, traces: Path, expected: Path) {
  def deadline(startNs: Long): Long = startNs + seconds * 1000000000L
}

/** Result of one run, printed as the last stdout line. */
final class Outcome {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val mismatches = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def putAll(ms: Seq[(String, Double, String)]): Unit = ms.foreach { case (n, v, u) => put(n, v, u) }
  def check(what: String, expected: Any, got: Any): Unit =
    if (expected != got) mismatches += s"$what: expected $expected, got $got"
  def json: String = {
    val ms = metrics.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${mismatches.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

trait Workload {
  def run(spark: SparkSession, args: RunArgs, trap: ErrorTrap, out: Outcome): Unit
}

object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, traces, expected) = argv
    val args = RunArgs(workload, seed.toLong, seconds.toInt, trace == "1",
      Paths.get(work), Paths.get(traces), Paths.get(expected))
    val wl: Workload = workload match {
      case "drain-wide" => DrainWide
      case "crawl-polite" => CrawlPolite
      case "query-suite" => QuerySuite
    }
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.gf.register(spark)
    val trap = ErrorTrap.install(Some(spark.sparkContext))
    val out = new Outcome
    try wl.run(spark, args, trap, out)
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload aborted: $e")
        e.printStackTrace()
        out.failed += 1
        out.mismatches += s"run aborted: $e"
    } finally trap.disarm()
    out.failed += trap.errorCount
    trap.errors.forEach(e => System.err.println(s"[perfbench] ERROR event in timed region: $e"))
    if (trap.benign.get > 0) System.err.println(
      s"[perfbench] ${trap.benign.get} benign accumulator-GC errors (paired with their WARN)")
    if (out.failed > 0) out.mismatches += s"${out.failed} failed operations"
    out.mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    if (out.attempted == 0) out.attempted = 1
    if (args.trace) {
      // every workload reports every per-layer metric; a layer the
      // workload never calls reads 0
      val have = out.metrics.clone()
      out.metrics.clear()
      PerLayer.all.foreach { case (n, u) => out.put(n, have.get(n).map(_._1).getOrElse(0.0), u) }
      (have.keySet -- PerLayer.all.map(_._1)).foreach(n =>
        out.mismatches += s"metric $n missing from PerLayer.all")
    }
    spark.stop()
    println(out.json)
    System.out.flush()
    sys.exit(if (out.mismatches.isEmpty) 0 else 1)
  }
}

/** Every per-layer metric a traced run prints, in order, with its unit. */
object PerLayer {
  val all: Seq[(String, String)] =
    Seq("frontier.rank", "frontier.fetch", "frontier.discover").flatMap(l =>
      Seq(s"$l.s" -> "s", s"$l.task_s" -> "s", s"$l.shuffle_write_mb" -> "MB")) ++ Seq(
    "frontier.seen.s" -> "s", "frontier.seen.shuffle_write_mb" -> "MB",
    "frontier.seen.bloom_skip_frac" -> "frac", "frontier.next.s" -> "s",
    "frontier.state_mb" -> "MB",
    "frontier.fetched" -> "count", "frontier.misses" -> "count",
    "frontier.discovered" -> "count", "frontier.deferred" -> "count",
    "frontier.dedup_hits" -> "count", "frontier.next" -> "count",
    "frontier.seen_total" -> "count",
    "frontier.seen.bloom_skips" -> "count", "frontier.fetch.hit_frac" -> "frac",
    "frontier.dedup_frac" -> "frac", "frontier.dedup_base" -> "count",
    "frontier.store.write_s" -> "s", "frontier.store.compact_s" -> "s",
    "frontier.store.files" -> "count", "frontier.store.mb" -> "MB",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.size_estimate_bits" -> "bits",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.job_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "driver.gap_s" -> "s", "driver.other_s" -> "s") ++
    QuerySuite.Modules.flatMap(m => Seq(s"query.$m.s" -> "s", s"query.$m.task_s" -> "s")) ++ Seq(
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "failed_frac" -> "frac")
}

/** Small statistics and Spark-state helpers shared by the workloads. */
object Util {
  def clock(): Long = System.nanoTime()
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def p50(xs: Seq[Double]): Double = pct(xs, 50)

  /** Run `setup` `n` times; return the median wall and the last result.
    * Every earlier result is released with `release`. */
  def setupMedian[T](n: Int)(setup: => T)(release: T => Unit): (Double, T) = {
    var last: Option[T] = None
    val walls = (1 to n).map { _ =>
      last.foreach(release)
      val t0 = clock()
      last = Some(setup)
      secsSince(t0)
    }
    System.err.println(f"[perfbench] setup walls: ${walls.map(w => f"$w%.3f").mkString(", ")}")
    (p50(walls), last.get)
  }

  def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Release every persisted RDD not in `keep`, so operations in one run
    * start from the same state. */
  def releaseAllBut(spark: SparkSession, keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  /** Pinned expectations: perfbench/expected/<workload>.json. */
  def expected(args: RunArgs): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(args.expected.resolve(s"${args.workload}.json").toFile)

  /** Write what this run observed, so pins can be refreshed by copying it. */
  def writeObserved(args: RunArgs, json: String): Unit = {
    Files.createDirectories(args.traces)
    Files.write(args.traces.resolve(s"${args.workload}-seed${args.seed}-observed.json"),
      (json + "\n").getBytes("UTF-8"))
  }
}
