package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import Util._

/**
 * query-suite: `SparkEntry.queries` over generated tables, each query
 * timed from the call through one action. The only workload that
 * exercises text/, dedup/, graph/, ann/, the expr/ sketch aggregates,
 * extract/ and sources/. The workload seed shuffles the query order.
 */
object QuerySuite extends Workload {

  /** The module that does most of each query's work, by query number. */
  val modules: Map[String, Seq[Int]] = Map(
    "frontier" -> Seq(14, 15, 16, 18, 31, 32, 39, 58, 59, 72, 80, 85, 88, 100, 109,
      112, 114, 117, 125, 153),
    "text" -> Seq(19, 20, 21, 24, 35, 41, 44, 45, 46, 49, 50, 52, 53, 54, 55, 57, 60,
      61, 62, 63, 65, 66, 67, 69, 70, 71, 77, 78, 86, 87, 90, 92, 93, 96, 99, 105, 107,
      108, 113, 116, 120, 129, 131, 137, 140, 141, 149, 154, 156, 158),
    "dedup" -> Seq(22, 23, 25, 26, 27, 42, 43, 48, 51, 56, 97, 119, 138, 148, 150),
    "graph" -> Seq(76, 103, 104, 106, 123, 126, 127, 128, 130, 132, 133, 134, 135,
      139, 142, 146),
    "ann" -> Seq(28, 29, 30, 40, 47, 64, 111, 115, 145, 157),
    "sketch" -> Seq(84, 101, 118, 121, 122),
    "extract" -> Seq(33, 34, 36, 37, 38, 73, 74, 75, 81, 82, 83, 89, 91, 94, 95, 98,
      102, 110, 144))
  val Modules = Seq("relational", "frontier", "text", "dedup", "graph", "ann", "sketch", "extract")

  def number(name: String): Int = name.drop(1).takeWhile(_.isDigit).toInt
  def module(name: String): String =
    modules.collectFirst { case (m, ns) if ns.contains(number(name)) => m }.getOrElse("relational")

  /** The queries a run times, sized so that an untimed and two timed
    * passes fit in a run: every tenth query of each module in number order
    * (the first, eleventh, ...), and all five sketch queries. */
  def selected: Seq[String] =
    SparkEntry.queries.keys.toSeq.sortBy(number).groupBy(module).toSeq.flatMap {
      case ("sketch", qs) => qs
      case (_, qs) => qs.sortBy(number).zipWithIndex.collect { case (q, i) if i % 10 == 0 => q }
    }.sortBy(number)

  /** Row count plus an order-insensitive checksum of the rows' JSON, in
    * one action. */
  def digest(df: DataFrame): (Long, Long) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = shiftrightunsigned(xxhash64(to_json(struct(renamed.columns.map(col): _*))), 32)
    val row = renamed.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }

  final case class Sample(name: String, seconds: Double, rows: Long, checksum: Long)

  def runQuery(spark: SparkSession, dir: String, name: String): Sample = {
    val t = clock()
    val (rows, sum) = digest(SparkEntry.queries(name)(spark, dir))
    Sample(name, secsSince(t), rows, sum)
  }

  def run(spark: SparkSession, args: RunArgs, trap: ErrorTrap, out: Outcome): Unit = {
    val data = args.work.resolve("tables")
    var n = 0
    val (setupS, dir) = setupMedian(3) {
      n += 1
      val d = data.resolve(s"set$n").toString
      TableGen.write(spark, d)
      d
    }(d => rmTree(java.nio.file.Paths.get(d)))

    val order = new scala.util.Random(args.seed).shuffle(selected)
    val keep = persistedIds(spark)
    val exp = expected(args)
    def check(s: Sample, what: String): Unit = Option(exp.get(s.name)) match {
      case Some(e) =>
        out.check(s"$what ${s.name} rows", e.get(0).asLong, s.rows)
        if (!e.get(1).isNull) out.check(s"$what ${s.name} checksum", e.get(1).asLong, s.checksum)
      case None => out.mismatches += s"$what ${s.name}: no pinned result"
    }
    def pass(): (Double, Seq[Sample]) = {
      val tp = clock()
      val ss = order.flatMap { q =>
        out.attempted += 1
        try { val s = runQuery(spark, dir, q); check(s, "query"); Some(s) }
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q threw: $e"); out.failed += 1; None
        }
      }
      val w = secsSince(tp)
      releaseAllBut(spark, keep)
      (w, ss)
    }

    trap.arm()
    // the first pass is untimed: each query's code generation and the JIT
    // work on the paths it uses happen here, so the timed passes measure
    // repeatable, steady-state query times. Its results are checked too.
    val (coldWall, cold) = pass()
    val samples = mutable.ArrayBuffer[Sample]()
    val passWalls = mutable.ArrayBuffer[Double]()
    val t0 = clock()
    // at least two timed passes: single query times on this scale are a few
    // hundred ms of mostly driver work, and one pass is too few samples
    while (passWalls.size < 2 || (clock() < args.deadline(t0) && out.failed == 0)) {
      val (w, ss) = pass()
      passWalls += w; samples ++= ss
    }
    trap.disarm()
    val firstPass = samples.take(order.size)
    writeObserved(args, cold.sortBy(s => number(s.name))
      .map(s => s""""${s.name}": [${s.rows}, ${s.checksum}]""").mkString("{\n  ", ",\n  ", "\n}"))
    val times = samples.map(_.seconds).toSeq
    System.err.println(f"[perfbench] ${order.size} queries, untimed first pass $coldWall%.2f, " +
      "timed pass walls: " + passWalls.map(w => f"$w%.2f").mkString(", ") + "; slowest: " +
      firstPass.sortBy(-_.seconds).take(12).map(s => f"${s.name} ${s.seconds}%.2f").mkString(", "))

    if (!args.trace) {
      out.put("setup_s", setupS, "s")
      out.put("wall_s", p50(passWalls.toSeq), "s")
      out.put("items_per_s", p50(passWalls.map(order.size / _).toSeq), "1/s")
      out.put("step_p50_s", p50(times), "s")
      out.put("step_p90_s", pct(times, 90), "s")
    } else {
      val tr = new Tracer(spark, s"query-suite/seed${args.seed}").install()
      trap.arm()
      val traced = tr.span("suite") {
        order.flatMap { q =>
          try Some(tr.span(s"query.${module(q)}", "query" -> q)(runQuery(spark, dir, q)))
          catch {
            case e: Exception =>
              System.err.println(s"[perfbench] traced $q threw: $e"); out.failed += 1; None
          }
        }
      }
      trap.disarm()
      val untraced = firstPass.map(s => s.name -> s).toMap
      traced.foreach { s =>
        untraced.get(s.name).foreach { u =>
          out.check(s"traced ${s.name} rows = untraced", u.rows, s.rows)
          if (Option(exp.get(s.name)).exists(!_.get(1).isNull))
            out.check(s"traced ${s.name} checksum = untraced", u.checksum, s.checksum)
        }
      }
      val view = new TraceView(tr.finish())
      view.write(args.traces.resolve(s"query-suite-seed${args.seed}.jsonl"))
      val wall = view.wall("suite")
      Modules.foreach { m =>
        out.put(s"query.$m.s", view.wall(s"query.$m"), "s")
        out.put(s"query.$m.task_s", view.taskS(s"query.$m"), "s")
      }
      out.putAll(view.common(wall, Main.Cores))
      out.put("trace.wall_s", wall, "s")
      out.put("trace.overhead_s", wall - p50(passWalls.toSeq), "s")
      out.put("failed_frac", out.failed.toDouble / out.attempted, "frac")
    }
  }
}
