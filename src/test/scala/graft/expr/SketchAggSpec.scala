package graft.expr

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Partial}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.gf

/**
 * The generic sketch aggregates ([[SketchAgg]], [[SketchMergeAgg]]) as
 * every `gf.*` sketch function uses them: partial aggregation below the
 * exchange for all eight builds and seven merges, analysis-time input
 * type checks, and codec parameters that keep otherwise-equal calls
 * apart.
 */
class SketchAggSpec extends SparkTestBase {
  import spark.implicits._

  // k: group key; h: pre-hashed LONG key; x: DOUBLE value; s: STRING item
  private lazy val rows: DataFrame = spark.range(0, 400)
    .select(($"id" % 5).as("k"), xxhash64($"id").as("h"),
      ($"id" / 7.0).as("x"), ($"id" % 13).cast("string").as("s"))
    .repartition(3)

  private lazy val builds: Seq[(String, Column)] = Seq(
    "bloom_agg" -> gf.bloom_agg($"h", 1000L),
    "cbloom_agg" -> gf.cbloom_agg($"h", 1000L),
    "cuckoo_agg" -> gf.cuckoo_agg($"h", 1000L),
    "hll_agg" -> gf.hll_agg($"h"),
    "kmv_agg" -> gf.kmv_agg($"h", 64),
    "count_min_agg" -> gf.count_min_agg($"h", lit(1L)),
    "tdigest_agg" -> gf.tdigest_agg($"x"),
    "space_saving_agg" -> gf.space_saving_agg($"s", lit(1L), 16))

  // merge name -> (the build feeding it, the merge over its blob column b)
  private lazy val merges: Seq[(String, Column, Column)] = Seq(
    ("bloom_merge_agg", gf.bloom_agg($"h", 1000L), gf.bloom_merge_agg($"b")),
    ("cbloom_merge_agg", gf.cbloom_agg($"h", 1000L), gf.cbloom_merge_agg($"b")),
    ("cuckoo_merge_agg", gf.cuckoo_agg($"h", 1000L), gf.cuckoo_merge_agg($"b")),
    ("hll_merge_agg", gf.hll_agg($"h"), gf.hll_merge_agg($"b")),
    ("kmv_merge_agg", gf.kmv_agg($"h", 64), gf.kmv_merge_agg($"b")),
    ("count_min_merge_agg", gf.count_min_agg($"h", lit(1L)), gf.count_min_merge_agg($"b")),
    ("tdigest_merge_agg", gf.tdigest_agg($"x"), gf.tdigest_merge_agg($"b")))

  /** Physical plan with AQE off, so the exchanges are in the plan itself. */
  private def physical(df: DataFrame) = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set(key, old)
  }

  private def assertPartialBelowExchange(name: String, df: DataFrame): Unit = {
    val plan = physical(df)
    def aggsOf(a: ObjectHashAggregateExec, mode: AggregateMode) =
      a.aggregateExpressions.filter(e =>
        e.mode == mode && e.aggregateFunction.prettyName == name)
    val partialUnderExchange = plan.collect { case e: ShuffleExchangeExec => e }
      .exists(_.child.collect { case a: ObjectHashAggregateExec => a }
        .exists(aggsOf(_, Partial).nonEmpty))
    val finalAgg = plan.collect { case a: ObjectHashAggregateExec => a }
      .exists(aggsOf(_, Final).nonEmpty)
    assert(partialUnderExchange && finalAgg,
      s"$name: expected Partial ObjectHashAggregate below the Exchange:\n$plan")
    assert(df.collect().length == 5) // and the plan runs: one row per group
  }

  test("every sketch build aggregates partially below the exchange") {
    assert(builds.map(_._1).distinct.size == 8)
    for ((name, f) <- builds)
      assertPartialBelowExchange(name, rows.groupBy("k").agg(f.as("sk")))
  }

  test("every sketch merge aggregates partially below the exchange") {
    assert(merges.map(_._1).distinct.size == 7)
    for ((name, build, merge) <- merges) {
      // per-(k, shard) blobs, materialized so the plan holds only the merge
      val blobs = rows.groupBy($"k", ($"h" % 3).as("shard")).agg(build.as("b"))
      val input = spark.createDataFrame(blobs.rdd, blobs.schema)
      assertPartialBelowExchange(name, input.groupBy("k").agg(merge.as("sk")))
    }
  }

  private def assertAnalysisFails(df: => DataFrame, name: String): Unit = {
    val e = intercept[AnalysisException](df)
    assert(e.getMessage.contains(name), e.getMessage)
  }

  private lazy val ints = spark.range(0, 10).select($"id".cast("int").as("v"))

  test("bloom_agg: an INT input fails at analysis, not in a task") {
    assertAnalysisFails(ints.agg(gf.bloom_agg($"v", 100L)), "bloom_agg")
    assertAnalysisFails(ints.agg(gf.bloom_merge_agg($"v")), "bloom_merge_agg")
  }

  test("cbloom_agg: an INT input fails at analysis, not in a task") {
    assertAnalysisFails(ints.agg(gf.cbloom_agg($"v", 100L)), "cbloom_agg")
    assertAnalysisFails(ints.agg(gf.cbloom_merge_agg($"v")), "cbloom_merge_agg")
  }

  test("cuckoo_agg: an INT input fails at analysis, not in a task") {
    assertAnalysisFails(ints.agg(gf.cuckoo_agg($"v", 100L)), "cuckoo_agg")
    assertAnalysisFails(ints.agg(gf.cuckoo_merge_agg($"v")), "cuckoo_merge_agg")
  }

  test("codec parameters keep otherwise-equal sketch calls apart") {
    val r = rows.agg(
      gf.bloom_agg($"h", 1000L, 0.01).as("b1"), gf.bloom_agg($"h", 1000L, 0.2).as("b2"),
      gf.hll_agg($"h", 10).as("h1"), gf.hll_agg($"h", 12).as("h2")).head()
    assert(!r.getAs[Array[Byte]]("b1").sameElements(r.getAs[Array[Byte]]("b2")))
    assert(r.getAs[Array[Byte]]("h1").length < r.getAs[Array[Byte]]("h2").length)
  }
}
