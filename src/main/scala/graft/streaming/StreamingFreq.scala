package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.functions.gf

/**
 * Streaming incremental per-source token-frequency sketches: a
 * `foreachBatch` fold of `count_min_agg` blobs ([[graft.expr.CountMinSketch]]) — each
 * micro-batch of (source, tok) rows aggregates to per-source count-min
 * deltas, merged into the carried state via `count_min_merge_agg`
 * WITHOUT rescanning earlier batches. The streaming twin of the q121
 * batch sketch and the [[StreamingQuantiles]] state pattern: per-batch
 * state snapshots under `sketches/batch=k` (`_SUCCESS`-gated), restart
 * loads the latest committed snapshot strictly before the replayed
 * batch.
 *
 * Exactness contract — STRONGER than [[StreamingQuantiles]]'s: count-min
 * state is a vector of sums, so the stream fold is **byte-identical**
 * to a one-shot sketch over the concatenated stream (any merge tree,
 * any batch split — the [[graft.core.CountMin]] property). A replayed
 * batch therefore rewrites an IDENTICAL snapshot, total weight is
 * exact, and every point estimate matches the one-shot sketch bit for
 * bit. StreamingFreqSpec asserts all of it, including across a
 * stop/restart.
 *
 * At 100 TB this is the always-on frequency monitor: "how often did
 * THIS token/URL/host appear so far" answerable at any time for probe
 * sets unknown while the stream ran, at d·w longs per source.
 */
object StreamingFreq {

  val rowSchema: StructType = StructType(Seq(
    StructField("source", StringType), StructField("tok", StringType)))

  private def committed(root: String, sub: String): Seq[String] = {
    val dir = new java.io.File(s"$root/$sub")
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getPath).toIndexedSeq
  }

  private def batchNo(path: String): Int =
    path.substring(path.lastIndexOf('=') + 1).toInt

  /** Test hook: state loads performed (once per query start). */
  private[streaming] var stateLoads: Int = 0

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("source", StringType),
        StructField("sk", BinaryType))))

  /** Start the streaming frequency monitor over parquet (source, tok)
    * deltas in root/batches. */
  def start(spark: SparkSession, root: String,
            depth: Int = 4, width: Int = 256): StreamingQuery = {
    val stream = spark.readStream.schema(rowSchema).parquet(s"$root/batches")
    var state: DataFrame = null // per-query carried (source, sk)

    stream.writeStream
      .option("checkpointLocation", s"$root/checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val k = batchId.toInt + 1
        if (state == null) {
          stateLoads += 1
          val prior = committed(root, "sketches").filter(batchNo(_) < k)
          state = (if (prior.isEmpty) emptyState(s)
            else s.read.parquet(prior.maxBy(batchNo))).localCheckpoint()
        }
        val b = batch.localCheckpoint()
        if (!b.isEmpty) {
          val deltaSk = b.groupBy("source")
            .agg(gf.count_min_agg(xxhash64(col("tok")), lit(1L),
              depth, width).as("sk"))
          val next = state.unionByName(deltaSk)
            .groupBy("source").agg(gf.count_min_merge_agg(col("sk")).as("sk"))
            .localCheckpoint()
          next.write.mode("overwrite").parquet(s"$root/sketches/batch=$k")
          state = next
        }
        ()
      }
      .start()
  }

  /** Latest committed per-source sketch state. */
  def readSketches(spark: SparkSession, root: String): DataFrame = {
    val dirs = committed(root, "sketches")
    if (dirs.isEmpty) emptyState(spark)
    else spark.read.parquet(dirs.maxBy(batchNo))
  }
}
