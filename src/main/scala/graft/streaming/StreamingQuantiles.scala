package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.functions.gf

/**
 * Streaming incremental per-source quantile profiles: a `foreachBatch`
 * fold of `tdigest_agg` digests ([[graft.expr.TDigestSketch]]) — each micro-batch of
 * (source, value) rows aggregates to per-source digest deltas, which
 * merge into the carried per-source state via `tdigest_merge_agg`
 * WITHOUT rescanning earlier batches. The streaming twin of the q118
 * batch profile and the [[StreamingIncrementalDedup]] state pattern:
 * per-batch state snapshots under `digests/batch=k` (`_SUCCESS`-gated),
 * restart loads the latest committed snapshot strictly before the
 * replayed batch.
 *
 * Exactness contract (the [[graft.core.TDigest]] caveat, and the
 * q112 cuckoo precedent of ANSWER-level rather than byte-level
 * equivalence): digest BYTES are merge-order-dependent, so a replayed
 * batch may overwrite a byte-different but answer-equivalent snapshot;
 * what the stream preserves exactly is the total weight (counts are
 * summed, never estimated) and what it preserves within the O(1/δ)
 * bound is every quantile — StreamingQuantilesSpec asserts both,
 * including across a stop/restart.
 *
 * At 100 TB this is the always-on corpus monitor: per-source length /
 * quality quantiles maintained at O(δ) bytes per source per batch,
 * queried at any time without touching history.
 */
object StreamingQuantiles {

  val rowSchema: StructType = StructType(Seq(
    StructField("source", StringType), StructField("v", DoubleType)))

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
        StructField("dg", BinaryType))))

  /** Start the streaming profile over parquet (source, v) deltas in
    * root/batches. */
  def start(spark: SparkSession, root: String,
            delta: Double = 100.0): StreamingQuery = {
    val stream = spark.readStream.schema(rowSchema).parquet(s"$root/batches")
    var state: DataFrame = null // per-query carried (source, dg)

    stream.writeStream
      .option("checkpointLocation", s"$root/checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val k = batchId.toInt + 1
        if (state == null) {
          stateLoads += 1
          val prior = committed(root, "digests").filter(batchNo(_) < k)
          state = (if (prior.isEmpty) emptyState(s)
            else s.read.parquet(prior.maxBy(batchNo))).localCheckpoint()
        }
        val b = batch.localCheckpoint()
        if (!b.isEmpty) {
          val deltaDg = b.groupBy("source")
            .agg(gf.tdigest_agg(col("v"), delta).as("dg"))
          val next = state.unionByName(deltaDg)
            .groupBy("source").agg(gf.tdigest_merge_agg(col("dg")).as("dg"))
            .localCheckpoint()
          next.write.mode("overwrite").parquet(s"$root/digests/batch=$k")
          state = next
        }
        ()
      }
      .start()
  }

  /** Latest committed per-source digest state. */
  def readDigests(spark: SparkSession, root: String): DataFrame = {
    val dirs = committed(root, "digests")
    if (dirs.isEmpty) emptyState(spark)
    else spark.read.parquet(dirs.maxBy(batchNo))
  }
}
