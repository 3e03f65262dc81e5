package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Result sinks (SURVEY §2.1 S2). The reference's only sink is the protobuf RPC
 * response; ours are (a) the API-edge collect of [[graft.operators.TsAggClient]]
 * for the client-map shape and (b) durable columnar output below.
 */
object Sinks {

  /**
   * Write a bucketed-aggregation result partitioned by day-of-bucket so
   * downstream range reads prune at the directory level — the layout that lets
   * a 100 TB result set serve "one day of 15-minute averages" (the reference
   * README's motivating query) from a single partition directory.
   */
  def writePartitionedByDay(result: DataFrame, path: String): Unit =
    result
      // date_from_unix_date is timezone-free (days since epoch), unlike
      // to_date(timestamp) which shifts with the session time zone
      .withColumn("bucket_date", date_from_unix_date(
        ((col("bucket_start") - pmod(col("bucket_start"), lit(86400000L))) / lit(86400000L))
          .cast("int"))) // exact floor division: `/` truncates toward zero on negatives
      .write
      .mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /**
   * Write an [[graft.operators.TrainingSet.assignShards]] routing as a
   * shard-partitioned training layout: `path/shard_id=K/…` directories a
   * 1000-worker training job reads with directory-level pruning (worker K
   * scans only its shard — `spark.read.parquet(path).filter($"shard_id" === K)`
   * never lists the other 15/16ths). The routing itself added no exchange;
   * this write's task fan-out (each task writes the shards present in its
   * partition) is the only cost, and a `shardManifest` rollup is written
   * alongside as `path/_manifest` for the launcher.
   */
  def writeShards(assigned: DataFrame, path: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("shard_id").parquet(path)
    graft.operators.TrainingSet.shardManifest(assigned)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
  }

  /**
   * Durable streaming sink: append-mode parquet with an exactly-once
   * checkpoint — the continuous-ingest counterpart of
   * [[writePartitionedByDay]] for [[graft.streaming.StreamingTsAgg]] results
   * (append mode emits each bucket once, when the watermark finalizes it).
   * Returns the started query; callers own its lifecycle.
   */
  def startParquetStream(
      result: DataFrame, path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    result.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .start(path)
}
