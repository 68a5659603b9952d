package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-location — the scale path for repeated joins on the
  * same key (SURVEY.md §"Partitioning & shuffle").
  *
  * At 10^12 turns the enrich/servicegraph-style self-joins and the
  * per-conversation gathers all key on `conv_id`. Writing both sides
  * bucketed (+ sorted) by the join key means every subsequent join or
  * groupBy on that key is exchange-free: each task reads matching bucket
  * files from both tables, no shuffle of the 100 TB fact side, ever.
  * This is the relational analog of the reference's consistent-hash
  * routing (`exporter/loadbalancingexporter/config.go:23-33` in
  * `/root/reference`) made durable in the table layout.
  *
  * Bucket count guidance at scale: ~2-4× total executor cores, sized so
  * one bucket of the largest table fits an executor's memory (e.g. 8192
  * buckets for 100 TB ≈ 12 GB/bucket).
  */
object Bucketing {

  /** Persist `df` bucketed (and sorted) by `keys` as a managed table. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Join two same-bucketed tables on their bucket keys — planner emits
    * a SortMergeJoin with ZERO Exchange when bucket specs line up. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    keys: Seq[String]): DataFrame =
    spark.table(left).join(spark.table(right), keys)
}
