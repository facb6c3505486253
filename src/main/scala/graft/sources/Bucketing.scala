package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout for co-located joins — the 100 TB shuffle
  * eliminator (builder brief: "repartition()/bucketing for co-located
  * joins"; SURVEY.md §4: the fact tables the reference scans by key are
  * exactly the ones to bucket).
  *
  * Writing both sides of a hot join bucketed-and-sorted by the join key
  * means Catalyst plans the join with NO Exchange and NO per-query Sort
  * on either side — each bucket pair zips directly. At 100 TB that turns
  * the dominant repeated cost (shuffling the fact table per query) into
  * a one-time write-layout decision. The same layout serves the as-of
  * family: both inputs of [[graft.ops.AsOf.joinBackward]] bucketed by
  * the entity key co-partition the sort-merge as-of operator (no
  * exchange, only a per-bucket sort).
  *
  * Spark bucketing rides the session catalog (`saveAsTable` with an
  * explicit `path`), so buckets survive restarts and register with any
  * metastore; `spark.table(name)` reads recover bucket metadata.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted parquet table at `path`. */
  def writeBucketed(df: DataFrame, name: String, path: String,
                    keys: Seq[String], numBuckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(name)

  /** The bucketed table as a DataFrame (bucket metadata intact). */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
