package graft

/** Dev utility (r17, round-16 VERDICT #8): rewrite the sf0.1 testdata
  * into a MULTI-SPLIT variant so the bench's scaling block can see scan
  * parallelism. The shipped sf0.1 parquet carries ~3 row groups per
  * table, so scan stages run 3 tasks regardless of core count and the
  * 8c-vs-32c ratio reads ≈1 forever (an input artifact, not an engine
  * property). Every table is re-written as 32 files (row-identical,
  * order-free — every catalog query is order-insensitive and the oracle
  * compare sorts). Timestamps are TIMESTAMP(MICROS) in and out, read as
  * plain TimestampType in the UTC session, so instants are unchanged.
  *
  * Usage: runMain graft.MrgGen <srcDir> <outDir>
  */
object MrgGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(out).mkdirs()
    val tables = new java.io.File(src).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    for (t <- tables) {
      spark.read.parquet(s"$src/$t").repartition(32)
        .write.mode("overwrite").parquet(s"$out/$t")
      println(s"rewrote $t as 32 files")
    }
    spark.stop()
  }
}
