package graft.core

import graft.streaming.LocalCheckpointFiles
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (`TESTDATA.md`).
  *
  * All engine inputs are Parquet; the reference's MySQL row store
  * (`finds/database/sql.py:76-342`) maps to schema'd Parquet scans with
  * Catalyst predicate pushdown + column pruning (SURVEY.md §2.1 S1-S4).
  * Every table has a fixed, declared schema (SURVEY.md §1.3/§1.4: the
  * reference's `sqlalchemy.Table` → `StructType` + `spark.read.schema`),
  * so building a table frame reads no file footer and launches no job.
  */
object Tables {

  /** Declared schema of each table, as the testdata files carry it.
    * Timestamps are TIMESTAMP(MICROS) in the files and read as
    * `TIMESTAMP_LTZ` in the UTC session (a NANOS column fails the scan).
    * [[schemaDrift]] names any file that differs from its declaration.
    */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" ->
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_LTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_LTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_LTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** Session defaults; call once when a session is built, before any
    * query is planned on it. Idempotent. Also installs the native as-of
    * join's planner strategy ([[graft.plans.AsOfStrategy]]), after any
    * strategies the session already has, so building a query never
    * writes session state, and the checkpoint file manager of every
    * streaming query ([[graft.streaming.LocalCheckpointFiles]]).
    */
  def tune(spark: SparkSession): SparkSession = {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(graft.plans.AsOfStrategy))
      spark.experimental.extraStrategies = strategies :+ graft.plans.AsOfStrategy
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // testdata timestamps carry isAdjustedToUTC=false; a schema-inferring
    // read ([[schemaDrift]]) must type them as plain TimestampType
    // like the declared schemas (matching DuckDB's naive reading) rather
    // than TIMESTAMP_NTZ, so unix_micros()/window() apply.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // broadcast aggressively: dims (region/nation/supplier/part meta,
    // calendars, breakpoints) are small even at 100 TB fact scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(LocalCheckpointFiles.confKey, classOf[LocalCheckpointFiles].getName)
    spark
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** Declared schema vs file footer for each table present under `dir`:
    * one line per column that is missing from the file, absent from the
    * declaration, or typed differently. A declared column missing from a
    * file would otherwise read as all-null. Runs one footer-reading job
    * per table found, so it is a check, not a load path.
    */
  def schemaDrift(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    schemas.toSeq.sortBy(_._1).flatMap { case (name, declared) =>
      val path = s"$dir/$name.parquet"
      if (!fs.exists(new Path(path))) Nil
      else {
        val found = spark.read.parquet(path).schema
        val inFile = found.fields.map(f => f.name -> f.dataType).toMap
        val missing = declared.fields.flatMap { d =>
          inFile.get(d.name) match {
            case None => Some(s"$name.${d.name}: declared ${d.dataType.sql}, missing from file")
            case Some(t) if t != d.dataType =>
              Some(s"$name.${d.name}: declared ${d.dataType.sql}, file has ${t.sql}")
            case _ => None
          }
        }
        val undeclared = found.fields.filterNot(f => declared.fieldNames.contains(f.name))
          .map(f => s"$name.${f.name}: ${f.dataType.sql} in file, not declared")
        missing.toSeq ++ undeclared
      }
    }
  }

  /** Pin a CPU-dense frame to the session's shuffle parallelism when the
    * byte-sized scan under-partitions it.
    *
    * Spark splits file scans by BYTES (`maxPartitionBytes`), which is the
    * wrong unit for per-row compute-heavy kernels over small-but-dense
    * inputs: the sf0.1 documents table is one parquet split, so every
    * signature/quality/fingerprint kernel downstream of it ran as ONE
    * task on one core (stage-traced: t_pipeline's whole 1.5 s plan was a
    * single task at 32 available cores). The guard makes this a no-op
    * exactly where the pathology can't exist — a corpus-scale table scans
    * as thousands of splits, so `toRdd.getNumPartitions >= parts` and no
    * shuffle is added; only an under-split scan pays one narrow
    * round-robin exchange of the input rows to buy full-width compute.
    * (`queryExecution.toRdd` plans the physical RDD without running a
    * job.) AQE never coalesces a user-specified `repartition(n)`.
    */
  def pinWidth(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.queryExecution.toRdd.getNumPartitions < parts) df.repartition(parts) else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
}
