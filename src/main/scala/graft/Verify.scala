package graft
import graft.core.{Scope, Tables}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/compare.py).
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1 q2 ...] — trailing
  * query names dump just those queries (and their oracles), so a new
  * oracle can be DuckDB-checked without a full catalog dump.
  * Before dumping, every table's declared schema is checked against its
  * file (`Tables.schemaDrift`); any difference exits 1 and names the
  * table and column.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"unknown queries: ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    def chosen(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)
    val drift = Tables.schemaDrift(spark, sfDir)
    if (drift.nonEmpty) {
      drift.foreach(d => System.err.println(s"[verify] schema drift: $d"))
      spark.stop()
      sys.exit(1)
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.iterator.filter { case (n, _) => chosen(n) }.foreach { case (name, fn) =>
      // one scope per query: its close drops the query's cached
      // intermediates, which bounds heap over the run
      try Scope.within(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.iterator.filter { case (k, _) => chosen(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
