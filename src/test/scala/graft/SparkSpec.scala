package graft

import java.nio.file.{Files, Path}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM per `sbt test` fork), tuned
  * once with `Tables.tune`: a spec that needs another setting sets it
  * itself and restores the prior value (`withConf`).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Run `body` with the given session confs, then restore each key's
    * prior value (or unset it) so no setting leaks into later suites.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` on a new temp directory named `prefix…`, then delete the
    * directory and everything in it, so no spec run leaves files behind.
    */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally JavaUtils.deleteRecursively(dir.toFile)
  }

  /** The tier a size-tiered graph op took: a driver-local result is a
    * local relation once optimized, a distributed one reads Spark data.
    */
  def tierOf(df: DataFrame): String =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) "local" else "distributed"

  /** A size-tiered graph op on its local tier (`local`) and on its
    * distributed tier (`dist`): the same column names and types, and the
    * same rows, each double within its column's `tol` (default 1e-9: the
    * tiers sum in different orders; a check that held tighter before
    * keeps its bound).
    */
  def assertTiersAgree(local: DataFrame, dist: DataFrame,
                       tol: Map[String, Double] = Map.empty): Unit = {
    assert(tierOf(local) == "local" && tierOf(dist) == "distributed")
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(fields(local) == fields(dist), "the schema depends on the tier")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString(","))
    val (l, d) = (rows(local), rows(dist))
    assert(l.length == d.length, s"${l.length} local rows vs ${d.length} distributed")
    l.zip(d).foreach { case (a, b) => a.zip(b).zip(local.columns).foreach {
      case ((x: Double, y: Double), c) =>
        assert(math.abs(x - y) <= tol.getOrElse(c, 1e-9), s"$c: $a vs $b")
      case ((x, y), c) => assert(x == y, s"$c: $a vs $b")
    } }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.tune(s)
  }
}
