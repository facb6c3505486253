package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.data.{Bea, FredMd, Yahoo}
import graft.ops.Bootstrap
import graft.text.Edgar

class FredMdSpec extends SparkSpec {
  import spark.implicits._

  private def onFixture[T](body: String => T): T = withTempDir("fredmd") { dir =>
    val csv =
      """sasdate,RPI,W875RX1x
        |Transform:,5,2
        |3/1/1959,2583.56,2426.0
        |4/1/1959,2593.6,2434.8
        |5/1/1959,2610.4,2452.7
        |""".stripMargin
    val f = dir.resolve("fredmd.csv")
    Files.writeString(f, csv)
    body(f.toString)
  }

  test("parse: transform-code header split, x-suffix strip, month-end dates") {
    onFixture { path =>
      val parsed = FredMd.parse(spark, path)
      assert(parsed.meta("transform") == Map("RPI" -> 5, "W875RX1" -> 2))
      assert(parsed.data.columns.toSeq == Seq("date", "RPI", "W875RX1"))
      val dates = parsed.data.select("date").as[Int].collect().sorted
      assert(dates.toSeq == Seq(19590331, 19590430, 19590531))
    }
  }

  test("tcode transforms: 5 = diff(log), 2 = diff") {
    onFixture { path =>
      val parsed = FredMd.parse(spark, path)
      val long = FredMd.melt(parsed.data)
      val w = Window.partitionBy("series").orderBy("date")
      val t5 = FredMd.transform(long.where(col("series") === "RPI"), "value", w, 5)
        .where(col("date") === 19590430).select("transformed").as[Double].head()
      assert(math.abs(t5 - (math.log(2593.6) - math.log(2583.56))) < 1e-12)
      val t2 = FredMd.transform(long.where(col("series") === "W875RX1"), "value", w, 2)
        .where(col("date") === 19590531).select("transformed").as[Double].head()
      assert(math.abs(t2 - (2452.7 - 2434.8)) < 1e-12)
    }
  }

  test("tcode 7: diff of pct_change") {
    val df = Seq((1, 100.0), (2, 110.0), (3, 121.0), (4, 133.1))
      .toDF("date", "value").withColumn("series", lit("s"))
    val w = Window.partitionBy("series").orderBy("date")
    val out = FredMd.transform(df, "value", w, 7)
      .select("date", "transformed").as[(Int, Option[Double])].collect().toMap
    assert(out(1).isEmpty && out(2).isEmpty)
    assert(math.abs(out(3).get - (0.10 - 0.10)) < 1e-12)
  }
}

class BootstrapSpec extends SparkSpec {
  import spark.implicits._

  test("bootstrap risk: deterministic Lehmer draws, replicate shape") {
    val df = (0 until 50).map(i => (i.toLong, math.sin(i * 1.7) * 0.05))
      .toDF("id", "ret")
    val out = Bootstrap.bootstrapRisk(df, "id", "ret", alpha = 0.05, n = 7)
      .orderBy("b").collect()
    assert(out.length == 7)
    assert(out.forall(_.getAs[Long]("n_obs") == 50L))
    assert(out.forall(r => r.getAs[Double]("es_a") <= r.getAs[Double]("var_a") + 1e-12))
    // replicate b=0 by hand: double-Lehmer indices over id-ordered values
    val vals = (0 until 50).map(i => math.sin(i * 1.7) * 0.05).toArray
    def idx(g: Long): Int =
      ((((g + 1) * 48271L) % 2147483647L * 16807L) % 2147483647L % 50).toInt
    val sample0 = (0 until 50).map(i => vals(idx(i)))
    val sorted = sample0.sorted
    val pos = 0.05 * (50 - 1)
    val lo = pos.toInt
    val expVar = sorted(lo) + (pos - lo) * (sorted(lo + 1) - sorted(lo))
    val got = out.head.getAs[Double]("var_a")
    assert(math.abs(got - expVar) < 1e-12, s"var $got vs $expVar")
    // replicates must not all collapse to one sample (the single-Lehmer
    // formula had b-shifts ≡ 0 mod N — caught here)
    assert(out.map(_.getAs[Double]("var_a")).distinct.length > 1 ||
      out.map(_.getAs[Double]("vol")).distinct.length > 1)
    // determinism: a second run agrees (float aggs to 1e-12 — partial
    // aggregation order can flip the last ulp)
    val again = Bootstrap.bootstrapRisk(df, "id", "ret", alpha = 0.05, n = 7)
      .orderBy("b").collect()
    out.zip(again).foreach { case (a, b) =>
      assert(a.getAs[Long]("b") == b.getAs[Long]("b"))
      Seq("var_a", "es_a", "vol").foreach(c =>
        assert(math.abs(a.getAs[Double](c) - b.getAs[Double](c)) < 1e-12))
    }
  }
}

class BeaSpec extends SparkSpec {
  import spark.implicits._

  test("IOUse regroup merges member codes on both axes and preserves mass") {
    val df = Seq(
      ("A1", "B", 10.0), ("A2", "B", 5.0), ("B", "A1", 7.0),
      ("B", "A2", 3.0), ("B", "C", 2.0), ("A1", "A2", 1.0)
    ).toDF("colcode", "rowcode", "datavalue")
    val out = Bea.regroupIoUse(df, Map("A" -> Seq("A1", "A2")))
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out(("A", "B")) == 15.0)
    assert(out(("B", "A")) == 10.0)
    assert(out(("B", "C")) == 2.0)
    assert(out(("A", "A")) == 1.0)
    assert(out.values.sum == 28.0) // mass preserved
    assert(!out.keys.exists { case (c, r) => c.startsWith("A1") || r.startsWith("A2") })
  }

  test("IOUse regroup rejects a member code mapped to two groups") {
    val df = Seq(("111", "B", 1.0)).toDF("colcode", "rowcode", "datavalue")
    val e = intercept[IllegalArgumentException](
      Bea.regroupIoUse(df, Map("G1" -> Seq("111"), "G2" -> Seq("111"))))
    assert(e.getMessage.contains("ambiguous"))
    // a repeated code WITHIN one group must not fan out the join
    val ok = Bea.regroupIoUse(df, Map("G1" -> Seq("111", "111")))
      .as[(String, String, Double)].collect()
    assert(ok.toSeq == Seq(("G1", "B", 1.0)))
  }

  test("screen drops excluded code prefixes") {
    val df = Seq(("T1", "B", 1.0), ("B", "U2", 2.0), ("F", "G", 3.0))
      .toDF("colcode", "rowcode", "datavalue")
    val out = Bea.screenIoUse(df, Seq("T", "U")).as[(String, String, Double)].collect()
    assert(out.toSeq == Seq(("F", "G", 3.0)))
  }
}

class YahooSpec extends SparkSpec {
  import spark.implicits._

  test("splice matches the pandas reference fixture (split + dividend)") {
    // 2:1 split on day 5, $1 dividend on day 3 — expected values computed
    // with the exact real_time.py:60-82 pandas logic
    val raw = Seq(
      (1, 100.0, 0.0, 0.0, 1000L), (2, 102.0, 0.0, 0.0, 1100L),
      (3, 101.0, 1.0, 0.0, 1200L), (4, 103.0, 0.0, 0.0, 1300L),
      (5, 52.0, 0.0, 2.0, 2600L), (6, 53.0, 0.0, 0.0, 2500L),
      (7, 51.5, 0.0, 0.0, 2400L), (8, 52.5, 0.0, 0.0, 2300L)
    ).toDF("date", "close", "dividends", "stock_splits", "volume")
      .withColumn("ticker", org.apache.spark.sql.functions.lit("TST"))
    val out = Yahoo.splice(raw)
      .select("date", "vol", "divamt", "ret", "retx", "prc")
      .collect().map(r => r.getInt(0) -> r).toMap
    val expVol = Map(1 -> 500.0, 2 -> 550.0, 3 -> 600.0, 4 -> 650.0,
      5 -> 2600.0, 6 -> 2500.0, 7 -> 2400.0, 8 -> 2300.0)
    val expPrc = Map(1 -> 201.980001980002, 2 -> 206.019602019602, 3 -> 202.0,
      4 -> 206.0, 5 -> 52.0, 6 -> 53.0, 7 -> 51.5, 8 -> 52.5)
    val expRetx = Map(2 -> 0.02, 3 -> -0.019510774607, 4 -> 0.019801980198,
      5 -> -0.495145631068, 6 -> 0.019230769231, 7 -> -0.028301886792,
      8 -> 0.019417475728)
    expVol.foreach { case (d, v) => assert(math.abs(out(d).getDouble(1) - v) < 1e-9, s"vol($d)") }
    assert(out(3).getDouble(2) == 2.0) // divamt split-adjusted
    expPrc.foreach { case (d, v) => assert(math.abs(out(d).getDouble(5) - v) < 1e-8, s"prc($d)") }
    expRetx.foreach { case (d, v) => assert(math.abs(out(d).getDouble(4) - v) < 1e-9, s"retx($d)") }
    assert(out(1).isNullAt(3) && out(1).isNullAt(4)) // first ret/retx null
  }
}

class FFScaleSpec extends SparkSpec {
  import spark.implicits._

  test("-99.99 sentinels null out, percentages become decimals") {
    val df = Seq((1, 1.5, -99.99), (2, -0.25, 2.0), (3, -100.0, 0.0))
      .toDF("id", "a", "b")
    val out = graft.sources.Ingest.ffScale(df, Seq("a", "b"))
      .as[(Int, Option[Double], Option[Double])].collect().sortBy(_._1)
    assert(out(0)._2.contains(0.015) && out(0)._3.isEmpty)
    assert(out(1)._2.contains(-0.0025) && out(1)._3.contains(0.02))
    assert(out(2)._2.isEmpty && out(2)._3.contains(0.0))
  }
}

class SectoringSpec extends SparkSpec {
  import graft.data.Sectoring

  private val fixture =
    """ 1 Agric  Agriculture
      |          0100-0199 Agricultural production - crops
      |          0200-0299 Agricultural production - livestock
      |          0910-0919 Commercial fishing
      |          2048-2048 Prepared feeds for animals
      | 2 Food   Food Products
      |          2000-2009 Food and kindred products
      |          2010-2019 Meat products
      |
      |49 Other  Almost Nothing
      |""".stripMargin.linesIterator.toSeq

  test("Siccodes parse: range rows keyed by start, sector carry, Other gap-fill") {
    val rows = Sectoring.parseSiccodes(fixture, nSectors = 49)
      .map(r => r.sic -> (r.name, r.description)).toMap
    assert(rows(100) == (("Agric", "Agriculture")))
    assert(rows(910) == (("Agric", "Agriculture")))
    assert(rows(2048) == (("Agric", "Agriculture")))
    assert(rows(2000) == (("Food", "Food Products")))
    assert(rows(2010) == (("Food", "Food Products")))
    // gap-fill: sector "Other" has no ranges -> sic2 gaps become Other
    assert(rows(0) == (("Other", "Almost Nothing")))
    assert(rows(1000) == (("Other", "Almost Nothing"))) // gap after 0910-0919
    assert(rows(2100) == (("Other", "Almost Nothing"))) // max((end//100+1)*100)
    // as-of lookup semantics: sic 1512 resolves to the prevailing row 1000
    val sorted = Sectoring.parseSiccodes(fixture, 49).sortBy(_.sic)
    val prevailing = sorted.takeWhile(_.sic <= 1512).last
    assert(prevailing.name == "Other")
  }
}

class EdgarIndexSpec extends SparkSpec {

  test("master.idx parse: preamble skipped, types coerced, dups dropped") {
    val idx =
      """Description:           Master Index of EDGAR Dissemination Feed
        |Last Data Received:    March 31, 2023
        |Anonymous FTP:         ftp://ftp.sec.gov/edgar/
        |
        |CIK|Company Name|Form Type|Date Filed|Filename
        |--------------------------------------------------------------------------------
        |320193|Apple Inc.|10-K|2023-11-03|edgar/data/320193/0000320193-23-000106.txt
        |320193|Apple Inc.|10-K|2023-11-03|edgar/data/320193/0000320193-23-000106.txt
        |789019|MICROSOFT CORP|10-Q|2023-01-24|edgar/data/789019/0000950170-23-001409.txt
        |""".stripMargin
    withTempDir("master") { dir =>
      val f = dir.resolve("master.idx")
      Files.writeString(f, idx)
      val out = Edgar.parseMasterIndex(spark, f.toString)
      val rows = out.collect().map(r => (r.getInt(0), r.getString(2), r.getInt(3)))
      assert(rows.length == 2)
      assert(rows.contains((320193, "10-K", 20231103)))
      assert(rows.contains((789019, "10-Q", 20230124)))
    }
  }
}

class FomcSpec extends SparkSpec {
  import spark.implicits._
  import graft.text.Fomc
  import org.apache.spark.sql.functions._

  test("dateOfLink takes the last 8 digits, matching the reference dateOf") {
    val links = Seq(
      "https://www.federalreserve.gov/monetarypolicy/fomcminutes20230614.htm",
      "https://www.federalreserve.gov/fomc/minutes/19960703.htm",
      "https://www.federalreserve.gov/fomc/MINUTES/1997/19970204min.htm")
      .map(Tuple1(_)).toDF("link")
    val out = links.select(Fomc.dateOfLink(col("link"))).as[Int].collect()
    assert(out.sameElements(Array(20230614, 19960703, 19970204)))
  }

  test("minutesText joins <p> blocks, strips tags, decodes entities") {
    val html =
      """<html><head><title>skip</title></head><body>
        |<P class="x">The Committee&nbsp;met at <b>9:00</b> a.m.</P>
        |<div>not a paragraph</div>
        |<p>Votes for:	Smith &amp; Jones.
        |Second line.</p>
        |<p>   </p>
        |</body></html>""".stripMargin
    val out = Seq(Tuple1(html)).toDF("html")
      .select(Fomc.minutesText(col("html"))).as[String].head()
    assert(out == "The Committee met at 9:00 a.m.\nVotes for: Smith & Jones.\nSecond line.")
  }
}
