package graft

import java.sql.Timestamp
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Top-level so Spark can derive an encoder (inner classes need outer scope). */
case class Ev(ts: Timestamp, k: String, v: Double)
case class DocRow(doc_id: Long, text: String)
case class TsDocRow(doc_id: Long, ts: Timestamp, text: String)
case class AlignedTrade(ts: Timestamp, symbol: String, price: Double,
                        volume: Long, sign: Double, prev_mid: Option[Double])

/** Structured-Streaming twin of the tumbling-bin batch semantics
  * (SURVEY.md §2.8): the streamed result over a replayed event set must
  * equal the batch groupBy(window) on the same rows.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def evs: Seq[Ev] = (0 until 200).map { i =>
    Ev(new Timestamp(1700000000000L + i * 97000L), s"k${i % 3}", i * 1.5)
  }

  test("streamed tumbling window equals batch window aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)

    // the SAME transform runs in batch and under the stream
    val agg = (df: org.apache.spark.sql.DataFrame) =>
      graft.streaming.EventStreams.tumblingAgg(df, "k", "ts", "v", "5 minutes")
        .select(col("k"), col("w_start"), col("n"), round(col("sum_value"), 6).as("s"))

    val q = agg(mem.toDF()).writeStream
      .format("memory").queryName("tumbling_test").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumbling_test")
      .as[(String, Timestamp, Long, Double)].collect().toSet
    val batch = agg(evs.toDF())
      .as[(String, Timestamp, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("session windows by inactivity gap (streaming-capable form)") {
    val out = graft.streaming.EventStreams.sessionAgg(evs.toDF(), "k", "ts", "10 minutes")
    // events per key are 97s*3 apart < 10min -> one session per key
    val n = out.groupBy("k").count().select("count").as[Long].collect()
    assert(n.forall(_ == 1L))
    val total = out.select("n").as[Long].collect().sum
    assert(total == 200L)
  }

  test("watermarked append mode emits closed windows with late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]

    val q = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
      .writeStream.format("memory").queryName("wm_test").outputMode("append").start()

    val t0 = 1700000000000L
    mem.addData(Ev(new Timestamp(t0), "a", 1.0), Ev(new Timestamp(t0 + 60000), "a", 2.0))
    q.processAllAvailable()
    // jump 30 min ahead: watermark passes the first window's end
    mem.addData(Ev(new Timestamp(t0 + 30 * 60000), "a", 3.0))
    q.processAllAvailable()
    // this row is far behind the watermark -> dropped
    mem.addData(Ev(new Timestamp(t0 + 60000), "late", 9.0))
    q.processAllAvailable()
    // close remaining windows
    mem.addData(Ev(new Timestamp(t0 + 60 * 60000), "a", 4.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_test").as[(Timestamp, Long)].collect().toMap
    // first window emitted with exactly the 2 on-time rows (late row dropped);
    // window starts align to the epoch-floored 5-minute boundary
    val w0 = new Timestamp(t0 - (t0 / 1000 % 300) * 1000)
    assert(rows(w0) == 2L)
  }

  test("stream-stream interval join equals the batch interval join") {
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // left: one observation per key per ~97s; right: updates at offset
    // timestamps, some inside the 2-minute lookback, some outside
    val lrows = (0 until 60).map(i =>
      Ev(new Timestamp(t0 + i * 97000L), s"k${i % 3}", i.toDouble))
    val rrows = (0 until 80).map(i =>
      Ev(new Timestamp(t0 + i * 71000L - 30000L), s"k${i % 3}", i * 10.0))

    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame,
            stream: Boolean) = {
      val rr = r.select(col("ts").as("rts"), col("k"), col("v").as("rv"))
      if (stream)
        EventStreams.intervalJoinStream(l, rr, "k", "ts", "rts", "2 minutes", "10 minutes")
      else EventStreams.intervalJoin(l, rr, "k", "ts", "rts", "2 minutes")
    }

    val lMem = MemoryStream[Ev]
    val rMem = MemoryStream[Ev]
    val q = run(lMem.toDF(), rMem.toDF(), stream = true)
      .select("k", "ts", "v", "rts", "rv").writeStream
      .format("memory").queryName("ssj_test").outputMode("append").start()
    // replay in two batches, split across sides asymmetrically (the join
    // buffers whichever side arrives first)
    lMem.addData(lrows.take(30): _*); rMem.addData(rrows.take(20): _*)
    q.processAllAvailable()
    lMem.addData(lrows.drop(30): _*); rMem.addData(rrows.drop(20): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ssj_test")
      .as[(String, Timestamp, Double, Timestamp, Double)].collect().toSet
    val batch = run(lrows.toDF(), rrows.toDF().select(col("ts"), col("k"), col("v")),
        stream = false)
      .select("k", "ts", "v", "rts", "rv")
      .as[(String, Timestamp, Double, Timestamp, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming prevailing join: as-of semantics + agreement with AsOf.joinBackward") {
    import graft.streaming.{EventStreams, TaggedEvent, PrevailingOut}
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(i: Int, k: String, side: String, v: Double) =
      TaggedEvent(k, new Timestamp(t0 + i * 1000L), side, v)

    val mem = MemoryStream[TaggedEvent]
    val q = EventStreams.prevailingJoin(mem.toDS()).writeStream
      .format("memory").queryName("pj_test").outputMode("append").start()
    // batch 1: quote@0 = 10; trade@1 before any same-ts quote; quote@2 = 11
    mem.addData(ev(0, "A", "q", 10.0), ev(1, "A", "t", 99.0), ev(2, "A", "q", 11.0))
    q.processAllAvailable()
    // batch 2: state carries: trade@3 sees quote 11; trade@0 on key B: no quote
    mem.addData(ev(3, "A", "t", 98.0), ev(0, "B", "t", 50.0))
    q.processAllAvailable()
    // same-ts: quote orders before trade at equal timestamps
    mem.addData(ev(5, "A", "q", 12.0), ev(5, "A", "t", 97.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("pj_test").as[PrevailingOut].collect()
      .map(r => (r.key, r.ts.getTime - t0) -> r.prevailing).toMap
    assert(out(("A", 1000L)).contains(10.0))
    assert(out(("A", 3000L)).contains(11.0))
    assert(out(("B", 0L)).isEmpty)
    assert(out(("A", 5000L)).contains(12.0))

    // strict mode (allowExact=false, the Lee-Ready us-1 semantics): the
    // same-ts quote@5 is lookahead — the trade must read quote@2 instead
    val mem2 = MemoryStream[TaggedEvent]
    val q2 = EventStreams.prevailingJoin(mem2.toDS(), allowExact = false)
      .writeStream.format("memory").queryName("pj_strict_test")
      .outputMode("append").start()
    mem2.addData(ev(0, "A", "q", 10.0), ev(2, "A", "q", 11.0),
      ev(5, "A", "q", 12.0), ev(5, "A", "t", 97.0))
    q2.processAllAvailable()
    q2.stop()
    val strict = spark.table("pj_strict_test").as[PrevailingOut].collect()
      .map(r => (r.key, r.ts.getTime - t0) -> r.prevailing).toMap
    assert(strict(("A", 5000L)).contains(11.0), s"strict: $strict")

    // the batch as-of join agrees on the same rows
    val trades = Seq(("A", 1L, 99.0), ("A", 3L, 98.0), ("B", 0L, 50.0), ("A", 5L, 97.0))
      .toDF("key", "t", "value")
    val quotes = Seq(("A", 0L, 10.0), ("A", 2L, 11.0), ("A", 5L, 12.0))
      .toDF("key", "t", "prevailing")
    val batch = graft.ops.AsOf.joinBackward(trades, quotes, Seq("key"), "t",
        Seq("prevailing"))
      .as[(String, Long, Double, Option[Double])].collect()
      .map(r => (r._1, r._2 * 1000L) -> r._4).toMap
    assert(batch == out)
  }

  test("streamed TAQ trade bins equal the batch bins (A7 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def tr(i: Int, sym: String, px: Double, vol: Long, sign: Double,
           mid: Option[Double]) =
      AlignedTrade(new Timestamp(t0 + i * 1000L), sym, px, vol, sign, mid)
    val trades = Seq(
      tr(0, "A", 10.0, 100, 1.0, Some(9.99)),
      tr(10, "A", 10.02, 50, -1.0, Some(10.03)),
      tr(70, "A", 10.05, 200, 1.0, Some(10.04)),  // second bin
      tr(5, "B", 50.0, 10, 1.0, None),            // no prev_mid: excluded from spread
      tr(20, "B", 50.10, 30, -1.0, Some(50.12)))
    val agg = (df: org.apache.spark.sql.DataFrame) =>
      graft.streaming.EventStreams.binTradesStream(df, "ts", "1 minute", "2 minutes")
        .select(col("symbol"), col("bin_start"), col("volume"), col("n_trades"),
          col("first_price"), col("last_price"),
          round(col("vwap"), 9).as("vwap"),
          round(col("eff_halfspread"), 9).as("es"))

    val mem = MemoryStream[AlignedTrade]
    val q = agg(mem.toDF()).writeStream
      .format("memory").queryName("bins_test").outputMode("complete").start()
    mem.addData(trades: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("bins_test")
      .as[(String, Timestamp, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    val batch = agg(trades.toDF())
      .as[(String, Timestamp, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 3) // A: 2 bins, B: 1 bin
    // B's first trade has no prev_mid: spread uses only the second trade
    val b = streamed.find(_._1 == "B").get
    assert(math.abs(b._8 - (-1.0 * (50.10 - 50.12))) < 1e-9)
  }

  test("streaming exact dedup keeps first per key across batches, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val mem = MemoryStream[Ev]
    val q = graft.streaming.EventStreams
      .dedupStream(mem.toDF(), "ts", "10 minutes", Seq("k"))
      .writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    // batch 1: k0 twice (in-batch dup), k1 once
    mem.addData(Ev(new Timestamp(t0), "k0", 1.0),
      Ev(new Timestamp(t0 + 1000), "k0", 2.0),
      Ev(new Timestamp(t0 + 2000), "k1", 3.0))
    q.processAllAvailable()
    // batch 2: k0 again within the watermark -> still a dup, dropped;
    // k2 is new
    mem.addData(Ev(new Timestamp(t0 + 5000), "k0", 4.0),
      Ev(new Timestamp(t0 + 6000), "k2", 5.0))
    q.processAllAvailable()
    // batch 3 advances the WATERMARK (watermarks update between
    // micro-batches) so k0's state row (event time t0) expires...
    mem.addData(Ev(new Timestamp(t0 + 30 * 60000), "k3", 0.0))
    q.processAllAvailable()
    // ...and batch 4's fresh k0 then passes (bounded-state semantics)
    mem.addData(Ev(new Timestamp(t0 + 31 * 60000), "k0", 6.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dedup_test").as[Ev].collect()
    val k0 = out.filter(_.k == "k0").map(_.v).toSet
    assert(out.count(_.k == "k1") == 1 && out.count(_.k == "k2") == 1)
    assert(k0 == Set(1.0, 6.0), s"k0 rows: $k0") // first + post-expiry, dups dropped

    // batch twin: the same keep-one-per-key semantics as Dedup keepFirst
    val batchRows = Seq(Ev(new Timestamp(t0), "k0", 1.0),
      Ev(new Timestamp(t0 + 1000), "k0", 2.0), Ev(new Timestamp(t0 + 2000), "k1", 3.0))
    val batchDedup = graft.ops.Dedup.keepFirst(batchRows.toDF(), Seq("k"),
      Seq(col("ts"))).select("k").as[String].collect().toSet
    assert(batchDedup == Set("k0", "k1"))
  }

  test("flatMapGroupsWithState running drawdown carries state across batches") {
    import graft.streaming.{EventStreams, KeyedValue, RunningOut}
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def kv(i: Int, k: String, v: Double) = KeyedValue(k, new Timestamp(t0 + i * 1000L), v)

    val mem = MemoryStream[KeyedValue]
    val q = EventStreams.runningDrawdown(mem.toDS()).writeStream
      .format("memory").queryName("dd_test").outputMode("append").start()
    // batch 1: a: +1, +2 (cum 1, 3; peak 3); b: -1 (cum -1, peak -1)
    mem.addData(kv(0, "a", 1.0), kv(1, "a", 2.0), kv(0, "b", -1.0))
    q.processAllAvailable()
    // batch 2: state must persist: a: -2 -> cum 1, dd = 1-3 = -2
    mem.addData(kv(2, "a", -2.0), kv(1, "b", 3.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dd_test").as[RunningOut].collect()
      .map(r => (r.key, r.ts.getTime - t0) -> (r.cum, r.drawdown)).toMap
    assert(out(("a", 0L)) == ((1.0, 0.0)))
    assert(out(("a", 1000L)) == ((3.0, 0.0)))
    assert(out(("a", 2000L)) == ((1.0, -2.0)))
    assert(out(("b", 0L)) == ((-1.0, 0.0)))
    assert(out(("b", 1000L)) == ((2.0, 0.0)))

    // batch-mode twin: the same operator on a static Dataset matches the
    // window-function form (cumsum + running max)
    val staticEvents = Seq(kv(0, "a", 1.0), kv(1, "a", 2.0), kv(2, "a", -2.0),
      kv(0, "b", -1.0), kv(1, "b", 3.0))
    val viaState = EventStreams.runningDrawdown(staticEvents.toDS())
      .collect().map(r => (r.key, r.ts.getTime - t0) -> (r.cum, r.drawdown)).toMap
    assert(viaState == out)
  }

  test("checkpoints restore across a restart under either checkpoint file manager") {
    import graft.streaming.{EventStreams, KeyedValue, LocalCheckpointFiles, RunningOut}
    import org.apache.spark.sql.{DataFrame, Dataset, Row}
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val rows = (0 until 240).map(i =>
      KeyedValue(s"k${i % 4}", new Timestamp(t0 + i * 37000L), (i % 7) - 3.0))
    val (h1, h2) = rows.splitAt(150)
    // far ahead of h2: moves the watermark past h2's windows for the last batch
    val sentinel = KeyedValue("zz", new Timestamp(t0 + 100 * 3600000L), 0.0)
    val fed = rows :+ sentinel
    val sparkManager =
      LocalCheckpointFiles.confKey -> classOf[FileContextBasedCheckpointFileManager].getName

    // no watermark-only batches, so a stop never races one
    withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      for (sparkFirst <- Seq(true, false)) {
        val ck = java.nio.file.Files.createTempDirectory("ckpt-restart").toString
        val byUser = MemoryStream[KeyedValue]
        val byType = MemoryStream[KeyedValue]
        val drawdown = new java.util.concurrent.ConcurrentLinkedQueue[RunningOut]
        val tumbling = new java.util.concurrent.ConcurrentLinkedQueue[Row]
        val toDrawdown: (Dataset[RunningOut], Long) => Unit = (b, _) => b.collect().foreach(drawdown.add)
        val toTumbling: (DataFrame, Long) => Unit = (b, _) => b.collect().foreach(tumbling.add)

        /** Starts both queries on their checkpoints, feeds each batch and
          * stops them; returns the tumbling query's last watermark.
          */
        def half(underSpark: Boolean, batches: Seq[KeyedValue]*): String = {
          def run(): String = {
            val qs = Seq(
              EventStreams.runningDrawdown(byUser.toDS()).writeStream.foreachBatch(toDrawdown)
                .option("checkpointLocation", s"$ck/drawdown").start(),
              EventStreams.tumblingAggStream(byType.toDF(), "key", "ts", "value", "5 minutes",
                  "10 minutes")
                .writeStream.outputMode("append").foreachBatch(toTumbling)
                .option("checkpointLocation", s"$ck/tumbling").start())
            try batches.foreach { b =>
              byUser.addData(b)
              byType.addData(b)
              qs.foreach(_.processAllAvailable())
            } finally qs.foreach(_.stop())
            qs(1).lastProgress.eventTime.get("watermark")
          }
          if (underSpark) withConf(sparkManager)(run()) else run()
        }
        half(sparkFirst, h1)
        val watermark = half(!sparkFirst, h2, Seq(sentinel))
        def crc(q: String, batch: Int) = new java.io.File(s"$ck/$q/commits/.$batch.crc").exists
        val crcs = Seq("drawdown", "tumbling").map(q => q -> (crc(q, 0), crc(q, 1)))
        JavaUtils.deleteRecursively(new java.io.File(ck))

        val ddBatch = EventStreams.runningDrawdown(fed.toDS()).collect()
        assert(drawdown.asScala.toSeq.sortBy(r => (r.key, r.ts.getTime)) ==
          ddBatch.toSeq.sortBy(r => (r.key, r.ts.getTime)), s"sparkFirst=$sparkFirst")
        val wm = Timestamp.from(java.time.Instant.parse(watermark))
        val aggBatch = EventStreams.tumblingAgg(fed.toDF(), "key", "ts", "value", "5 minutes")
          .where(col("w_end") <= lit(wm)).collect()
        assert(tumbling.asScala.toSeq.map(_.toString).sorted == aggBatch.toSeq.map(_.toString).sorted,
          s"sparkFirst=$sparkFirst")
        // a window holding rows of both halves: its first half came back from the state store
        assert(aggBatch.exists(r => r.getAs[Timestamp]("w_start").getTime <= h1.last.ts.getTime &&
          h2.head.ts.getTime < r.getAs[Timestamp]("w_end").getTime))
        // each half wrote through its own manager: only Spark's leaves .crc sidecars
        for ((q, (first, second)) <- crcs)
          assert(first == sparkFirst && second == !sparkFirst, s"$q sparkFirst=$sparkFirst")
      }
    }
  }

  test("a tuned session's stateful query writes its checkpoint with no .crc sidecar") {
    import graft.streaming.{EventStreams, KeyedValue}
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("ckpt-nocrc")
    val mem = MemoryStream[KeyedValue]
    val q = EventStreams.runningDrawdown(mem.toDS()).writeStream
      .format("memory").queryName("dd_nocrc").outputMode("append")
      .option("checkpointLocation", ck.toString).start()
    for (b <- 0 until 3) {
      mem.addData(KeyedValue(s"k$b", new Timestamp(1700000000000L + b * 1000L), 1.0))
      q.processAllAvailable()
    }
    q.stop()
    val files = java.nio.file.Files.walk(ck).iterator.asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(ck.relativize(_).toString).toList
    JavaUtils.deleteRecursively(ck.toFile)
    // the checkpoint is all there: offsets, commits and state-store deltas of 3 batches
    assert(Seq("offsets/2", "commits/2").forall(files.contains), files)
    assert(files.count(_.endsWith("/3.delta")) == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      files)
    // Hadoop's local writer (which forks chmod and readlink per file)
    // leaves a hidden `.<name>.crc` sidecar per file; Spark's own state
    // checksum files are `<name>.crc`
    assert(files.exists(_.endsWith("/3.delta.crc")), files)
    assert(!files.exists(f => f.split('/').last.matches("\\..*\\.crc")), files)
  }

  test("streaming LSH near-dup candidates equal batch candidate pairs across batches") {
    import graft.streaming.{NearDupStream, LshCandidate}
    import graft.text.{NearDup, TextOps}
    implicit val sqlCtx = spark.sqlContext
    // corpus with planted near-dups: bases + one-word mutations
    // (alphabetic vocab — digits are token separators in TextOps.tokens)
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 300).map(i =>
      "" + ('a' + i % 26).toChar + ('a' + (i / 26) % 26).toChar + ('a' + i % 7).toChar)
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(300))).mkString(" ")
    val bases = (0 until 15).map(i => (i.toLong, words(60)))
    val dups = bases.take(6).map { case (i, t) =>
      (100L + i, t.split(" ").toIndexedSeq.updated(3, "zzz").mkString(" "))
    }
    val docs = (bases ++ dups).map { case (i, t) => DocRow(i, t) }

    val mem = MemoryStream[DocRow]
    val q = NearDupStream.lshCandidates(mem.toDF(), "doc_id", "text",
        maxBucketSize = 1000)
      .writeStream.format("memory").queryName("lsh_stream_test")
      .outputMode("append").start()
    // split so some near-dup pairs STRADDLE micro-batches (state carry)
    mem.addData(docs.take(12): _*); q.processAllAvailable()
    mem.addData(docs.drop(12): _*); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("lsh_stream_test")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    // batch twin: the SAME signature + banding into candidatePairs
    val sh = docs.toDF()
      .select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val sig = sh.select(col("doc_id").as("id"),
      NearDup.minHashSig(col("sh"), 64).as("sig"))
    val batch = NearDup.candidatePairs(
        NearDup.lshBands(sig, "id", "sig", 16, 4), "id")
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    assert(streamed.nonEmpty)
    // planted near-dups carry a high signature-agreement estimate
    val ests = spark.table("lsh_stream_test").as[LshCandidate].collect()
    assert(ests.exists(_.est_jaccard > 0.5))
  }

  test("LSH near-dup bucket cap drops degenerate buckets (bounded state)") {
    import graft.streaming.NearDupStream
    implicit val sqlCtx = spark.sqlContext
    // 5 identical docs -> every band collides in one bucket; cap 3
    val docs = (1L to 5L).map(i => DocRow(i, "alpha beta gamma delta epsilon zeta eta theta"))
    val mem = MemoryStream[DocRow]
    val q = NearDupStream.lshCandidates(mem.toDF(), "doc_id", "text",
        maxBucketSize = 3)
      .writeStream.format("memory").queryName("lsh_cap_test")
      .outputMode("append").start()
    mem.addData(docs: _*); q.processAllAvailable()
    q.stop()
    val pairs = spark.table("lsh_cap_test")
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    // the 4th arrival tips each bucket over the cap and the 5th finds it
    // inert: pairs exist among 4 docs only (6 pairs), one doc is absent
    assert(pairs.size == 6, s"pairs: $pairs")
    val members = pairs.flatMap(p => Set(p._1, p._2))
    assert(members.size == 4)
  }

  test("streaming ANN candidates equal the batch LSH bucket pairs across batches") {
    import graft.streaming.{AnnStream, AnnCandidate}
    import graft.sim.Similarity
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(9)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val bases = (0 until 20).map(i => (i.toLong, vec()))
    val dups = bases.take(8).map { case (i, v) =>
      (100L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val all = bases ++ dups
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.cosineCandidates(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        planes = 8, tables = 8, maxBucketSize = 1000)
      .writeStream.format("memory").queryName("ann_stream_test")
      .outputMode("append").start()
    mem.addData(all.take(17): _*); q.processAllAvailable()
    mem.addData(all.drop(17): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ann_stream_test")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    // batch twin: cosineDups with no threshold = the candidate set
    val batch = Similarity.cosineDups(all.toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = -2.0, planes = 8, tables = 8)
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    assert(streamed.nonEmpty)
    // planted near-identical vectors score ~1
    val ests = spark.table("ann_stream_test").as[AnnCandidate].collect()
    assert(ests.exists(_.cos > 0.99))
  }

  test("ANN stream excludes zero-norm vectors instead of emitting NaN candidates") {
    import graft.streaming.{AnnStream, AnnCandidate}
    implicit val sqlCtx = spark.sqlContext
    // two near-identical vectors plus an all-zero one: the zero vector
    // must neither emit a NaN pair nor poison later pairings as a
    // stored bucket entry (0/0 and x/0 cosines are undefined — the
    // batch twin drops null/NaN cosines the same way)
    val v = Array.fill(8)(0.5f)
    val rows = Seq((1L, v), (2L, Array.fill(8)(0.0f)), (3L, v.map(x => x + 0.001f)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.cosineCandidates(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        planes = 4, tables = 4, maxBucketSize = 100)
      .writeStream.format("memory").queryName("ann_zero_test")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    q.stop()
    val cands = spark.table("ann_zero_test").as[AnnCandidate].collect()
    assert(cands.forall(c => !c.cos.isNaN && c.id_a != 2L && c.id_b != 2L),
      s"zero-norm leak: ${cands.toSeq}")
    assert(cands.exists(c => c.id_a == 1L && c.id_b == 3L && c.cos > 0.99))
  }

  test("LSH near-dup TTL evicts stale bucket entries by event time") {
    import graft.streaming.NearDupStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    def d(id: Long, offMin: Long) = TsDocRow(id, new Timestamp(t0 + offMin * 60000L), text)

    val mem = MemoryStream[TsDocRow]
    val q = NearDupStream.lshCandidates(mem.toDF(), "doc_id", "text",
        tsCol = Some("ts"), ttlMs = 60 * 60000L) // 1h window
      .writeStream.format("memory").queryName("lsh_ttl_test")
      .outputMode("append").start()
    // doc 1 at t0; doc 2 at +30min (within TTL -> pair);
    // doc 3 at +120min (both stale by then -> no pair with 1 or 2)
    mem.addData(d(1, 0)); q.processAllAvailable()
    mem.addData(d(2, 30)); q.processAllAvailable()
    mem.addData(d(3, 120)); q.processAllAvailable()
    // doc 4 at +150min pairs with 3 only (within its 1h lookback)
    mem.addData(d(4, 150)); q.processAllAvailable()
    q.stop()
    val pairs = spark.table("lsh_ttl_test")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"pairs: $pairs")
  }

  test("releasable batch ops unpersist their internal cache via the handle") {
    import graft.streaming.{AnnStream, NearDupStream}
    val cm = spark.sharedState.cacheManager
    cm.clearCache()

    val docs = Seq((1L, "aa bb cc dd ee ff"), (2L, "aa bb cc dd ee gg"))
      .toDF("doc_id", "text")
    val (cands, release) =
      NearDupStream.lshCandidatesReleasable(docs, "doc_id", "text")
    cands.collect()
    assert(!cm.isEmpty, "batch path should persist the signature frame")
    release()
    assert(cm.isEmpty, "release handle should unpersist the op's cache")

    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val (acands, arelease) =
      AnnStream.cosineCandidatesReleasable(vecs, "vec_id", "embedding")
    acands.collect()
    assert(!cm.isEmpty, "batch path should persist the projection frame")
    arelease()
    assert(cm.isEmpty, "release handle should unpersist the op's cache")
  }
}
