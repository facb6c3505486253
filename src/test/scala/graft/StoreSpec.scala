package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Store

/** S7 keyed object store (`utils/store.py:19-128`): named dump/load of
  * small JSON values (plain + gzip) and DataFrames-as-parquet, contains,
  * name iteration, remove — and cross-format parity with what Python's
  * `json.dump` would have written. Plus the S5 read-first frame cache
  * ([[Store.cached]]).
  */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  test("named small values round-trip (json and gzip), contains + names + remove") {
    for (gz <- Seq(false, true)) {
      withTempDir("store") { dir =>
        val store = new Store(dir.toString, gz = gz)
        val stats = Map(
          "car" -> -0.0123, "n" -> 42L, "window" -> Seq(-1L, 1L),
          "model" -> "ffm", "robust" -> true, "note" -> null)
        store.dump(stats, "eventstudy_params")
        assert(store.contains("eventstudy_params") && !store.contains("absent"))
        val back = store.load("eventstudy_params").asInstanceOf[Map[String, Any]]
        assert(back("car") == -0.0123 && back("n") == 42L)
        assert(back("window") == Seq(-1L, 1L))
        assert(back("model") == "ffm" && back("robust") == true && back("note") == null)
        // store['x'] = value; names iteration; delete
        store.dump(Seq(1L, 2L, 3L), "xs")
        assert(store.names == Seq("eventstudy_params", "xs"))
        store.remove("xs")
        assert(store.names == Seq("eventstudy_params"))
        // ints dump as JSON numbers and come back as Long (documented)
        store.dump(Map("k" -> 7), "i")
        assert(store.load("i") == Map("k" -> 7L))
      }
    }
  }

  test("wire format matches python json.dump (cross-engine readable)") {
    withTempDir("store") { d =>
      val dir = d.toString
      val store = new Store(dir)
      store.dump(Map("a" -> 1L, "b" -> Seq("x", "y"), "c" -> 2.5), "obj")
      val txt = new String(Files.readAllBytes(java.nio.file.Paths.get(store.pathname("obj"))))
      // canonical compact JSON — exactly what json.load on the other side parses
      assert(txt.contains("\"a\":1") && txt.contains("[\"x\",\"y\"]") && txt.contains("2.5"))
      // and a hand-written (python-style) file reads back fine
      Files.write(java.nio.file.Paths.get(store.pathname("frompy")),
        """{"mean": 0.01, "ids": [1, 2, 3], "ok": true}""".getBytes)
      val back = store.load("frompy").asInstanceOf[Map[String, Any]]
      assert(back("mean") == 0.01 && back("ids") == Seq(1L, 2L, 3L) && back("ok") == true)
    }
  }

  test("DataFrames store as parquet and re-read as scans with pushdown") {
    withTempDir("store") { dir =>
      val store = new Store(dir.toString)
      val df = Seq((1L, "a", 0.1), (2L, "b", 0.2), (3L, "c", 0.3))
        .toDF("id", "tag", "v")
      store.dumpFrame(df, "signals")
      assert(store.contains("signals"))
      val back = store.loadFrame(spark, "signals")
      assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
        Seq((1L, "a", 0.1), (2L, "b", 0.2), (3L, "c", 0.3)))
      // the re-read is a parquet relation: filters reach the scan
      val plan = back.where(col("id") === 2L).queryExecution.executedPlan.toString
      assert(plan.contains("Parquet") && plan.contains("PushedFilters"))
      store.remove("signals")
      assert(!store.contains("signals"))
    }
  }

  test("read-first round trip: second call reads parquet, not the builder") {
    withTempDir("rcache") { dir =>
      val store = new Store(dir.toString)
      var builds = 0
      def build = { builds += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
      val first = store.cached(spark, "op", Seq("x", 5))(build)
      assert(first.count() == 2 && builds == 1)
      val second = store.cached(spark, "op", Seq("x", 5))(build)
      assert(builds == 1) // cache hit — build not invoked again
      assert(second.orderBy("k").as[(Int, String)].collect().toSeq ==
        Seq((1, "a"), (2, "b")))
      // different args -> different name -> rebuild
      store.cached(spark, "op", Seq("x", 6))(build)
      assert(builds == 2)
      // dumpFrame overwrites ('w' mode)
      store.dumpFrame(Seq((9, "z")).toDF("k", "v"), Store.cacheName("op", Seq("x", 5)))
      val re = store.loadFrame(spark, Store.cacheName("op", Seq("x", 5)))
      assert(re.as[(Int, String)].collect().toSeq == Seq((9, "z")))
    }
  }

  test("cross-session: session A materializes, session B serves reads (cache_ret)") {
    // the reference pregenerates `cache_ret` in a scheduled job and serves
    // lookups from the cache in later sessions (`crsp.py:450-461`); here
    // the store is a filesystem prefix, so a SECOND SparkSession —
    // sharing nothing with the writer but the folder — must hit the
    // materialization without invoking the build (round-9 verdict #6).
    withTempDir("rcache-x") { dir =>
      val store = new Store(dir.toString)
      var builds = 0
      def build = { builds += 1; Seq((1, 0.05), (2, -0.02), (3, 0.11)).toDF("permno", "ret") }
      // session A: the scheduled materialization round
      store.cached(spark, "cache_ret", Seq(19950101, 20011231))(build)
      assert(builds == 1)
      // session B: a fresh session (own state, own catalog) over the same folder
      val b = spark.newSession()
      assert(b ne spark)
      val served = store.cached(b, "cache_ret", Seq(19950101, 20011231)) {
        fail("session B must serve from the cache, not rebuild"); ???
      }
      assert(served.sparkSession eq b)
      assert(served.orderBy("permno").collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
        Seq((1, 0.05), (2, -0.02), (3, 0.11)))
      assert(builds == 1) // the build never ran in session B
      // and the served frame is a parquet SCAN (pushdown-capable), not lineage
      val scanned = served.where(col("permno") === 2)
      assert(scanned.queryExecution.executedPlan.toString.contains("Parquet"))
    }
  }

  test("gz mode uses store.py's '<name>.gz' pathname and mixed-format folders read as one store") {
    withTempDir("store") { d =>
      val dir = d.toString
      val plain = new Store(dir)
      val gzStore = new Store(dir, gz = true)
      // extension parity with store.py pathname() (store.py:82-84)
      assert(gzStore.pathname("x").endsWith("/x.gz"))
      assert(plain.pathname("x").endsWith("/x.json"))
      plain.dump(Map("k" -> 1L), "a")
      gzStore.dump(Map("k" -> 2L), "b")
      // either store sees BOTH entries and loads each with the right codec
      for (s <- Seq(plain, gzStore)) {
        assert(s.names == Seq("a", "b"))
        assert(s.contains("a") && s.contains("b"))
        assert(s.load("a") == Map("k" -> 1L) && s.load("b") == Map("k" -> 2L))
      }
      // python-side parity: gzip.open('wt') + json.dump writes '<name>.gz'
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, "frompy.gz")))
      out.write("""{"mean": 0.5, "ids": [7]}""".getBytes("UTF-8")); out.close()
      assert(plain.load("frompy") == Map("mean" -> 0.5, "ids" -> Seq(7L)))
      plain.remove("b")
      assert(plain.names == Seq("a", "frompy"))
    }
  }

  test("a cross-format overwrite shadows the sibling file: both handles read the new value") {
    withTempDir("store") { d =>
      val dir = d.toString
      val plain = new Store(dir)
      val gzStore = new Store(dir, gz = true)
      gzStore.dump(Map("v" -> 1L), "a")          // writes a.gz
      plain.dump(Map("v" -> 2L), "a")            // writes a.json, must delete a.gz
      assert(plain.load("a") == Map("v" -> 2L))
      assert(gzStore.load("a") == Map("v" -> 2L), "stale sibling survived the overwrite")
      gzStore.dump(Map("v" -> 3L), "a")          // and back the other way
      assert(plain.load("a") == Map("v" -> 3L) && gzStore.load("a") == Map("v" -> 3L))
      assert(plain.names == Seq("a"))
      // a dump also shadows a legacy '.json.gz' entry of the same name
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, "old.json.gz")))
      out.write("""{"v": 9}""".getBytes("UTF-8")); out.close()
      plain.dump(Map("v" -> 10L), "old")
      assert(gzStore.load("old") == Map("v" -> 10L))
    }
  }

  test("legacy '<name>.json.gz' entries stay visible after the '.gz' extension change") {
    withTempDir("store") { d =>
      val dir = d.toString
      // what the pre-parity Store (gz mode) wrote on disk
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, "old.json.gz")))
      out.write("""{"v": 9}""".getBytes("UTF-8")); out.close()
      for (s <- Seq(new Store(dir), new Store(dir, gz = true))) {
        assert(s.names == Seq("old"), s"names: ${s.names}") // not a corrupted 'old.json'
        assert(s.contains("old"))
        assert(s.load("old") == Map("v" -> 9L))
      }
      val plain = new Store(dir)
      plain.remove("old")
      assert(plain.names.isEmpty && !plain.contains("old"))
    }
  }

  test("names that escape the store folder are rejected before any file op") {
    withTempDir("store") { dir =>
      withTempDir("victim") { victim =>
        Files.write(victim.resolve("keep.json"), "{}".getBytes)
        val store = new Store(dir.toString)
        val rel = "../" + victim.getFileName.toString + "/keep"
        // (an absolute child like "/etc/passwd" is relativized under the
        // store root by java.io.File(parent, child), and a bare ".." gains
        // the extension suffix — both land inside the root, harmless; the
        // dangerous class is a name whose '..' segment resolves OUTSIDE)
        for (bad <- Seq(rel, "../x", "a/../../x")) {
          intercept[IllegalArgumentException](store.remove(bad))
          intercept[IllegalArgumentException](store.dump(Map("x" -> 1L), bad))
          intercept[IllegalArgumentException](store.load(bad))
        }
        assert(Files.exists(victim.resolve("keep.json")))
      }
    }
  }

  test("unsupported value types are rejected with a clear error") {
    withTempDir("store") { dir =>
      val store = new Store(dir.toString)
      val e = intercept[IllegalArgumentException](store.dump(new Object, "bad"))
      assert(e.getMessage.contains("JSON-representable"))
    }
  }
}
