package graft

import org.apache.spark.sql.DataFrame
import graft.core.Scope
import graft.queries.Catalog

/** The query scope owns the caches its ops take: closing it leaves the
  * `CacheManager` empty whichever catalog query ran, while outside any
  * scope an op keeps its cache for the caller. Two scopes open on two
  * threads release only their own caches, and a plan that both cached
  * goes with the last of them to close.
  */
class ScopeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def cm = spark.sharedState.cacheManager
  private def entries = org.apache.spark.sql.graftx.CacheEntries(spark)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs the bodies on threads of their own, all started before any is
    * joined, and returns their results in order.
    */
  private def onThreads[T](bodies: Seq[() => T]): Seq[T] = {
    val out = new Array[Either[Throwable, T]](bodies.size)
    val threads = bodies.zipWithIndex.map { case (b, i) =>
      new Thread(() => out(i) = try Right(b()) catch { case e: Throwable => Left(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toSeq.map(_.fold(e => throw e, identity))
  }

  // a small aggregate whose plan is the same on every call
  private def frame = spark.range(0, 1000).selectExpr("id % 7 AS k").groupBy("k").count()

  private def sortedRows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("every catalog query leaves the CacheManager empty once its scope closes") {
    cm.clearCache()
    val runs = Catalog.queries.keys.toSeq.sorted.map { name =>
      val (df, scope) = Scope.open(Catalog.queries(name)(spark, dir))
      noop(df)
      val held = entries
      scope.close()
      val left = entries
      cm.clearCache() // a leak must not count against the next query
      (name, held, left)
    }
    assert(runs.size == 88)
    assert(runs.count(_._2 > 0) >= 10, "too few queries cache anything: the check is vacuous")
    val leaks = runs.collect { case (n, _, left) if left > 0 => s"$n: $left" }
    assert(leaks.isEmpty, s"cache entries left after the scope closed: ${leaks.mkString(", ")}")
  }

  test("an op run outside any scope keeps its cache") {
    cm.clearCache()
    noop(Catalog.queries("b1_backtest")(spark, dir))
    assert(entries == 2, "b1_backtest's two caches stay with the caller")
    cm.clearCache()
  }

  test("two scopes on two threads: closing one leaves the other's caches and rows intact") {
    cm.clearCache()
    val names = Seq("b1_backtest", "t_minhash")
    val own = names.map { n =>
      val (df, scope) = Scope.open(Catalog.queries(n)(spark, dir))
      noop(df)
      try entries finally scope.close()
    }
    assert(own.forall(_ > 0) && cm.isEmpty)
    val Seq((_, aScope), (b, bScope)) = onThreads(names.map(n => () => {
      val (df, scope) = Scope.open(Catalog.queries(n)(spark, dir))
      noop(df)
      (df, scope)
    }))
    val bRows = sortedRows(b)
    assert(entries == own.sum)
    aScope.close()
    assert(entries == own(1), "closing one scope released the other's caches")
    assert(sortedRows(b) == bRows)
    bScope.close()
    assert(cm.isEmpty)
  }

  test("a plan cached by two scopes goes only when the last of them closes") {
    cm.clearCache()
    val want = sortedRows(frame)
    val Seq(s1, s2) = onThreads(Seq.fill(2)(() => Scope.open(Scope.persist(frame).count())._2))
    assert(entries == 1, "identical plans share one entry")
    s1.close()
    assert(frame.storageLevel.useMemory, "the other scope still holds the shared entry")
    assert(sortedRows(frame) == want)
    s2.close()
    assert(cm.isEmpty)
    // a scope that releases the shared entry early only gives up its own hold
    val (_, outer) = Scope.open(Scope.persist(frame))
    onThreads(Seq(() => Scope.within { Scope.persist(frame); Scope.release(frame) }))
    assert(entries == 1)
    outer.close()
    assert(cm.isEmpty)
  }

  test("a thread started inside a scope registers with it; a cache from outside stays") {
    cm.clearCache()
    Scope.within {
      onThreads(Seq(() => Scope.persist(frame).count()))
      assert(entries == 1)
    }
    assert(cm.isEmpty, "the child thread's cache outlived the scope")
    val mine = frame.persist()
    Scope.within(Scope.persist(frame).count())
    assert(mine.storageLevel.useMemory, "the scope released a cache it did not take")
    mine.unpersist()
  }

  test("an op that persists and releases a plan the caller cached outside every scope leaves it") {
    import spark.implicits._
    cm.clearCache()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    // hits persists and then releases exactly this plan
    val mine = edges.select("src", "dst").persist()
    Scope.within(noop(graft.graph.Centrality.hits(edges, iters = 3)))
    assert(mine.storageLevel.useMemory, "the op's release evicted the caller's cache")
    assert(entries == 1)
    mine.unpersist()
    // outside any scope the same release is a plain unpersist
    graft.graph.Centrality.hits(edges.select("src", "dst").persist(), iters = 3).count()
    assert(cm.isEmpty)
  }
}
