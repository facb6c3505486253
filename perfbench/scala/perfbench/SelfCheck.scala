package perfbench

/** Prints the records [[Loop.attempt]] makes for one completing and one
  * throwing operation; perfbench/tests/test_loop.py checks that the
  * throwing one is counted as failed and carries no timing sample.
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val ok = Loop.attempt("completes")(Map("lat_s" -> 0.5))
    val failed = Loop.attempt("throws") {
      val t0 = System.nanoTime()
      if (args.isEmpty) throw new IllegalStateException("injected failure")
      Map("lat_s" -> (System.nanoTime() - t0) / 1e9)
    }
    println(Json.render(Seq(ok, failed)))
  }
}
