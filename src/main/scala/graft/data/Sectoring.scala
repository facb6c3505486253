package graft.data

/** Fama-French Siccodes industry-definition parse (reference
  * `FFReader.sectoring` `ffreader.py:66-150`): the text format alternates
  * sector headers ("49 Other  Almost Nothing") with SIC ranges
  * ("0100-0199 Agricultural production - crops"). Output is a
  * BREAKPOINT table (sic, name, description) — one row per range start
  * plus the reference's "Other" gap-filling (sic 0, max(end//100+1)*100,
  * and each sic2 gap when the Other sector lists no ranges) — consumed
  * by backward as-of / interval lookup on a 4-digit SIC (J13).
  *
  * Gap-fill adjacency follows FILE order like the reference's pandas
  * insertion order (the files interleave e.g. 2048-2048 inside sector 1
  * before sector 2's 2000-2009).
  */
object Sectoring {

  final case class SicRow(sic: Int, name: String, description: String)

  def parseSiccodes(lines: Seq[String], nSectors: Int): Seq[SicRow] = {
    var ind = "???"
    var desc = ""
    var other = ""
    val labels = scala.collection.mutable.ArrayBuffer[(Int, Int, String, String)]()
    for (line <- lines) {
      val items = line.trim.split("\\s+").filter(_.nonEmpty)
      if (items.nonEmpty) {
        val sic = items(0).split("-")
        if (sic.length == 2 && sic.forall(_.forall(_.isDigit))) {
          labels += ((sic(0).toInt, sic(1).toInt, ind, desc))
        } else {
          if (items.length <= 1) ind = "???"
          else {
            ind = items(1)
            desc = items.drop(2).mkString(" ")
            if (ind == "Other") other = desc
          }
        }
      }
    }
    val extra = scala.collection.mutable.LinkedHashMap[Int, SicRow]()
    extra(0) = SicRow(0, "Other", other)
    if (labels.nonEmpty) {
      val nextSic2 = labels.map { case (_, end, _, _) => (end / 100 + 1) * 100 }
      extra(nextSic2.max) = SicRow(nextSic2.max, "Other", other)
      val starts = labels.map(_._1).toSet
      if (labels.map(_._3).distinct.length < nSectors) {
        for (i <- 0 until labels.length - 1) {
          val g = nextSic2(i)
          if (g < labels(i + 1)._1 && !starts.contains(g))
            extra(g) = SicRow(g, "Other", other)
        }
      }
    }
    (labels.map { case (s, _, n, d) => SicRow(s, n, d) } ++ extra.values)
      .groupBy(_.sic).map(_._2.head).toSeq.sortBy(_.sic)
  }
}
