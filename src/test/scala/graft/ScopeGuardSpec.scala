package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan of `src/main`: cache lifetimes are decided in one place,
  * `graft.core.Scope`. No other file persists, caches or unpersists a
  * frame itself, no harness clears the session-wide cache, and no op
  * grows a release twin again (`CorpusPipeline.cleanWithRelease`, the
  * benchmark's scope adapter, is the one exception).
  */
class ScopeGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val scopeFile = root.resolve("graft/core/Scope.scala")

  /** (file, line number, line) of every code line of `src/main`; lines
    * that are only comments are left out.
    */
  private lazy val codeLines: Seq[(Path, Int, String)] = {
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("//") && !l.trim.startsWith("/**") =>
          (f, i + 1, l)
      }
    }
  }

  private def hits(p: String, except: Path => Boolean = _ => false): Seq[String] =
    codeLines.collect { case (f, i, l) if !except(f) && p.r.findFirstIn(l).isDefined =>
      s"${root.relativize(f)}:$i: ${l.trim}"
    }

  test("src/main is there to scan") {
    assert(Files.isRegularFile(scopeFile) && codeLines.size > 10000)
  }

  test("no raw persist, cache or unpersist outside Scope") {
    val found = hits("""(?<!\bScope)\.(persist|unpersist)\(|\.cache\(\)""", _ == scopeFile)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no clearCache anywhere") {
    val found = hits("clearCache")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no release twins but the benchmark's cleanWithRelease adapter") {
    val (adapter, found) = hits("""def \w+(WithRelease|Releasable)\b""")
      .partition(h => h.startsWith("graft/text/CorpusPipeline.scala:") && h.contains("def cleanWithRelease("))
    assert(found.isEmpty, found.mkString("\n"))
    assert(adapter.size == 1)
  }
}
