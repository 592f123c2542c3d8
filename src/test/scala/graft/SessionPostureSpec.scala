package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session posture and one query sweep, enforced: every main gets
  * its SparkSession from [[EngineSession.builder]], so no runner can
  * drop one of the execution-affecting confs and time or verify a
  * different engine; and only [[Runner]] decides when memos are
  * released, so Bench times the memo lifetimes Verify checks. */
class SessionPostureSpec extends AnyFunSuite {
  /** The `src/main` files, relative to its root, that match `call`,
    * other than the `allowed` ones. */
  private def callers(call: scala.util.matching.Regex,
      allowed: Set[String]): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from the build root")
    val files = Files.walk(root)
    try files.iterator.asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString)
      .filterNot(allowed)
      .filter(f => call.findFirstIn(Files.readString(root.resolve(f))).isDefined)
      .sorted
    finally files.close()
  }

  test("only EngineSession calls SparkSession.builder() under src/main") {
    val offenders = callers("""SparkSession\s*\.\s*builder\b""".r,
      Set(Paths.get("graft", "EngineSession.scala").toString))
    assert(offenders.isEmpty,
      s"build the session with EngineSession.builder instead: $offenders")
  }

  test("only Runner and tools/Trace call Tables.resetDerived under src/main") {
    val offenders = callers("""Tables\s*\.\s*resetDerived\s*\(""".r,
      Set(Paths.get("graft", "Runner.scala").toString,
        Paths.get("graft", "tools", "Trace.scala").toString))
    assert(offenders.isEmpty,
      s"run the rows through Runner.sweep instead: $offenders")
  }
}
