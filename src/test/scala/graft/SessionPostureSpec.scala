package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session posture, enforced: every main gets its SparkSession
  * from [[EngineSession.builder]], so no runner can drop one of the
  * execution-affecting confs and time or verify a different engine. */
class SessionPostureSpec extends AnyFunSuite {
  test("only EngineSession calls SparkSession.builder() under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from the build root")
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val files = Files.walk(root)
    val offenders =
      try files.iterator.asScala.toList
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString)
        .filter(_ != Paths.get("graft", "EngineSession.scala").toString)
        .filter(f => builderCall.findFirstIn(
          Files.readString(root.resolve(f))).isDefined)
        .sorted
      finally files.close()
    assert(offenders.isEmpty,
      s"build the session with EngineSession.builder instead: $offenders")
  }
}
