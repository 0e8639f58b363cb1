package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Drift guard: engine settings live only in [[GraftSession]]. A second
  * session builder or a `.config("spark.…")` call elsewhere is how the
  * per-main copies of the configuration drifted apart before.
  * GraftExtensionsSpec keeps its own builder because the extension install
  * path is what it tests; it sets no engine setting.
  */
class SessionDriftSpec extends AnyFunSuite {

  // built from parts so this file does not match its own patterns
  private val builder = ("SparkSession" + """\s*\.\s*builder""").r
  private val sparkConfig = ("""\.config\s*\(\s*"""" + """spark\.""").r

  private def sources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def offenders(root: String, pattern: scala.util.matching.Regex,
      allowed: String): Seq[String] = {
    val files = sources(root)
    assert(files.nonEmpty, s"no sources found under $root")
    files.filterNot(_.getFileName.toString == allowed)
      .filter(p => pattern.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
  }

  test("the patterns match the one place they are allowed") {
    val gs = Files.readString(Paths.get("src/main/scala/graft/GraftSession.scala"))
    assert(builder.findFirstIn(gs).isDefined && sparkConfig.findFirstIn(gs).isDefined)
  }

  test("SparkSession builders: only GraftSession (main) and GraftExtensionsSpec (test)") {
    assert(offenders("src/main/scala", builder, "GraftSession.scala").isEmpty)
    assert(offenders("src/test/scala", builder, "GraftExtensionsSpec.scala").isEmpty)
  }

  test("engine settings under src/main: only GraftSession") {
    assert(offenders("src/main/scala", sparkConfig, "GraftSession.scala").isEmpty)
  }
}
