package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Drift guard: engine settings live only in [[GraftSession]]. A second
  * session builder or a `.config("spark.…")` call elsewhere is how the
  * per-main copies of the configuration drifted apart before.
  * GraftExtensionsSpec keeps its own builder because the extension install
  * path is what it tests; it sets no engine setting. Likewise the
  * plain-file commit steps (exclusive create, the rename-aside swap's
  * backup) live only in [[graft.ops.FsCommit]].
  */
class SessionDriftSpec extends AnyFunSuite {

  // built from parts so this file does not match its own patterns
  private val builder = ("SparkSession" + """\s*\.\s*builder""").r
  private val sparkConfig = ("""\.config\s*\(\s*"""" + """spark\.""").r
  private val createNew = ("CREATE" + "_NEW").r
  private val backupSuffix = ("compact" + "_old").r

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
    val fc = Files.readString(Paths.get("src/main/scala/graft/ops/FsCommit.scala"))
    assert(createNew.findFirstIn(fc).isDefined && backupSuffix.findFirstIn(fc).isDefined)
  }

  test("SparkSession builders: only GraftSession (main) and GraftExtensionsSpec (test)") {
    assert(offenders("src/main/scala", builder, "GraftSession.scala").isEmpty)
    assert(offenders("src/test/scala", builder, "GraftExtensionsSpec.scala").isEmpty)
  }

  test("engine settings under src/main: only GraftSession") {
    assert(offenders("src/main/scala", sparkConfig, "GraftSession.scala").isEmpty)
  }

  test("exclusive create (CREATE_NEW) under src/main: only FsCommit") {
    assert(offenders("src/main/scala", createNew, "FsCommit.scala").isEmpty)
  }

  test("the swap backup suffix under src/main: only FsCommit") {
    assert(offenders("src/main/scala", backupSuffix, "FsCommit.scala").isEmpty)
  }
}
