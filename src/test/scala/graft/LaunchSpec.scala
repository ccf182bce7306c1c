package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One launch path: sessions are built only by [[GraftSession]] and the
  * JVM's module opens live only in `tools/jvm.opts`, so no entry point's
  * settings can drift from the others'. */
class LaunchSpec extends AnyFunSuite {

  /** Files under `roots` (relative to the build root) whose text contains
    * `needle`, except `allowed`. */
  private def offenders(needle: String, allowed: String, roots: String*): Seq[String] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }.filter(p => p.toString != allowed &&
      new String(Files.readAllBytes(p), ISO_8859_1).contains(needle))
      .map(_.toString).sorted

  test("SparkSession.builder appears only in GraftSession") {
    assert(Files.exists(Paths.get("src/main/scala/graft/GraftSession.scala")))
    assert(offenders("SparkSession.builder", "src/main/scala/graft/GraftSession.scala",
      "src/main/scala", "tools").isEmpty)
  }

  test("--add-opens appears only in tools/jvm.opts") {
    assert(Files.exists(Paths.get("tools/jvm.opts")))
    assert(offenders("add-opens", "tools/jvm.opts", "src/main/scala", "tools", "build.sbt")
      .isEmpty)
  }
}
