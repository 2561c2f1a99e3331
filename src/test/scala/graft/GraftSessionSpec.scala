package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session: `GraftSession` is the only place in the
  * sources that calls the SparkSession builder, so no main or spec can
  * drift from its settings.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the SparkSession builder is called only in GraftSession.scala") {
    // spelled out of pieces so this file does not match itself
    val call = ("SparkSession" + """\s*\.\s*""" + "builder").r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => p.getFileName.toString != "GraftSession.scala" &&
      call.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, s"build sessions through GraftSession: ${offenders.mkString(", ")}")
  }

  test("GraftExtensions is listed exactly once, after any extensions already set") {
    val ext = GraftSession.Extensions
    assert(GraftSession.withExtensions(None) === ext)
    assert(GraftSession.withExtensions(Some(ext)) === ext)
    assert(GraftSession.withExtensions(Some(s"a.B, $ext")) === s"a.B,$ext")
    assert(GraftSession.withExtensions(Some("a.B")) === s"a.B,$ext")
  }
}
