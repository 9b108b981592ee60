package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every harness builds its session through [[Session.builder]]: a copied
  * builder block drifts from the others one config line at a time.
  */
class SessionSpec extends AnyFunSuite {
  test("sessions are built only in graft/Session.scala") {
    val own = Paths.get("src/main/scala/graft/Session.scala")
    val builderCall = "SparkSession\\s*\\.\\s*builder".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala.toList finally files.close()
    }.filter(p => p.toString.endsWith(".scala") && p != own)
      .filter(p => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(Files.exists(own), s"$own moved: re-point this guard")
    assert(offenders.isEmpty,
      s"build sessions with graft.Session.builder, not in: ${offenders.mkString(", ")}")
  }
}
