package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards for two design rules the compiler cannot check:
  * driver-side fan-out goes through [[graft.control.DriverPool]] (one
  * failure/timeout contract, not one per module), and operators and
  * sinks never change the shared session's SQL conf.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def sourcesContaining(needle: String): Seq[Path] = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root ($mainRoot missing)")
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains(needle))
      .map(mainRoot.relativize).toList.sortBy(_.toString)
    finally walk.close()
  }

  test("thread pools: no Executors.new* outside DriverPool.scala") {
    val hits = sourcesContaining("Executors.new").map(_.toString)
      .filterNot(_ == "graft/control/DriverPool.scala")
    assert(hits === Nil)
  }

  test("session conf: no .conf.set( under operators/ or sinks/") {
    val hits = sourcesContaining(".conf.set(").map(_.toString)
      .filter(p => p.startsWith("graft/operators/") || p.startsWith("graft/sinks/"))
    assert(hits === Nil)
  }
}
