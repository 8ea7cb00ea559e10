package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[Session]], so their settings
  * cannot drift apart again: the only `SparkSession.builder` call under
  * `src/main/scala` is the factory's own. */
class SessionGuardSpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only in graft/Session.scala") {
    val root = Path.of("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val factory = root.resolve("graft/Session.scala")
    val walk = Files.walk(root)
    val hits = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != factory)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") =>
            s"$p:${i + 1}"
        }
      }.toList
    finally walk.close()
    assert(hits.isEmpty, s"build the session with graft.Session: $hits")
    assert(Files.readString(factory).contains("SparkSession.builder"))
  }
}
