package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Patterns `src/main/scala` must not contain, each with the one file
  * allowed to hold it (if any):
  *  - every main builds its session through [[Session]], so their
  *    settings cannot drift apart again;
  *  - pinning holds no global state: kernels free a superseded pin with
  *    `Pin.release` instead of diffing the BlockManager's persisted-RDD
  *    map or remembering a previous call's blocks, and an aligned pin
  *    declares its layout instead of switching AQE off session-wide. */
class SessionGuardSpec extends AnyFunSuite {

  private case class Guard(what: String, pattern: String,
      allowedIn: Option[String], fix: String)

  private val guards = Seq(
    Guard("SparkSession.builder", "SparkSession\\.builder",
      Some("graft/Session.scala"), "build the session with graft.Session"),
    Guard("getPersistentRDDs", "getPersistentRDDs", None,
      "release a superseded pin by frame with Pin.release"),
    Guard("priorLabel", "priorLabel", None,
      "connectedComponents keeps no state between calls"),
    Guard("the AQE switch", "adaptive\\.enabled|ADAPTIVE_EXECUTION_ENABLED", None,
      "declare the layout (Pin.pinAligned) instead of flipping AQE for the session"),
    Guard("explicitlySet", "explicitlySet", None,
      "no conf is flipped and restored, so none needs its explicitness read"),
    Guard("a session lock", "(?i)\\bsess\\w*\\.synchronized|session\\.synchronized", None,
      "pinning takes no session-wide lock"))

  private val root = Path.of("src/main/scala")

  private def hits(g: Guard): List[String] = {
    val re = g.pattern.r
    val allowed = g.allowedIn.map(root.resolve)
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }
      }.toList
    finally walk.close()
  }

  guards.foreach { g =>
    val where = g.allowedIn.fold("nowhere in src/main")(f => s"in src/main only in $f")
    test(s"${g.what} appears $where") {
      assert(Files.isDirectory(root), s"run from the repo root: $root missing")
      val found = hits(g)
      assert(found.isEmpty, s"${g.fix}: $found")
      g.allowedIn.foreach { f =>
        assert(g.pattern.r.findFirstIn(Files.readString(root.resolve(f))).isDefined,
          s"$f no longer holds ${g.what}; drop or move this guard")
      }
    }
  }
}
