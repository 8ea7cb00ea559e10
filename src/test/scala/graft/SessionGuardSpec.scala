package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Patterns `src/main/scala` must not contain, each with the files
  * allowed to hold it (if any):
  *  - every main builds its session through [[Session]], so their
  *    settings cannot drift apart again;
  *  - every measurement goes through [[graft.ops.QueryMetrics]], so no
  *    main registers a listener of its own; the one exception is
  *    ChaosKill's kill trigger, which acts on a stage count rather than
  *    observing;
  *  - pinning holds no global state: kernels free a superseded pin with
  *    `Pin.release` instead of diffing the BlockManager's persisted-RDD
  *    map or remembering a previous call's blocks, and an aligned pin
  *    declares its layout instead of switching AQE off session-wide. */
class SessionGuardSpec extends AnyFunSuite {

  private case class Guard(what: String, pattern: String,
      allowedIn: Seq[String], fix: String)

  private val guards = Seq(
    Guard("SparkSession.builder", "SparkSession\\.builder",
      Seq("graft/Session.scala"), "build the session with graft.Session"),
    Guard("listenerManager.register", "listenerManager\\.register",
      Seq("graft/ops/Observability.scala"),
      "observe query executions through graft.ops.QueryMetrics.capture"),
    Guard("addSparkListener", "addSparkListener",
      Seq("graft/ops/Observability.scala", "graft/ChaosKill.scala"),
      "observe jobs, stages and tasks through graft.ops.QueryMetrics.capture"),
    Guard("getPersistentRDDs", "getPersistentRDDs", Nil,
      "release a superseded pin by frame with Pin.release"),
    Guard("priorLabel", "priorLabel", Nil,
      "connectedComponents keeps no state between calls"),
    Guard("the AQE switch", "adaptive\\.enabled|ADAPTIVE_EXECUTION_ENABLED", Nil,
      "declare the layout (Pin.pinAligned) instead of flipping AQE for the session"),
    Guard("explicitlySet", "explicitlySet", Nil,
      "no conf is flipped and restored, so none needs its explicitness read"),
    Guard("a session lock", "(?i)\\bsess\\w*\\.synchronized|session\\.synchronized", Nil,
      "pinning takes no session-wide lock"))

  private val root = Path.of("src/main/scala")

  private def hits(g: Guard): List[String] = {
    val re = g.pattern.r
    val allowed = g.allowedIn.map(root.resolve).toSet
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
    val where =
      if (g.allowedIn.isEmpty) "nowhere in src/main"
      else s"in src/main only in ${g.allowedIn.mkString(" and ")}"
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
