package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Patterns a source root must not contain, each with the files allowed
  * to hold it (if any). In `src/main/scala`:
  *  - every main builds its session through [[Session]], so their
  *    settings cannot drift apart again;
  *  - every measurement goes through [[graft.ops.QueryMetrics]], so no
  *    main registers a listener of its own; the one exception is
  *    ChaosKill's kill trigger, which acts on a stage count rather than
  *    observing;
  *  - pinning holds no global state: kernels free a superseded pin with
  *    `Pin.release` instead of diffing the BlockManager's persisted-RDD
  *    map or remembering a previous call's blocks, and an aligned pin
  *    declares its layout instead of switching AQE off session-wide.
  *  - a table generation is swapped in by one rename protocol, in
  *    [[graft.warehouse.Warehouse]]: no other file renames a directory
  *    or writes a generation of its own.
  *
  * In `src/test/scala`, only [[Surface]] and QueriesSpec build every
  * query: a plan gate reads the one sweep in [[Surface]]. Patterns match
  * a whole file; a hit is reported at the line where it starts. */
class SessionGuardSpec extends AnyFunSuite {

  private case class Guard(what: String, pattern: String,
      allowedIn: Seq[String], fix: String, root: Path = Path.of("src/main/scala"))

  // building every query: iterating the query map and building a query
  // (`mk(spark, ...)`, `SparkEntry.queries(name)(spark, ...)`) in one file
  private val iteratesQueries =
    "SparkEntry\\.queries(\\.keys|\\.values)?\\.(toSeq|iterator|foreach|map|flatMap)\\b"
  private val buildsQuery = "(\\bmk|SparkEntry\\.queries\\(\\w+\\))\\(spark\\b"

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
      "pinning takes no session-wide lock"),
    Guard("checkedSwapInto", "checkedSwapInto", Seq("graft/warehouse/Warehouse.scala"),
      "write a table generation with Warehouse.upsert or Warehouse.compact"),
    Guard("a Hadoop rename", "\\.rename\\(", Seq("graft/warehouse/Warehouse.scala"),
      "swap a table generation in through Warehouse.upsert or Warehouse.compact"),
    Guard("building every query of SparkEntry.queries",
      s"(?s)$iteratesQueries(?=.*$buildsQuery)|$buildsQuery(?=.*$iteratesQueries)",
      Seq("graft/Surface.scala", "graft/QueriesSpec.scala"),
      "read the one sweep in graft.Surface instead of building the surface again",
      Path.of("src/test/scala")))

  private def hits(g: Guard): List[String] = {
    val allowed = g.allowedIn.map(g.root.resolve).toSet
    val walk = Files.walk(g.root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p))
      .flatMap { p =>
        val text = Files.readString(p)
        g.pattern.r.findAllMatchIn(text)
          .map(m => s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}")
          .distinct
      }.toList
    finally walk.close()
  }

  guards.foreach { g =>
    val in = g.root.getParent
    val where =
      if (g.allowedIn.isEmpty) s"nowhere in $in"
      else s"in $in only in ${g.allowedIn.mkString(" and ")}"
    test(s"${g.what} appears $where") {
      assert(Files.isDirectory(g.root), s"run from the repo root: ${g.root} missing")
      val found = hits(g)
      assert(found.isEmpty, s"${g.fix}: $found")
      g.allowedIn.foreach { f =>
        assert(g.pattern.r.findFirstIn(Files.readString(g.root.resolve(f))).isDefined,
          s"$f no longer holds ${g.what}; drop or move this guard")
      }
    }
  }
}
