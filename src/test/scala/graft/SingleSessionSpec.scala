package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Session config cannot drift by construction: `GraftSession` is the only
  * place that builds a session, and `GraftExtensions` (loaded through
  * `spark.sql.extensions`) the only place that adds functions or planner
  * strategies to one.
  */
class SingleSessionSpec extends AnyFunSuite {
  // split so this file does not match its own search
  private val builderCall = Seq("SparkSession", "builder(").mkString(".")
  private val sessionMutations = Seq("experimental.extraStrategies", "createOrReplaceTempFunction")

  private def sources(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def hits(dirs: Seq[String], needle: String): Seq[String] =
    dirs.flatMap(sources).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$p:${i + 1}"
      }
    }

  test("GraftSession is the only session builder") {
    val found = hits(Seq("src/main", "src/test"), builderCall)
    assert(found.nonEmpty, "the search found nothing: wrong working directory?")
    assert(found.forall(_.startsWith("src/main/scala/graft/GraftSession.scala:")),
      found.mkString("\n"))
  }

  test("nothing in src/main registers functions or strategies on a live session") {
    for (needle <- sessionMutations)
      assert(hits(Seq("src/main"), needle).isEmpty, needle)
  }
}
