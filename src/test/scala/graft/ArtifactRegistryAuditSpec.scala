package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source audit: the query families build, cache and retire derived
  * artifacts ONLY through the [[DatasetCache]] registry. Each banned
  * token is one step of a hand-rolled snapshot cache (a snapshot key, a
  * cache map, a temp dir, its exit registration); a new occurrence in
  * the guarded packages fails until it goes through
  * `DatasetCache.artifact` / `materialize` / `frame` instead. */
class ArtifactRegistryAuditSpec extends AnyFunSuite {

  private val families = Seq("text", "sim", "mm", "rel", "pc")
  private val banned = Seq("snapshotKey(", "registerTempDir(", "createTempDirectory(",
    "new java.util.concurrent.ConcurrentHashMap")

  private def sources = families.flatMap { fam =>
    val d = Paths.get("src/main/scala/graft", fam)
    assert(Files.isDirectory(d), s"guarded package $d not found from ${sys.props("user.dir")}")
    Files.walk(d).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("the audit reads every guarded package") {
    val names = sources.map(_.getFileName.toString).toSet
    assert(Set("TextOps.scala", "SelectionOps.scala", "Ivf2.scala", "MultimodalOps.scala",
      "RelQueries.scala", "PcQueries.scala").subsetOf(names))
  }

  test("no hand-rolled snapshot cache outside DatasetCache in the query families") {
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- banned if line.contains(token)
    } yield s"$f:${i + 1}: $token"
    assert(hits.isEmpty, hits.mkString("hand-rolled cache steps:\n", "\n", ""))
  }
}
