package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one cache/checkpoint primitive: outside
  * `Settle.scala`, nothing in `src/main/scala` may persist, cache or
  * unpersist a frame, or read the lineage switch — transient caches go
  * through [[Settle.using]], optional checkpoints through
  * [[Settle.shared]]. Raw `localCheckpoint(` survives only as a
  * REQUIRED barrier, counted per file against the allowlist below;
  * each entry says why the barrier cannot be optional. */
class SettleLintSpec extends AnyFunSuite {

  private val root: Path = {
    var p = Paths.get(System.getProperty("user.dir")).toAbsolutePath
    while (p != null && !Files.isDirectory(p.resolve("src/main/scala/graft")))
      p = p.getParent
    require(p != null, "src/main/scala/graft not found above user.dir")
    p.resolve("src/main/scala")
  }

  /** (path relative to src/main/scala, code with comments dropped). */
  private lazy val sources: Seq[(String, Seq[String])] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map { f =>
        val code = Files.readAllLines(f).asScala.toSeq.map { l =>
          val t = l.trim
          if (t.startsWith("*") || t.startsWith("/*")) ""
          else l.split("//", 2)(0)
        }
        root.relativize(f).toString -> code
      }
    finally walk.close()
  }

  /** Bench's storage-hygiene block: drops every cache and checkpoint
    * block between measured queries, so it unpersists RDDs it did not
    * create — the one raw unpersist outside Settle. */
  private val hygiene = Map("graft/Bench.scala" -> 1)

  /** Required barriers: file → (raw localCheckpoint count, reason). */
  private val barriers = Map(
    "graft/operators/Graph.scala" -> (10,
      "PageRank/PPR, BFS and HITS cut lineage every round (it doubles per round otherwise) and pin the shuffle-mode edge layout"),
    "graft/operators/Dedup.scala" -> (4,
      "label-propagation rounds cut lineage every round, over the pinned symmetric edge set"),
    "graft/operators/Forget.scala" -> (4,
      "pins freeze keys and results before a sweep rewrites or deletes the files under them"))

  private def count(pattern: String): Map[String, Int] =
    sources.collect { case (f, code) if !f.endsWith("graft/Settle.scala") =>
      f -> code.map(_.sliding(pattern.length).count(_ == pattern)).sum
    }.filter(_._2 > 0).toMap

  test("only Settle persists, caches or unpersists frames") {
    assert(sources.exists(_._1 == "graft/Settle.scala"), "lint found no Settle.scala")
    val persists = count(".persist(") ++ count(".cache()")
    assert(persists.isEmpty, s"raw persist/cache outside Settle: $persists")
    val unpersists = count(".unpersist(")
    assert(unpersists == hygiene,
      s"raw unpersist outside Settle (only Bench's hygiene block may): $unpersists")
  }

  test("only Settle reads the lineage switch") {
    val reads = count("graft.explain.lineage")
    assert(reads.isEmpty, s"lineage switch read outside Settle: $reads")
  }

  test("every raw localCheckpoint is an allowlisted required barrier") {
    val raw = count("localCheckpoint(")
    assert(raw == barriers.map { case (f, (n, _)) => f -> n },
      s"raw localCheckpoint counts drifted from the barrier allowlist — " +
        s"route optional checkpoints through Settle.shared: $raw")
  }
}
