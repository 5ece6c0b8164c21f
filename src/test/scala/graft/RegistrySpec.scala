package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: every declared operator must be oracle-paired
  * (or knowingly rows-only) and every oracle must have a query.
  */
class RegistrySpec extends AnyFunSuite {

  private val rowsOnly = Set(
    "a20_serialize",          // JSON text is engine-specific
    "c87_compression_ratio")  // no SQL engine speaks zlib; spec carries semantics

  test("every query has an oracle (or is a documented rows-only exception)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("every oracle has a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("no duplicate keys across module registries") {
    val all = Seq(
      search.StacSearch.queries.keySet, ops.Analytics.queries.keySet,
      ops.TextAnalysis.queries.keySet, ops.Dedup.queries.keySet,
      ops.Similarity.queries.keySet, ops.Multimodal.queries.keySet,
      ops.Curation.queries.keySet, streaming.Events.queries.keySet)
    val total = all.map(_.size).sum
    assert(total == all.reduce(_ ++ _).size, "module registries overlap")
    assert(total == SparkEntry.queries.size)
  }

  private def scalaSources(roots: String*): Seq[Path] = roots.flatMap { root =>
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("graft.Session is the only place a SparkSession is built") {
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    assert(Files.isRegularFile(factory), s"run from the repo root: $factory")
    // the needle is split so this file does not match itself
    val builders = scalaSources("src/main/scala", "src/test/scala").filter { p =>
      p != factory && Files.readString(p).contains("SparkSession" + ".builder")
    }
    assert(builders.isEmpty, s"build sessions through graft.Session.local: $builders")
  }

  test("graft.core.Staged is the only place a persisted artifact is placed") {
    val staged = Paths.get("src/main/scala/graft/core/Staged.scala")
    assert(Files.isRegularFile(staged), s"run from the repo root: $staged")
    val needles = Seq("java.io.tmpdir", "\"/tmp/graft", "_unset\"")
    val offenders = for {
      p <- scalaSources("src/main/scala") if p != staged
      text = Files.readString(p)
      n <- needles if text.contains(n)
    } yield s"$p: $n"
    assert(offenders.isEmpty, s"place persisted artifacts through graft.core.Staged: $offenders")
  }
}
