package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Staged

/** The build-once contract of persisted artifacts: the location exists
  * only once complete, a failed or losing writer leaves nothing behind,
  * and everything lands under `java.io.tmpdir`.
  */
class StagedSpec extends AnyFunSuite {
  private val sf = TestSpark.sf

  // a fresh key per test (the name carries a random suffix)
  private def fresh(): String =
    "graft_stagedspec_" + java.util.UUID.randomUUID.toString.replace("-", "")

  /** The location of `name` and every sibling a writer left beside it. */
  private def entries(name: String): Seq[String] = {
    val loc = Paths.get(Staged.location(name, sf, "orders"))
    Option(loc.getParent.toFile.list()).toSeq.flatten
      .filter(_.startsWith(loc.getFileName.toString)).sorted
  }

  private def cleanup(name: String): Unit = {
    val loc = Paths.get(Staged.location(name, sf, "orders"))
    if (Files.exists(loc)) {
      val walk = Files.walk(loc)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }
  }

  private def writeText(p: String, text: String): Unit =
    Files.write(Paths.get(p), text.getBytes("UTF-8"))

  test("a write that throws publishes nothing, leaves no sibling, and the " +
      "next call rebuilds") {
    val name = fresh()
    try {
      intercept[IllegalStateException] {
        Staged.build(name, sf, "orders") { p =>
          writeText(p, "partial")
          throw new IllegalStateException("writer crashed")
        }
      }
      assert(entries(name).isEmpty, entries(name))
      val loc = Staged.build(name, sf, "orders")(writeText(_, "complete"))
      assert(Files.readString(Paths.get(loc)) == "complete")
    } finally cleanup(name)
  }

  test("concurrent builders of one fresh key all get the same complete location") {
    val name = fresh()
    val writers = 4
    // every writer is inside `write` before any of them can publish
    val barrier = new CyclicBarrier(writers)
    val pool = Executors.newFixedThreadPool(writers)
    try {
      val futures = (1 to writers).map { i =>
        pool.submit(new Callable[String] {
          def call(): String = Staged.build(name, sf, "orders") { p =>
            val dir = Files.createDirectories(Paths.get(p))
            barrier.await(60, TimeUnit.SECONDS)
            writeText(dir.resolve("part").toString, s"writer $i")
          }
        })
      }
      val locs = futures.map(_.get(120, TimeUnit.SECONDS)).distinct
      assert(locs.size == 1, locs)
      val loc = Paths.get(locs.head)
      assert(loc.toFile.list().toSeq == Seq("part"))
      assert(Files.readString(loc.resolve("part")).startsWith("writer "))
      // the losers' siblings are gone
      assert(entries(name) == Seq(loc.getFileName.toString))
    } finally { pool.shutdown(); cleanup(name) }
  }

  test("a second call adopts the published artifact without running write") {
    val name = fresh()
    try {
      var runs = 0
      val first = Staged.build(name, sf, "orders") { p => runs += 1; writeText(p, "v1") }
      val second = Staged.build(name, sf, "orders") { p => runs += 1; writeText(p, "v2") }
      assert(first == second && runs == 1)
      assert(Files.readString(Paths.get(second)) == "v1")
      assert(Staged.latest(name) == second)
    } finally cleanup(name)
  }

  test("locations lie under java.io.tmpdir; before any build, latest names " +
      "a location that does not exist") {
    val tmp = Paths.get(sys.props("java.io.tmpdir")).toAbsolutePath.normalize
    val loc = Paths.get(Staged.location(fresh(), sf, "orders")).toAbsolutePath.normalize
    assert(loc.startsWith(tmp), s"$loc is not under $tmp")
    assert(!Files.exists(Paths.get(Staged.latest(fresh()))))
  }
}
