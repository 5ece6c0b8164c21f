package graft.core

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

/** Build-once PERSISTED artifacts: staged GeoParquet files and catalogs,
  * state tables, indexes — anything derived from fixture content and
  * kept on disk across runs (the reference's data plane is
  * `read_parquet` over staged files, database_logic.py:171).
  *
  * One rule decides completeness: the location exists ⇔ the artifact is
  * complete. [[build]] writes into a unique sibling and publishes it with
  * one atomic rename, so a crash, a failed write or a concurrent JVM can
  * never leave a half-written location that a later run adopts. Every
  * location lives under `java.io.tmpdir` and is keyed on the content
  * fingerprint of the tables it derives from ([[FixtureGuard.stateKey]]),
  * so an in-place fixture regeneration gets a fresh artifact.
  */
object Staged {
  private def root: Path = Paths.get(sys.props("java.io.tmpdir"), "graft-staged")

  // name → location last returned by build: what an oracle's SQL reads
  private val last = new scala.collection.concurrent.TrieMap[String, String]

  /** Where artifact `name` derived from `tables` of fixture `dir` lives. */
  def location(name: String, dir: String, tables: String*): String =
    root.resolve(s"${name}_${FixtureGuard.stateKey(dir, tables: _*)}").toString

  /** The artifact's location, running `write(path)` first unless it is
    * already published. `write` creates `path` (a file or a directory);
    * if it throws, nothing is published and the next call rebuilds. When
    * another writer publishes first, its artifact wins and this one's
    * output is discarded.
    */
  def build(name: String, dir: String, tables: String*)(write: String => Unit): String = {
    val loc = Paths.get(location(name, dir, tables: _*))
    if (!Files.exists(loc)) {
      Files.createDirectories(loc.getParent)
      val tmp = loc.resolveSibling(s"${loc.getFileName}.${java.util.UUID.randomUUID}.tmp")
      try {
        write(tmp.toString)
        Files.move(tmp, loc, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: FileSystemException if Files.exists(loc) => // lost the race
      } finally delete(tmp)
    }
    last.put(name, loc.toString)
    loc.toString
  }

  /** The location [[build]] last returned for `name` — the path an
    * oracle's SQL reads. Before any build it names a location that does
    * not exist, so only that oracle's replay fails.
    */
  def latest(name: String): String =
    last.getOrElse(name, root.resolve(s"${name}_unset").toString)

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }
}
