package graft.queries

import java.io.File
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import graft.operators.Maintenance

/** The query packs' one per-JVM workspace: feeds, fixtures, checkpoints
  * and materialized outputs live under [[root]], which a shutdown hook
  * removes, so nothing leaks across JVMs. A fixture that every run of a
  * query may share is built once per JVM through [[once]]. */
object Workspace {

  lazy val root: String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_ws_$unique"
    new File(p).mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Maintenance.deleteRecursively(new File(p))))
    p
  }

  private def unique: String = UUID.randomUUID().toString.replace("-", "")

  /** A new path under [[root]], not yet created. */
  def fresh(prefix: String): String = s"$root/${prefix}_$unique"

  /** One build per key. Its value is forced outside the map's lock, so a
    * build (often a Spark job) blocks only callers of its own key and may
    * itself call `once`; a build that throws is retried by the next call. */
  private final class Cell(build: () => Any) { lazy val value: Any = build() }
  private val cells = new ConcurrentHashMap[String, Cell]()

  /** The value `build` returned on the first call with `key` in this JVM. */
  def once[T](key: String)(build: => T): T =
    cells.computeIfAbsent(key, _ => new Cell(() => build)).value.asInstanceOf[T]
}
