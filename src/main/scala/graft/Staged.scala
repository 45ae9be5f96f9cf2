package graft

import org.apache.spark.sql.SparkSession

/** The one memo for build-once session state: catalog views, landed CBO
  * tables, checkpointed graph and kNN frames, BPE merges, staged stream
  * inputs.
  *
  *  - Key: the session object (reference equality) plus a key string. A
  *    `spark.newSession()` clone builds its own value.
  *  - One slot per key: a value is served while the caller's `dir` equals
  *    the dir it was built from, and a call with another dir rebuilds and
  *    replaces it. This "last dir" rule is the right one for builds that
  *    write session-global names (temp views, `graft_cbo*` tables): after
  *    A, B, A the names point at A again.
  *  - Eviction: every call drops the entries of stopped sessions, so their
  *    checkpointed frames are released. Keys are strong: the staged frames
  *    reference their session, so weak keys would never clear.
  *  - Builds run outside the map's lock, so a build may stage another key.
  *    Concurrent callers of one key and dir share one build. A build that
  *    throws is dropped from the map, so the next call runs its own build.
  */
object Staged {

  private final class Cell(val dir: String, build: => Any) {
    lazy val value: Any = build
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Cell]()

  def apply[T](s: SparkSession, key: String, dir: String)(build: => T): T = {
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    val k = (s, key)
    val cell = cells.compute(k,
      (_, c) => if (c != null && c.dir == dir) c else new Cell(dir, build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }
}
