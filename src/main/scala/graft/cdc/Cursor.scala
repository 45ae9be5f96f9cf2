package graft.cdc

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Incremental-sync cursor: the reference records the last-synced `since`
  * timestamp after each successful pull and resumes from it
  * (SURVEY.md §3.1 E2 — DynamoDB/SSM state in the original). Here it is a
  * file written atomically (temp + rename), the local stand-in for any
  * transactional keyvalue store; the CONTRACT is what matters: advance
  * only after the batch lands, so a crash re-pulls rather than skips.
  */
final class Cursor(path: String) {

  /** The last position advanced to, or None before the first sync. The
    * unit is the caller's: epoch microseconds for a replica's `until`, a
    * micro-batch ordinal for a streaming sink.
    */
  def read(): Option[Long] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
    else None
  }

  /** Atomically advance to `posUs`. Refuses to move backwards — replaying
    * an old batch must not rewind the replica's frontier.
    */
  def advance(posUs: Long): Unit = {
    require(read().forall(_ <= posUs), s"cursor would move backwards to $posUs")
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, posUs.toString.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
