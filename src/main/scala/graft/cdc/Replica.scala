package graft.cdc

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.ops.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A keyed replica kept in sync from incremental deliveries: the E2 poll
  * of the reference (SURVEY.md §3.1). Each delivery covers one
  * `{since, until}` window of the change feed; [[poll]] folds it into the
  * replica by primary key and records `until` as the replica's position.
  * This class is the one owner of the poll's decisions:
  *
  *  1. Gate: a delivery whose `until` is at or below the cursor has
  *     already landed and is skipped before any Spark job runs. Whole
  *     deliveries are gated, never rows: a late change (its `ts` below
  *     the cursor) in a new delivery still folds.
  *  2. Fold: [[Merge.applyDelta]] onto the newest complete version (one
  *     whose `_SUCCESS` marker exists); an empty replica starts from
  *     the delivery alone.
  *  3. Land: the fold is written as the next `v<N>` under `root`.
  *  4. Advance: the cursor moves to `until` only after the land
  *     succeeded; then every other version is deleted. A crash between
  *     land and advance re-pulls the delivery onto the landed version,
  *     which the fold absorbs (re-applying a delta is a no-op).
  *  5. Width: the fold runs at [[GraftSession.width]] of the newest
  *     version's bytes. An empty replica has nothing to size from and
  *     keeps the session width.
  *
  * All state lives under `root` (a local directory: the versions and the
  * cursor file), none in the driver, so a new Replica on the same root
  * resumes from the last landed version. Versions keep delete
  * tombstones (see [[Merge.applyDelta]]); [[snapshot]] hides them.
  * The cursor's unit is the caller's: epoch microseconds for a DAP
  * window, a batch ordinal for a micro-batch stream.
  */
final class Replica(keys: Seq[String], ts: String, tiebreak: String, root: String) {
  private val cursor = new Cursor(s"$root/cursor")

  /** Fold `delivery`, the changes of the window ending at `until`, into
    * the replica. False when the gate skipped it as already landed.
    */
  def poll(delivery: DataFrame, until: Long): Boolean =
    if (cursor.read().exists(_ >= until)) false
    else {
      val landed = land(delivery)
      cursor.advance(until)
      versions.filter(_ != landed).foreach(v => graft.util.deleteRecursively(dir(v)))
      true
    }

  /** Fold and write the next version without moving the cursor; returns
    * the version's number. [[poll]] without the gate and the advance.
    */
  private[graft] def land(delivery: DataFrame): Int = {
    val s = delivery.sparkSession
    val base = newest
    val next = base match {
      case Some(v) => Merge.applyDelta(s.read.parquet(dir(v).toString), delivery, keys, ts, tiebreak)
      case None    => Merge.latestPerKey(delivery, keys, ts, tiebreak)
    }
    val n = base.fold(1)(_ + 1)
    def write(): Unit = next.write.mode("overwrite").parquet(dir(n).toString)
    base.flatMap(v => Streaming.dirBytes(s, dir(v).toString)) match {
      case Some(bytes) => GraftSession.withWidth(s, bytes)(write())
      case None        => write()
    }
    n
  }

  /** The queryable replica: the newest complete version, tombstones hidden. */
  def snapshot(s: SparkSession): DataFrame = {
    val v = newest.getOrElse(
      throw new IllegalStateException(s"replica at $root has no landed version"))
    Merge.snapshot(s.read.parquet(dir(v).toString))
  }

  private val Version = "v(\\d+)".r
  private def dir(v: Int): Path = Paths.get(root, s"v$v")

  /** Every version number under root, complete or not. */
  private def versions: Seq[Int] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Nil
    else {
      val names = Files.list(r)
      try names.iterator().asScala.map(_.getFileName.toString)
        .collect { case Version(n) => n.toInt }.toSeq
      finally names.close()
    }
  }

  private def newest: Option[Int] =
    versions.filter(v => Files.exists(dir(v).resolve("_SUCCESS"))).maxOption
}
