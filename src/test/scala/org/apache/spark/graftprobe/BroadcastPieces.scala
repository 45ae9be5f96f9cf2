package org.apache.spark.graftprobe

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of the driver's block manager, which is `private[spark]`:
  * the pieces a torrent broadcast stored locally when it was created.
  */
object BroadcastPieces {
  /** How many `broadcast_<id>_piece<n>` blocks the local block manager holds. */
  def count(broadcastId: Long): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(id, field) => id == broadcastId && field.startsWith("piece")
      case _ => false
    }.size
}
