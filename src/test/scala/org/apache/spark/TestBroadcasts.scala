package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The broadcast values the driver's block manager holds. The block
  * manager is `private[spark]`, hence this package.
  */
object TestBroadcasts {
  /** How many broadcast values on the driver `keep` accepts. */
  def held(keep: Any => Boolean): Int = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true // the value, not its pieces
      case _ => false
    }.count { id =>
      scala.util.Try(bm.memoryStore.getValues(id).exists(_.exists(keep))).getOrElse(false)
    }
  }
}
