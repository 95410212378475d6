package org.apache.spark.graft

import org.apache.spark.broadcast.Broadcast

/** Whether a broadcast was destroyed (its validity flag is package-private). */
object BroadcastDestroyed {
  def apply(b: Broadcast[_]): Boolean = !b.isValid
}
