package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one cache lifecycle of the curation operators. An operator whose
  * input feeds several consumers (banding and both verify sides, an
  * aggregate and a join back, every round of an iteration) holds it for
  * one call:
  *
  *   - each frame is persisted `MEMORY_AND_DISK`, in argument order, so a
  *     frame derived from an earlier one is built from that one's cache;
  *   - the body's result, the small end of the operator, is materialized
  *     with ONE eager `localCheckpoint` while the frames are held;
  *   - the frames are released in `finally`, in reverse order, also when
  *     the body throws, so no storage outlives the call.
  *
  * A frame that is already cached when the call begins belongs to the
  * caller: it is neither persisted nor released here (Spark's cache is not
  * ref-counted, so releasing it would evict the caller's cache).
  *
  * At cluster scale, swap the local checkpoint for a reliable checkpoint
  * dir if executor loss during the downstream consumer matters.
  */
object CacheScope {

  def apply(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    val owned = frames.filter(_.storageLevel == StorageLevel.NONE)
    try {
      owned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
      body.localCheckpoint(true)
    } finally owned.reverseIterator.foreach(_.unpersist(false))
  }
}
