package org.apache.spark.storage.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.SparkEnv
import org.apache.spark.storage.{BlockId, BlockManager, StorageLevel}

/** `BlockManager` is `private[spark]`, so keeping graft's committed
  * table-store batches as BlockManager blocks ([[graft.sources.BatchBlocks]])
  * needs one forwarder inside the `org.apache.spark` package tree — the
  * same access-widening shim as `DatasetBridge`. Every put, get and
  * remove of a graft block goes through here, always against the
  * BlockManager of this JVM's live `SparkEnv` (the driver's, or an
  * executor's inside a task).
  */
object BlockBridge {
  private def bm: BlockManager = {
    val env = SparkEnv.get
    if (env == null)
      throw new IllegalStateException("no live SparkContext in this JVM")
    env.blockManager
  }

  /** The live SparkEnv: a block id is only meaningful inside the
    * context whose BlockManager stored it.
    */
  def env: AnyRef = SparkEnv.get

  /** Store `value` as block `id`, deserialized in memory (spilling to
    * disk under memory pressure) and reported to the master so other
    * executors can fetch it. Returns the host holding the block.
    */
  def put(id: BlockId, value: AnyRef): String = {
    val m = bm
    if (!m.putSingle(id, value, StorageLevel.MEMORY_AND_DISK,
        tellMaster = true)(ClassTag.AnyRef))
      throw new IllegalStateException(s"BlockManager refused block $id")
    m.blockManagerId.host
  }

  /** The block's value: the stored object itself when the block is in
    * this JVM's memory store, else a fetched copy. The read lock is
    * released before returning (the iterator is drained).
    */
  def get(id: BlockId): Option[AnyRef] =
    bm.get[AnyRef](id).map { r =>
      val v = r.data.next()
      while (r.data.hasNext) r.data.next()
      v.asInstanceOf[AnyRef]
    }

  /** Remove the block wherever it lives: synchronously when this JVM
    * holds it, else through the master.
    */
  def remove(id: BlockId): Unit = {
    val m = bm
    if (m.getStatus(id).isDefined) m.removeBlock(id, tellMaster = true)
    else m.master.removeBlock(id)
  }

  /** Hosts holding each block (empty = the block is gone). Blocks of
    * this JVM answer locally; the rest cost one master round trip.
    */
  def hosts(ids: Seq[BlockId]): Seq[Seq[String]] = {
    val m = bm
    val local = ids.map(m.getStatus(_).isDefined)
    val remote = ids.zip(local).collect { case (id, false) => id }
    val found =
      if (remote.isEmpty) Iterator.empty
      else m.master.getLocations(remote.toArray).iterator
    ids.zip(local).map {
      case (_, true) => Seq(m.blockManagerId.host)
      case _ => found.next().map(_.host)
    }
  }

  /** Every live block matching `p`, on the driver and all executors. */
  def matching(p: BlockId => Boolean): Seq[BlockId] =
    bm.master.getMatchingBlockIds(p, askStorageEndpoints = true)
}
