package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Heap in use right after each collection the JVM ran by itself while
  * armed. Nothing here forces a collection, so garbage a pass leaves behind
  * is collected, and paid for, inside the timed passes.
  */
final class HeapWatch extends NotificationListener {
  @volatile var armed = false
  private val afterGc = new ConcurrentLinkedQueue[java.lang.Long]()
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      afterGc.add(info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
    }

  /** Heap in use after each collection seen while armed, in MB. */
  def samplesMb: Seq[Double] = afterGc.asScala.map(_ / 1048576.0).toSeq

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}
