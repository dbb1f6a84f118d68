package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Heap the driver JVM still holds after a full collection: what the
  * program keeps live (cached plans, storage blocks, driver-side state),
  * not the garbage that raw heap usage shows between collections.
  */
object Heap {
  /** Megabytes in use right after a full collection. */
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }
}
