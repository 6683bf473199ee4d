package graft
import org.apache.spark.sql.SparkSession

/** Scratch smoke-runner: `sbt "runMain graft.Probe"` runs the flagship
  * entry() on sf0.001 and prints its row count (driver smoke contract).
  */
object Probe {

  /** Peak whole-heap use (MB) right after a collection, over every
    * collection since [[watchHeap]]: the sum over the heap pools of each
    * collection's `memoryUsageAfterGc`, so garbage the collection could not
    * yet reclaim counts, and the eden fill between collections does not. In
    * local mode the driver and every executor thread share this heap. 0
    * until the first collection after [[watchHeap]]. */
  def heapAfterGcPeakMb: Long = heapAfterGcPeak.get / (1024L * 1024L)

  /** Starts recording [[heapAfterGcPeakMb]]; call first in a probe's main. */
  def watchHeap(): Unit = heapWatch

  private val heapAfterGcPeak = new java.util.concurrent.atomic.AtomicLong

  private lazy val heapWatch: Unit = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val used = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        heapAfterGcPeak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.configure(SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
