package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Process-level meters read around a timed region. */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time, all threads, in seconds. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap in use after each collection, from GC notifications: the
    * live-set samples a region's peak is read from. Samples carry the
    * collection's end time (epoch ms) so a region or span picks its own
    * after the fact, outside any timed code. */
  object Heap {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    /** (end time, heap used after, was a full collection) */
    private val samples = new ConcurrentLinkedQueue[(Long, Long, Boolean)]()
    /** Subscribes to every collector's notifications; call once. */
    def install(): Unit = {
      val start = jvmStartMs
      val listener = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val gc = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val info = gc.getGcInfo
            val used = info.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed
            }.sum
            samples.add((start + info.getEndTime, used,
              gc.getGcAction == "end of major GC"))
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter =>
          e.addNotificationListener(listener, null, null)
        case _ => ()
      }
    }

    /** (time, heap used after the second collection of a `collect`) */
    private val retained = new ConcurrentLinkedQueue[(Long, Long)]()

    /** Collect fully now and record the heap still in use: what the
      * calls before retained. Collects twice: Spark's context cleaner
      * frees the blocks of RDDs, shuffles and broadcasts the first
      * collection found unreachable, and the second one sees that.
      * Returns once the second sample has arrived. */
    def collect(): Long = {
      System.gc()
      Thread.sleep(200)
      val before = System.currentTimeMillis()
      System.gc()
      // notifications arrive on a JMX thread; wait for this one
      val deadline = before + 2000
      def mine = samples.asScala.find(x => x._3 && x._1 >= before - 5)
      while (mine.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      val now = System.currentTimeMillis()
      mine.foreach(x => retained.add((now, x._2)))
      now
    }

    /** Max heap (MB) retained at the `collect`s done in [t0, t1]. */
    def retainedMb(t0: Long, t1: Long): Double = {
      val in = retained.asScala.collect { case (t, u) if t >= t0 && t <= t1 => u }
      if (in.isEmpty) 0.0 else in.max / 1048576.0
    }

    /** Peak heap (MB) after any collection that ended in [t0, t1]. */
    def peakMb(t0: Long, t1: Long): Double = {
      val in = samples.asScala.collect {
        case (t, u, _) if t >= t0 && t <= t1 => u }
      if (in.isEmpty) 0.0 else in.max / 1048576.0
    }
  }
}
