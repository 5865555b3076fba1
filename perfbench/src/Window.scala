package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** What a timed window records besides its samples: its length, the CPU
  * other processes used meanwhile (`graft.util.ProcCpu`), JVM collection
  * time, the peak of used heap after each collection, and the live heap
  * after a full collection at its end.
  */
final case class Window(seconds: Double, foreignCores: Double, gcMs: Long,
                        heapLiveMb: Double, heapPeakMb: Double) {
  def fields: Seq[(String, Any)] = Seq(
    "window_s" -> seconds, "foreign_cpu_cores" -> foreignCores, "gc_ms" -> gcMs,
    "heap_live_mb" -> heapLiveMb, "heap_peak_after_gc_mb" -> heapPeakMb)
}

object Window {
  /** Foreign load (cores used by other processes) up to which a poll or a
    * call counts as quiet.
    */
  val QuietCores = 0.25

  /** Runs `body`, which gets the nanoseconds elapsed since the window
    * opened; the tracer's set-up records are dropped first.
    */
  def measure(tr: Tracer)(body: (() => Long) => Unit): Window = {
    tr.reset()
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = beans.map(_.getCollectionTime).sum
    @volatile var peak = 0L
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if !pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
              !pool.contains("Compressed") => u.getUsed
          }.sum
          if (used > peak) peak = used
        }
    }
    val emitters = beans.collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    val proc = new graft.util.ProcCpu
    val cpu0 = proc.snap()
    val gc0 = gcMs()
    val w0 = System.nanoTime()
    body(() => System.nanoTime() - w0)
    val seconds = (System.nanoTime() - w0) / 1e9
    val foreign = proc.othersCores(cpu0, proc.snap())
    val gc = gcMs() - gc0
    System.gc(); System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Exception => () })
    Window(seconds, foreign, gc, live, peak / 1048576.0)
  }
}
