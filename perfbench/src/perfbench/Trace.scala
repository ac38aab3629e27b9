package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spark-side counts per layer span. Before each traced call the benchmark
  * sets a job group named after the span; the listener maps every job,
  * stage and task back to that name. */
final class LayerListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputBytes = 0L; var peakExecMem = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()
  private def of(g: String): Counts = counts.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    val c = of(g)
    c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("untraced")
    val m = e.taskMetrics
    val c = of(g)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  // RDD block bytes held in the block manager (persists and local
  // checkpoints): a running total from block updates and unpersists
  private val blocks = mutable.HashMap.empty[(Int, String), Long]
  private var resident = 0L
  @volatile var residentPeak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case org.apache.spark.storage.RDDBlockId(rdd, _) => blocks.synchronized {
        val key = (rdd, info.blockId.name)
        resident -= blocks.remove(key).getOrElse(0L)
        if (info.storageLevel.isValid) {
          blocks(key) = info.memSize + info.diskSize
          resident += info.memSize + info.diskSize
        }
        residentPeak = math.max(residentPeak, resident)
      }
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = blocks.synchronized {
    blocks.keys.filter(_._1 == e.rddId).toSeq.foreach(k => resident -= blocks.remove(k).get)
  }

  def resetPeak(): Unit = blocks.synchronized { residentPeak = resident }

  /** Counts summed over every group whose name satisfies `p`. */
  def total(p: String => Boolean): Counts = {
    val t = new Counts
    counts.forEach { (g, c) =>
      if (p(g)) c.synchronized {
        t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
        t.runMs += c.runMs; t.cpuNs += c.cpuNs; t.gcMs += c.gcMs; t.schedMs += c.schedMs
        t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead
        t.spill += c.spill; t.inputBytes += c.inputBytes
        t.peakExecMem = math.max(t.peakExecMem, c.peakExecMem)
      }
    }
    t
  }
}

/** One closed span: layer name, request id, start and end (ns). */
final case class Span(layer: String, request: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. With `on` false every call runs the body
  * directly and records nothing. */
final class Tracer(spark: org.apache.spark.sql.SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var request = -1

  def beginRequest(id: Int): Unit = request = id

  def apply[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$layer#$request", layer, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(layer, request, t0, System.nanoTime())
        sc.clearJobGroup()
      }
    }
}

/** Highest heap in use right after a full collection, from JMX GC
  * notifications. */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile var peakAfterFullGc = 0L
  @volatile private var armed = false
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          if (used > peakAfterFullGc) peakAfterFullGc = used
        }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def arm(): Unit = armed = true
  def close(): Unit =
    beans.foreach(b => scala.util.Try(b.asInstanceOf[NotificationEmitter].removeNotificationListener(listener)))
}
