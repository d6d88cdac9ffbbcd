package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * [[Tracer]]'s clock; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, workload: String, layer: String,
    name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled tracers run the body and record
  * nothing, so untraced runs pay no tracing cost. */
final class Tracer(val enabled: Boolean, workload: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, workload, layer, name, t0, System.nanoTime()))
      }
    }

  def currentId: Long = stack.get.headOption.getOrElse(0L)

  /** [[span]] on another thread, as a child of `parent`. */
  def spanUnder[T](parent: Long, layer: String, name: String)(body: => T): T = {
    val saved = stack.get
    stack.set(if (parent == 0L) Nil else List(parent))
    try span(layer, name)(body) finally stack.set(saved)
  }

  /** Records an interval reported in epoch milliseconds (Spark's clock). */
  def addMs(parent: Long, layer: String, name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, workload, layer, name,
      nano0 + (startMs - epochMs0) * 1000000L, nano0 + (endMs - epochMs0) * 1000000L))

  def size: Int = spans.size

  /** One JSON object per line; start/end in epoch milliseconds. */
  def write(path: java.nio.file.Path): Unit = {
    def ms(ns: Long) = epochMs0 + (ns - nano0) / 1e6
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"workload":${Json.str(s.workload)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ms":${ms(s.startNs)},"end_ms":${ms(s.endNs)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Old-generation occupancy after each full collection while `active` —
  * the heap a run really retains. Young collections are left out: what
  * they promote depends on when they happen to run, not on what is live. */
object HeapWatch {
  @volatile var active = false
  @volatile private var peak = 0L
  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: NotificationEmitter =>
        emitter.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              if (info.getGcAction.contains("major"))
                info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, usage) =>
                  if (isOld(pool)) record(usage.getUsed)
                }
            }
        }, null, null)
      case _ =>
    }

  private def record(bytes: Long): Unit = synchronized { if (bytes > peak) peak = bytes }

  /** Full collection, then the old generation's occupancy after it (the
    * collection's notification may arrive late, so read the pool too). */
  def collect(): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName) && p.getCollectionUsage != null)
      .foreach(p => if (active) record(p.getCollectionUsage.getUsed))
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

final class StageRec(val stageId: Int, val tag: String) {
  @volatile var submitMs = 0L
  @volatile var completeMs = 0L
  @volatile var numTasks = 0
  @volatile var hasFileScan = false
  @volatile var persistedRdds: Seq[Int] = Nil
  var taskMs = 0L
  var taskMaxMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  def wallMs: Long = math.max(0L, completeMs - submitMs)
}

final class JobRec(val jobId: Int, val tag: String, val execId: Long, val callSite: String,
    val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs = 0L
}

/** A SQL execution: the user call ("count at Foo.scala:12") behind jobs. */
final class ExecRec(val root: Long, val description: String, val isWrite: Boolean)

/** Collects job, stage and task numbers for the actions the benchmark
  * tags with [[SparkCollector.TagKey]]; untagged work is ignored. */
final class SparkCollector extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()

  private def tagOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(SparkCollector.TagKey)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) {
      val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      val site = Option(e.properties.getProperty("callSite.short"))
        .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, tag, exec, site, e.time, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) {
      val si = e.stageInfo
      val r = new StageRec(si.stageId, tag)
      r.submitMs = si.submissionTime.getOrElse(System.currentTimeMillis())
      r.hasFileScan = si.rddInfos.exists(_.name.contains("FileScan"))
      r.persistedRdds = si.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      stages.put(si.stageId, r)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.get(e.stageId)
    if (r != null) r.synchronized {
      val d = e.taskInfo.duration
      r.taskMs += d
      if (d > r.taskMaxMs) r.taskMaxMs = d
      val m = e.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val r = stages.get(e.stageInfo.stageId)
    if (r != null) {
      r.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      r.numTasks = e.stageInfo.numTasks
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new ExecRec(
        s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId), s.description,
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
    case _ =>
  }

  def jobsTagged(tag: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.tag == tag).toSeq.sortBy(_.jobId)

  /** Stages that actually ran for `tag`, in submission order. */
  def stagesTagged(tag: String): Seq[StageRec] =
    stages.values.asScala.filter(s => s.tag == tag && s.completeMs > 0).toSeq
      .sortBy(s => (s.submitMs, s.stageId))

  /** The user call site ("count at Foo.scala:12") that started a job's SQL
    * execution, or the job's own call site outside SQL. */
  def siteOf(j: JobRec): String = {
    val e = execs.get(j.execId)
    if (e == null) j.callSite
    else Option(execs.get(e.root)).getOrElse(e).description
  }
}

object SparkCollector {
  val TagKey = "perfbench.tag"

  /** Runs `body` with every Spark job it starts tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Length of the union of intervals (ms). */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
