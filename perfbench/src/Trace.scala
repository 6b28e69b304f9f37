package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (-1 at the root); every span of one run carries the
  * same `runId`. Times are nanoseconds from the JVM's monotonic clock. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    start: Long, end: Long)

/** Spans kept in memory and written out when the run ends. With tracing
  * off, `span` only runs its body. The harness is single-threaded, so a
  * plain stack gives each span its parent. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(id, name, layer, stack.headOption.getOrElse(-1),
        System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        spans(id) = spans(id).copy(end = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Per layer: the time its spans cover minus the part of that time
    * their child spans cover, in seconds. */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def covered(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      total + (curE - curS)
    }
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      val self = (s.end - s.start) - (if (kids.isEmpty) 0L else covered(kids))
      s.layer -> self / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = Json.arr(spans.toSeq.map(s => Json.obj(
    "run" -> runId, "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
    "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)))
}

/** Engine counters for one tag (the harness sets the tag as a local
  * property before each timed call). */
final class EngineStats {
  val jobs = new AtomicLong; val tasks = new AtomicLong
  val runNs = new AtomicLong; val schedNs = new AtomicLong
  val gcNs = new AtomicLong; val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  def +=(o: EngineStats): Unit = {
    jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get)
    runNs.addAndGet(o.runNs.get); schedNs.addAndGet(o.schedNs.get)
    gcNs.addAndGet(o.gcNs.get); shuffleBytes.addAndGet(o.shuffleBytes.get)
    spillBytes.addAndGet(o.spillBytes.get)
  }
}

/** The engine as seen through its public listener bus: jobs, tasks,
  * executor run time, scheduler delay (the Spark UI formula), GC,
  * shuffle bytes and spill, summed per tag. Registered in traced runs
  * only. */
final class EngineCollector(sc: SparkContext) extends SparkListener {
  val TagKey = "graftbench.tag"
  private val byTag = new ConcurrentHashMap[String, EngineStats]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val FenceTag = "__fence__"
  private val fenceJob = new AtomicLong(-1L)
  private val fenceSeen = new AtomicBoolean(false)

  def stats(tag: String): EngineStats =
    byTag.computeIfAbsent(tag, _ => new EngineStats)

  def setTag(tag: String): Unit = sc.setLocalProperty(TagKey, tag)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      .getOrElse("untagged")
    if (tag == FenceTag) fenceJob.set(e.jobId)
    else {
      e.stageIds.foreach(id => stageTag.put(id, tag))
      stats(tag).jobs.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == fenceJob.get) fenceSeen.set(true)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null && e.taskInfo != null) {
      val s = stats(tag)
      s.tasks.incrementAndGet()
      val info = e.taskInfo
      val run = m.executorRunTime
      s.runNs.addAndGet(run * 1000000L)
      val delay = info.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      s.schedNs.addAndGet(math.max(0L, delay) * 1000000L)
      s.gcNs.addAndGet(m.jvmGCTime * 1000000L)
      s.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Blocks until every event posted before this call has reached the
    * listener: the bus delivers in order, so the end of a fence job comes
    * after everything earlier. */
  def drain(): Unit = {
    fenceSeen.set(false)
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, FenceTag)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(TagKey, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (!fenceSeen.get && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** Micro-batch progress from the public StreamingQueryListener. */
final class ProgressCollector extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Largest heap in use right after a collection, over the window in which
  * it is armed. Reads the GC notifications the JVM already emits. */
final class HeapMonitor extends NotificationListener {
  private val armed = new AtomicBoolean(false)
  private val peak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (armed.get && n.getType == com.sun.management.GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
    }

  def arm(): Unit = { peak.set(0L); armed.set(true) }

  /** Disarms after one last full collection, so the value is never empty
    * and always includes the live set at the end of the window. */
  def disarmMb(): Double = {
    System.gc()
    Thread.sleep(200)
    armed.set(false)
    peak.get / (1024.0 * 1024.0)
  }

  def close(): Unit =
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(this)))
}

/** Minimal JSON writer for the harness's flat outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: collection.Seq[_] => arr(s.toSeq.map(value))
    case raw: Raw => raw.json
    case other => str(other.toString)
  }
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
