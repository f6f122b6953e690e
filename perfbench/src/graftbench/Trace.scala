package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import Trace.JobGroupKey

object Trace {
  /** The local property Spark reads the job group from. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** One timed call into a layer, recorded from outside the library. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Each span runs under its own Spark job group
  * (`gb-<id>`), so [[SparkCounters]] can attribute jobs, tasks and stage
  * metrics to the innermost open span of the submitting thread. When
  * disabled, [[span]] only runs its body: the untraced path pays nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private final case class Open(id: Long, trace: Long)
  private val stack = ThreadLocal.withInitial[List[Open]](() => Nil)

  /** Run `body` as the root span of trace `trace` (one per op). */
  def root[T](name: String, trace: Long)(body: => T): T =
    if (!enabled) body else timed(name, 0L, trace)(body)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else stack.get match {
      case top :: _ => timed(name, top.id, top.trace)(body)
      case Nil => timed(name, 0L, -1L)(body)
    }

  private def timed[T](name: String, parent: Long, trace: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    stack.set(Open(id, trace) :: stack.get)
    sc.setLocalProperty(JobGroupKey, s"gb-$id")
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, trace, name, t0, System.nanoTime()))
      sc.setLocalProperty(JobGroupKey, prevGroup)
      stack.set(stack.get.tail)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  /** A tracer that records nothing. */
  val off: Tracer = new Tracer(null, enabled = false)
}

/** Spark listener keyed by job group (the pattern of the library's own
  * bench flight recorder): per span id, the jobs it submitted, its tasks'
  * metrics, and per-stage task run times for the straggler ratio. */
final class SparkCounters extends SparkListener {
  final class Counters {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val gcMs = new AtomicLong
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val stageWallMs = new ConcurrentHashMap[Int, Long]()
  private val seenTasks = new AtomicLong

  private def of(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("")
    of(g).jobs.incrementAndGet()
    js.stageIds.foreach(sid => stageGroup.put(sid, g))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    seenTasks.incrementAndGet()
    val c = of(stageGroup.getOrDefault(te.stageId, ""))
    c.tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      stageTaskMs.computeIfAbsent(te.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    for (s <- i.submissionTime; e <- i.completionTime) stageWallMs.put(i.stageId, e - s)
  }

  /** Wait until the asynchronous listener bus stops delivering tasks. */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 3000) {
      val t = seenTasks.get
      if (t == last) stable += 1 else { stable = 0; last = t }
      Thread.sleep(20)
      waited += 20
    }
  }

  /** Counters of span `id`, with (stage wall ms, max task ms, median task
    * ms) of each stage the span ran. */
  def forSpan(id: Long): Option[(Counters, Seq[(Long, Long, Long)])] =
    Option(groups.get(s"gb-$id")).map { c =>
      val g = s"gb-$id"
      val stages = stageGroup.asScala.collect { case (sid, `g`) => sid }.toSeq.flatMap { sid =>
        Option(stageTaskMs.get(sid)).map { q =>
          val ts = q.asScala.toArray.sorted
          (stageWallMs.getOrDefault(sid, 0L), ts.last, ts(ts.length / 2))
        }
      }
      (c, stages)
    }
}
