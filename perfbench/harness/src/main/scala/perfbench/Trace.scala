package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans around the harness's calls into the program's layers, and — in the
  * traced run only — a SparkListener that keys job, stage and task counters
  * to the span that launched them.
  *
  * A span key is `layer|member|phase`, e.g. `queries|cve_report|exec` or
  * `operators|q91_edit_distance|construct`. While a span is open its key is
  * the SparkContext local property `perfbench.span`, so every job submitted
  * inside it carries the key in its properties. Counters live in memory and
  * are written out once, when the run ends.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  private val spans = mutable.LinkedHashMap.empty[String, SpanStats]
  @volatile private var listener: Option[Listener] = None

  /** Times `body` under `key`; jobs it launches are attributed to `key`. */
  def span[T](key: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, key)
    val t0 = System.nanoTime()
    try body
    finally {
      val s = spans.getOrElseUpdate(key, new SpanStats)
      s.calls += 1
      s.wallNs += System.nanoTime() - t0
      sc.setLocalProperty(SpanProperty, prev)
    }
  }

  def attachListener(): Unit = {
    val l = new Listener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  def detachListener(): Unit = {
    listener.foreach(sc.removeSparkListener)
    listener = None
  }

  /** Counters so far, after the listener bus has delivered every event. */
  def counters(): Map[String, Counters] = listener.fold(Map.empty[String, Counters]) { l =>
    drainListenerBus(sc)
    l.snapshot()
  }

  def spanStats: Map[String, SpanStats] = spans.toMap

  def reset(): Unit = {
    spans.clear()
    listener.foreach(_.clear())
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final class SpanStats {
    var calls = 0L
    var wallNs = 0L
  }

  /** Scheduler counters of the jobs one span launched. */
  final class Counters {
    var jobs = 0L
    var stages = 0L
    var oneTaskStages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var feedScanTasks = 0L
    var taskRunNs = 0L
    var taskCpuNs = 0L
    var taskWaitNs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  /** Waits until the listener bus has delivered every posted event. The bus
    * is package-private in Spark's Scala API (public in bytecode), so it is
    * reached reflectively. */
  private def drainListenerBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private final class Listener extends SparkListener {
    private val byKey = mutable.HashMap.empty[String, Counters]
    private val stageKey = mutable.HashMap.empty[Int, String]
    private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]
    private val feedStages = mutable.HashSet.empty[Int]

    private def counters(key: String) = byKey.getOrElseUpdate(key, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .getOrElse("untraced|-|-")
      counters(key).jobs += 1
      e.stageInfos.foreach { si =>
        stageKey.getOrElseUpdate(si.stageId, key)
        // binaryFiles names its RDD after the path glob: a stage whose
        // lineage holds a `.zip` RDD unzips and parses feed files.
        if (si.rddInfos.exists(_.name.endsWith(".zip"))) feedStages += si.stageId
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      stageSubmitMs((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val c = counters(stageKey.getOrElse(si.stageId, "untraced|-|-"))
      c.stages += 1
      if (si.numTasks == 1) c.oneTaskStages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = counters(stageKey.getOrElse(e.stageId, "untraced|-|-"))
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (feedStages.contains(e.stageId)) c.feedScanTasks += 1
      val ti = e.taskInfo
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        c.taskWaitNs += math.max(0L, ti.launchTime - sub) * 1000000L
      }
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunNs += m.executorRunTime * 1000000L
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    def snapshot(): Map[String, Counters] = synchronized(byKey.toMap)

    def clear(): Unit = synchronized {
      byKey.clear(); stageKey.clear(); stageSubmitMs.clear(); feedStages.clear()
    }
  }
}
