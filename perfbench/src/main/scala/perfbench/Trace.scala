package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

object Layers {
  /** Local property that tags every Spark job with the layer that ran it. */
  val Key = "perfbench.layer"
}

/** Spans recorded by the benchmark around its calls into each layer, kept
  * in memory and written out when the run ends, plus per-layer task
  * metrics summed by a listener from the jobs each span tagged. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

final class Tracer(sc: SparkContext, runId: String) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val listener = new LayerListener
  sc.addSparkListener(listener)

  def add(name: String, v: Double): Unit = synchronized { counters(name) += v }

  /** Time `body` as a span of `layer`; jobs it starts carry the layer tag. */
  def span[T](layer: String)(body: => T): T = {
    val (id, parent) = synchronized {
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      (id, parent)
    }
    val prev = sc.getLocalProperty(Layers.Key)
    sc.setLocalProperty(Layers.Key, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Layers.Key, prev)
      synchronized { stack.pop(); spans += Span(id, layer, parent, t0, t1) }
    }
  }

  /** Build a layer's output inside its span and materialize it there
    * (DataFrames are lazy, so the work would otherwise land in whichever
    * layer consumes it), counting rows at the boundary. */
  def layer(name: String, rowsIn: Long)(build: => DataFrame): DataFrame = span(name) {
    val df = build
    listener.actionCalled()
    val pinned = df.localCheckpoint(true)
    val n = pinned.count()
    add(s"$name.rows_in", rowsIn.toDouble)
    add(s"$name.rows_out", n.toDouble)
    pinned
  }

  /** Self time per layer: a span's duration minus what its child spans
    * cover (children of one span run one after another). */
  def selfSeconds: Map[String, Double] = synchronized {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum }
  }

  /** Wall seconds inside root spans during which no task was running:
    * planning, scheduling and result handling between tasks. */
  def noTaskSeconds: Double = synchronized {
    // spans run on the monotonic clock, task times on the wall clock
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val roots = spans.filter(_.parent < 0)
      .map(s => (s.startNs / 1000000L + offsetMs, s.endNs / 1000000L + offsetMs))
    val busy = listener.taskIntervals
    roots.map { case (a, b) =>
      val clipped = busy.flatMap { case (s, e) =>
        val (cs, ce) = (math.max(s, a), math.min(e, b)); if (ce > cs) Some((cs, ce)) else None }
      (b - a - unionLength(clipped)) / 1000.0
    }.sum
  }

  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def counterValues: Map[String, Double] = synchronized(counters.toMap)

  def spanRecords: Seq[Map[String, Any]] = synchronized {
    spans.sortBy(_.id).map(s => Map("run_id" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq
  }
}

/** Sums task metrics per layer tag; untagged work counts as `spark`. */
final class LayerListener extends SparkListener {
  final class Acc {
    var tasks = 0L; var jobs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
    var recordsIn = 0L
  }
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map.empty[String, Acc]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var actionAt = -1L
  private var planMs = 0.0

  private def acc(layer: String): Acc = accs.getOrElseUpdate(layer, new Acc)

  /** Mark an action call; the next task launch closes the planning gap. */
  def actionCalled(): Unit = actionAt = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Layers.Key))).getOrElse("spark")
    e.stageIds.foreach(id => stageLayer.put(id, layer))
    acc(layer).jobs += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (actionAt >= 0) { planMs += math.max(0L, e.taskInfo.launchTime - actionAt); actionAt = -1L }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLayer.getOrDefault(e.stageId, "spark"))
    a.tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }

  def taskIntervals: Seq[(Long, Long)] = synchronized(intervals.toSeq)

  /** Per-layer and whole-run figures, after the listener bus drained. */
  def snapshot: (Map[String, Map[String, Double]], Map[String, Double]) = synchronized {
    val per = accs.map { case (l, a) => l -> Map(
      "cpu_s" -> a.cpuNs / 1e9, "shuffle_bytes" -> (a.shuffleRead + a.shuffleWrite).toDouble,
      "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble) }.toMap
    val all = accs.filter(_._1 != "bench").values
    val total = Map(
      "plan_ms" -> planMs,
      "jobs" -> all.map(_.jobs).sum.toDouble,
      "tasks" -> all.map(_.tasks).sum.toDouble,
      "gc_s" -> all.map(_.gcMs).sum / 1000.0,
      "cpu_s" -> all.map(_.cpuNs).sum / 1e9,
      "shuffle_read_bytes" -> all.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> all.map(_.spill).sum.toDouble,
      "peak_exec_mem_bytes" -> (if (all.isEmpty) 0.0 else all.map(_.peakMem).max.toDouble),
      "records_in" -> all.map(_.recordsIn).sum.toDouble)
    (per, total)
  }
}
