package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageShim

/** One timed call into the engine: `layer` is the engine layer the call
  * belongs to (ingest, graph, tail, sink, doc) or `op`/`pass` for the
  * enclosing operation and pass. Times are nanoTime readings. */
final case class Span(id: Int, name: String, layer: String, parent: Int, run: String,
                      start: Long, end: Long)

/** Per-span counters filled from listener events (traced runs only). */
final class SpanStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L; var gcMs = 0L
  var rowsIn = 0L
  var maxTaskMs = 0L
  // per stage: (max task ms, median task ms) for the skew ratio
  val stageMaxMed = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Wraps the benchmark's calls into the engine. Every span records its
  * wall time and samples storage memory at its boundaries, so the peak is
  * known in untraced runs too. With `traced` on, the span id travels to
  * Spark as a job-group-style local property and [[Listener]] attributes
  * jobs, stages, tasks, shuffle, spill and GC to the innermost span. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val stats = mutable.Map.empty[Int, SpanStats]
  private var nextId = 1
  private val stack = mutable.Stack[Int]()
  var run = "setup"
  var peakStorageB = 0L
  var peakCheckpointB = 0L
  /** counts the workloads report for the per-layer metrics */
  val counters = mutable.Map.empty[String, Double]
  /** called on entering and leaving a span of the given layer */
  var onLayer: (String, Boolean) => Unit = (_, _) => ()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def epochMs(nanoTime: Long): Long = (nanoTime + epochOffsetNs) / 1000000L

  def count(key: String, v: Double): Unit = counters(key) = counters.getOrElse(key, 0.0) + v

  /** Memory held by checkpointed (superstep state) RDD blocks. */
  private def checkpointB(): Long = {
    val ck = sc.getPersistentRDDs.collect { case (id, r) if r.isCheckpointed => id }.toSet
    if (ck.isEmpty) 0L else StorageShim.rddMemoryB(ck.contains)
  }

  def sample(): Unit = {
    peakStorageB = math.max(peakStorageB, StorageShim.rddMemoryB(_ => true))
    if (traced) peakCheckpointB = math.max(peakCheckpointB, checkpointB())
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    if (traced) sc.setLocalProperty(Tracer.Prop, id.toString)
    onLayer(layer, true)
    sample()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sample()
      onLayer(layer, false)
      stack.pop()
      if (traced) sc.setLocalProperty(Tracer.Prop, if (parent == 0) null else parent.toString)
      spans += Span(id, name, layer, parent, run, t0, t1)
    }
  }

  def statsFor(id: Int): SpanStats = synchronized(stats.getOrElseUpdate(id, new SpanStats))
}

object Tracer {
  val Prop = "perfbench.span"

  def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toInt).getOrElse(0)
}

/** SparkListener half of the traced run: job/stage/task counters per span,
  * plus block drops and unpersists for the cache layer. */
final class Listener(tr: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val unpersisted = mutable.Set.empty[Int]
  var unpersists = 0L
  var blocksDropped = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = Tracer.spanOf(e.properties)
    jobSpan(e.jobId) = (s, e.time)
    tr.statsFor(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) => tr.statsFor(s).jobIntervals += (t0 -> e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = Tracer.spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    tr.statsFor(s).stages += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTasks.remove(id).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      tr.statsFor(stageSpan.getOrElse(id, 0)).stageMaxMed += (sorted.last -> sorted(sorted.size / 2))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = tr.statsFor(stageSpan.getOrElse(e.stageId, 0))
    st.tasks += 1
    val dur = e.taskInfo.duration
    st.maxTaskMs = math.max(st.maxTaskMs, dur)
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
    val m = e.taskMetrics
    if (m != null) {
      st.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      st.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      st.gcMs += m.jvmGCTime
      st.rowsIn += m.inputMetrics.recordsRead
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    unpersists += 1
    unpersisted += e.rddId
  }

  /** A block of a still-persisted RDD leaving memory is an eviction. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && !b.storageLevel.useMemory) {
      val rdd = b.blockId.asRDDId.map(_.rddId).getOrElse(-1)
      if (!unpersisted.contains(rdd)) blocksDropped += 1
    }
  }
}

/** QueryExecutionListener half: counts scans served from the cache and,
  * for doc-layer queries, the rows out of the widest join (LSH candidate
  * pairs) against the rows the query returned (verified pairs). */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var scanHits = 0L
  var candidates = 0L
  var verified = 0L
  @volatile var docActive = false

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val plan = qe.executedPlan
    scanHits += collect(plan) {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.size
    if (docActive) {
      val joinRows = collect(plan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      if (joinRows.nonEmpty) {
        candidates += joinRows.max
        val out = plan.metrics.get("numOutputRows").map(_.value)
          .orElse(collectFirst(plan) { case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value })
          .getOrElse(0L)
        verified += math.min(out, joinRows.max)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
