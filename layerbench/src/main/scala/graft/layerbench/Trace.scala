package graft.layerbench

import org.apache.spark.layerbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Where a workload marks its calls into the engine's layers. The untraced
  * runs use [[NoTrace]], so the end-to-end numbers carry no listener and no
  * job-group bookkeeping. */
trait Tracing {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracing {
  def span[T](name: String)(body: => T): T = body
}

/** What the listeners saw while one span was open. Written by Spark's
  * listener thread, read after the span drained the listener bus. */
final class SpanStats {
  var jobs = 0
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var failedTasks = 0
  var changedObservations = 0
  /** Size of the files the span's scans opened (their `filesSize` metric). */
  var scanBytes = 0L
  val commitMs = ArrayBuffer.empty[Long]
  val stageRunMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  /** Max over median task run time, for the span's most skewed stage with
    * at least two tasks (1.0 = balanced, 0 = no multi-task stage). */
  def skew: Double = {
    val ratios = stageRunMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }
}

final case class Span(id: Int, name: String, parent: Option[Int], op: String,
    startNs: Long, stats: SpanStats) {
  var endNs: Long = startNs
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Each span sets its own Spark job
  * group, so the listener can attribute jobs, stages and tasks to it; jobs
  * started by threads that set their own group (a streaming query's
  * micro-batches) go to the span open at the time. Spans stay in memory
  * and are written out once, at the end. */
final class Tracer(spark: SparkSession) extends Tracing {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var open: Option[Span] = None
  private val byGroup = TrieMap.empty[String, Span]
  private val byStage = TrieMap.empty[Int, Span]
  private var opLabel = "isolated"

  private val GroupKey = "spark.jobGroup.id"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      group.flatMap(byGroup.get).orElse(open).foreach { s =>
        s.stats.synchronized {
          s.stats.jobs += 1
          e.stageIds.foreach(byStage.update(_, s))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      byStage.get(e.stageId).foreach { s =>
        val st = s.stats
        st.synchronized {
          val m = e.taskMetrics
          val info = e.taskInfo
          if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) st.failedTasks += 1
          if (m != null) {
            st.cpuNs += m.executorCpuTime
            val sched = info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime
            st.waitMs += m.shuffleReadMetrics.fetchWaitTime + math.max(0L, sched)
            st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            st.spillBytes += m.diskBytesSpilled
            st.stageRunMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) open.foreach { s =>
        s.stats.synchronized {
          s.stats.commitMs += Option(e.progress.durationMs.get("commitOffsets"))
            .map(_.longValue).getOrElse(0L)
        }
      }
  }

  /** Per finished query: the bytes its file scans opened, and whether its
    * observed metrics carry connected components' per-round `_changed`
    * counter (one such execution per label-propagation round). */
  private val queryListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      open.foreach { s =>
        val scanned = scans(qe.executedPlan).map(_.metrics.get("filesSize").fold(0L)(_.value)).sum
        val round = qe.observedMetrics.values.exists(_.schema.fieldNames.contains("_changed"))
        s.stats.synchronized {
          s.stats.scanBytes += scanned
          if (round) s.stats.changedObservations += 1
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  def install(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(queryListener)
  }

  def remove(): Unit = {
    ListenerBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Spans opened inside `body` are tagged with `label` as their op id. */
  def withOp[T](label: String)(body: => T): T = {
    val prev = opLabel
    opLabel = label
    try body finally opLabel = prev
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id), opLabel,
      System.nanoTime(), new SpanStats)
    spans += s
    byGroup.update(s"span-${s.id}", s)
    stack = s :: stack
    open = Some(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      ListenerBus.drain(sc)
      stack = stack.tail
      open = stack.headOption
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** The last root span of that name (the isolated call). */
  def isolated(name: String): Option[Span] =
    spans.reverseIterator.find(s => s.name == name && s.parent.isEmpty)

  /** Duration minus the part covered by direct children (children run
    * one after another, so their walls add). */
  def selfS(s: Span): Double =
    math.max(0.0, s.wallS - spans.filter(_.parent.contains(s.id)).map(_.wallS).sum)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val st = s.stats
      "{" + Seq(
        "\"id\":" + s.id,
        "\"name\":\"" + s.name + "\"",
        "\"parent\":" + s.parent.map(_.toString).getOrElse("null"),
        "\"op\":\"" + s.op + "\"",
        "\"start_ns\":" + s.startNs,
        "\"end_ns\":" + s.endNs,
        "\"wall_s\":" + s.wallS,
        "\"self_s\":" + selfS(s),
        "\"jobs\":" + st.jobs,
        "\"cpu_s\":" + st.cpuNs / 1e9,
        "\"wait_s\":" + st.waitMs / 1e3,
        "\"shuffle_bytes\":" + st.shuffleBytes,
        "\"spill_bytes\":" + st.spillBytes,
        "\"skew\":" + st.skew,
        "\"failed_tasks\":" + st.failedTasks).mkString(",") + "}"
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
