package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A span: an interval on the epoch-millisecond clock, the span active
  * when it began (0 = none), and numeric attributes. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Double])

/** Spans recorded from outside the program: the benchmark's own calls
  * into each module, plus one span per Spark job, read from a
  * [[SparkListener]] the tracer registers. A job's parent is the
  * benchmark span that was active on the thread that submitted it,
  * carried in the local property [[Tracer.SpanKey]]; streaming jobs
  * carry their micro-batch id. A job whose SQL plan writes files is
  * named `job:write`; any other is named after the action that
  * submitted it. Spans stay in memory until the run ends.
  *
  * Disabled, `span` runs its body with no bookkeeping and no listener is
  * registered, so untraced runs pay nothing. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong()
  private val startNs = System.nanoTime()
  private val startEpochMs = System.currentTimeMillis().toDouble
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var on = false

  def now: Double = startEpochMs + (System.nanoTime() - startNs) / 1e6

  private final class Job(val start: Double, val parent: Long,
      val name: String, val batchId: Double) {
    val metrics = new ConcurrentHashMap[String, Double]()
    def add(k: String, v: Double): Unit = metrics.merge(k, v, _ + _)
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  /** SQL execution id → whether its physical plan writes files. */
  private val writes = new ConcurrentHashMap[Long, java.lang.Boolean]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        writes.put(x.executionId, x.physicalPlanDescription
          .contains("InsertIntoHadoopFsRelationCommand"))
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val writesFiles = prop("spark.sql.execution.id")
        .flatMap(id => Option(writes.get(id.toLong))).exists(_.booleanValue)
      jobs.put(e.jobId, new Job(e.time.toDouble,
        prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
        if (writesFiles) "job:write"
        else "job:" + Tracer.callSiteKind(prop("callSite.short").getOrElse("")),
        prop("streaming.sql.batchId").map(_.toDouble).getOrElse(-1.0)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
      job.foreach { j =>
        j.add("stages", 1)
        Option(info.taskMetrics).foreach { m =>
          j.add("cpu_s", m.executorCpuTime / 1e9)
          j.add("run_s", m.executorRunTime / 1e3)
          j.add("gc_s", m.jvmGCTime / 1e3)
          j.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          j.add("shuffle_bytes", (m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead).toDouble)
          j.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          j.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        val attrs = j.metrics.asScala.toMap ++
          (if (j.batchId >= 0) Map("batch_id" -> j.batchId) else Map.empty)
        spans.add(Span(ids.incrementAndGet(), j.parent, j.name, j.start,
          e.time.toDouble, attrs))
      }
  }

  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def disable(): Unit = if (on) { sc.removeSparkListener(listener); on = false }

  /** Run `f` as span `name`; jobs it submits (directly or from threads
    * it starts) become its children. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = now
      try f
      finally {
        sc.setLocalProperty(Tracer.SpanKey, prev)
        spans.add(Span(id, Option(prev).map(_.toLong).getOrElse(0L), name,
          t0, now, Map.empty))
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Short call-site of a job, reduced to the action that submitted it:
    * `foreachPartition at Streaming.scala:170` → `foreachPartition`. */
  def callSiteKind(callSite: String): String =
    callSite.takeWhile(_ != ' ') match { case "" => "other"; case k => k }
}
