package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.BenchListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a workload, an operation, a layer call inside it (build,
  * execute, snapshot read, planning phase), or a Spark job or stage.
  * Times are epoch milliseconds, the clock Spark's own events use.
  */
final class Span(val id: Int, val parent: Int, val kind: String,
                 val name: String, val start: Double) {
  var end: Double = start
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Spans and counters for the traced run, recorded from outside the
  * engine: the benchmark opens spans around its calls into each layer,
  * and a SparkListener plus a QueryExecutionListener hang Spark's jobs,
  * stages, task metrics, planning phases and physical-plan shape off
  * the span that was open when the work started. Kept in memory and
  * written out once at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageParent = mutable.Map.empty[Int, Int]
  private val jobSpans = mutable.Map.empty[Int, Span]
  @volatile private var current = -1

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def newSpan(parent: Int, kind: String, name: String, start: Double): Span =
    synchronized {
      val s = new Span(spans.size, parent, kind, name, start)
      spans += s
      s
    }

  /** Runs `body` inside a new span under the currently open one; Spark
    * work started inside is attributed to it.
    */
  def span[T](kind: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = current
    val s = newSpan(outer, kind, name, System.currentTimeMillis().toDouble)
    current = s.id
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.currentTimeMillis().toDouble
      BenchListenerBus.drain(sc)
      current = outer
      sc.setLocalProperty(SpanProp, if (outer < 0) null else outer.toString)
    }
  }

  def close(): Unit = {
    BenchListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
    parent.foreach { p =>
      val job = newSpan(p.toInt, "job", s"job ${e.jobId}", e.time.toDouble)
      synchronized {
        e.stageIds.foreach(st => stageParent(st) = job.id)
        jobSpans(e.jobId) = job
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobSpans.remove(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    synchronized(stageParent.get(info.stageId)).foreach { parent =>
      val st = newSpan(parent, "stage", s"stage ${info.stageId}",
        info.submissionTime.getOrElse(0L).toDouble)
      st.end = info.completionTime.getOrElse(0L).toDouble
      val m = info.taskMetrics
      st.add("tasks", info.numTasks)
      if (m != null) {
        st.add("run_s", m.executorRunTime / 1e3)
        st.add("cpu_s", m.executorCpuTime / 1e9)
        st.add("gc_s", m.jvmGCTime / 1e3)
        st.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        st.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        st.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        st.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        st.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  /** Scheduler delay per task: time the task existed outside its run,
    * deserialization and result serialization.
    */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val delayMs = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      synchronized(stageParent.get(e.stageId)).foreach { job =>
        synchronized(spans(job).add("task_delay_s", math.max(0L, delayMs) / 1e3))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val parent = current
    if (parent < 0) return
    qe.tracker.phases.foreach { case (phase, ph) =>
      val s = newSpan(parent, "plan", phase, ph.startTimeMs.toDouble)
      s.end = ph.endTimeMs.toDouble
    }
    val plan = qe.executedPlan
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    synchronized {
      val sp = spans(parent)
      sp.add("queries", 1)
      sp.add("exchanges",
        collectWithSubqueries(plan) { case x: Exchange => x }.size)
      sp.add("sort_merge_joins",
        collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.size)
      sp.add("scan_files", scans.map(metric(_, "numFiles")).sum)
      sp.add("scan_bytes", scans.map(metric(_, "filesSize")).sum)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def toJson(arr: ArrayNode): Unit = synchronized {
    spans.foreach { s =>
      val o: ObjectNode = arr.addObject()
      o.put("id", s.id).put("parent", s.parent).put("kind", s.kind)
        .put("name", s.name).put("start_ms", s.start).put("end_ms", s.end)
      val c = o.putObject("counters")
      s.counters.foreach { case (k, v) => c.put(k, v) }
    }
  }
}
