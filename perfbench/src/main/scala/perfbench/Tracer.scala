package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Janino compilations so far, from Spark's always-on codegen histograms. */
final case class Codegen(classes: Long, compileMs: Double) {
  def since(before: Codegen): JValue = JObject(
    "classes" -> JInt(classes - before.classes),
    "compile_ms" -> JDouble(compileMs - before.compileMs))
}

object Codegen {
  /** The histogram keeps every sample until 1028 of them; past that the sum
    * is estimated as mean × count.
    */
  def snapshot(): Codegen = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val sum = if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    Codegen(n, sum)
  }
}

/** Micro-batch `triggerExecution` times: the one streaming figure the
  * untraced run needs.
  */
final class BatchTimes extends StreamingQueryListener {
  private val ms = mutable.ArrayBuffer[Double]()
  def clear(): Unit = synchronized(ms.clear())
  def snapshot(): Seq[Double] = synchronized(ms.toSeq)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(e.progress.durationMs.get("triggerExecution"))
      .foreach(v => synchronized(ms += v.doubleValue))
}

/** Per-operation layer counters, fed by Spark's listener interfaces.
  *
  * Listener events arrive on Spark's bus threads; `begin`, `phase` and `end`
  * drain the bus first, so every event is counted in the operation (and the
  * phase: plan construction or action) that caused it.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var phaseName = "build"
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val lastStateRows = mutable.Map[java.util.UUID, Double]()
  private var opStartMs = 0L
  private var codegen0 = Codegen(0, 0)
  private var pins0 = 0

  def add(k: String, v: Double): Unit = synchronized(counters(k) += v)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      counters("sched.jobs") += 1
      if (phaseName == "build") counters("entry.build_jobs") += 1
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Tracer.this.synchronized {
        counters("sched.tasks") += 1
        if (m != null) {
          val overhead = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime
          counters("sched.task_overhead_ms") += math.max(0L, overhead)
          counters("exec.run_ms") += m.executorRunTime
          counters("exec.cpu_ms") += m.executorCpuTime / 1e6
          counters("exec.gc_ms") += m.jvmGCTime
          counters("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
          counters("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
          counters("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
          counters("spill.memory_bytes") += m.memoryBytesSpilled
          counters("spill.disk_bytes") += m.diskBytesSpilled
          counters("io.input_bytes") += m.inputMetrics.bytesRead
          counters("io.input_rows") += m.inputMetrics.recordsRead
          counters("io.output_bytes") += m.outputMetrics.bytesWritten
          counters("io.output_rows") += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  // Planning phases of each action's QueryExecution. Analysis that the
  // Dataset API does eagerly while a DataFrame is built runs under other
  // QueryExecutions and is not seen here; it is in the build or ETL timers.
  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ps.get(p).foreach(s => add(s"plan.${p}_ms", s.durationMs.toDouble))
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String) = d.get(k).map(_.doubleValue).getOrElse(0.0)
      Tracer.this.synchronized {
        counters("stream.batches") += 1
        counters("stream.add_batch_ms") += ms("addBatch")
        counters("stream.wal_commit_ms") += ms("walCommit")
        counters("stream.commit_offsets_ms") += ms("commitOffsets")
        counters("stream.query_planning_ms") += ms("queryPlanning")
        counters("stream.state_commit_ms") += p.stateOperators.map(_.commitTimeMs).sum
        lastStateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum.toDouble
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  private def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  def begin(): Unit = {
    drain()
    synchronized {
      counters.clear(); jobSpans.clear(); lastStateRows.clear()
      phaseName = "build"
      opStartMs = System.currentTimeMillis()
    }
    codegen0 = Codegen.snapshot()
    pins0 = spark.sparkContext.getPersistentRDDs.size
  }

  def phase(p: String): Unit = { drain(); phaseName = p }

  /** Close the operation and return its counters. */
  def end(): Map[String, Double] = {
    drain()
    val endMs = System.currentTimeMillis()
    val cg = Codegen.snapshot()
    synchronized {
      // wall time with no job running: the op's span minus the union of
      // its jobs' spans
      val spans = jobSpans.map { case (s, e) => (math.max(s, opStartMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var cur: Option[(Long, Long)] = None
      spans.foreach { case (s, e) =>
        cur match {
          case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
          case Some((cs, ce)) => covered += ce - cs; cur = Some((s, e))
          case None => cur = Some((s, e))
        }
      }
      cur.foreach { case (cs, ce) => covered += ce - cs }
      counters("sched.driver_only_ms") = (endMs - opStartMs - covered).toDouble
      counters("codegen.classes") = (cg.classes - codegen0.classes).toDouble
      counters("codegen.compile_ms") = cg.compileMs - codegen0.compileMs
      counters("pins.leaked") =
        (spark.sparkContext.getPersistentRDDs.size - pins0).toDouble
      if (lastStateRows.nonEmpty) counters("stream.state_rows") = lastStateRows.values.sum
      counters.toMap
    }
  }
}
