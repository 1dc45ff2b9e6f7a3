package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one interval of work, its cause, and the run it belongs to. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Execution counters of one bucket (a query pass, or a whole window). */
final class ExecAgg {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shR, shW, inB = new AtomicLong
}

/** In-memory tracer. Spans come from the benchmark's own calls into the
  * engine and from the listeners registered here: Spark jobs (their parent
  * span rides the job's local properties), the planning phases of every
  * executed QueryExecution, and streaming progress. Nothing is written until
  * the run ends. The listeners' own time is measured as the tracing cost.
  */
final class Trace(val runId: String) {
  private val nextId = new AtomicInteger(1)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** (phase name, start ms, end ms) of every executed QueryExecution */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
  val progress = new ConcurrentHashMap[java.util.UUID,
    java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]]()
  val buckets = new ConcurrentHashMap[String, ExecAgg]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Int)]()
  val hookNs = new AtomicLong

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** high-resolution wall clock, ms since the epoch */
  def now: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  /** The root span, id 0: the workload's whole run. */
  def root(name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(0, -1, name, startMs, endMs))

  def record(parent: Int, name: String, startMs: Double, endMs: Double): Int = {
    val id = nextId.getAndIncrement()
    spans.add(Span(id, parent, name, startMs, endMs))
    id
  }

  /** Runs `body` as span `name` under `parent`; jobs it submits from this
    * thread become its children, and their counters land in `bucket`.
    */
  def span[T](s: SparkSession, parent: Int, name: String, bucket: String)(
      body: Int => T): T = {
    val id = nextId.getAndIncrement()
    val sc = s.sparkContext
    val prev = (sc.getLocalProperty("perfbench.span"),
      sc.getLocalProperty("perfbench.bucket"))
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.bucket", bucket)
    val start = now
    try body(id)
    finally {
      spans.add(Span(id, parent, name, start, now))
      sc.setLocalProperty("perfbench.span", prev._1)
      sc.setLocalProperty("perfbench.bucket", prev._2)
    }
  }

  def bucket(name: String): ExecAgg = buckets.computeIfAbsent(name, _ => new ExecAgg)

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally hookNs.addAndGet(System.nanoTime() - t)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      val b = props.flatMap(p => Option(p.getProperty("perfbench.bucket")))
        .getOrElse("other")
      val parent = props.flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageBucket.put(_, b))
      bucket(b).jobs.incrementAndGet()
      jobStart.put(e.jobId, (e.time, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach { case (st, parent) =>
        record(parent, s"job ${e.jobId}", st.toDouble, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      bucket(stageBucket.getOrDefault(e.stageInfo.stageId, "other"))
        .stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = bucket(stageBucket.getOrDefault(e.stageId, "other"))
      a.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.inB.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = timed {
      qe.tracker.phases.foreach { case (phase, p) =>
        phases.add((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed {
        progress.computeIfAbsent(e.progress.id,
          _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(e)
        ()
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  def drain(s: SparkSession): Unit =
    org.apache.spark.BenchBridge.drainListeners(s.sparkContext)

  /** Triggers of one streaming query that ran a batch, in batch order. */
  def triggers(id: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    Option(progress.get(id)).map(_.asScala.toSeq.map(_.progress)).getOrElse(Nil)
      .filter(_.durationMs.containsKey("addBatch")).sortBy(_.batchId)

  /** Median per-trigger durations of one streaming query, as layer metrics
    * `<prefix>.<phase>_ms`, plus `<prefix>.batches`. A query that ran no
    * batch reports zeros.
    */
  def streamLayers(res: Result, prefix: String, id: Option[java.util.UUID],
      keys: Seq[(String, String)]): Unit = {
    val ts = id.map(triggers).getOrElse(Nil)
    keys.foreach { case (key, name) =>
      val xs = ts.flatMap(p => Option(p.durationMs.get(key)).map(_.toDouble))
      res.layer(s"$prefix.${name}_ms", if (xs.isEmpty) 0.0 else Common.median(xs), "ms")
    }
    res.layer(s"$prefix.batches", ts.size.toDouble, "count")
    // trigger spans: one per batch, from the progress timestamps
    ts.foreach { p =>
      val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      record(0, s"$prefix batch ${p.batchId}", st,
        st + p.durationMs.get("triggerExecution").toDouble)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      sb.append(s"""{"run":${Common.jsonStr(runId)},"id":${s.id},"parent":${s.parent},"name":${Common.jsonStr(s.name)},"start_ms":${Common.jsonNum(s.startMs)},"end_ms":${Common.jsonNum(s.endMs)}}""")
      sb.append('\n')
    }
    Common.write(path, sb.toString)
  }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** The exec-layer metrics of one bucket, named `exec.<pass>.<metric>`. */
  def execLayers(res: Result, pass: String, a: ExecAgg, wallMs: Double,
      perPasses: Int): Unit = {
    val n = math.max(1, perPasses).toDouble
    val mb = 1024.0 * 1024.0
    res.layer(s"exec.$pass.jobs", a.jobs.get / n, "count")
    res.layer(s"exec.$pass.stages", a.stages.get / n, "count")
    res.layer(s"exec.$pass.tasks", a.tasks.get / n, "count")
    res.layer(s"exec.$pass.task_run_ms", a.runMs.get / n, "ms")
    res.layer(s"exec.$pass.task_cpu_ms", a.cpuNs.get / 1e6 / n, "ms")
    res.layer(s"exec.$pass.gc_ms", a.gcMs.get / n, "ms")
    res.layer(s"exec.$pass.shuffle_read_mb", a.shR.get / mb / n, "MB")
    res.layer(s"exec.$pass.shuffle_write_mb", a.shW.get / mb / n, "MB")
    res.layer(s"exec.$pass.input_mb", a.inB.get / mb / n, "MB")
    res.layer(s"exec.$pass.cpu_concurrency",
      if (wallMs > 0) a.cpuNs.get / 1e6 / wallMs else 0.0, "ratio")
  }
}
