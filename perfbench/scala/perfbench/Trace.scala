package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder for the traced run.
  *
  * A span wraps one call into an engine module from the benchmark's side.
  * It records name, start, end, parent span and run id; spans are kept in
  * memory and written out when the run ends. Because the engine is lazy,
  * spans wrap the actions that force work. Spark jobs are attributed to
  * the innermost open span through a local property, which Spark copies
  * into every job the calling thread (or a thread it starts, such as a
  * streaming query) submits.
  *
  * A span's self time is its duration minus the part its child spans
  * cover, minus `minusNs`: where one Spark job fuses several layers the
  * caller times each prefix through the `noop` sink and passes the
  * prefix time here, so the layer keeps only the difference.
  *
  * Until [[start]] is called every method runs its body and records
  * nothing, and no listener is registered.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  private val spans = new ConcurrentLinkedQueue[Span]
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Long, TaskAgg]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobsBySpan.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet()
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val id = stageSpan.getOrDefault(e.stageId, 0L)
        val a = tasks.computeIfAbsent(id, _ => new TaskAgg)
        val busy = m.executorRunTime
        val delay = e.taskInfo.duration - busy - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime
        a.synchronized {
          a.tasks += 1
          a.runMs += busy
          a.delayMs += math.max(0L, delay)
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile private var enabled = false

  def active: Boolean = enabled

  /** Register the listeners and begin recording. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Run `body` inside a span named `name`. */
  def span[A](name: String, minusNs: Long = 0L)(body: => A): A = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val parent = current.get
    val s = new Span(nextId.incrementAndGet(), if (parent == null) 0L else parent.id,
      name, minusNs)
    val prevProp = sc.getLocalProperty(SpanProperty)
    current.set(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s.start = System.nanoTime()
    try body
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      current.set(parent)
      sc.setLocalProperty(SpanProperty, prevProp)
    }
  }

  /** Traced run only: force `df` through the `noop` sink inside a span
    * named `name` and return the time it took (0 when tracing is off). */
  def materialize(name: String, df: => DataFrame, minusNs: Long = 0L): Long =
    if (!enabled) 0L
    else span(name, minusNs) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }

  /** Traced run only: time a `noop` materialization of `df` inside the
    * current span (the prefix a later span subtracts). */
  def prefix(df: => DataFrame): Long =
    if (!enabled) 0L
    else {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }

  /** Record a count (files, bytes, rows) at the current span boundary. */
  def count(name: String, value: => Double): Unit =
    if (enabled) {
      val s = current.get
      counts.add((if (s == null) 0L else s.id, name, value))
    }
  private val counts = new ConcurrentLinkedQueue[(Long, String, Double)]

  /** Streaming progress events received since the last call. */
  def drainProgress(): Seq[StreamingQueryListener.QueryProgressEvent] = {
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
  }

  /** Per-layer metrics: for every metric, the median over operations
    * (root spans) that touched it of that operation's total. The `spark.*`
    * totals cover the root spans named `opName`, the workload's operation. */
  def summarize(cores: Int, opName: String): Map[String, Double] = {
    if (!enabled) return Map.empty
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val all = spans.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    def root(id: Long): Long = {
      var s = byId.get(id)
      var r = id
      while (s.isDefined) { r = s.get.id; s = byId.get(s.get.parent) }
      r
    }
    val rootOf = all.map(s => s.id -> root(s.id)).toMap
    val children = all.groupBy(_.parent)
    def selfNs(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      math.max(0L, s.end - s.start - covered - s.minusNs)
    }
    val perOp = mutable.Map[(Long, String), Double]().withDefaultValue(0.0)
    def add(r: Long, k: String, v: Double): Unit = perOp((r, k)) += v
    all.foreach { s =>
      val r = rootOf(s.id)
      add(r, s"${s.name}.self_s", selfNs(s) / 1e9)
      val jobs = Option(jobsBySpan.get(s.id)).map(_.get.toDouble).getOrElse(0.0)
      add(r, s"${s.name}.jobs", jobs)
      Option(tasks.get(s.id)).foreach { a =>
        add(r, s"${s.name}.shuffle_mb", a.shuffleWrite / MB)
        add(r, s"${s.name}.spill_mb", a.spill / MB)
        add(r, s"${s.name}.read_mb", a.input / MB)
      }
    }
    counts.asScala.foreach { case (id, k, v) => add(rootOf.getOrElse(id, 0L), k, v) }
    // whole-operation Spark counts, over every span of the operation
    val byRoot = all.groupBy(s => rootOf(s.id))
    all.filter(r => r.parent == 0L && r.name == opName).foreach { r =>
      val ids = byRoot(r.id).map(_.id)
      val aggs = ids.flatMap(i => Option(tasks.get(i)))
      val wall = (r.end - r.start) / 1e9
      add(r.id, "spark.jobs", ids.flatMap(i => Option(jobsBySpan.get(i))).map(_.get).sum.toDouble)
      add(r.id, "spark.tasks", aggs.map(_.tasks).sum.toDouble)
      add(r.id, "spark.task_busy_share", aggs.map(_.runMs).sum / 1e3 / (wall * cores))
      add(r.id, "spark.scheduler_delay_s", aggs.map(_.delayMs).sum / 1e3)
      add(r.id, "spark.gc_s", aggs.map(_.gcMs).sum / 1e3)
      add(r.id, "spark.shuffle_write_mb", aggs.map(_.shuffleWrite).sum / MB)
      add(r.id, "spark.spill_mb", aggs.map(_.spill).sum / MB)
      add(r.id, "spark.input_mb", aggs.map(_.input).sum / MB)
    }
    perOp.toSeq.groupBy(_._1._2).map { case (k, vs) =>
      k -> Stats.median(vs.map(_._2))
    }
  }

  /** Spans as JSON lines (written to the trace file when the run ends). */
  def spanLines: Seq[String] = spans.asScala.toSeq.sortBy(_.start).map { s =>
    val jobs = Option(jobsBySpan.get(s.id)).map(_.get).getOrElse(0L)
    val a = Option(tasks.get(s.id)).getOrElse(new TaskAgg)
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"minus_ns":${s.minusNs},"jobs":$jobs,""" +
      s""""tasks":${a.tasks},"busy_ms":${a.runMs},"shuffle_write_b":${a.shuffleWrite},""" +
      s""""spill_b":${a.spill},"input_b":${a.input}}"""
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  final class Span(val id: Long, val parent: Long, val name: String, val minusNs: Long) {
    @volatile var start = 0L
    @volatile var end = 0L
  }

  final class TaskAgg {
    var tasks = 0L
    var runMs = 0L
    var delayMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
  }
}
