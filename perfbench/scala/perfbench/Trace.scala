package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation (a batch with its snapshot
  * read, or a query) share `trace`; `parent` is -1 for a root. Times are
  * nanoseconds on the benchmark's monotonic clock. */
final case class Span(id: Int, trace: Int, name: String, parent: Int,
    start: Long, end: Long) {
  def secs: Double = (end - start) / 1e9
}

/** Module a piece of work belongs to, from the program frames on its call
  * stack (innermost first). Used both for sampled driver stacks and for a
  * Spark job's call site, so both agree on the split:
  * validate = `Pipeline.validateJob` outside `graft.io`;
  * kpi = `Kpi` under `Pipeline.transformJob`;
  * store = the rest of `transformJob` outside `graft.io` (store read,
  * `KpiMerge`, the commit protocol); io = `graft.io.Sources` under either;
  * runner = anything else. */
object Modules {
  def classify(frames: Iterable[String]): String = {
    def has(p: String => Boolean) = frames.exists(p)
    val io = has(_.startsWith("graft.io.Sources"))
    if (has(f => f.startsWith("graft.pipeline.Pipeline") &&
        f.contains("validateJob"))) if (io) "io" else "validate"
    else if (has(f => f.startsWith("graft.pipeline.Pipeline") &&
        f.contains("transformJob")))
      if (has(_.startsWith("graft.kpi."))) "kpi" else if (io) "io" else "store"
    else "runner"
  }

  /** `cls.method` strings of a Spark long-form call site. */
  def callSiteFrames(longForm: String): Seq[String] =
    longForm.split("\n").toSeq.map(l => l.trim.takeWhile(_ != '('))
}

/** What the listener learned about one Spark job. */
final class JobRec(val span: Int, val module: String,
    val start: Long, val stages: Seq[Int]) {
  @volatile var end: Long = start
}

final class StageRec {
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Records spans in memory and, when tracing, every Spark job and stage
  * with the span that ran it (through the `perfbench.span` local property
  * that job submissions inherit), plus planning time per span from the
  * query execution listener. Driver time inside a batch is attributed to
  * modules by sampling the benchmark thread's stack. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile private var current = -1

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  val planMs = new ConcurrentHashMap[Int, Double]()
  private val sampler = new Sampler(Thread.currentThread())

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, s.details); ()
      case _ => ()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      // the SQL execution's call site is the action on the benchmark
      // thread, also for jobs submitted from Spark's own pools
      val site = props.flatMap(p => Option(p.getProperty(
          "spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong)))
        .orElse(j.stageInfos.headOption.map(_.details)).getOrElse("")
      jobs.put(j.jobId, new JobRec(span,
        Modules.classify(Modules.callSiteFrames(site)), ms(j.time),
        j.stageIds))
      ()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.end = ms(j.time))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskMetrics != null) {
        val s = stages.computeIfAbsent(t.stageId, _ => new StageRec)
        val m = t.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.outputBytes += m.outputMetrics.bytesWritten
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.taskMs += t.taskInfo.duration
        }
        ()
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      planMs.merge(current, ms, (a: Double, b: Double) => a + b); ()
    }
  }

  private val SpanProp = "perfbench.span"
  // listener-bus event times are wall-clock ms; spans are nanoTime
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ms(wallMs: Long): Long = wallMs * 1000000L + wallToNano

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    sampler.start()
  }

  def now(): Long = System.nanoTime()

  private var open: List[(Int, Int)] = Nil // (span, trace) of open spans

  /** Run `body` as a span, nested in the innermost open one. Untraced,
    * only the wall time is kept. `sampled` attributes the span's driver
    * time to modules (see [[childSpans]]). */
  def span[A](name: String, sampled: Boolean = false)(body: => A)
      : (A, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val (parent, tr) = open.headOption.getOrElse((-1, id))
    val prevProp = sc.getLocalProperty(SpanProp)
    val prev = current
    open = (id, tr) :: open
    if (enabled) {
      sc.setLocalProperty(SpanProp, id.toString)
      current = id
      if (sampled) sampler.sampling = true
    }
    try {
      val start = now()
      val a = body
      val s = Span(id, tr, name, parent, start, now())
      if (enabled) {
        if (sampled) sampler.sampling = false
        // deliver this span's events before the next span starts, so
        // asynchronous listener callbacks land on the right span
        org.apache.spark.perfbench.BusDrain.drain(sc)
        spans.synchronized { spans += s }
        if (sampled) childSpans(s)
      }
      (a, s)
    } finally {
      open = open.tail
      if (enabled) {
        sampler.sampling = false
        current = prev
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }
  }

  /** Child spans of a sampled span: one per run of consecutive samples in
    * the same module; the span's time not covered by a child is its own. */
  private def childSpans(parent: Span): Unit = {
    val samples = sampler.take()
    var runStart = -1L
    var runMod = ""
    def close(at: Long): Unit =
      if (runMod.nonEmpty && runMod != "runner") spans.synchronized {
        nextId += 1
        spans += Span(nextId, parent.trace, runMod, parent.id, runStart, at)
      }
    samples.foreach { case (t, m) =>
      if (m != runMod) { close(t); runStart = t; runMod = m }
    }
    close(parent.end)
  }

  def jobsOf(spanIds: Set[Int]): Seq[JobRec] =
    jobs.values.asScala.filter(j => spanIds.contains(j.span)).toSeq

  def stage(id: Int): Option[StageRec] = Option(stages.get(id))

  def close(): Unit = {
    sampler.stopNow()
    if (enabled) {
      org.apache.spark.perfbench.BusDrain.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def relSecs(t: Long): Double = (t - t0) / 1e9
}

/** Samples one thread's stack every `intervalMs` while `sampling` is set,
  * keeping (time, module) pairs. */
final class Sampler(target: Thread, intervalMs: Long = 2L) extends Thread {
  setDaemon(true)
  setName("perfbench-sampler")
  @volatile var sampling = false
  @volatile private var running = true
  private val buf = mutable.ArrayBuffer.empty[(Long, String)]

  override def run(): Unit =
    while (running) {
      if (sampling) {
        val t = System.nanoTime()
        val frames = target.getStackTrace.toSeq
          .map(f => f.getClassName + "." + f.getMethodName)
        val m = Modules.classify(frames)
        buf.synchronized { buf += ((t, m)); () }
      }
      Thread.sleep(intervalMs)
    }

  def take(): Seq[(Long, String)] = buf.synchronized {
    val s = buf.toSeq
    buf.clear()
    s
  }

  def stopNow(): Unit = {
    running = false
    if (isAlive) join()
  }
}
