package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call from the harness into a layer. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, runId: Int)

/** In-memory span recorder. Spans are only kept while `enabled`; nesting
  * is per thread, so a span opened inside another on the same thread gets
  * it as parent. Written once, at exit, by [[Json.traceDoc]]. */
object Spans {
  @volatile var enabled = false
  @volatile var runId = 0
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        buf.add(Span(id, name, t0, System.nanoTime(), parent, runId))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.startNs)

  /** Milliseconds of each span named `name` in run `run`. */
  def durationsMs(name: String, run: Int): Seq[Double] =
    buf.asScala.iterator.filter(s => s.name == name && s.runId == run)
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Self time: duration minus the union of the children's intervals. */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs,
        c.endNs min s.endNs)).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }
}

/** Spark's own counters, attributed to the harness phase that caused them.
  * A phase is the `perfbench.phase` local property set by [[Phase]] on the
  * thread that runs an action; streaming queries inherit it from the thread
  * that started them. Attached only for traced iterations. */
final class SparkStats(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val phases = mutable.Map.empty[String, mutable.Map[String, Long]]
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  @volatile private var lastPhase = "other"
  /** (phase, funcName, duration ms, written path) of each finished query. */
  val queries = new ConcurrentLinkedQueue[(String, String, Double, String)]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()

  private def add(p: String, counts: (String, Long)*): Unit = synchronized {
    val t = phases.getOrElseUpdate(p, mutable.Map.empty[String, Long].withDefaultValue(0L))
    counts.foreach { case (k, v) => t(k) += v }
  }

  /** Task counters (`jobs`, `tasks`, `run_ms`, `cpu_ns`, `shuffle_write`,
    * `spill`, `gc_ms`, `bytes_read`, `records_read`, `bytes_written`)
    * summed over every phase whose name satisfies `pred`; absent ones are 0. */
  def sum(pred: String => Boolean): Map[String, Long] = synchronized {
    phases.collect { case (p, t) if pred(p) => t }.flatten
      .groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0L)
  }
  def phase(p: String): Map[String, Long] = sum(_ == p)

  /** Every phase's counters, for the trace file. */
  def table: Map[String, Map[String, Long]] = synchronized {
    phases.map { case (p, t) => p -> t.toMap }.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(Phase.Key)))
      .getOrElse("other")
    e.stageIds.foreach(stagePhase.put(_, p))
    lastPhase = p
    add(p, "jobs" -> 1L)
    Option(fences.get(p)).foreach(_.countDown())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) add(Option(stagePhase.get(e.stageId)).getOrElse("other"),
      "tasks" -> 1L, "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled), "gc_ms" -> m.jvmGCTime,
      "bytes_read" -> m.inputMetrics.bytesRead, "records_read" -> m.inputMetrics.recordsRead,
      "bytes_written" -> m.outputMetrics.bytesWritten)
  }

  /** A query's end event follows its jobs' start events on the shared
    * queue, so it is attributed to the phase of the latest job; writes are
    * told apart by their output path. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = lastPhase
    val written = qe.commandExecuted.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }.getOrElse("")
    queries.add((p, funcName, durationNs / 1e6, written))
  }
  def queriesOf(p: String): Seq[(String, String, Double, String)] =
    queries.asScala.filter(_._1 == p).toSeq

  /** Durations (ms) of the writes whose output lies under `dir`. */
  def writesTo(dir: String): Seq[Double] =
    queries.asScala.filter(_._4.contains(dir)).map(_._3).toSeq

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event posted so far has reached this listener (both
    * listeners share Spark's ordered shared queue), then detach. */
  def detach(): Unit = {
    val tag = s"fence-${System.nanoTime()}"
    val latch = new CountDownLatch(1)
    fences.put(tag, latch)
    Phase(tag)(spark.sparkContext.parallelize(Seq(1), 1).count())
    latch.await(30, TimeUnit.SECONDS)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

/** Sets the Spark local property that attributes jobs to a harness phase,
  * and records a span of the same name. */
object Phase {
  val Key = "perfbench.phase"
  def apply[T](name: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try Spans(name)(body) finally sc.setLocalProperty(Key, prev)
  }
}

/** Micro-batch progress of every streaming query, kept per query id. The
  * end-to-end latency of the CDC workloads is read from these (each batch
  * ends at `timestamp + batchDuration`). */
final class Progress extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  private val done = new ConcurrentHashMap[java.util.UUID, CountDownLatch]()

  private def latch(id: java.util.UUID) = done.computeIfAbsent(id, _ => new CountDownLatch(1))
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byQuery.computeIfAbsent(e.progress.id, _ => new ConcurrentLinkedQueue()).add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    latch(e.id).countDown()

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    Option(byQuery.get(id)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Progress of a stopped query, after its termination event arrived. */
  def finished(id: java.util.UUID): Seq[StreamingQueryProgress] = {
    latch(id).await(30, TimeUnit.SECONDS)
    of(id)
  }
}

object Progress {
  private val CountRe = "\"count\":(\\d+)".r
  /** Cumulative change count the batch's end offset covers. */
  def endCount(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => CountRe.findFirstMatchIn(s.endOffset))
      .map(_.group(1).toLong).getOrElse(0L)
  def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.batchDuration
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}
