package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It keeps everything in memory and hands it
  * over as one JSON document at the end:
  *
  *  - spans the benchmark opens around its calls into each layer (name,
  *    layer, start, end, parent id);
  *  - Spark jobs with their task totals, from a `SparkListener`;
  *  - streaming query starts and progress, from a `StreamingQueryListener`;
  *  - parquet writes with target path, duration, rows and files, from a
  *    `QueryExecutionListener`. Register it before any streaming query
  *    starts: the sessions those queries clone inherit it.
  *
  * The listeners are registered only for the length of a pass. Their
  * events arrive on Spark's asynchronous bus, so each record is tagged
  * with its pass, and a pass ends with [[org.apache.spark.PerfbenchBus.drain]]
  * so that none spills past it. Times are epoch milliseconds, the clock
  * Spark's events use.
  */
final class Probe(spark: SparkSession) {
  @volatile private var pass: String = ""

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private final case class Span(id: Int, parent: Int, name: String, layer: String,
                                pass: String, start: Double, var end: Double)
  private val spans = ArrayBuffer.empty[Span]
  private val open = new java.util.ArrayDeque[Span]()
  private val ids = new AtomicInteger(0)

  /** Time `f` as a span of the current pass, if one is on; spans opened
    * inside `f` on this thread are its children. Only the driver thread
    * opens spans. */
  def span[A](name: String, layer: String)(f: => A): A = if (pass.isEmpty) f else {
    val parent = Option(open.peek()).map(_.id).getOrElse(0)
    val s = Span(ids.incrementAndGet(), parent, name, layer, pass, nowMs(), Double.NaN)
    spans.synchronized(spans += s)
    open.push(s)
    try f finally { s.end = nowMs(); open.pop() }
  }

  private val jobs = ArrayBuffer.empty[String]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  // per job: tasks, failed tasks, run ms, gc ms, shuffle write, shuffle read, spill bytes
  private val taskTotals = new ConcurrentHashMap[Int, Array[Long]]()
  private val starts = ArrayBuffer.empty[String]
  private val progress = ArrayBuffer.empty[String]
  private val writes = ArrayBuffer.empty[String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.get(e.stageId)
      if (job != null) {
        val t = taskTotals.computeIfAbsent(job, _ => new Array[Long](7))
        val m = e.taskMetrics
        t.synchronized {
          t(0) += 1
          if (e.reason != org.apache.spark.Success) t(1) += 1
          if (m != null) {
            t(2) += m.executorRunTime
            t(3) += m.jvmGCTime
            t(4) += m.shuffleWriteMetrics.bytesWritten
            t(5) += m.shuffleReadMetrics.totalBytesRead
            t(6) += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      val t = Option(taskTotals.remove(e.jobId)).getOrElse(new Array[Long](7))
      val ok = e.jobResult == JobSucceeded
      jobs.synchronized(jobs += Json.obj("pass" -> pass, "start" -> start, "end" -> e.time,
        "ok" -> ok, "tasks" -> t(0), "failed_tasks" -> t(1), "run_ms" -> t(2),
        "gc_ms" -> t(3), "shuffle_write" -> t(4), "shuffle_read" -> t(5), "spill" -> t(6)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    // posted synchronously on the thread that starts the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      starts.synchronized(starts += Json.obj("pass" -> pass, "at" -> nowMs(),
        "run_id" -> e.runId.toString))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += Json.obj("pass" -> pass,
        "progress" -> Json.Raw(e.progress.json)))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val writeListener = new QueryExecutionListener {
    /** The plan and every plan nested in it, adaptive and command plans included. */
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
      case other => other +: other.children.flatMap(nodes)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      nodes(qe.executedPlan).collect { case w: DataWritingCommandExec => w }
        .foreach { w =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
              writes.synchronized(writes += Json.obj("pass" -> pass, "end" -> nowMs(),
                "path" -> i.outputPath.toString, "ms" -> durationNs / 1e6,
                "rows" -> metric("numOutputRows"), "files" -> metric("numFiles")))
            case _ =>
          }
        }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Register the listeners and tag what they see with `name`. */
  def startPass(name: String): Unit = {
    pass = name
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(writeListener)
  }

  /** Let every event of the pass arrive, then unregister the listeners, so
    * that work between passes runs untraced. */
  def endPass(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(writeListener)
    pass = ""
  }

  def json: String = Json.obj(
    "spans" -> Json.Raw(spans.synchronized(spans.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "pass" -> s.pass,
      "start" -> s.start, "end" -> s.end))).mkString("[", ",", "]")),
    "jobs" -> Json.Raw(jobs.synchronized(jobs.mkString("[", ",", "]"))),
    "query_starts" -> Json.Raw(starts.synchronized(starts.mkString("[", ",", "]"))),
    "progress" -> Json.Raw(progress.synchronized(progress.mkString("[", ",", "]"))),
    "writes" -> Json.Raw(writes.synchronized(writes.mkString("[", ",", "]"))))
}

/** Just enough JSON writing for the raw run record. */
object Json {
  final case class Raw(text: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
