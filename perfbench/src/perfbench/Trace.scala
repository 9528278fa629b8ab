package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder plus the three Spark listeners that
  * attribute engine work to spans. Everything is measured from outside
  * graft: a span wraps one call into a graft public function, the job
  * group set around it lets the SparkListener map jobs to the span, and
  * the QueryExecutionListener / StreamingQueryListener add planning
  * phases, SQL metrics and micro-batch durations. Nothing is written
  * until [[toJson]] at the end of the run. Disabled (the default for
  * end-to-end runs), a span is a plain call. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with nanosecond resolution — the time base
    * Spark's listener events use, so spans and jobs compare directly. */
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      start: Double, var end: Double = 0.0)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Op id that new spans belong to; negative ids are set-up rounds. */
  var op: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        op, name, nowMs)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val prevDesc = Option(sc.getLocalProperty("spark.job.description"))
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, prevDesc.getOrElse(""))
          case None => sc.clearJobGroup()
        }
      }
    }

  // ---- SparkListener: jobs, stages and task metrics -----------------

  final class JobRec(val id: Int, val group: String, val start: Double,
      val stages: Seq[Int]) {
    var end: Double = 0.0
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0.0
    var schedMs = 0.0
    var resultBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobOfStage = scala.collection.mutable.HashMap.empty[Int, JobRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobRec(e.jobId, g, e.time.toDouble, e.stageIds)
      jobs += j
      e.stageIds.foreach(s => jobOfStage(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      jobOfStage.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          j.taskMs += m.executorRunTime
          val wall = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
          j.schedMs += math.max(0L, wall - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
          j.resultBytes += m.resultSize
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  // ---- QueryExecutionListener: planning phases and SQL metrics ------

  final case class QueryRec(func: String, start: Double, phases: Map[String, Double],
      durationMs: Double, paths: Seq[String], nodes: Seq[Map[String, Any]])

  private val queries = ArrayBuffer.empty[QueryRec]

  /** Every physical node of an executed plan, descending into adaptive
    * stages, cached relations and command wrappers, each with its SQL
    * metrics, the file paths it scans or writes, and its depth. */
  private def planNodes(root: SparkPlan): Seq[Map[String, Any]] = {
    val out = ArrayBuffer.empty[Map[String, Any]]
    def walk(p: SparkPlan, depth: Int, parent: Int): Unit = {
      val id = out.size
      val paths: Seq[String] = p match {
        case s: FileSourceScanLike => s.relation.location.rootPaths.map(_.toString)
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => Seq(i.outputPath.toString)
          case _ => Nil
        }
        case _ => Nil
      }
      val metrics: Map[String, Any] = (p match {
        case w: DataWritingCommandExec => w.cmd.metrics ++ p.metrics
        case _ => p.metrics
      }).map { case (k, v) => k -> v.value }
      out += Map("node" -> p.nodeName, "depth" -> depth, "parent" -> parent,
        "paths" -> paths, "metrics" -> metrics)
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children ++ p.subqueries
      }
      kids.foreach(walk(_, depth + 1, id))
    }
    walk(root, 0, -1)
    out.toSeq
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, durationNs)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func + ":failed", qe, 0L)
    private def record(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      val nodes = try planNodes(qe.executedPlan) catch { case _: Throwable => Nil }
      val paths = nodes.filter(_("node").toString.startsWith("Execute"))
        .flatMap(_("paths").asInstanceOf[Seq[String]])
      synchronized {
        queries += QueryRec(func, start,
          phases.map { case (k, v) => k -> v.durationMs.toDouble },
          durationNs / 1e6, paths, nodes)
      }
    }
  }

  // ---- StreamingQueryListener: micro-batch progress -----------------

  private val progress = ArrayBuffer.empty[Map[String, Any]]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs
      val durations = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala
        .map { case (k, v) => k -> v.toLong.toDouble }.toMap
      synchronized {
        progress += Map("start" -> ts, "batch" -> p.batchId,
          "rows" -> p.numInputRows, "durations" -> durations)
      }
    }
  }

  def install(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def toJson: Map[String, Any] = {
    drain()
    synchronized {
      Map(
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
        "jobs" -> jobs.map(j => Map("id" -> j.id, "group" -> j.group,
          "start" -> j.start, "end" -> j.end, "stages" -> j.stages.size,
          "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
          "task_ms" -> j.taskMs, "sched_ms" -> j.schedMs,
          "result_bytes" -> j.resultBytes, "shuffle_bytes" -> j.shuffleBytes,
          "spill_bytes" -> j.spillBytes)),
        "queries" -> queries.map(q => Map("func" -> q.func, "start" -> q.start,
          "phases" -> q.phases, "duration_ms" -> q.durationMs,
          "paths" -> q.paths, "nodes" -> q.nodes)),
        "progress" -> progress.toSeq)
    }
  }
}

/** Minimal JSON writer for the raw run record (maps, sequences,
  * numbers, booleans and strings). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, vv) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(vv)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        var first = true
        it.foreach { y => if (!first) sb += ','; first = false; go(y) }
        sb += ']'
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.result()
  }
}
