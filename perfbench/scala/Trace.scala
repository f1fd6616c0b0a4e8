package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.json4s._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock for spans: epoch milliseconds with sub-millisecond digits,
  * advanced by the monotonic clock so spans never run backwards. Epoch
  * based so spans line up with Spark event times and file mtimes. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, kind: String, parent: Int,
                      start: Double, end: Double, ok: Boolean, attrs: Map[String, JValue])

/** Spans the benchmark records around each public call it makes. Kept in
  * memory; written once, when the run ends. */
final class Spans {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()

  /** Time `body` as span `name` of `kind`. Jobs the body starts on this
    * thread carry the kind as the `perfbench.span` local property, which
    * names the module of work no `graft.` frame claims (the benchmark's
    * own SQL, for one). */
  def time[A](spark: SparkSession, name: String, kind: String, parent: Int = 0)
             (body: Int => A): A = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", kind)
    val t0 = Clock.nowMs
    var ok = false
    try { val r = body(id); ok = true; r }
    finally {
      done.add(Span(id, name, kind, parent, t0, Clock.nowMs, ok, Map.empty))
      sc.setLocalProperty("perfbench.span", prev)
    }
  }

  /** Record a span timed elsewhere (client threads time their own
    * requests). */
  def record(name: String, kind: String, start: Double, end: Double, ok: Boolean,
             attrs: Map[String, JValue] = Map.empty): Unit =
    done.add(Span(ids.incrementAndGet(), name, kind, 0, start, end, ok, attrs))

  def json: JValue = JArray(done.asScala.toList.sortBy(_.id).map { s =>
    JObject(List(
      "id" -> JInt(s.id), "name" -> JString(s.name), "kind" -> JString(s.kind),
      "parent" -> JInt(s.parent), "start" -> JDouble(s.start), "end" -> JDouble(s.end),
      "ok" -> JBool(s.ok)) ++ s.attrs.toList)
  })
}

/** Per-job and per-SQL-execution records, from the public listener API
  * only. A job is assigned to a module later, from the call site of the
  * SQL execution it runs under (`spark.sql.execution.id`), or, for a job
  * outside any execution, from its result stage's call site. Stage NAMES
  * are never used: under AQE they show the pool thread's frame.
  *
  * Scan and join metrics are read from the SQL metrics each execution's
  * plan declares (`SparkPlanInfo`), matched by accumulator id to driver
  * updates (files and partitions read) and task updates (join rows), so
  * they belong to their execution exactly.
  *
  * Nothing here sleeps: the caller drains the bus by stopping the
  * SparkContext, which delivers every queued event before it returns. */
final class Trace extends SparkListener {

  final class StageAgg {
    var submitted = 0L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedWaitMs = 0L; var fetchWaitMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var outBytes = 0L; var outRecords = 0L
  }
  final class Job(val id: Int, val start: Long, val exec: Option[Long], val group: String,
                  val span: String, val streaming: Boolean, val stages: Seq[Int],
                  val frames: Seq[String]) {
    var end = 0L
  }
  final class Exec(val id: Long, val start: Long, val frames: Seq[String], val root: String) {
    var end = 0L
    val metrics = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  }

  /** Plan metrics worth attributing: SQL metric name -> our key. */
  private val ScanMetrics = Map("number of files read" -> "files_read",
    "size of files read" -> "bytes_read", "number of partitions read" -> "partitions_read")

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  /** accumulator id -> (execution id, key) for driver-side scan metrics */
  private val scanAccums = mutable.HashMap.empty[Long, (Long, String)]
  /** accumulator id -> (execution id, running total) for join output rows */
  private val joinAccums = mutable.HashMap.empty[Long, (Long, Long)]
  private val busyNs = new AtomicLong(0)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(body) finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  /** The frames of a call site that can name a module: those in the
    * program's `graft.` packages, innermost first, capped at three. */
  private def graftFrames(callSite: String): Seq[String] =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim.stripPrefix("at "))
      .filter(_.startsWith("graft.")).take(3)

  /** The plan's file-write command if it has one (it names the target
    * path), else its root node; AQE can wrap a write below its root. */
  private def planRoot(p: SparkPlanInfo): String = {
    def write(n: SparkPlanInfo): Option[SparkPlanInfo] =
      if (n.nodeName.contains("InsertInto")) Some(n) else n.children.iterator.flatMap(write).nextOption()
    write(p).getOrElse(p).simpleString.take(300)
  }

  private def indexPlan(exec: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach { m =>
      ScanMetrics.get(m.name).foreach(k => scanAccums(m.accumulatorId) = (exec, k))
      if (p.nodeName.contains("Join") && m.name == "number of output rows")
        joinAccums.getOrElseUpdate(m.accumulatorId, (exec, 0L))
    }
    p.children.foreach(indexPlan(exec, _))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs(e.jobId) = new Job(e.jobId, e.time, prop("spark.sql.execution.id").map(_.toLong),
      prop("spark.jobGroup.id").getOrElse(""), prop("perfbench.span").getOrElse(""),
      prop("sql.streaming.queryId").isDefined, e.stageIds,
      result.map(s => graftFrames(s.details)).getOrElse(Nil))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).submitted =
      e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    if (s.submitted > 0) s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
    e.taskInfo.accumulables.foreach { a =>
      joinAccums.get(a.id).foreach { case (x, n) =>
        val v = a.update match { case Some(l: Long) => l; case _ => 0L }
        joinAccums(a.id) = (x, n + v)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      execs(s.executionId) = new Exec(s.executionId, s.time, graftFrames(s.details),
        planRoot(s.sparkPlanInfo))
      indexPlan(s.executionId, s.sparkPlanInfo)
    }
    case s: SparkListenerSQLAdaptiveExecutionUpdate => timed {
      indexPlan(s.executionId, s.sparkPlanInfo)
    }
    case s: SparkListenerDriverAccumUpdates => timed {
      s.accumUpdates.foreach { case (id, v) =>
        scanAccums.get(id).foreach { case (x, k) => execs.get(x).foreach(_.metrics(k) += v) }
      }
    }
    case s: SparkListenerSQLExecutionEnd => timed {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ => ()
  }

  def register(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  /** Call only after the SparkContext has stopped (the bus is drained). */
  def json: JValue = synchronized {
    def agg(s: StageAgg): JValue = JObject(
      "tasks" -> JInt(s.tasks), "run_ms" -> JInt(s.runMs), "cpu_ns" -> JInt(s.cpuNs),
      "gc_ms" -> JInt(s.gcMs), "sched_wait_ms" -> JInt(s.schedWaitMs),
      "fetch_wait_ms" -> JInt(s.fetchWaitMs), "shuffle_write" -> JInt(s.shuffleWrite),
      "shuffle_read" -> JInt(s.shuffleRead), "spill" -> JInt(s.spill),
      "out_bytes" -> JInt(s.outBytes), "out_records" -> JInt(s.outRecords))
    val joinRows: Map[Long, Long] =
      joinAccums.values.toSeq.groupMapReduce(_._1)(_._2)((a, b) => math.max(a, b))
    JObject(
      "jobs" -> JArray(jobs.values.toList.map { j =>
        JObject(
          "id" -> JInt(j.id), "start" -> JInt(j.start), "end" -> JInt(j.end),
          "exec" -> j.exec.map(JInt(_)).getOrElse(JNull),
          "group" -> JString(j.group), "span" -> JString(j.span),
          "streaming" -> JBool(j.streaming),
          "frames" -> JArray(j.frames.toList.map(JString(_))),
          "stages" -> JArray(j.stages.toList.flatMap(id => stages.get(id).map(agg))))
      }),
      "executions" -> JArray(execs.values.toList.map { x =>
        JObject(List(
          "id" -> JInt(x.id), "start" -> JInt(x.start), "end" -> JInt(x.end),
          "root" -> JString(x.root), "frames" -> JArray(x.frames.toList.map(JString(_))),
          "max_join_rows" -> JInt(BigInt(joinRows.getOrElse(x.id, 0L)))) ++
          x.metrics.toList.map { case (k, v) => k -> JInt(v) })
      }),
      "listener_s" -> JDouble(busyNs.get / 1e9))
  }
}
