package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the run's span tree (times in epoch ms). */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty)

/** A job as the scheduler saw it: its job group (set by the benchmark
  * before each query call), and the stream and micro-batch ids Spark
  * stamps on streaming jobs. */
final case class JobRec(id: Int, group: String, streamId: String, batchId: Long,
                        start: Long, var end: Long, stageIds: Seq[Int])

/** Per-stage task totals (ms unless named bytes / records / ns). */
final class StageRec(val id: Int) {
  var submit, complete = 0L
  var tasks = 0L
  var runMs, cpuNs, schedDelayMs, gcMs = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, spill, input = 0L
}

/** Planning phases and the adaptive final plan of one query call. */
final case class ExecRec(group: String, analysisMs: Double, optimizationMs: Double,
                         planningMs: Double, runtimeExchanges: Int, reusedExchanges: Int)

/** The traced run's recorder: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (phase times, AQE final plan) and a log
  * appender on Spark's code generator (compile time, whole-stage
  * fallbacks). Everything is kept in memory and read when the run ends. */
final class Trace(spark: SparkSession) {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextSpan = new AtomicLong(1)
  private val events = new AtomicLong(0)
  val compileMicros = new LongAdder
  val fallbacks = new ConcurrentLinkedQueue[String]()
  val rootSpan: Long = newId()
  /** Logical plans about to run -> the job group of their query call. */
  private val expected = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String]())

  private val analysisOf = new ConcurrentHashMap[String, Double]()

  /** Attribute the execution of `df`'s plan to `group`. The query was
    * analysed when `df` was built, so that phase comes from its own
    * tracker; the rest from the write that executes it. */
  def expect(df: org.apache.spark.sql.DataFrame, group: String): Unit = {
    val qe = df.queryExecution
    expected.put(qe.analyzed, group)
    analysisOf.put(group, qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
  }

  /** Job group (batch query) or "<stream id>:<batch id>" -> the span its jobs hang under. */
  val parentSpan = new ConcurrentHashMap[String, Long]()

  def newId(): Long = nextSpan.getAndIncrement()

  def addSpan(s: Span): Unit = spans.add(s)

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val p = e.properties
      val batch = Option(prop(p, "streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, Option(prop(p, "spark.jobGroup.id")).getOrElse(""),
        Option(prop(p, "sql.streaming.queryId")).getOrElse(""), batch, e.time, 0L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      val s = stages.computeIfAbsent(i.stageId, id => new StageRec(id))
      s.synchronized {
        s.submit = i.submissionTime.getOrElse(0L)
        s.complete = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          s.schedDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
            m.executorDeserializeTime - m.executorRunTime - m.resultSerializationTime -
            gettingResult)
        }
      }
    }
  }

  /** (runtime exchanges, reused exchanges) of an executed plan: query
    * stages of the adaptive final plan, or plain exchanges where the plan
    * is not adaptive. */
  private def planCounts(root: SparkPlan): (Int, Int) = {
    var exchanges, reused = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => q.plan match {
          case _: ReusedExchangeExec => reused += 1
          case e => exchanges += 1; e.children.foreach(walk)
        }
        case _: ReusedExchangeExec => reused += 1
        case e: Exchange => exchanges += 1; e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    (exchanges, reused)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      // the write command's plan holds the query's plan as a child; the
      // query's execution id is not the one the listener sees, so the
      // call is matched by plan identity
      qe.logical.find(p => expected.containsKey(p)).map(expected.get).foreach { group =>
        val (ex, reused) = planCounts(qe.executedPlan)
        execs.add(ExecRec(group, ms("analysis") + analysisOf.getOrDefault(group, 0.0),
          ms("optimization"), ms("planning"), ex, reused))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val codegenLoggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      msg match {
        case Generated(ms) => compileMicros.add((ms.toDouble * 1000).toLong)
        case _ if msg.contains("codegen disabled") || msg.contains("codegen was disabled") ||
            msg.contains("falling back to interpreter") || msg.contains("Failed to compile") =>
          fallbacks.add(msg.take(300))
        case _ =>
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    appender.start()
    config.addAppender(appender)
    codegenLoggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      config.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    codegenLoggers.foreach(n => ctx.getConfiguration.removeLogger(n))
    ctx.updateLoggers()
    appender.stop()
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  def jobsWhere(f: JobRec => Boolean): Seq[JobRec] = jobs.values.asScala.filter(f).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i))).filter(_.tasks > 0)

  def execsOf(js: Seq[JobRec]): Seq[ExecRec] = {
    val groups = js.map(_.group).toSet
    execs.asScala.filter(e => groups(e.group)).toSeq
  }

  /** Job and stage spans under their query / trigger parents, plus
    * self time for every span; written once, when the run ends. */
  def spanTree(): Seq[Span] = {
    def parentOf(j: JobRec): Option[Long] =
      Option(parentSpan.get(if (j.batchId >= 0) s"${j.streamId}:${j.batchId}" else j.group))
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      parentOf(j).toSeq.flatMap { p =>
        val jid = newId()
        val js = Span(jid, p, s"job:${j.id}", j.start.toDouble, j.end.toDouble)
        js +: j.stageIds.flatMap(i => Option(stages.get(i))).filter(_.tasks > 0).map { s =>
          Span(newId(), jid, s"stage:${s.id}", s.submit.toDouble, s.complete.toDouble,
            Map("tasks" -> s.tasks.toDouble, "run_ms" -> s.runMs.toDouble,
              "shuffle_write_bytes" -> s.shuffleWrite.toDouble))
        }
      }
    }
    val all = spans.asScala.toSeq ++ jobSpans
    val childTime = all.groupBy(_.parent).view.mapValues(_.map(s => s.end - s.start).sum).toMap
    all.map(s => s.copy(attrs = s.attrs + ("self_ms" ->
      math.max(0.0, (s.end - s.start) - childTime.getOrElse(s.id, 0.0)))))
  }

  /** Write the span tree (run id, spans with self time) to `path`. */
  def writeSpans(path: String, runId: String): Int = {
    val tree = spanTree()
    val doc = Map("run_id" -> runId, "root" -> rootSpan, "spans" -> tree.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "attrs" -> s.attrs)
    })
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json(doc).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    tree.size
  }
}
