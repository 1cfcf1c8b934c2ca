package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One harness call into the program. `op` is the timed operation it
  * belongs to (a backfill pass or a live launch); times are epoch ms.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans and per-layer counters for the traced run. In an untraced run
  * (`on = false`) every call only runs its body.
  *
  * Spans are recorded at every harness call into the program. Spark jobs,
  * Catalyst executions, streaming progress and task metrics arrive through
  * listeners and are attached to the operation whose window contains their
  * start; the harness sets the job group before each call so Spark's own
  * logs carry the same span. Everything stays in memory until [[ledger]].
  */
class Trace private (spark: SparkSession, val on: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int, String, Double)] = Nil // (id, op, name, start)
  private var nextId = 0
  private val ops = mutable.ArrayBuffer.empty[OpWindow]
  private var heapPeak = 0L
  private val added = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[Long] // submission times
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val progress = mutable.ArrayBuffer.empty[ProgressRec]

  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  if (on) attach()

  /** A timed operation: its window scopes every counter and event. */
  def op[A](name: String, id: Int)(body: => A): A =
    if (!on) body
    else {
      val before = counters()
      val start = nowMs
      val a = span(name, id)(body)
      ops += OpWindow(id, start, nowMs, before, counters())
      a
    }

  /** Adds to a counter the harness itself measures. */
  def add(name: String, v: Long): Unit = if (on) added(name) += v

  /** A call into the program, child of the innermost open span. */
  def span[A](name: String, op: Int = -1)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val opId = if (op >= 0) op else stack.headOption.map(_._2).getOrElse(-1)
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, opId, name, nowMs) :: stack
      spark.sparkContext.setJobGroup(s"perfbench:$id", name, interruptOnCancel = false)
      sampleHeap()
      try body
      finally {
        spans += Span(id, parent, opId, name, stack.head._4, nowMs)
        stack = stack.tail
        stack.headOption match {
          case Some((pid, _, pname, _)) =>
            spark.sparkContext.setJobGroup(s"perfbench:$pid", pname, interruptOnCancel = false)
          case None => spark.sparkContext.clearJobGroup()
        }
        sampleHeap()
      }
    }

  private def sampleHeap(): Unit =
    heapPeak = math.max(heapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)

  private def counters(): Map[String, Long] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (CountingFileSystem.snapshot() ++ Seq(
      "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      "codegen.compile_nanos" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime,
      "jvm.gc_ms" -> gc)).toMap
  }

  private def attach(): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
        val p = Option(e.properties)
        jobs(e.jobId) = JobRec(e.time,
          p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
          p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""), e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
        stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          val i = e.taskInfo
          val recordsIn = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          val recordsOut = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
          val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
          tasks += TaskRec(i.launchTime, m.executorRunTime, m.executorCpuTime, delay,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, recordsIn == 0 && recordsOut == 0)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val at = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
        val write = findWrite(qe.executedPlan).map { w =>
          val m = w.metrics
          def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
          WriteRec(v("numFiles"), v("numOutputBytes"), v("numOutputRows"), v("numParts"),
            v("taskCommitTime"), v("jobCommitTime"))
        }
        Trace.this.synchronized {
          execs += ExecRec(at, d("analysis"), d("optimization"), d("planning"), write)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val rec = ProgressRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        Trace.this.synchronized { progress += rec }
      }
    })
  }

  /** Per-layer metrics over the timed operations, each a mean per
    * operation unless its unit says otherwise. `rowsHanded` is the count
    * of canonical rows the timed operations passed to merges.
    */
  def ledger(rowsHanded: Long, lake: LakeStats): Seq[Metric] = {
    // streaming progress rides the same bus, so one drain covers all
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Trace.this.synchronized {
      val n = ops.size.toDouble
      val cores = spark.sparkContext.defaultParallelism
      def inOp(o: OpWindow, t: Double) = t >= o.startMs && t <= o.endMs
      def delta(k: String) = ops.map(o => o.after(k) - o.before(k)).sum.toDouble
      val opSpans = spans.filter(s => ops.exists(_.id == s.op))
      def spanS(name: String) = opSpans.filter(_.name == name).map(_.seconds).sum
      val opJobs = ops.map(o => o -> jobs.values.filter(j => inOp(o, j.startMs.toDouble)).toSeq)
      val allJobs = opJobs.flatMap(_._2).toSeq
      val opTasks = tasks.filter(t => ops.exists(inOp(_, t.launchMs.toDouble)))
      val opExecs = execs.filter(x => ops.exists(inOp(_, x.atMs.toDouble)))
      val writes = opExecs.flatMap(_.write)
      val opProgress = ops.map(o => o -> progress.filter(p => inOp(o, p.startMs.toDouble)).toSeq)
      def dur(k: String) = opProgress.flatMap(_._2).map(_.durationMs.getOrElse(k, 0L)).sum / 1e3
      val opWall = ops.map(o => (o.endMs - o.startMs) / 1e3).sum
      def walls(js: Seq[JobRec]) = js.map(j => (j.startMs.toDouble, j.endMs.toDouble))
      val jobUnion = opJobs.map { case (o, js) => union(walls(js), o.startMs, o.endMs) }.sum
      // a merge runs inside a harness merge span (backfill) or inside the
      // stream's addBatch phase (live), whose jobs carry the stream's group
      val (mergeS, mergeJobsS) =
        if (opProgress.exists(_._2.nonEmpty))
          (dur("addBatch"), opJobs.map { case (o, js) =>
            union(walls(js.filterNot(_.group.startsWith("perfbench:"))), o.startMs, o.endMs)
          }.sum / 1e3)
        else (spanS("merge"), opSpans.filter(_.name == "merge").map { s =>
          union(walls(allJobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)),
            s.startMs, s.endMs)
        }.sum / 1e3)
      val taskRun = opTasks.map(_.runMs).sum / 1e3
      val written = writes.map(_.rows).sum.toDouble
      val compiles = delta("codegen.compiles")
      val queryStart = opProgress.map { case (o, ps) =>
        ps.map(_.startMs).minOption.map(s => math.max(0.0, s - o.startMs) / 1e3).getOrElse(0.0) }.sum
      val fs = CountingFileSystem.snapshot().map(_._1).filter(_ != "fs.list_nanos")
      Seq(
        Metric("trace.ops", n, "count"),
        Metric("normalize.decode_s", spanS("decode") / n, "s/op"),
        Metric("normalize.rows_out", added("normalize.rows_out") / n, "rows/op"),
        Metric("streaming.query_start_s", queryStart / n, "s/op"),
        Metric("streaming.trigger_s", dur("triggerExecution") / n, "s/op"),
        Metric("streaming.add_batch_s", dur("addBatch") / n, "s/op"),
        Metric("streaming.offset_commit_s", (dur("walCommit") + dur("commitOffsets")) / n, "s/op"),
        Metric("lake.merge_s", mergeS / n, "s/op"),
        Metric("lake.merge_driver_s", (mergeS - mergeJobsS) / n, "s/op"),
        Metric("lake.touched_dirs", writes.map(_.parts).sum / n, "1/op"),
        Metric("lake.rows_rewritten_per_new_row", written / math.max(1L, rowsHanded), "rows/row"),
        Metric("lake.files_written", writes.map(_.files).sum / n, "1/op"),
        Metric("lake.bytes_written", writes.map(_.bytes).sum / n, "B/op"),
        Metric("lake.task_commit_s", writes.map(_.taskCommitMs).sum / 1e3 / n, "s/op"),
        Metric("lake.job_commit_s", writes.map(_.jobCommitMs).sum / 1e3 / n, "s/op"),
        Metric("lake.listing_jobs",
          allJobs.count(_.description.startsWith("Listing leaf files")) / n, "1/op"),
        Metric("lake.listing_s", delta("fs.list_nanos") / 1e9 / n, "s/op"),
        Metric("lake.dirs_total", lake.dirs.toDouble, "count"),
        Metric("lake.files_total", lake.files.toDouble, "count")) ++
        fs.map(k => Metric(k, delta(k) / n, "1/op")) ++ Seq(
        Metric("catalyst.analysis_s", opExecs.map(_.analysisMs).sum / 1e3 / n, "s/op"),
        Metric("catalyst.optimization_s", opExecs.map(_.optimizationMs).sum / 1e3 / n, "s/op"),
        Metric("catalyst.planning_s", opExecs.map(_.planningMs).sum / 1e3 / n, "s/op"),
        Metric("catalyst.executions", opExecs.size / n, "1/op"),
        Metric("codegen.compiles", compiles / n, "1/op"),
        Metric("codegen.compile_s", delta("codegen.compile_nanos") / 1e9 / n, "s/op"),
        Metric("codegen.compiles_per_execution",
          compiles / math.max(1, opExecs.size), "1/execution"),
        Metric("spark.jobs", allJobs.size / n, "1/op"),
        Metric("spark.stages", stages.count(t => ops.exists(inOp(_, t.toDouble))) / n, "1/op"),
        Metric("spark.tasks", opTasks.size / n, "1/op"),
        Metric("spark.empty_task_share",
          opTasks.count(_.empty).toDouble / math.max(1, opTasks.size), "share"),
        Metric("spark.job_wall_s", allJobs.map(j => j.endMs - j.startMs).sum / 1e3 / n, "s/op"),
        Metric("spark.task_run_s", taskRun / n, "s/op"),
        Metric("spark.task_cpu_s", opTasks.map(_.cpuNs).sum / 1e9 / n, "s/op"),
        Metric("spark.scheduler_delay_s", opTasks.map(_.delayMs).sum / 1e3 / n, "s/op"),
        Metric("spark.core_util", taskRun / (cores * opWall), "share"),
        Metric("spark.driver_gap_s", (opWall - jobUnion / 1e3) / n, "s/op"),
        Metric("spark.shuffle_write_bytes", opTasks.map(_.shuffleWrite).sum / n, "B/op"),
        Metric("spark.shuffle_read_bytes", opTasks.map(_.shuffleRead).sum / n, "B/op"),
        Metric("spark.spill_bytes", opTasks.map(_.spill).sum / n, "B/op"),
        Metric("jvm.gc_s", delta("jvm.gc_ms") / 1e3 / n, "s/op"),
        Metric("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB"))
    }
  }

  /** Each span name's total and self time (duration minus the part its
    * children cover) over the timed operations, for the artifact.
    */
  def spanTable(): Seq[(String, Int, Double, Double)] = {
    val timed = spans.filter(s => ops.exists(_.id == s.op))
    val kids = timed.groupBy(_.parent)
    timed.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val self = ss.map { s =>
        s.seconds - union(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq,
          s.startMs, s.endMs) / 1e3
      }.sum
      (name, ss.size, ss.map(_.seconds).sum, self)
    }
  }
}

object Trace {
  def apply(spark: SparkSession, on: Boolean): Trace = new Trace(spark, on)

  final case class OpWindow(id: Int, startMs: Double, endMs: Double,
                            before: Map[String, Long], after: Map[String, Long])
  final case class JobRec(startMs: Long, group: String, description: String, endMs: Long)
  final case class TaskRec(launchMs: Long, runMs: Long, cpuNs: Long, delayMs: Long,
                           shuffleRead: Long, shuffleWrite: Long, spill: Long, empty: Boolean)
  final case class WriteRec(files: Long, bytes: Long, rows: Long, parts: Long,
                            taskCommitMs: Long, jobCommitMs: Long)
  final case class ExecRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
                           planningMs: Long, write: Option[WriteRec])
  final case class ProgressRec(startMs: Long, durationMs: Map[String, Long])

  /** The file-write command of an execution, if it has one. It sits behind
    * a CommandResultExec or an adaptive plan's result stage.
    */
  private def findWrite(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Some(w)
    case c: CommandResultExec => findWrite(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => findWrite(a.executedPlan)
    case q: QueryStageExec => findWrite(q.plan)
    case other => other.children.view.flatMap(findWrite).headOption
  }

  /** Length (ms) of the union of intervals, clipped to `[lo, hi]`. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    clipped.foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (a, b)) =>
      if (a >= end) (acc + (b - a), b)
      else if (b > end) (acc + (b - end), b)
      else (acc, end)
    }._1
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What is under a lake root at the end of a run. */
final case class LakeStats(dirs: Long, files: Long, bytes: Long)

object LakeStats {
  def of(root: java.io.File): LakeStats = {
    var dirs, files, bytes = 0L
    def walk(f: java.io.File): Unit =
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { c =>
        if (c.isDirectory) {
          if (!c.listFiles().exists(_.isDirectory)) dirs += 1
          walk(c)
        } else { files += 1; bytes += c.length }
      }
    walk(root)
    LakeStats(dirs, files, bytes)
  }
}
