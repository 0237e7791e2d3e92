package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.log.CommitLog

/** The traced run's span store and per-layer report.
  *
  * Spans are recorded from the benchmark's side of each call into a graft
  * module, and from Spark's public listener APIs: jobs, stages and tasks
  * through a `SparkListener`, Catalyst phases and scan metrics through a
  * `QueryExecutionListener`, compiles through `CodegenMetrics`, and file
  * system work through Hadoop's `FileSystem` statistics. Spark jobs are
  * tied to their op through the job group. Everything stays in memory
  * until [[write]] runs at the end. With tracing off, every hook is a
  * no-op and no listener is registered.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds at nanosecond resolution, the timeline Spark's
    * listener events are stamped on.
    */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var enabled = false
  private var nextId = 0
  private var open = List.empty[Span]
  private var current: Option[OpRec] = None
  private var watched: () => Seq[String] = () => Nil
  private val seenVersion = mutable.Map.empty[String, Long]

  private val ops = ArrayBuffer.empty[OpRec]
  private val spans = ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[(Int, String), Double]

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val queries = ArrayBuffer.empty[QueryRec]
  private var fsBefore = fsStats()
  private var fsAfter = fsBefore

  /** Table roots whose new commits each write op is charged with. */
  def watch(paths: => Seq[String]): Unit = watched = () => paths

  def isEnabled: Boolean = enabled

  def start(): Unit = {
    enabled = true
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    watched().foreach(p => seenVersion(p) = latestVersion(p))
    fsBefore = fsStats()
  }

  def stop(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    fsAfter = fsStats()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    enabled = false
  }

  def beginOp(name: String, kind: Kind): Int = {
    nextId += 1
    if (enabled) {
      val op = OpRec(nextId, name, kind, nowMs, 0.0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      current = Some(op)
      ops += op
      sc.setJobGroup(group(nextId), name, interruptOnCancel = false)
    }
    nextId
  }

  def endOp(id: Int): Unit = current.filter(_.id == id).foreach { op =>
    op.end = nowMs
    op.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - op.compiles
    sc.clearJobGroup()
    if (op.kind == Write) probeCommits(op.id)
    current = None
  }

  /** Times one call into a graft module (`layer` is the module's name). */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(layer, name, current.map(_.id).getOrElse(0),
        open.headOption.map(_.name).getOrElse(""), nowMs, 0.0)
      open = s :: open
      try body
      finally {
        s.end = nowMs
        open = open.tail
        spans += s
      }
    }

  /** Adds `v` to a named counter of the current op. */
  def count(name: String, v: Double): Unit =
    current.foreach(op => counters((op.id, name)) = counters.getOrElse((op.id, name), 0.0) + v)

  private def group(id: Int) = s"perfbench-op-$id"

  private def latestVersion(p: String): Long =
    new CommitLog(p, hadoopConf).latestVersion().getOrElse(-1L)

  /** After a write op: the commits it made (from the log), the log bytes
    * they took, and the cost of a fresh `CommitLog.snapshot()` of each
    * table it changed. Runs after the op's clock has stopped.
    */
  private def probeCommits(op: Int): Unit = watched().foreach { p =>
    val log = new CommitLog(p, hadoopConf)
    val before = seenVersion.getOrElse(p, -1L)
    val now = log.latestVersion().getOrElse(-1L)
    if (now > before) {
      seenVersion(p) = now
      val add = (k: String, v: Double) =>
        counters((op, k)) = counters.getOrElse((op, k), 0.0) + v
      ((before + 1) to now).foreach { v =>
        val c = log.readCommit(v)
        add("log.commits", 1)
        add("io.files_added", c.add.size)
        add("io.files_removed", c.remove.size)
        add("io.bytes_written", c.add.map(_.sizeBytes).sum.toDouble)
        if (c.operation == "MERGE") add("merge.files_rewritten", c.remove.size)
        if (c.operation == "OPTIMIZE")
          add("plans.bytes_rewritten", c.add.map(_.sizeBytes).sum.toDouble)
      }
      val fs = log.fs
      add("log.bytes_written", fs.listStatus(log.logDir).iterator
        .filter(st => logVersion(st.getPath.getName).exists(_ > before))
        .map(_.getLen.toDouble).sum)
      val s = Span("log", "snapshot", op, "", nowMs, 0.0)
      val snap = new CommitLog(p, hadoopConf).snapshot()
      s.end = nowMs
      spans += s
      add("log.snapshots", 1)
      add("log.replay_files",
        snap.commits.size + (if (snap.commits.head.version > 0) 1 else 0))
    }
  }

  /** Call stacks of SQL executions, by execution id. Spark runs many of a
    * query's jobs on its own threads, so a job's own stage details often
    * hold no graft frame; the execution's call site, taken on the calling
    * thread, does.
    */
  private val executionStacks = mutable.Map.empty[Long, String]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionStacks.synchronized(executionStacks(s.executionId) = s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val stack = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionStacks.synchronized(executionStacks.get(id.toLong)))
        .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
      val j = JobRec(e.jobId, g.getOrElse(""), e.time.toDouble, 0.0,
        e.stageIds.toSet, stack)
      jobs.synchronized(jobs += j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.synchronized(stages += StageRec(i.stageId, s.toDouble, c.toDouble, i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      val t = TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble,
        m.map(_.executorRunTime.toDouble).getOrElse(0.0),
        m.map(_.executorCpuTime / 1e6).getOrElse(0.0),
        m.map(_.jvmGCTime.toDouble).getOrElse(0.0),
        m.map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0),
        m.map(x => (x.memoryBytesSpilled + x.diskBytesSpilled).toDouble).getOrElse(0.0))
      tasks.synchronized(tasks += t)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val scans = scanNodes(qe.executedPlan)
      def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value.toDouble).sum
      queries.synchronized(queries += QueryRec(phases,
        metric("numFiles"), metric("numOutputRows")))
    }
  }

  private def scanNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec        => scanNodes(q.plan)
    case s: FileSourceScanExec    => Seq(s)
    case other => other.children.flatMap(scanNodes) ++ other.subqueries.flatMap(scanNodes)
  }

  /** Per-layer metrics of the traced phase, each averaged per op (or per
    * call, for a metric named after one call), plus each layer's self
    * time per op.
    */
  def report(): (Map[String, Double], Map[String, Double]) = {
    val writes = ops.filter(_.kind == Write)
    val nOps = math.max(ops.size, 1).toDouble
    val nWrites = math.max(writes.size, 1).toDouble
    val jobsOf: Map[Int, Seq[JobRec]] = jobs.toSeq.groupBy(j => opOfGroup(j.group))
    val stageById = stages.map(s => s.id -> s).toMap
    val tasksByStage = tasks.toSeq.groupBy(_.stage)
    def opJobs(op: OpRec) = jobsOf.getOrElse(op.id, Nil).filter(_.end > 0)
    def opStages(op: OpRec) = opJobs(op).flatMap(_.stageIds).distinct.flatMap(stageById.get)
    def opTasks(op: OpRec) = opStages(op).flatMap(s => tasksByStage.getOrElse(s.id, Nil))
    def opQueries(op: OpRec) = queries.filter { q =>
      q.phases.values.map(_._1).minOption.exists(t => t >= op.start && t <= op.end)
    }
    def ctr(op: OpRec, k: String) = counters.getOrElse((op.id, k), 0.0)
    def sumCtr(k: String) = ops.map(ctr(_, k)).sum
    def callSpans(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name)
    def meanMs(layer: String, name: String) = {
      val ss = callSpans(layer, name)
      if (ss.isEmpty) 0.0 else ss.map(s => s.end - s.start).sum / ss.size
    }
    def jobsIn(s: Span) = jobs.count(j => j.start >= s.start && j.end <= s.end && j.end > 0)
    def meanJobs(layer: String, name: String) = {
      val ss = callSpans(layer, name)
      if (ss.isEmpty) 0.0 else ss.map(jobsIn(_).toDouble).sum / ss.size
    }
    val m = mutable.LinkedHashMap.empty[String, Double]

    m("manager.handle_output_ms") = meanMs("manager", "handleOutput")
    m("manager.load_input_ms") = meanMs("manager", "loadInput")

    m("log.snapshot_ms") = meanMs("log", "snapshot")
    m("log.replay_files") = sumCtr("log.replay_files") / math.max(sumCtr("log.snapshots"), 1)
    m("log.commits") = sumCtr("log.commits") / nWrites
    m("log.bytes_written") = sumCtr("log.bytes_written") / nWrites

    val loads = ops.filter(ctr(_, "sources.files_live") > 0)
    val scanned = loads.map(op => opQueries(op).map(_.scanFiles).sum)
    val live = loads.map(ctr(_, "sources.files_live"))
    val nLoads = math.max(loads.size, 1).toDouble
    m("sources.files_live") = live.sum / nLoads
    m("sources.files_scanned") = scanned.sum / nLoads
    m("sources.prune_ratio") =
      live.zip(scanned).map { case (l, s) => (l - s) / l }.sum / nLoads
    m("sources.rows_scanned_per_row") =
      loads.map(op => opQueries(op).map(_.scanRows).sum).sum /
        math.max(loads.map(ctr(_, "sources.rows_returned")).sum, 1)

    m("io.files_added") = sumCtr("io.files_added") / nWrites
    m("io.files_removed") = sumCtr("io.files_removed") / nWrites
    m("io.bytes_written") = sumCtr("io.bytes_written") / nWrites
    m("io.driver_ms") = writes.map(op =>
      (op.end - op.start) - covered(opJobs(op).map(j => (j.start, j.end)), op.start, op.end)
    ).sum / nWrites

    val mergeJobs = ops.map(op => op -> opJobs(op).filter(_.stack.contains("graft.merge.")))
    m("merge.ms") = mergeJobs.collect { case (_, js) if js.nonEmpty =>
      js.map(_.end).max - js.map(_.start).min
    }.sum / nWrites
    m("merge.jobs") = mergeJobs.map(_._2.size).sum / nWrites
    m("merge.files_rewritten") = sumCtr("merge.files_rewritten") / nWrites

    m("ext.matview_refresh_ms") = meanMs("ext", "MaterializedAgg.refresh")
    m("ext.matview_refresh_jobs") = meanJobs("ext", "MaterializedAgg.refresh")
    m("ext.dedup_ingest_ms") = meanMs("ext", "DedupIndex.ingest")

    m("plans.optimize_ms") = meanMs("plans", "OPTIMIZE")
    m("plans.vacuum_ms") = meanMs("plans", "VACUUM")
    m("plans.bytes_rewritten") =
      sumCtr("plans.bytes_rewritten") / math.max(callSpans("plans", "OPTIMIZE").size, 1)

    def phase(k: String) = ops.map(op => opQueries(op).map { q =>
      q.phases.get(k).map { case (a, b) => b - a }.getOrElse(0.0)
    }.sum).sum / nOps
    m("catalyst.analysis_ms") = phase("analysis")
    m("catalyst.optimizer_ms") = phase("optimization")
    m("catalyst.planning_ms") = phase("planning")

    val compiles = ops.map(_.compiles.toDouble).sum
    m("codegen.compiles") = compiles / nOps
    m("codegen.compiles_total") = compiles
    m("codegen.compile_ms") =
      compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / nOps

    m("scheduler.jobs") = ops.map(opJobs(_).size).sum / nOps
    m("scheduler.stages") = ops.map(opStages(_).size).sum / nOps
    m("scheduler.tasks") = ops.map(opTasks(_).size).sum / nOps
    m("scheduler.queue_ms") = ops.map { op =>
      opStages(op).map { s =>
        tasksByStage.getOrElse(s.id, Nil).map(_.launch).minOption
          .map(_ - s.start).getOrElse(0.0)
      }.sum
    }.sum / nOps
    m("scheduler.driver_gap_ms") = ops.map(op =>
      (op.end - op.start) - covered(opStages(op).map(s => (s.start, s.end)), op.start, op.end)
    ).sum / nOps

    val allTasks = ops.flatMap(opTasks)
    m("exec.task_ms") = allTasks.map(t => t.finish - t.launch).sum / nOps
    m("exec.cpu_ms") = allTasks.map(_.cpuMs).sum / nOps
    m("exec.gc_ms") = allTasks.map(_.gcMs).sum / nOps
    m("exec.shuffle_bytes") = allTasks.map(_.shuffleBytes).sum / nOps
    m("exec.spill_bytes") = allTasks.map(_.spillBytes).sum / nOps
    m("exec.core_util") = allTasks.map(t => t.finish - t.launch).sum /
      math.max(ops.map(op => (op.end - op.start) * cores).sum, 1e-9)

    fsAfter.foreach { case (k, v) => m(k) = (v - fsBefore(k)) / nOps }

    (m.toMap, selfTimes())
  }

  /** Self time per layer, in ms per op: a span's duration minus the part
    * of it its children cover. Children of a benchmark-side span are the
    * nested benchmark spans, Catalyst phases and Spark jobs inside it; a
    * job's children are its stages (`exec`), and the job's remainder is
    * `scheduler`. Op time outside every layer span is `bench`.
    */
  private def selfTimes(): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val stageById = stages.map(s => s.id -> s).toMap
    ops.foreach { op =>
      val inOp = spans.filter(s => s.op == op.id && s.start >= op.start && s.end <= op.end)
      val js = jobs.filter(j => opOfGroup(j.group) == op.id && j.end > 0)
        .map(j => (j.start, j.end))
      val st = jobs.filter(j => opOfGroup(j.group) == op.id && j.end > 0)
        .flatMap(_.stageIds).distinct.flatMap(stageById.get).map(s => (s.start, s.end))
      val ph = queries.flatMap(_.phases.values)
        .filter { case (a, b) => a >= op.start && b <= op.end }
      val spark = js ++ ph
      acc("exec") += covered(st, op.start, op.end)
      acc("scheduler") += covered(js, op.start, op.end) - covered(st, op.start, op.end)
      acc("catalyst") += covered(ph ++ js, op.start, op.end) - covered(js, op.start, op.end)
      inOp.foreach { s =>
        val kids = inOp.filter(c => (c ne s) && c.start >= s.start && c.end <= s.end)
          .map(c => (c.start, c.end))
        acc(s.layer) += (s.end - s.start) - covered(kids ++ spark, s.start, s.end)
      }
      acc("bench") += (op.end - op.start) -
        covered(inOp.map(s => (s.start, s.end)) ++ spark, op.start, op.end)
    }
    val n = math.max(ops.size, 1).toDouble
    acc.toMap.map { case (k, v) => k -> v / n }
  }

  /** Writes every span, job, stage and op of the traced phase as JSON
    * lines: one record per line, each with a name, start, end, parent and
    * op id.
    */
  def write(path: String): Unit = {
    val sb = new StringBuilder
    def line(name: String, layer: String, start: Double, end: Double,
             parent: String, op: Int): Unit =
      sb ++= f"""{"name":"$name","layer":"$layer","start_ms":$start%.3f,"end_ms":$end%.3f,"parent":"$parent","op":$op}""" += '\n'
    ops.foreach(o => line(o.name, "op", o.start, o.end, "", o.id))
    spans.foreach(s => line(s.name, s.layer, s.start, s.end,
      if (s.parent.isEmpty) "op" else s.parent, s.op))
    val stageById = stages.map(s => s.id -> s).toMap
    jobs.filter(_.end > 0).foreach { j =>
      val op = opOfGroup(j.group)
      line(s"job-${j.id}", moduleOf(j.stack), j.start, j.end, "op", op)
      j.stageIds.flatMap(stageById.get).foreach(s =>
        line(s"stage-${s.id}", "exec", s.start, s.end, s"job-${j.id}", op))
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class OpRec(id: Int, name: String, kind: Kind, start: Double,
                         var end: Double, var compiles: Long)
  final case class Span(layer: String, name: String, op: Int, parent: String,
                        start: Double, var end: Double)
  final case class JobRec(id: Int, group: String, start: Double, var end: Double,
                          stageIds: Set[Int], stack: String)
  final case class StageRec(id: Int, start: Double, end: Double, tasks: Int)
  final case class TaskRec(stage: Int, launch: Double, finish: Double,
                           runMs: Double, cpuMs: Double, gcMs: Double,
                           shuffleBytes: Double, spillBytes: Double)
  final case class QueryRec(phases: Map[String, (Double, Double)],
                            scanFiles: Double, scanRows: Double)

  private val Group = """perfbench-op-(\d+)""".r
  def opOfGroup(g: String): Int = g match {
    case Group(n) => n.toInt
    case _        => -1
  }

  private val LogFile = """v(\d+)\.json|ckpt-v(\d+)\..*""".r
  def logVersion(name: String): Option[Long] = name match {
    case LogFile(v, null) => Some(v.toLong)
    case LogFile(null, v) => Some(v.toLong)
    case _                => None
  }

  /** The innermost graft module on a job's call stack. */
  def moduleOf(stack: String): String =
    """graft\.(\w+)\.""".r.findFirstMatchIn(stack).map(_.group(1)).getOrElse("spark")

  /** Hadoop `FileSystem` statistics of the local file system. */
  def fsStats(): Map[String, Double] = {
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "fs.read_ops" -> all.map(_.getReadOps.toDouble).sum,
      "fs.bytes_read" -> all.map(_.getBytesRead.toDouble).sum,
      "fs.write_ops" -> all.map(_.getWriteOps.toDouble).sum,
      "fs.bytes_written" -> all.map(_.getBytesWritten.toDouble).sum,
      "fs.list_ops" -> all.map(_.getLargeReadOps.toDouble).sum)
  }

  /** Length of the union of `iv`, clipped to `[lo, hi]`. */
  def covered(iv: collection.Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
