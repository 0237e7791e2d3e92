package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a seeded closed-loop op stream over
  * tables it builds itself.
  */
trait Workload {
  /** Builds the initial tables and indexes under `root`. */
  def setup(root: String): Unit
  /** Runs the next round of ops of the stream: a fixed mix of op kinds
    * whose inputs the seed draws.
    */
  def step(rec: Recorder): Unit
  /** Checks the final state of the tables against the model. */
  def finish(rec: Recorder): Unit
  /** Every table root the workload writes. */
  def tables: Seq[String]
}

/** Runs one workload and prints its metrics.
  *
  * {{{
  * perfbench.Main --workload asset_io|store_refresh --seed N --seconds S
  *                --trace 0|1 --data DIR --work DIR [--trace-out FILE]
  * }}}
  *
  * The last line of standard output is one JSON object with the keys
  * `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {
  /** The nominal length of a round on 4 cores. A run measures
    * `seconds / RoundSeconds` whole rounds, rounded, and at least one: a
    * fixed amount of work, so that a faster program does not write more
    * and move the write and space metrics.
    */
  val RoundSeconds = 15.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val work = new File(args("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    println(s"workload=$workloadName seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cores=$cores")

    val t0 = System.nanoTime()
    // every setting but the two scratch directories is graft.Bench's
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, cores)
    val wl: Workload = workloadName match {
      case "asset_io"      => new AssetIo(spark, data, seed, tracer)
      case "store_refresh" => new StoreRefresh(spark, data, seed, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    tracer.watch(wl.tables)

    // one cold build, as a user starting the program sees it; it also
    // warms the JVM for the rounds, as there is no separate warm-up pass
    val b0 = System.nanoTime()
    wl.setup(s"$work/tables")
    val buildS = (System.nanoTime() - b0) / 1e9
    val setupS = sessionS + buildS
    println(f"setup: session $sessionS%.3f s, build $buildS%.3f s")

    // a traced run warms up with one untimed round, then measures twice,
    // untraced and then traced, and reports the difference as the tracing
    // overhead
    val rounds = math.max(1, math.round(seconds / RoundSeconds).toInt)
    val warm = new Recorder(tracer)
    if (traced) wl.step(warm)
    val plain = measure(wl, new Recorder(tracer), rounds)
    val tracedRun = if (traced) {
      tracer.start()
      val r = measure(wl, new Recorder(tracer), rounds)
      tracer.stop()
      Some(r)
    } else None

    println(f"measured: $rounds rounds, ${plain.wallS}%.3f s wall, ${plain.rec.ops} ops" +
      tracedRun.map(t => f"; traced: ${t.wallS}%.3f s wall, ${t.rec.ops} ops").getOrElse(""))
    val checks = new Recorder(tracer)
    wl.finish(checks)
    val all = Seq(warm, plain.rec, checks) ++ tracedRun.map(_.rec)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    all.flatMap(_.failures).take(20).foreach(f => println(s"FAILED $f"))

    val e2e = endToEnd(plain, setupS, wl)
    printTable("end-to-end (untraced; the result line carries the gated ones)", e2e)
    printTable("median latency by op (untraced)", plain.rec.byName.toSeq.map { case (n, xs) =>
      (s"$n (n=${xs.size})", Recorder.quantile(xs.toSeq, 0.5), "s")
    })
    val metrics: Seq[(String, Double, String)] = tracedRun match {
      case None => e2e.filter { case (n, _, _) => Gated(n) }
      case Some(tr) =>
        val (layers, self) = tracer.report()
        val overhead = endToEnd(tr, setupS, wl).zip(e2e).collect {
          case ((n, t, u), (_, p, _)) if !Set("setup_s", "space_amp", "peak_rss_mb")(n) =>
            (s"$n traced-untraced", t - p, u)
        }
        printTable("tracing overhead", overhead)
        printTable("per-layer self time", self.toSeq.sortBy(-_._2).map { case (k, v) => (k, v, "ms/op") })
        printTable("per-layer", layers.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "") })
        args.get("trace-out").foreach(tracer.write)
        PerLayer.map { case (n, u) => (n, layers(n), u) }
    }
    println(s"ops: attempted=$attempted failed=$failed failed_ratio=${failed.toDouble / attempted}")

    spark.stop()
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    // the session is stopped; leftover non-daemon threads must not hold the JVM
    System.exit(0)
  }

  /** The end-to-end metrics the result line carries, the ones
    * `BENCHMARK.json` bounds. The report prints the throughput, the
    * latencies and the peak RSS too, but their run-to-run spread on a
    * shared 4-core machine came too close to the largest bound allowed
    * (see README.md).
    */
  val Gated: Set[String] = Set("setup_s", "write_amp", "space_amp", "live_heap_mb")

  /** The per-layer metrics the result line carries in a traced run. Each
    * is defined on every workload (counts may be 0 where a workload does
    * not reach the layer); the full per-layer report precedes the line.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "log.snapshot_ms" -> "ms", "log.replay_files" -> "count",
    "log.commits" -> "count", "log.bytes_written" -> "bytes",
    "sources.files_scanned" -> "count", "sources.prune_ratio" -> "ratio",
    "sources.rows_scanned_per_row" -> "ratio",
    "io.files_added" -> "count", "io.files_removed" -> "count",
    "io.bytes_written" -> "bytes", "io.driver_ms" -> "ms",
    "merge.ms" -> "ms", "merge.jobs" -> "count", "merge.files_rewritten" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimizer_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "codegen.compiles" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.queue_ms" -> "ms",
    "scheduler.driver_gap_ms" -> "ms",
    "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.shuffle_bytes" -> "bytes",
    "exec.core_util" -> "ratio",
    "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes")

  final case class Phase(rec: Recorder, wallS: Double, fsWritten: Double, liveHeapMb: Double)

  /** Runs `rounds` rounds of the stream. */
  private def measure(wl: Workload, rec: Recorder, rounds: Int): Phase = {
    val w0 = bytesWritten()
    val t0 = System.nanoTime()
    val live = (1 to rounds).map { _ => wl.step(rec); liveHeapMb() }
    Phase(rec, (System.nanoTime() - t0) / 1e9, bytesWritten() - w0, live.max)
  }

  /** The heap in use after a full collection: what the program still
    * holds between rounds, without the garbage whose amount depends on
    * when the collector last ran. The first collection lets Spark's
    * context cleaner drop the blocks and broadcasts of frames no longer
    * referenced; the second, after the cleaner had time to run, frees
    * them.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes written through Hadoop's local file system: data, log,
    * checkpoint, deletion-vector and change files alike.
    */
  private def bytesWritten(): Double = Tracer.fsStats()("fs.bytes_written")

  private def endToEnd(p: Phase, setupS: Double, wl: Workload): Seq[(String, Double, String)] = {
    val r = p.rec
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", r.ops / r.timedSeconds, "1/s"),
      ("read_p50_s", Recorder.quantile(r.reads.toSeq, 0.5), "s"),
      ("read_p90_s", Recorder.quantile(r.reads.toSeq, 0.9), "s"),
      ("write_p50_s", Recorder.quantile(r.writes.toSeq, 0.5), "s"),
      ("write_p90_s", Recorder.quantile(r.writes.toSeq, 0.9), "s"),
      ("write_amp", p.fsWritten / r.userBytes, "ratio"),
      ("space_amp", spaceAmp(wl), "ratio"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("live_heap_mb", p.liveHeapMb, "MB"))
  }

  /** Bytes under the table roots divided by the bytes of live data files. */
  private def spaceAmp(wl: Workload): Double = {
    val onDisk = wl.tables.map(t => FileUtils.sizeOfDirectory(new File(t)).toDouble).sum
    val conf = new org.apache.hadoop.conf.Configuration()
    val live = wl.tables.map { t =>
      new graft.log.CommitLog(t, conf).snapshot().files.map(_.sizeBytes).sum.toDouble
    }.sum
    onDisk / live
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def printTable(title: String, rows: Seq[(String, Double, String)]): Unit = {
    println(s"-- $title")
    rows.foreach { case (n, v, u) => println(f"  $n%-34s ${fmt(v)}%s $u") }
  }
}

