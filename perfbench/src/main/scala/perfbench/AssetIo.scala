package perfbench

import java.sql.Timestamp
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{StaticDimension, TimeWindow, TimeWindowDimension}
import graft.io.GraftTable
import graft.manager.{AssetKey, GraftIOManager, OutputContext}
import graft.manager.TypeHandlers.dataFrameHandler
import graft.merge.{MergeConfig, MergeType}

/** `asset_io`: the paper's core path. A Dagster-style asset holding every
  * `orders` row, partitioned by month, is materialized through
  * [[GraftIOManager]]; then a seeded stream of about half loads and half
  * writes runs against it:
  *   - `load_window`: `loadInput` of 1–3 months with a projection
  *   - `load_as_of`: the same at an older `versionAsOf`
  *   - `overwrite`: `handleOutput` of one month (replaceWhere)
  *   - `merge`: `handleOutput` in merge mode, rotating the four merge types
  *   - `append`: late arrivals into one month
  * Months are drawn with a Zipf law over their age, so recent months
  * dominate and backfills form the tail. Every load's row count and hash
  * must equal the model, which the benchmark replays on plain Scala
  * collections.
  *
  * No traffic data of the paper's users is in the repository. The op
  * kinds and the half-read, half-write mix are the benchmark's design;
  * everything else is an unverified assumption, kept to two parameters:
  * [[EditShare]] and the Zipf exponent of [[MonthAge]].
  */
final class AssetIo(spark: SparkSession, data: String, seed: Long, tracer: Tracer)
    extends Workload {

  private type Month = Map[Long, Row]
  private type Model = Map[String, Month]

  private val rng = new Random(seed)
  private val key = AssetKey(Seq("bench", "orders"))
  private val Projection = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_month")
  private val MergeTypes = Vector(MergeType.Upsert, MergeType.UpdateOnly,
    MergeType.DeduplicateInsert, MergeType.ReplaceDeleteUnmatched)
  private val MonthCol = "o_month"
  /** The op kinds of one round, in order: 5 window loads (W), 5
    * time-travel loads (V), 3 overwrites (O), 4 merges (M, one of each
    * type) and 3 appends (A). The read kinds share the reads evenly, the
    * write kinds the writes as evenly as one merge of each type allows.
    * Ten writes make one checkpoint per round.
    */
  private val Schedule = "WOVMWAVMWOVMWAVMVOWA"
  /** The share of a month's rows one write edits: each row is dropped
    * with this chance and repriced with this chance, and this share of
    * the month's size arrives as new rows. An assumption.
    */
  private val EditShare = 0.05

  private val sourcePath = s"$data/orders.parquet"
  private val source: DataFrame = spark.read.parquet(sourcePath)
    .withColumn(MonthCol, to_date(date_trunc("month", col("o_orderdate"))))
  private val schema: StructType = source.schema
  private val initial: Model = source.collect().toSeq
    .groupBy(r => r.getAs[java.sql.Date](MonthCol).toString)
    .map { case (m, rows) => m -> rows.map(r => r.getLong(0) -> r).toMap }
  private val months: Vector[String] = initial.keys.toVector.sorted
  /** Cumulative Zipf weights of the full months' ages, see [[pickMonth]]. */
  private val MonthAge: Vector[Double] =
    (1 until months.size).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toVector
  /** Bytes of the source parquet per row: the user bytes of one written row. */
  private val bytesPerRow =
    new java.io.File(sourcePath).length.toDouble / initial.values.map(_.size).sum

  private var plain: GraftIOManager = _
  private var mergers: Vector[GraftIOManager] = Vector.empty
  private var model: Model = initial
  private var versions = Vector.empty[(Long, Model)]
  private var nextKey = initial.values.flatMap(_.keys).max + 1
  private var mergeTurn = 0

  def tables: Seq[String] = Seq(plain.pathFor(plain.resolveSlice(OutputContext(key))))

  def setup(root: String): Unit = {
    plain = new GraftIOManager(spark, root)
    mergers = MergeTypes.map(t => new GraftIOManager(spark, root,
      mergeConfig = Some(MergeConfig(t, "s.o_orderkey = t.o_orderkey"))))
    val v = plain.handleOutput(OutputContext(key,
      metadata = Map("mode" -> "overwrite"),
      partitionDimensions = Seq(StaticDimension(MonthCol, months))), source)
    model = initial
    versions = Vector(v -> initial)
    mergeTurn = 0
  }

  /** One round of [[Schedule]]. A step is a whole round, so that every
    * measured phase holds the same mix of op kinds; the seed drives
    * everything each op reads or writes.
    */
  def step(rec: Recorder): Unit = Schedule.foreach {
    case 'W' => loadWindow(rec)
    case 'V' => loadAsOf(rec)
    case 'O' => overwrite(rec)
    case 'M' => merge(rec)
    case 'A' => append(rec)
  }

  /** A month drawn by its age a (0 = the latest) with chance ∝ 1/(a+1),
    * Zipf's law with exponent 1. The last month of the data holds a
    * single day (64 orders), so ages count from the month before it:
    * every op reads or writes full months.
    */
  private def pickMonth(): Int = {
    val u = rng.nextDouble() * MonthAge.last
    val age = MonthAge.indexWhere(_ > u)
    months.size - 2 - age
  }

  private def ts(month: String): Timestamp =
    Timestamp.valueOf(LocalDate.parse(month).atStartOfDay())

  private def window(from: Int, n: Int): TimeWindowDimension = {
    val end = LocalDate.parse(months(from + n - 1)).plusMonths(1).toString
    TimeWindowDimension(MonthCol, Seq(TimeWindow(ts(months(from)), ts(end))))
  }

  private def load(rec: Recorder, name: String, asOf: Option[(Long, Model)]): Unit = {
    val n = 1 + rng.nextInt(3)
    val from = math.min(pickMonth(), months.size - 1 - n)
    val ctx = OutputContext(key, partitionDimensions = Seq(window(from, n)),
      columns = Some(Projection))
    val want = asOf.map(_._2).getOrElse(model)
    val livefiles = if (tracer.isEnabled) GraftTable(spark, tables.head)
      .snapshot(asOf.map(_._1)).files.size else 0
    rec.op(Read, name) {
      tracer.count("sources.files_live", livefiles)
      val df = tracer.span("manager", "loadInput") {
        plain.loadInput[DataFrame](ctx, asOf.map(_._1))
      }
      val d = tracer.span("sources", "scan")(Digest.of(df))
      tracer.count("sources.rows_returned", d._1)
      d
    } { got =>
      val parts = (from until from + n).map(i => digestOf(want.getOrElse(months(i), Map.empty)))
      Check.equal(s"$name ${months(from)}+$n", got, (parts.map(_._1).sum, parts.map(_._2).sum))
    }
  }

  /** Projected digests of model months. A month's map is replaced, never
    * changed, on every write to it, so its identity keys the cache.
    */
  private val digests = new java.util.IdentityHashMap[Month, (Long, Long)]()

  private def digestOf(m: Month): (Long, Long) = {
    if (!digests.containsKey(m))
      digests.put(m, Digest.ofRows(spark, m.values.toSeq, schema, Projection))
    digests.get(m)
  }

  private def loadWindow(rec: Recorder): Unit = load(rec, "load_window", None)

  /** A load at any earlier version of the run, uniformly drawn. */
  private def loadAsOf(rec: Recorder): Unit = {
    val older = versions.dropRight(1)
    load(rec, "load_as_of", Some(if (older.isEmpty) versions.last else older(rng.nextInt(older.size))))
  }

  private def newRow(like: Row): Row = {
    val k = nextKey
    nextKey += 1
    Row.fromSeq(like.toSeq.updated(0, k))
  }

  private def reprice(r: Row): Row = {
    val p = r.getDouble(3) * (0.8 + 0.4 * rng.nextDouble())
    Row.fromSeq(r.toSeq.updated(3, math.round(p * 100) / 100.0))
  }

  private def rowsOf(m: Int): Vector[Row] =
    model.getOrElse(months(m), Map.empty).values.toVector.sortBy(_.getLong(0))

  private def write(rec: Recorder, name: String, mgr: GraftIOManager, m: Int,
                    rows: Seq[Row], mode: String)(next: Month => Month): Unit = {
    val df = spark.createDataFrame(rows.asJava, schema)
    val ctx = OutputContext(key, metadata = Map("mode" -> mode),
      partitionDimensions = Seq(window(m, 1)))
    rec.op(Write, name) {
      rec.userBytes += rows.size * bytesPerRow
      tracer.span("manager", "handleOutput")(mgr.handleOutput(ctx, df))
    } { v =>
      model = model.updated(months(m), next(model.getOrElse(months(m), Map.empty)))
      versions = versions :+ (v -> model)
    }
  }

  /** An edit of month `m` by [[EditShare]]: the rows kept unchanged, the
    * rows repriced, and the new rows. The rest of the month is dropped.
    */
  private def edit(m: Int): (Vector[Row], Vector[Row], Vector[Row]) = {
    val cur = rowsOf(m)
    val kept = cur.filter(_ => rng.nextDouble() >= EditShare)
    val (repriced, same) = kept.partition(_ => rng.nextDouble() < EditShare)
    (same, repriced.map(reprice), newRows(cur))
  }

  private def newRows(cur: Vector[Row]): Vector[Row] =
    Vector.fill(math.max(1, math.round(EditShare * cur.size).toInt))(newRow(cur(rng.nextInt(cur.size))))

  /** The whole new version of a month. */
  private def overwrite(rec: Recorder): Unit = {
    val m = pickMonth()
    val (same, repriced, fresh) = edit(m)
    val rows = same ++ repriced ++ fresh
    write(rec, "overwrite", plain, m, rows, "overwrite")(_ => byKey(rows))
  }

  /** The changed rows of an edit, or for replace_delete_unmatched the
    * whole new version, which deletes the dropped rows.
    */
  private def merge(rec: Recorder): Unit = {
    val i = mergeTurn % MergeTypes.size
    val t = MergeTypes(i)
    mergeTurn += 1
    val m = pickMonth()
    val (same, repriced, fresh) = edit(m)
    val rows = (if (t == MergeType.ReplaceDeleteUnmatched) same else Vector.empty) ++ repriced ++ fresh
    val src = byKey(rows)
    write(rec, s"merge_${t.name}", mergers(i), m, rows, "merge") { target =>
      t match {
        case MergeType.Upsert => target ++ src
        case MergeType.UpdateOnly => target ++ src.filter { case (k, _) => target.contains(k) }
        case MergeType.DeduplicateInsert => src.filter { case (k, _) => !target.contains(k) } ++ target
        case MergeType.ReplaceDeleteUnmatched => src.filter { case (k, _) => target.contains(k) }
      }
    }
  }

  /** The new rows of an edit alone. */
  private def append(rec: Recorder): Unit = {
    val m = pickMonth()
    val rows = newRows(rowsOf(m))
    write(rec, "append", plain, m, rows, "append")(_ ++ byKey(rows))
  }

  private def byKey(rows: Seq[Row]): Month = rows.map(r => r.getLong(0) -> r).toMap

  def finish(rec: Recorder): Unit = rec.finalCheck("final table") {
    val df = GraftTable(spark, tables.head).toDf()
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    Check.equal("final table", Digest.of(df),
      Digest.ofRows(spark, model.values.flatMap(_.values).toSeq, schema, schema.fieldNames.toSeq))
  }
}

/** Row count and an order-independent hash of a frame's rows. */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val h = pmod(xxhash64(cols: _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def ofRows(spark: SparkSession, rows: Seq[Row], schema: StructType,
             columns: Seq[String]): (Long, Long) =
    of(spark.createDataFrame(rows.asJava, schema).select(columns.map(col): _*))
}
