package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ext.{DedupIndex, MaterializedAgg}
import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.merge.Dml

/** `store_refresh`: the write-heavy lifecycle of derived LLM stores. It
  * reaches the merge engine through the matview refresh's clause merge,
  * the DV delete and the dedup store's post-commit hooks, where `asset_io`
  * reaches it through the strategy merge.
  *
  * Setup: an `orders` source (change feed and deletion vectors on) with a
  * `MaterializedAgg` matview, and a `DedupIndex` over 15/16 of
  * `documents`. Each cycle reads the matview, appends a seeded batch of
  * orders, refreshes the matview and reads it, ingests a batch of
  * documents into the dedup store and probes it, makes two DV point
  * deletes of a few orders, refreshes and reads the matview again, and
  * probes the store with a batch it never ingests. It ends with the
  * background maintenance of the orders source, VACUUM and then OPTIMIZE:
  * at the end, so that OPTIMIZE compacts the cycle's own files even in the
  * first cycle, and VACUUM first, so that it never deletes files the
  * matview's next refresh still diffs.
  */
final class StoreRefresh(spark: SparkSession, data: String, seed: Long, tracer: Tracer)
    extends Workload {
  import StoreRefresh._

  private val rng = new Random(seed)

  private def bytesPerRow(name: String, rows: Long): Double =
    new java.io.File(s"$data/$name.parquet").length.toDouble / rows

  private val orders: DataFrame = spark.read.parquet(s"$data/orders.parquet")
    .filter(col("o_orderkey") % SourceShare === 0)
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("o_totalcents"))
  private val orderRows: Vector[Row] = orders.collect().toVector
  private val orderSchema: StructType = orders.schema
  private val orderBytes = bytesPerRow("orders", orderRows.size)

  private val docs: DataFrame = spark.read.parquet(s"$data/documents.parquet")
  private val docRows: Vector[Row] = docs.collect().toVector.sortBy(_.getLong(0))
  private val docSchema: StructType = docs.schema
  private val docBytes = bytesPerRow("documents", docRows.size)
  private val (heldOut, corpus) = docRows.partition(_.getLong(0) % 16 == 0)

  private var root = ""
  private def src = s"$root/orders"
  private def view = s"$root/orders_by_status"
  private def dedup = s"$root/dedup_store"
  def tables: Seq[String] = Seq(src, view, dedup)

  private var nextKey = 0L
  private var nextDoc = 0L
  private val liveKeys = ArrayBuffer.empty[Long]
  private var freshDocs = Vector.empty[Row]
  /** The model of the dedup store: the ids of the documents it holds. */
  private val storedIds = scala.collection.mutable.Set.empty[Long]
  /** Corpus documents the store holds, the originals of the copies. */
  private var originals = Vector.empty[Row]

  def setup(root: String): Unit = {
    this.root = root
    GraftWriter.write(spark, orders, src, WriteOptions(mode = WriteMode.ErrorIfExists,
      metadata = Map("graft.dv" -> "true", "graft.cdf" -> "true")))
    MaterializedAgg.refresh(spark, src, view, GroupKeys, "o_totalcents")
    DedupIndex.build(spark, dedup,
      spark.createDataFrame(corpus.asJava, docSchema))

    nextKey = orderRows.map(_.getLong(0)).max + 1
    nextDoc = docRows.map(_.getLong(0)).max + 1
    liveKeys.clear(); liveKeys ++= orderRows.map(_.getLong(0))
    freshDocs = rng.shuffle(heldOut)
    storedIds.clear(); storedIds ++= storeIds()
    originals = corpus.filter(r => storedIds(r.getLong(0)))
  }

  private def storeIds(): Seq[Long] =
    GraftTable(spark, dedup).toDf().select("doc_id").distinct().collect().map(_.getLong(0)).toSeq

  private def pick[T](xs: collection.IndexedSeq[T]): T = xs(rng.nextInt(xs.size))

  private def orderBatch(): Seq[Row] = (0 until OrderBatch).map { _ =>
    val r = pick(orderRows)
    val k = nextKey; nextKey += 1
    Row(k, r.get(1), r.get(2), r.get(3), r.getLong(4) + rng.nextInt(2001) - 1000)
  }

  /** Half unseen held-out documents, half near or exact copies of stored
    * ones, each under a new id.
    */
  private def docBatch(): Docs = {
    val fresh = freshDocs.take(DocBatch / 2)
    freshDocs = freshDocs.drop(DocBatch / 2)
    val copies = (0 until DocBatch - fresh.size).map { i =>
      val r = pick(originals)
      val words = r.getString(1).split(" ")
      val exact = i % 2 == 0 || words.length < 2
      val text =
        if (exact) r.getString(1)
        else words.updated(rng.nextInt(words.length), "revised").mkString(" ")
      val id = nextDoc; nextDoc += 1
      (Row(id, text, r.get(2), r.get(3), text.length.toLong), exact)
    }
    val rows = fresh ++ copies.map(_._1)
    Docs(spark.createDataFrame(rows.asJava, docSchema), rows.map(_.getLong(0)).toSet,
      copies.collect { case (r, true) => r.getLong(0) }.toSet)
  }

  /** One whole cycle. A step is a cycle, not an op, so that every
    * measured phase holds the same mix of ops. The two deletes, three
    * matview reads and two probes put the latency percentiles on groups
    * of like ops rather than on one op's single sample.
    */
  def step(rec: Recorder): Unit = {
    graft.ext.Scratch.drain()
    val ob = orderBatch()
    val db = docBatch()
    val screen = docBatch()
    // distinct picks among keys live before this cycle
    val dels = Iterator.continually(liveKeys(rng.nextInt(liveKeys.size)))
      .distinct.take(2 * DeleteKeys).toVector.grouped(DeleteKeys).toVector

    readView(rec)
    rec.op(Write, "append_orders") {
      rec.userBytes += ob.size * orderBytes
      tracer.span("io", "GraftWriter.write")(GraftWriter.write(spark,
        spark.createDataFrame(ob.asJava, orderSchema), src, WriteOptions(mode = WriteMode.Append)))
    }(_ => liveKeys ++= ob.map(_.getLong(0)))
    refreshView(rec)
    readView(rec)
    // an exact copy of a stored document never survives, and the store
    // gains exactly the survivors
    var survivors = Set.empty[Long]
    rec.op(Write, "dedup_ingest") {
      rec.userBytes += DocBatch * docBytes
      tracer.span("ext", "DedupIndex.ingest")(ids(DedupIndex.ingest(spark, dedup, db.df)))
    } { got =>
      survivors = got
      Check.equal("exact copies among the survivors", got & db.exactCopies, Set.empty[Long])
      storedIds ++= got
      Check.equal("dedup store docs", storeIds().toSet, storedIds.toSet)
    }
    // the ingested batch's survivors now match themselves
    probe(rec, db, survivors)
    dels.foreach(delete(rec, _))
    refreshView(rec)
    readView(rec)
    // a screening probe of documents that are never ingested
    probe(rec, screen, Set.empty)
    rec.op(Write, "vacuum") {
      spark.conf.set("spark.graft.vacuum.retentionCheck", "false")
      try tracer.span("plans", "VACUUM")(
        spark.sql(s"VACUUM graft.`$src` RETAIN 0 HOURS").collect())
      finally spark.conf.unset("spark.graft.vacuum.retentionCheck")
    }(_ => ())
    rec.op(Write, "optimize") {
      tracer.span("plans", "OPTIMIZE")(spark.sql(s"OPTIMIZE graft.`$src`").collect())
    }(_ => ())
  }

  private def delete(rec: Recorder, keys: Seq[Long]): Unit =
    rec.op(Write, "dv_delete") {
      tracer.span("merge", "Dml.delete")(Dml.delete(spark, src, col("o_orderkey").isin(keys: _*)))
    } { _ =>
      val gone = keys.toSet
      liveKeys.filterInPlace(k => !gone(k))
    }

  private def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** A probe returns only the batch's documents, and at least its exact
    * copies of stored documents and the `stored` ones.
    */
  private def probe(rec: Recorder, batch: Docs, stored: Set[Long]): Unit =
    rec.op(Read, "dedup_probe") {
      tracer.span("ext", "DedupIndex.probe")(ids(DedupIndex.probe(spark, dedup, batch.df)))
    } { hits =>
      Check.equal("probe hits outside the batch", hits -- batch.ids, Set.empty[Long])
      Check.equal("stored or copied docs the probe missed",
        (batch.exactCopies ++ stored) -- hits, Set.empty[Long])
    }

  private def refreshView(rec: Recorder): Unit =
    rec.op(Write, "matview_refresh") {
      tracer.span("ext", "MaterializedAgg.refresh")(
        MaterializedAgg.refresh(spark, src, view, GroupKeys, "o_totalcents"))
    }(_ => ())

  /** Reads the matview; it must equal a fresh GROUP BY over its source. */
  private def readView(rec: Recorder): Unit =
    rec.op(Read, "matview_read") {
      tracer.span("ext", "MaterializedAgg.readView")(
        MaterializedAgg.readView(spark, view).collect())
    } { rows =>
      val fresh = GraftTable(spark, src).toDf().groupBy(GroupKeys.map(col): _*)
        .agg(sum("o_totalcents").as("sum_val"), count(lit(1)).as("n_rows"))
      def norm(rs: Seq[Row]) = rs.map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[String]("o_orderpriority"), r.getAs[Long]("sum_val"), r.getAs[Long]("n_rows"))).sorted
      Check.equal("matview vs GROUP BY", norm(rows.toSeq), norm(fresh.collect().toSeq))
    }

  def finish(rec: Recorder): Unit = rec.finalCheck("orders rows") {
    Check.equal("orders rows", GraftTable(spark, src).toDf().count(), liveKeys.size.toLong)
  }
}

object StoreRefresh {
  /** The orders source holds every `SourceShare`-th order (37,500 rows),
    * which keeps a cycle of this workload inside one run's time budget.
    */
  val SourceShare = 4
  val GroupKeys = Seq("o_orderstatus", "o_orderpriority")
  // No traffic data of derived stores is in the repository: the sizes of
  // a cycle's batches below are unverified assumptions.
  /** Orders appended per cycle. */
  val OrderBatch = 500
  /** Documents per ingested or screened batch. */
  val DocBatch = 40
  /** Orders per point delete. */
  val DeleteKeys = 5

  /** A batch of documents, its ids, and the ids of its exact copies of
    * stored documents.
    */
  final case class Docs(df: DataFrame, ids: Set[Long], exactCopies: Set[Long])
}
