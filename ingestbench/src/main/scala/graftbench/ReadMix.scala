package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import graft.catalog.{GraftCatalog, GraftLake, TableMeta}
import org.apache.spark.sql.{Row, SparkSession}

import Util.long
import org.apache.spark.sql.types._

/** A lineitem-shaped table made from the seed: orders 1..N with one to
  * seven lines each. Every row is a pure function of (seed, order, line),
  * so executors generate the table and the driver holds the same rows as
  * its model. */
object Lineitem {
  val orders = 150000
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", LongType),
    StructField("l_extendedprice", LongType), StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType), StructField("l_shipmode", StringType),
    StructField("l_comment", StringType)))
  val flags: Array[String] = Array("A", "N", "R")
  val modes: Array[String] = Array("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  /** 1992-01-02 .. 1998-12-01, as epoch days. */
  val firstDay: Int = java.time.LocalDate.of(1992, 1, 2).toEpochDay.toInt
  val days = 2525
  def recent(day: Int): Boolean = day >= firstDay + days - 60

  def lines(seed: Long, order: Long): Int = 1 + Rng(seed, 41L, order).nextInt(7)

  /** (partkey, quantity, price, flag, shipday, mode, comment) of a line,
    * at revision `rev` (0 = as loaded, n = the n-th MERGE that rewrote it). */
  def row(seed: Long, order: Long, line: Int, rev: Int): Row = {
    val r = Rng(seed, 42L, order, line)
    // orders placed after the load ship within the last 30 days
    val shipday = if (order > orders) firstDay + days - 1 - r.nextInt(30)
      else firstDay + r.nextInt(days)
    val flag = flags(r.nextInt(flags.length))
    val mode = modes(r.nextInt(modes.length))
    val partkey = 1L + r.nextLong(200000L)
    val v = if (rev == 0) r else Rng(seed, 43L, order, line, rev)
    val qty = 1L + v.nextLong(50L)
    val price = qty * (90000L + v.nextLong(10000000L)) / 100L
    Row(order, line, partkey, qty, price, flag,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(shipday.toLong)),
      mode, Workload.vocabulary(r.nextInt(Workload.vocabulary.length)) + " " + rev)
  }

  def slice(seed: Long, s: Int, slices: Int): Iterator[Row] =
    (s.toLong + 1 to orders.toLong by slices.toLong).iterator.flatMap { o =>
      (1 to lines(seed, o)).iterator.map(l => row(seed, o, l, 0))
    }
}

/** `read-mix`: a 600k-row lineitem table with PK (orderkey, linenumber),
  * partitioned by month of the ship date, change files on. Each cycle runs
  * one SQL MERGE of 1k rows with 10 % conflicts and snapshot retention,
  * then 4 point lookups, 2 date-range aggregates and three
  * `table_changes()` reads over the last two versions (the MERGE), all
  * through [[GraftSession.sql]]. */
final class ReadMix(spark: SparkSession, seed: Long) extends Workload {
  private val table = "lineitem"
  private var dir: File = _
  private var catalog: String = _
  private var lake: GraftLake = _
  private var gs: GraftSession = _
  private var cycle = 0

  /** The model: every live row's key, quantity, price, return flag and
    * ship day, in row-index order. */
  private val order = ArrayBuffer.empty[Long]
  private val line = ArrayBuffer.empty[Int]
  private val qty = ArrayBuffer.empty[Long]
  private val price = ArrayBuffer.empty[Long]
  private val flag = ArrayBuffer.empty[String]
  private val shipday = ArrayBuffer.empty[Int]
  /** Row index of (order, line) at `order * 8 + line`, -1 when absent. */
  private var index = Array.emptyIntArray
  private var nextOrder = Lineitem.orders.toLong + 1
  /** Rows that shipped in the last 60 days: the ones a MERGE rewrites. */
  private val recent = ArrayBuffer.empty[Int]
  /** The last MERGE: (rows updated, rows inserted, quantity it wrote). */
  private var lastMerge = (0L, 0L, 0L)

  def warehouse: File = new File(dir, "lake")

  private def put(r: Row): Unit = {
    val key = (r.getLong(0) * 8 + r.getInt(1)).toInt
    if (key >= index.length) {
      val grown = Array.fill(math.max(key + 1, index.length * 3 / 2))(-1)
      System.arraycopy(index, 0, grown, 0, index.length)
      index = grown
    }
    val i = if (index(key) >= 0) index(key) else {
      index(key) = order.size
      order += r.getLong(0); line += r.getInt(1); qty += 0L; price += 0L
      flag += ""; shipday += 0
      val j = order.size - 1
      if (Lineitem.recent(r.getDate(6).toLocalDate.toEpochDay.toInt)) recent += j
      j
    }
    qty(i) = r.getLong(3); price(i) = r.getLong(4)
    flag(i) = r.getString(5); shipday(i) = r.getDate(6).toLocalDate.toEpochDay.toInt
  }

  def setup(d: File, attempt: Int): Unit = {
    dir = d
    Seq(order, line, qty, price, flag, shipday, recent).foreach(_.clear())
    index = Array.fill((Lineitem.orders + 1) * 8)(-1)
    nextOrder = Lineitem.orders.toLong + 1; cycle = 0
    catalog = s"lake$attempt"
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse.getPath)
    lake = new GraftLake(spark, warehouse.getPath)
    gs = new GraftSession(spark, lake)
    val slices = 8
    val s = seed
    val rdd = spark.sparkContext.parallelize(0 until slices, slices)
      .flatMap(i => Lineitem.slice(s, i, slices))
    lake.write(table, spark.createDataFrame(rdd, Lineitem.schema),
      partitions = Seq("month(l_shipdate)"), pks = Seq("l_orderkey", "l_linenumber"))
    lake.setTableProperty(table, TableMeta.CdfEnabledKey, "true")
    (0 until slices).foreach(i => Lineitem.slice(seed, i, slices).foreach(put))
  }

  private def t: String = s"$catalog.$table"

  /** Build the next MERGE source, CDC-shaped: 100 rewrites of rows that
    * shipped recently and 900 new single-line orders shipping now. */
  private def mergeSource(): Seq[Row] = {
    cycle += 1
    val r = Rng(seed, 44L, cycle)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < 100) picked += recent(r.nextInt(recent.size))
    val updates = picked.toSeq.map(i => Lineitem.row(seed, order(i), line(i), cycle))
    val inserts = (0 until 900).map { _ =>
      val o = nextOrder; nextOrder += 1
      Lineitem.row(seed, o, 1, cycle)
    }
    updates ++ inserts
  }

  /** Snapshots kept by the retention that follows every MERGE, so the
    * copy-on-write garbage on disk reaches a steady state. */
  private val keepSnapshots = 4

  private def merge(): Outcome = {
    val src = mergeSource()
    spark.createDataFrame(java.util.Arrays.asList(src: _*), Lineitem.schema)
      .createOrReplaceTempView("readmix_src")
    gs.sql(
      s"""MERGE INTO $t t USING readmix_src s
         |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    lake.expireSnapshots(table, keepSnapshots)
    lastMerge = (100L, 900L, src.map(_.getLong(3)).sum)
    src.foreach(put)
    Outcome(src.size.toLong, ok = true)
  }

  private def lookup(r: java.util.SplittableRandom): Outcome = {
    val i = r.nextInt(order.size)
    val got = gs.sql(s"SELECT l_quantity, l_extendedprice, l_returnflag, l_shipdate FROM $t " +
      s"WHERE l_orderkey = ${order(i)} AND l_linenumber = ${line(i)}").collect()
    Outcome(got.length, got.length == 1 && long(got(0), 0) == qty(i) &&
      long(got(0), 1) == price(i) && got(0).getString(2) == flag(i) &&
      got(0).getDate(3).toLocalDate.toEpochDay == shipday(i))
  }

  private def scan(r: java.util.SplittableRandom): Outcome = {
    val from = Lineitem.firstDay + r.nextInt(Lineitem.days - 90)
    val to = from + 60
    def date(d: Int) = java.time.LocalDate.ofEpochDay(d.toLong)
    val got = gs.sql(s"SELECT l_returnflag, count(*), sum(l_quantity), sum(l_extendedprice) " +
      s"FROM $t WHERE l_shipdate >= DATE'${date(from)}' AND l_shipdate < DATE'${date(to)}' " +
      "GROUP BY l_returnflag").collect()
      .map(x => x.getString(0) -> ((long(x, 1), long(x, 2), long(x, 3)))).toMap
    val want = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    shipday.indices.foreach { i =>
      if (shipday(i) >= from && shipday(i) < to) {
        val (c, q, p) = want.getOrElse(flag(i), (0L, 0L, 0L))
        want(flag(i)) = (c + 1, q + qty(i), p + price(i))
      }
    }
    Outcome(got.size.toLong, got == want.toMap)
  }

  /** The change feed over the last two versions: the last MERGE, as
    * pre-images of the rows it rewrote and post-images of everything it
    * wrote. */
  private def changes(): Outcome = {
    val v = lake.latestVersion(table).get
    val got = gs.sql(s"SELECT _change_type, count(*), sum(l_quantity) FROM " +
      s"table_changes('$t', ${v - 1}, $v) GROUP BY _change_type").collect()
      .map(x => x.getString(0) -> ((long(x, 1), long(x, 2)))).toMap
    val (updated, inserted, writtenQty) = lastMerge
    val post = got.get("update_postimage").map(_._1).getOrElse(0L) +
      got.get("insert").map(_._1).getOrElse(0L)
    val postQty = got.get("update_postimage").map(_._2).getOrElse(0L) +
      got.get("insert").map(_._2).getOrElse(0L)
    val pre = got.get("update_preimage").map(_._1).getOrElse(0L) +
      got.get("delete").map(_._1).getOrElse(0L)
    Outcome(got.values.map(_._1).sum,
      post == updated + inserted && postQty == writtenQty && pre == updated)
  }

  def step(rec: Recorder): Boolean = {
    rec.run(Op.Flush)(merge())
    val r = Rng(seed, 45L, cycle)
    (0 until 4).foreach(_ => rec.run(Op.Lookup)(lookup(r)))
    (0 until 2).foreach(_ => rec.run(Op.Scan)(scan(r)))
    (0 until 3).foreach(_ => rec.run(Op.Changes)(changes()))
    true
  }

  /** The first MERGEs on a freshly loaded table run slower than the later
    * ones, so two untimed cycles run on the kept table before timing; a
    * warm-up cycle runs only one read of each kind. */
  override def settleSteps: Int = 2

  override def warmStep(rec: Recorder): Boolean = {
    rec.run(Op.Flush)(merge())
    val r = Rng(seed, 46L, cycle)
    rec.run(Op.Lookup)(lookup(r)); rec.run(Op.Scan)(scan(r)); rec.run(Op.Changes)(changes())
    true
  }

  def readCall(): Unit = lake.read(table)
  def quiesce(): Unit = ()

  def gates(): Seq[(String, Boolean, String)] = {
    val row = gs.sql(s"SELECT count(*), sum(l_quantity), sum(l_extendedprice), " +
      s"sum(cast(hash(l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS BIGINT)) FROM $t")
      .head()
    val n = order.size.toLong
    val wantHash = order.indices.map(i =>
      SparkHash(order(i), line(i), qty(i), price(i)).toLong).sum
    Seq(("rows", long(row, 0) == n, s"${long(row, 0)} rows, model $n"),
      ("content-hash", long(row, 1) == qty.sum && long(row, 2) == price.sum &&
        long(row, 3) == wantHash, s"hash ${long(row, 3)}, model $wantHash"))
  }

  def liveRows(): Long = order.size.toLong

  def layerMetrics(): Map[String, Double] = Map(
    "catalog.live_files" -> lake.liveFileCount(table).toDouble)
}
