package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Workbook
import graft.sources.{FleetCDC, FleetManifest, ParquetFleet}

/** `sheet_crud`: sheets kept as tables and edited in place. One pass is
  * one round of a seeded operation mix over `orders`:
  *  - the avro fleet through `GraftCatalog` SQL: point and range reads,
  *    INSERT, UPDATE, DELETE, MERGE, the count, top-N and group-by
  *    reads its pushdown tiers answer, `VERSION AS OF` and change-feed
  *    reads, the writes once in each row-level mode;
  *  - the same logical appends, deletes, reads, time travel and
  *    changes on a `ParquetFleet`;
  *  - a `Workbook` load → edit → save-as-xlsx → reload cycle.
  * Every pass ends with rewrite/compaction, version expiry and the
  * orphan sweep on both tiers. A plain in-memory model
  * of every table checks each read and, after maintenance, the full
  * table. */
final class SheetCrud(spark: SparkSession, data: String, work: String,
    seed: Long) extends Workload {
  import SheetCrud._

  private val root = s"$work/fleets"
  private val avroDir = s"$root/orders.avro"
  private val pqDir = s"$root/orders_p"
  private val sheetDirs = Seq(s"$work/sheet_a", s"$work/sheet_b")
  private val rnd = new java.util.Random(seed)
  private lazy val fs = new Path(root).getFileSystem(
    spark.sessionState.newHadoopConf())
  private val cat = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.root", root)
    s
  }

  /** One model per table: key → row, and the rows at each version. */
  private final class Model {
    var rows: Map[Long, O] = Map.empty
    val at = mutable.Map[Long, Map[Long, O]]()
    def range(lo: Long, hi: Long, m: Map[Long, O] = rows) =
      m.values.filter(o => o.k >= lo && o.k <= hi)
  }
  /** Staging already runs every write path once. */
  val warmPasses = 1
  /** 36 operations a pass: two passes put 72 in the medians, and keep
    * a run short enough for the runs a benchmark check makes. */
  val minPasses = 2
  private val avro, pq, sheet = new Model
  private var nextKey = 0L
  private var nextSheetKey = SheetKeys
  private var stored = 0L
  /** bytes of the rows changed by write operations, measured passes */
  private var changedBytes = 0.0
  private var measuring = false

  private def version(dir: String): Long =
    FleetManifest.mainCurrent(fs, new Path(dir)).map(_.version).getOrElse(-1L)

  def setup(r: Runner): Unit = {
    def orders(s: SparkSession) = s.read.parquet(s"$data/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast(TimestampType),
        col("o_orderpriority")).repartitionByRange(Files0, col("o_orderkey"))
    val rows = orders(spark).collect().map(toO)
    nextKey = rows.map(_.k).max + 1
    avro.rows = rows.map(o => o.k -> o).toMap
    pq.rows = avro.rows
    sheet.rows = rows.filter(_.k < SheetRows).map(o => o.k -> o.copy(dateUs = 0L)).toMap
    Files.createDirectories(Paths.get(root))
    orders(cat).createOrReplaceTempView("orders_src")
    cat.sql("CREATE TABLE graft.orders AS SELECT * FROM orders_src")
    avro.at(version(avroDir)) = avro.rows
    ParquetFleet.overwrite(orders(spark), pqDir)
    pq.at(version(pqDir)) = pq.rows
    Workbook(spark, Map("orders" -> sheetFrame(sheet.rows.values.toSeq.sortBy(_.k))))
      .save(sheetDirs.head, format = "xlsx")
  }

  private def fresh(n: Int): Seq[O] = Seq.fill(n) {
    val o = O(nextKey, rnd.nextInt(15000), Status(rnd.nextInt(3)),
      (100000 + rnd.nextInt(49900000)) / 100.0,
      Epoch1995 + rnd.nextInt(2404) * DayUs, Prio(rnd.nextInt(5)))
    nextKey += 1
    o
  }
  private def key(): Long = (rnd.nextDouble() * nextKey).toLong
  private def frame(rows: Seq[O]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(toRow): _*), Schema)
  private def sheetFrame(rows: Seq[O]): DataFrame =
    frame(rows).drop("o_orderdate")
  private def values(rows: Seq[O]): String = rows.map(o =>
    s"(${o.k}L, ${o.cust}L, '${o.status}', CAST('${o.price}' AS DOUBLE), " +
      s"timestamp_micros(${o.dateUs}L), '${o.prio}')").mkString(", ")
  private def between(lo: Long, hi: Long) = col("o_orderkey").between(lo, hi)
  private def changed(rows: Iterable[O]): Unit =
    if (measuring) changedBytes += rows.map(rowBytes).sum

  /** Every pass does the same work, so passes compare: the avro writes
    * once copy-on-write and once merge-on-read, the reads, the parquet
    * tier, the xlsx cycle and a maintenance cycle. */
  def pass(r: Runner, i: Int): Unit = {
    val v0 = version(avroDir)
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      cat.conf.set("spark.graft.rowLevelMode", mode)
      avroWrites(r, mode.take(3))
    }
    avroReads(r, v0)
    parquetRound(r)
    sheetCycle(r, i)
    maintain(r)
  }

  private def read(r: Runner, name: String, m: Map[Long, O], lo: Long,
      hi: Long)(df: => DataFrame): Unit =
    r.op(name, "read")(df).foreach(d => r.check(name)(same(d, m.values
      .filter(o => o.k >= lo && o.k <= hi))))

  /** Apply `edit` to `m` after a successful write and record the rows
    * at the table's new version. */
  private def wrote(r: Runner, ok: Option[_], m: Model, dir: String)(
      edit: Map[Long, O] => Map[Long, O]): Unit = if (ok.isDefined)
    r.check("model") { m.rows = edit(m.rows); m.at(version(dir)) = m.rows; None }

  private def avroWrites(r: Runner, mode: String): Unit = {
    val ins = fresh(BatchRows)
    wrote(r, r.op("avro.insert", "write", sink = false)(
      cat.sql(s"INSERT INTO graft.orders VALUES ${values(ins)}")), avro, avroDir) { m =>
      changed(ins); m ++ ins.map(o => o.k -> o) }
    val u = key()
    wrote(r, r.op(s"avro.update.$mode", "write", sink = false)(cat.sql(
      s"""UPDATE graft.orders SET o_totalprice = o_totalprice + 1.5D,
         |o_orderstatus = 'U' WHERE o_orderkey BETWEEN $u AND ${u + BatchRows - 1}"""
        .stripMargin)), avro, avroDir) { m =>
      val hit = avro.range(u, u + BatchRows - 1, m)
        .map(o => o.copy(price = o.price + 1.5, status = "U"))
      changed(hit); m ++ hit.map(o => o.k -> o) }
    val d = key()
    wrote(r, r.op(s"avro.delete.$mode", "write", sink = false)(cat.sql(
      s"DELETE FROM graft.orders WHERE o_orderkey BETWEEN $d AND ${d + DeleteRows - 1}")),
      avro, avroDir) { m =>
      val hit = avro.range(d, d + DeleteRows - 1, m); changed(hit); m -- hit.map(_.k) }
    // existing keys drawn before the new rows take theirs: a source row
    // per key, as MERGE needs
    val old = Seq.fill(BatchRows / 2)(key()).distinct
    val ups = (fresh(BatchRows / 2) ++ old.map(k => fresh(1).head.copy(k = k)))
      .sortBy(_.k)
    wrote(r, r.op(s"avro.merge.$mode", "write", sink = false)(cat.sql(
      s"""MERGE INTO graft.orders t USING (SELECT * FROM VALUES ${values(ups)}
         |AS s(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         |o_orderpriority)) s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""
        .stripMargin)), avro, avroDir) { m => changed(ups); m ++ ups.map(o => o.k -> o) }
  }

  private def avroReads(r: Runner, v0: Long): Unit = {
    (0 until PointReads).foreach { _ =>
      val k = key()
      read(r, "avro.point_read", avro.rows, k, k)(
        cat.sql(s"SELECT * FROM graft.orders WHERE o_orderkey = $k"))
    }
    val lo = key()
    read(r, "avro.range_read", avro.rows, lo, lo + RangeRows - 1)(cat.sql(
      s"SELECT * FROM graft.orders WHERE o_orderkey BETWEEN $lo AND ${lo + RangeRows - 1}"))
    r.op("avro.count", "read")(cat.sql("SELECT count(*) AS n FROM graft.orders"))
      .foreach(df => r.check("avro.count")(
        expect(df.collect().map(_.getLong(0)).toSeq, Seq(avro.rows.size.toLong))))
    r.op("avro.topn", "read")(cat.sql(
      s"SELECT * FROM graft.orders ORDER BY o_totalprice DESC, o_orderkey LIMIT $TopN"))
      .foreach(df => r.check("avro.topn")(expect(df.collect().map(toO).toSeq,
        avro.rows.values.toSeq.sortBy(o => (-o.price, o.k)).take(TopN))))
    r.op("avro.group_agg", "read")(cat.sql(
      """SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS hi
        |FROM graft.orders GROUP BY o_orderstatus""".stripMargin))
      .foreach(df => r.check("avro.group_agg")(expect(
        df.collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).toSeq.sorted,
        avro.rows.values.groupBy(_.status).toSeq.map { case (st, os) =>
          (st, os.size.toLong, os.map(_.price).max) }.sorted)))
    val t = key()
    read(r, "avro.version_read", avro.at(v0), t, t + RangeRows - 1)(cat.sql(
      s"""SELECT * FROM graft.orders VERSION AS OF $v0
         |WHERE o_orderkey BETWEEN $t AND ${t + RangeRows - 1}""".stripMargin))
    val v1 = version(avroDir)
    r.op("avro.changes", "read")(FleetCDC.changes(cat, avroDir, v0, v1))
      .foreach(df => r.check("avro.changes")(net(df, avro.at(v0), avro.at(v1))))
  }

  private def parquetRound(r: Runner): Unit = {
    val p0 = version(pqDir)
    val ins = fresh(BatchRows)
    wrote(r, r.op("parquet.append", "write", sink = false) {
      ParquetFleet.append(frame(ins), pqDir); null }, pq, pqDir) { m =>
      changed(ins); m ++ ins.map(o => o.k -> o) }
    val d = key()
    wrote(r, r.op("parquet.delete", "write", sink = false) {
      ParquetFleet.delete(spark, pqDir, between(d, d + DeleteRows - 1)); null },
      pq, pqDir) { m =>
      val hit = pq.range(d, d + DeleteRows - 1, m); changed(hit); m -- hit.map(_.k) }
    val lo = key()
    read(r, "parquet.range_read", pq.rows, lo, lo + RangeRows - 1)(
      ParquetFleet.scan(spark, pqDir, between(lo, lo + RangeRows - 1)))
    val t = key()
    read(r, "parquet.version_read", pq.at(p0), t, t + RangeRows - 1)(
      ParquetFleet.read(spark, pqDir, Some(p0)).filter(between(t, t + RangeRows - 1)))
    val p1 = version(pqDir)
    r.op("parquet.changes", "read")(ParquetFleet.changes(spark, pqDir, p0, p1))
      .foreach(df => r.check("parquet.changes")(net(df, pq.at(p0), pq.at(p1))))
  }

  private def sheetCycle(r: Runner, i: Int): Unit = {
    val src = sheetDirs(i % 2)
    val dst = sheetDirs((i + 1) % 2)
    val ins = Seq.fill(SheetBatch) {
      val o = fresh(1).head.copy(k = nextSheetKey, dateUs = 0L)
      nextSheetKey += 1; o }
    val u = (rnd.nextDouble() * SheetRows).toLong
    val d = (rnd.nextDouble() * SheetRows).toLong
    val ups = Seq.fill(SheetBatch)((rnd.nextDouble() * SheetRows).toLong).distinct
      .map(k => fresh(1).head.copy(k = k, dateUs = 0L)).sortBy(_.k)
    r.op("xlsx.cycle", "write") {
      graft.util.Scratch.deleteRecursively(Paths.get(dst))
      Workbook.load(spark, src)
        .insert("orders", sheetFrame(ins))
        .update("orders", between(u, u + SheetBatch - 1),
          Map("o_totalprice" -> (col("o_totalprice") + 1.5)))
        .remove("orders", between(d, d + SheetBatch - 1))
        .upsert("orders", sheetFrame(ups), Seq("o_orderkey"))
        .save(dst, format = "xlsx")
      Workbook.load(spark, dst).sheet("orders")
    }.foreach { df =>
      r.check("xlsx.cycle") {
        var m = sheet.rows ++ ins.map(o => o.k -> o)
        m = m ++ sheet.range(u, u + SheetBatch - 1, m)
          .map(o => o.k -> o.copy(price = o.price + 1.5))
        m = m -- sheet.range(d, d + SheetBatch - 1, m).map(_.k)
        m = m ++ ups.map(o => o.k -> o)
        sheet.rows = m
        sameSheet(df, m.values)
      }
    }
  }

  private def maintain(r: Runner): Unit = {
    wrote(r, r.op("avro.rewrite_files", "write", sink = false)(cat.sql(
      s"CALL graft.system.rewrite_files('orders', ${TargetFileBytes}L, '')")),
      avro, avroDir)(identity)
    r.op("avro.expire_versions", "write", sink = false)(cat.sql(
      s"CALL graft.system.expire_versions('orders', $KeepVersions)"))
    r.op("avro.remove_orphans", "write", sink = false)(cat.sql(
      "CALL graft.system.remove_orphans('orders', 0L)"))
    r.check("avro.full_table")(same(cat.table("graft.orders"), avro.rows.values))
    wrote(r, r.op("parquet.compact", "write", sink = false) {
      ParquetFleet.compact(spark, pqDir); null }, pq, pqDir)(identity)
    r.op("parquet.expire", "write", sink = false) {
      ParquetFleet.expire(spark, pqDir, KeepVersions); null }
    r.op("parquet.remove_orphans", "write", sink = false) {
      ParquetFleet.removeOrphans(spark, pqDir, 0L); null }
    r.check("parquet.full_table")(same(ParquetFleet.read(spark, pqDir), pq.rows.values))
    r.check("stored") {
      stored = Disk.bytes(root) + sheetDirs.map(Disk.bytes).sum
      Seq(avro, pq).foreach(m => m.at.keys.toSeq.sorted.dropRight(KeepVersions)
        .foreach(m.at.remove))
      None
    }
  }

  def finish(r: Runner, out: String): Unit = ()

  def storedBytes: Long = stored

  private var listed = Set.empty[java.nio.file.Path]
  private def listing() = Seq(avroDir, pqDir).flatMap(Disk.files).map(_._1).toSet

  override def beforePass(r: Runner): Unit = {
    measuring = r.passes.size >= warmPasses
    if (r.tracer.nonEmpty) listed = listing()
  }

  /** Traced run: files the pass added and removed in both fleets, and
    * a snapshot resolution with a cold snapshot cache. */
  override def afterPass(r: Runner): Map[String, Double] = {
    if (r.tracer.isEmpty) return Map.empty
    val now = listing()
    FleetManifest.clearSnapshotCache()
    val t0 = System.nanoTime()
    FleetManifest.mainCurrent(fs, new Path(avroDir))
    Map("sources.snapshot_cold_ms" -> (System.nanoTime() - t0) / 1e6,
      "sources.files_added" -> (now -- listed).size.toDouble,
      "sources.files_removed" -> (listed -- now).size.toDouble)
  }

  /** Size and shape of both fleets at the end, plus per-tier latencies
    * and the write amplification over the measured passes. */
  override def layerMetrics(r: Runner): Map[String, Double] = {
    val measured = r.passes.drop(warmPasses).map(_.index).toSet
    val ops = r.ops.filter(o => measured(o.pass) && !o.failed)
    def p50(prefix: String, kind: String) = Stats.median(
      ops.filter(o => o.name.startsWith(prefix) && o.kind == kind).map(_.ms).toSeq)
    val written = ops.filter(o => o.kind == "write" && !o.name.startsWith("xlsx"))
      .map(_.layers.getOrElse("sources.fs_written_mb", 0.0)).sum * 1048576.0
    // fleet-relative files: data, the manifest chain, other sidecars
    val files = Seq(avroDir, pqDir).flatMap(d => Disk.files(d).map { case (f, n) =>
      (Paths.get(d).relativize(f).iterator.asScala.map(_.toString).toSeq, n) })
    val manifest = files.filter(_._1.contains("_manifest"))
    val data = files.filterNot(_._1.exists(n => n.startsWith("_") || n.startsWith(".")))
    val sidecar = files.filter(f => f._1.exists(_.startsWith("_")) &&
      !f._1.contains("_manifest"))
    def kb(fs: Seq[(Seq[String], Long)]) = fs.map(_._2).sum / 1024.0
    val dirs = Seq(avroDir, pqDir).map(new Path(_))
    val live = dirs.map(d =>
      FleetManifest.mainCurrent(fs, d).map(_.files.size).getOrElse(0)).sum
    Map(
      "sources.write_amp" -> (if (changedBytes > 0) written / changedBytes else 0.0),
      "sources.rows_changed_kb" -> changedBytes / 1024.0 / measured.size.max(1),
      "sources.versions_retained" ->
        dirs.map(FleetManifest.versions(fs, _).size).sum.toDouble,
      "sources.files_live" -> live.toDouble,
      "sources.files_on_disk" -> data.size.toDouble,
      "sources.manifest_kb" -> kb(manifest),
      "sources.sidecar_kb" -> kb(sidecar),
      "sources.avro.read_p50_ms" -> p50("avro.", "read"),
      "sources.avro.write_p50_ms" -> p50("avro.", "write"),
      "sources.parquet.read_p50_ms" -> p50("parquet.", "read"),
      "sources.parquet.write_p50_ms" -> p50("parquet.", "write"),
      "sources.xlsx.cycle_ms" -> p50("xlsx.", "write"))
  }
}

object SheetCrud {
  final case class O(k: Long, cust: Long, status: String, price: Double,
      dateUs: Long, prio: String)

  val Schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))
  val Status = Array("F", "O", "P")
  val Prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val DayUs = 86400000000L
  val Epoch1995 = 788918400000000L
  /** rows per insert, update and merge; rows per delete; range width */
  val BatchRows = 20
  val DeleteRows = 10
  val RangeRows = 500
  val TopN = 10
  /** Point reads a pass: a sheet is mostly read a cell at a time, and
    * with one point read the read and operation medians fell between
    * operation types whose order changed from run to run. */
  val PointReads = 10
  /** files the fleets start with; rewrite target; versions kept */
  val Files0 = 4
  val TargetFileBytes = 1L << 20
  val KeepVersions = 6
  /** the xlsx sheet: first rows of orders, keys of new rows, edit size */
  val SheetRows = 500L
  val SheetKeys = 10000000L
  val SheetBatch = 10

  def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
    case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
    case other => throw new IllegalArgumentException(s"not a timestamp: $other")
  }
  def toO(r: Row): O = O(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
    r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
    micros(r.getAs[Any]("o_orderdate")), r.getAs[String]("o_orderpriority"))
  def toRow(o: O): Row = Row(o.k, o.cust, o.status, o.price,
    DateTimeUtils.toJavaTimestamp(o.dateUs), o.prio)
  def rowBytes(o: O): Int =
    s"${o.k},${o.cust},${o.status},${o.price},${o.dateUs},${o.prio}".length

  def expect[T](got: Seq[T], want: Seq[T]): Option[String] =
    if (got == want) None else Some(s"got ${got.take(3)}, want ${want.take(3)}")

  private def diff(got: Seq[O], want: Seq[O]): Option[String] =
    if (got == want) None else {
      val g = got.toSet; val w = want.toSet
      Some(s"got ${got.size} rows, want ${want.size}; missing " +
        s"${(w -- g).take(2)}, unexpected ${(g -- w).take(2)}")
    }

  def same(df: DataFrame, want: Iterable[O]): Option[String] =
    diff(df.collect().map(toO).toSeq.sortBy(_.k), want.toSeq.sortBy(_.k))

  /** A reloaded xlsx sheet (no date column; numbers may come back
    * widened) against the model. */
  def sameSheet(df: DataFrame, want: Iterable[O]): Option[String] = {
    def num(r: Row, c: String) = r.getAs[Any](c).asInstanceOf[Number]
    val got = df.collect().map(r => O(num(r, "o_orderkey").longValue,
      num(r, "o_custkey").longValue, r.getAs[String]("o_orderstatus"),
      num(r, "o_totalprice").doubleValue, 0L,
      r.getAs[String]("o_orderpriority"))).toSeq.sortBy(_.k)
    diff(got, want.toSeq.sortBy(_.k))
  }

  /** A change feed, netted (an identical delete and insert cancel, as a
    * rewrite emits them), against the model's row difference. */
  def net(df: DataFrame, from: Map[Long, O], to: Map[Long, O]): Option[String] = {
    val rows = df.collect()
    val ins = mutable.Map[O, Int]().withDefaultValue(0)
    val del = mutable.Map[O, Int]().withDefaultValue(0)
    rows.foreach { r =>
      val o = toO(r)
      r.getAs[String]("_change_type") match {
        case "insert" => ins(o) += 1
        case "delete" => del(o) += 1
        case other => return Some(s"unknown change type $other")
      }
    }
    for (o <- ins.keys.toSeq if del(o) > 0) {
      val c = math.min(ins(o), del(o)); ins(o) -= c; del(o) -= c
    }
    def flat(m: mutable.Map[O, Int]) =
      m.toSeq.flatMap { case (o, c) => Seq.fill(c)(o) }.sortBy(o => (o.k, o.toString))
    val wantIns = to.values.filterNot(o => from.get(o.k).contains(o)).toSeq
      .sortBy(o => (o.k, o.toString))
    val wantDel = from.values.filterNot(o => to.get(o.k).contains(o)).toSeq
      .sortBy(o => (o.k, o.toString))
    diff(flat(ins), wantIns).map("inserts: " + _)
      .orElse(diff(flat(del), wantDel).map("deletes: " + _))
  }
}
