package lakebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lake.{GraftTable, MaterializedAgg}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class IRow(id: Long, region: String, category: Int, amount: Long, note: String)
final case class IRowB(b: Int, id: Long, region: String, category: Int, amount: Long, note: String)

/** The lake workload: small seeded appends into a region-partitioned
  * table, interleaved with MERGE upserts of recent keys, UPDATE and
  * DELETE (through the GraftTable API and through catalog SQL),
  * OPTIMIZE, MV refresh and VACUUM, and reads: the lab's selective
  * filter, point lookups, partition-pruned region ranges, a join with a
  * small dimension (dynamic file pruning), full-scan aggregates and
  * VERSION AS OF reads at versions older than the snapshot cache holds. An in-memory mirror
  * of the rows is the oracle for every read and for the final content.
  */
final class LakeMixed(spark: SparkSession, seed: Long, seconds: Int) extends Workload {
  import LakeMixed._

  // the maintenance slot alternates, so a round is two cycles
  val round: Int = 2 * Slots.length

  // enough generated batches for runs well beyond `seconds` on a 4-core
  // host; the loop ends early if they run out
  private val nAppend = 16 + 2 * seconds
  private val nMerge = nAppend / 4

  private var root: Path = _
  private var mvRoot: Path = _
  private var sqlName: String = _
  private var table: GraftTable = _
  private var mv: MaterializedAgg = _
  private var zones: DataFrame = _
  private var streamDir: Path = _
  private var init: Array[IRow] = _
  private var batches: Array[Array[IRow]] = _
  private var merges: Array[Array[IRow]] = _
  private val mirror = mutable.LongMap[IRow]()
  private val groupCount = mutable.Map[(String, Int), Long]().withDefaultValue(0L)
  private val groupSum = mutable.Map[(String, Int), Long]().withDefaultValue(0L)
  // versions [0, history) hold the initial rows; time travel reads them
  private var history = 1L
  private var travelStride = 1
  private var appended = 0
  private var merged = 0
  private var reads = 0
  private var travels = 0
  // loop-only accounting: rows and plain-parquet bytes the user submitted
  private var rowsSubmitted = 0L
  private var inputBytes = 0L
  private var livePlainBytes = 0L

  def watched: Seq[Path] = Seq(root)
  def probedTable: Option[String] = Some(root.toString)

  private def put(r: IRow): Unit = {
    remove(r.id)
    mirror(r.id) = r
    groupCount((r.region, r.category)) += 1
    groupSum((r.region, r.category)) += r.amount
  }

  private def remove(id: Long): Unit = mirror.remove(id).foreach { o =>
    groupCount((o.region, o.category)) -= 1
    groupSum((o.region, o.category)) -= o.amount
  }

  def setup(dir: Path): Unit = {
    Files.createDirectories(dir)
    generate(dir)
    sqlName = "lb.default.events"
    spark.conf.set("spark.sql.catalog.lb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lb.warehouse", dir.resolve("catalog").toString)
    root = dir.resolve("catalog").resolve("default").resolve("events")
    mvRoot = dir.resolve("mv_region_category")
    Seq(mirror, groupCount, groupSum).foreach(_.clear())
    appended = 0
    merged = 0
    reads = 0
    travels = 0
    // the change feed lets the MV refresh read only the changes. The
    // initial rows land in 40 files, more than the 32 at which Spark lists
    // files with a job: reads of the pinned history cross that threshold,
    // head reads (4-20 files between OPTIMIZEs) stay below it.
    table = GraftTable.create(spark, root.toString, readBatch(InitBatch).repartition(InitFiles / Regions.length),
      partitionBy = Seq("region"), properties = Map("graft.cdf" -> "true"))
    init.foreach(put)
    table.computeBloomFilter("id")
    // a data commit costs a Spark write job, so the older history is
    // cheap table-property commits: it is longer than the 64 snapshots
    // the cache holds, and time travel reads into it. A tag pins its
    // files, so VACUUM keeps it readable.
    while (table.version < HistoryVersions)
      table.setTableProperties(Map("lakebench.load" -> table.version.toString))
    history = table.version + 1
    table.createTag("lakebench_history", Some(table.version))
    travelStride = Iterator.from(37).find(p => BigInt(p).gcd(history) == 1).get
    mv = MaterializedAgg.create(spark, mvRoot.toString, table, Seq("region", "category"), Seq("amount"))
    import spark.implicits._
    zones = Zones.toSeq.toDF("region", "zone")
    zones.createOrReplaceTempView("lb_zones")
  }

  def warmUp(): Unit = {
    val warm = new Recorder(spark, tracing = false)
    WarmUp.zipWithIndex.foreach { case (kind, k) =>
      require(build(kind, -1 - k).get.run(new Ctx(warm, -1 - k))(), s"warm-up op $kind returned a wrong output")
    }
    rowsSubmitted = 0
    inputBytes = 0
  }

  /** The seeded inputs: the initial rows, the append batches and the
    * MERGE sources, each written as its own plain parquet file.
    */
  private def generate(dir: Path): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    def row(id: Long): IRow = IRow(id, Regions(rnd.nextInt(Regions.length)),
      rnd.nextInt(Categories), 100L + rnd.nextInt(100000), java.lang.Long.toHexString(rnd.nextLong()))
    init = Array.tabulate(InitRows)(r => row(r.toLong))
    batches = Array.tabulate(nAppend)(k => Array.tabulate(BatchRows)(r => row(InitRows + k.toLong * BatchRows + r)))
    // MERGE j rewrites rows of the three batches appended just before it
    // (the schedule is fixed, so that position is known here) and
    // inserts rows with fresh keys
    val before = appendsBeforeMerges()
    merges = Array.tabulate(nMerge) { j =>
      val a = math.min(before(j), nAppend)
      val recent = (math.max(0, a - 3) until a).flatMap(batches(_)).toArray
      val pool = if (recent.nonEmpty) recent else init
      val picked = mutable.LinkedHashMap[Long, IRow]()
      while (picked.size < MergeMatched) {
        val o = pool(rnd.nextInt(pool.length))
        picked(o.id) = o.copy(amount = 100L + rnd.nextInt(100000), note = "m" + j)
      }
      picked.values.toArray ++ Array.tabulate(MergeRows - MergeMatched)(r =>
        row(MergeKeyBase + j.toLong * MergeRows + r))
    }
    def tagged(b: Int, rs: Array[IRow]): Array[IRowB] =
      rs.map(r => IRowB(b, r.id, r.region, r.category, r.amount, r.note))
    val all = tagged(InitBatch, init) ++ batches.zipWithIndex.flatMap { case (rs, k) => tagged(k, rs) } ++
      merges.zipWithIndex.flatMap { case (rs, j) => tagged(MergeFileBase + j, rs) }
    streamDir = dir.resolve("stream")
    import spark.implicits._
    // one file per batch: hash-partitioning on the batch key sends each
    // batch to exactly one writer task
    spark.createDataset(all.toSeq).repartition(col("b")).write.partitionBy("b").parquet(streamDir.toString)
  }

  /** Appends done before each MERGE, from the warm-up and the loop schedule. */
  private def appendsBeforeMerges(): Array[Int] = {
    val kinds = WarmUp.iterator ++ Iterator.from(0).map(slot)
    val out = mutable.ArrayBuffer[Int]()
    var a = 0
    while (out.size < nMerge) kinds.next() match {
      case "append" => a += 1
      case k if k.startsWith("merge") => out += a
      case _ =>
    }
    out.toArray
  }

  private def slot(i: Int): String = {
    val c = i / Slots.length
    Slots(i % Slots.length) match {
      case "merge" => if (c % 2 == 0) "merge_api" else "merge_sql"
      case "dml1" => if (c % 2 == 0) "update_api" else "update_sql"
      case "dml2" => if (c % 2 == 0) "delete_sql" else "delete_api"
      case "maint" => if (c % 2 == 0) "optimize" else "mv_refresh"
      case "append_or_vacuum" => if (c % 2 == 0) "append" else "vacuum"
      case s => s
    }
  }

  def op(i: Int): Option[Op] = build(slot(i), i)

  private def batchPath(b: Int): String = streamDir.resolve(s"b=$b").toString
  private def plainBytes(b: Int): Long = {
    val s = Files.list(streamDir.resolve(s"b=$b"))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size(_)).sum
    finally s.close()
  }
  private def readBatch(b: Int): DataFrame = spark.read.schema(Schema).parquet(batchPath(b))

  /** Seeded per-op parameters. */
  private def rnd(i: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + i)

  private def build(kind: String, i: Int): Option[Op] = kind match {
    case "append" =>
      if (appended >= nAppend) None
      else {
        val k = appended
        Some(Op(kind, "append", "append", _ => {
          table.append(readBatch(k))
          appended += 1
          () => {
            batches(k).foreach(put)
            rowsSubmitted += BatchRows
            inputBytes += plainBytes(k)
            true
          }
        }))
      }
    case "read" =>
      val k = ReadKinds(reads % ReadKinds.size)
      reads += 1
      build(k, i)
    case "selective_api" | "selective_sql" =>
      val r = rnd(i)
      val region = Regions(r.nextInt(Regions.length))
      val c = r.nextInt(Categories)
      val pred = col("region") === region && col("category") === c
      Some(read(kind, "read", Some(pred))(
        if (kind.endsWith("_api")) table.readWhere(pred).agg(count(lit(1)), sum("amount"))
        else spark.sql(s"SELECT count(*), sum(amount) FROM $sqlName WHERE region = '$region' AND category = $c"))(
        rows => pair(rows.head) == ((groupCount((region, c)), groupSum((region, c))))))
    case "point_api" | "point_sql" =>
      val r = rnd(i)
      // a key of the initial rows (bloom-indexed files) or of a batch
      val id = if (r.nextBoolean()) r.nextLong(InitRows) else InitRows + r.nextLong(math.max(1, appended) * BatchRows)
      Some(read(kind, "read", Some(col("id") === id))(
        if (kind.endsWith("_api")) table.readWhere(col("id") === id).select(PointCols.map(col): _*)
        else spark.sql(s"SELECT ${PointCols.mkString(", ")} FROM $sqlName WHERE id = $id"))(
        rows => rows.map(_.toSeq).toSeq == mirror.get(id).map(o => Seq(o.id, o.category, o.amount)).toSeq))
    case "range_api" | "range_sql" =>
      // a range of the partition column: the scan keeps 2-3 of the 4
      // region partitions
      val r = rnd(i)
      val sorted = Regions.sorted
      val lo = r.nextInt(sorted.length - 1)
      val hi = math.min(sorted.length - 1, lo + 1 + r.nextInt(2))
      val c = r.nextInt(Categories - 2)
      val pred = col("region").between(sorted(lo), sorted(hi)) && col("category").between(c, c + 2)
      Some(read(kind, "read", Some(pred))(
        if (kind.endsWith("_api")) table.readWhere(pred).agg(count(lit(1)), sum("amount"))
        else spark.sql(s"SELECT count(*), sum(amount) FROM $sqlName " +
          s"WHERE region BETWEEN '${sorted(lo)}' AND '${sorted(hi)}' AND category BETWEEN $c AND ${c + 2}"))(
        rows => pair(rows.head) == groupTotal((lo to hi).map(sorted(_)), c to c + 2)))
    case "dimjoin_api" | "dimjoin_sql" =>
      // a join with the zone dimension: the API read prunes the table's
      // files with the dimension's keys before joining, SQL leaves it to
      // Spark's runtime filtering
      val r = rnd(i)
      val zone = ZoneNames(r.nextInt(ZoneNames.length))
      val c = r.nextInt(Categories)
      val regions = Zones.collect { case (g, z) if z == zone => g }.toSeq
      Some(read(kind, "read", Some(col("region").isin(regions: _*) && col("category") === c))(
        if (kind.endsWith("_api")) {
          val dim = zones.filter(col("zone") === zone)
          table.readDynamicallyPruned(dim, "region").filter(col("category") === c).join(dim, "region")
            .agg(count(lit(1)), sum("amount"))
        } else spark.sql(s"SELECT count(*), sum(e.amount) FROM $sqlName e JOIN lb_zones d " +
          s"ON e.region = d.region WHERE d.zone = '$zone' AND e.category = $c"))(
        rows => pair(rows.head) == groupTotal(regions, Seq(c))))
    case "scan_api" | "scan_sql" =>
      Some(read(kind, "scan", None)(
        if (kind.endsWith("_api")) table.toDF.groupBy("region", "category").agg(count(lit(1)), sum("amount"))
        else spark.sql(s"SELECT region, category, count(*), sum(amount) FROM $sqlName GROUP BY region, category"))(
        rows => rows.map(r => (r.getString(0), r.getInt(1)) -> pair(r, 2)).toMap ==
          groupCount.filter(_._2 > 0).map { case (g, n) => g -> ((n, groupSum(g))) }.toMap))
    case "timetravel_api" | "timetravel_sql" =>
      // versions in a fixed stride order over the pinned history, most of
      // which the snapshot cache does not hold
      val v = travels.toLong * travelStride % history
      travels += 1
      Some(read(kind, "timetravel", None, Some(v))(
        if (kind.endsWith("_api")) table.toDFAt(v).agg(count(lit(1)))
        else spark.sql(s"SELECT count(*) FROM $sqlName VERSION AS OF $v"))(
        rows => rows.head.getLong(0) == InitRows))
    case "merge_api" | "merge_sql" =>
      if (merged >= nMerge) None
      else {
        val j = merged
        Some(Op(kind, "dml", if (kind == "merge_api") "dml.api" else "dml.sql", ctx => {
          rewriteProbe(ctx, "dml") {
            if (kind == "merge_api") table.merge(readBatch(MergeFileBase + j), "id")
            else {
              readBatch(MergeFileBase + j).createOrReplaceTempView("lb_merge_src")
              spark.sql(s"MERGE INTO $sqlName AS t USING lb_merge_src AS s ON t.id = s.id " +
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            }
          }
          merged += 1
          () => {
            merges(j).foreach(put)
            rowsSubmitted += MergeRows
            inputBytes += plainBytes(MergeFileBase + j)
            true
          }
        }))
      }
    case "update_api" | "update_sql" | "delete_api" | "delete_sql" =>
      // recent keys: the three batches appended last
      val hi = InitRows + appended.toLong * BatchRows
      val lo = math.max(0L, hi - 3L * BatchRows)
      val c = rnd(i).nextInt(Categories)
      val pred = col("category") === c && col("id") >= lo && col("id") < hi
      val where = s"category = $c AND id >= $lo AND id < $hi"
      val api = kind.endsWith("_api")
      Some(Op(kind, "dml", if (api) "dml.api" else "dml.sql", ctx => {
        rewriteProbe(ctx, "dml") {
          (kind.startsWith("update"), api) match {
            case (true, true) => table.update(pred, Map("amount" -> (col("amount") + 1)))
            case (true, false) => spark.sql(s"UPDATE $sqlName SET amount = amount + 1 WHERE $where")
            case (false, true) => table.delete(pred)
            case (false, false) => spark.sql(s"DELETE FROM $sqlName WHERE $where")
          }
        }
        () => {
          val hit = (lo until hi).flatMap(mirror.get).filter(_.category == c)
          if (kind.startsWith("update")) hit.foreach(o => put(o.copy(amount = o.amount + 1)))
          else hit.foreach(o => remove(o.id))
          true
        }
      }))
    case "optimize" =>
      Some(Op(kind, "maint", "optimize", ctx => {
        rewriteProbe(ctx, "optimize")(table.optimize())
        () => true
      }))
    case "mv_refresh" =>
      Some(Op(kind, "maint", "mv_refresh", ctx => {
        val watch = ctx.traceOnly("storage.scan")(new StorageWatch(Seq(mvRoot)))
        mv.refresh()
        watch.foreach(w => ctx.traceOnly("storage.scan") {
          ctx.add("mv_refresh.bytes_written", w.diff().bytesCreated)
          ctx.add("mv_refresh.count", 1)
        })
        () => mv.toDF.filter(col("mv_count") > 0).collect().map(r =>
          (r.getAs[String]("region"), r.getAs[Int]("category")) ->
            ((r.getAs[Long]("mv_count"), r.getAs[Long]("mv_sum_amount")))).toMap ==
          groupCount.filter(_._2 > 0).map { case (g, n) => g -> ((n, groupSum(g))) }.toMap
      }))
    case "vacuum" =>
      Some(Op(kind, "maint", "vacuum", ctx => {
        val watch = ctx.traceOnly("storage.scan")(new StorageWatch(Seq(root)))
        table.vacuum(0.0, dryRun = false)
        watch.foreach(w => ctx.traceOnly("storage.scan") {
          ctx.add("vacuum.files_deleted", w.diff().filesDeleted)
          ctx.add("vacuum.count", 1)
        })
        () => true
      }))
  }

  /** Row count and amount sum of the mirror's rows in the given groups. */
  private def groupTotal(regions: Seq[String], categories: Seq[Int]): (Long, Long) = {
    val gs = for (g <- regions; c <- categories) yield (g, c)
    (gs.map(groupCount).sum, gs.map(groupSum).sum)
  }

  private def pair(r: Row, from: Int = 0): (Long, Long) =
    (r.getLong(from), if (r.isNullAt(from + 1)) 0L else r.getLong(from + 1))

  /** A read op: plan, execute, and compare with the mirror. */
  private def read(kind: String, klass: String, pred: Option[Column], version: Option[Long] = None)
      (df: => DataFrame)(check: Array[Row] => Boolean): Op =
    Op(kind, klass, "read", ctx => {
      pred.foreach { p =>
        ctx.probe("pruning.ms")(table.pruneFiles(p)).foreach { case (kept, total) =>
          ctx.add("pruning.files_kept", kept)
          ctx.add("pruning.files_total", total)
          ctx.add("pruning.count", 1)
        }
      }
      val d = ctx.plan(df)
      val rows = ctx.exec(d.collect())
      () => check(rows)
    }, version)

  /** Files the op removed from and added to the table's snapshot. */
  private def rewriteProbe(ctx: Ctx, layer: String)(f: => Any): Unit = {
    def files(): Map[String, Long] = table.snapshot.activeFiles.map(a => a.path -> a.size).toMap
    val before = ctx.traceOnly("snapshot.files")(files())
    f
    before.foreach(b => ctx.traceOnly("snapshot.files") {
      val after = files()
      val removed = b.keySet.count(k => !after.contains(k))
      val added = after.filter { case (k, _) => !b.contains(k) }.values.sum
      if (layer == "optimize") {
        ctx.add("optimize.files_removed", removed)
        ctx.add("optimize.files_added", after.size - (b.size - removed))
        ctx.add("optimize.bytes_rewritten", added)
      } else {
        ctx.add("dml.files_rewritten", removed)
        ctx.add("dml.bytes_rewritten", added)
      }
      ctx.add(s"$layer.count", 1)
    })
  }

  private def checksum(rows: Iterator[IRow]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + r.hashCode) }

  def finalChecks(): Seq[(String, Boolean)] = {
    val (n, h) = checksum(table.toDF.select("id", "region", "category", "amount", "note").collect()
      .iterator.map(r => IRow(r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getString(4))))
    val (mn, mh) = checksum(mirror.valuesIterator)
    // the mirror's live rows as plain parquet: the base of space_amp
    import spark.implicits._
    val plain = streamDir.resolveSibling("mirror")
    spark.createDataset(mirror.values.toSeq).coalesce(1).write.parquet(plain.toString)
    val w = Files.walk(plain)
    livePlainBytes = try w.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum finally w.close()
    Seq("final row count matches the mirror" -> (n == mn),
      "final content checksum matches the mirror" -> (h == mh))
  }

  def rows(ops: Seq[OpRecord]): Long = rowsSubmitted
  def rowsName: String = "ingest_rows_per_s"

  def named(ops: Seq[OpRecord], storage: StorageTotals): Seq[Metric] = {
    def ms(k: String): Seq[Double] = ops.filter(r => r.ok && r.klass == k).map(_.ms)
    Named.latency("append", ms("append")) ++ Named.latency("dml", ms("dml")) ++ Seq(
      Metric("maintenance_s", ms("maint").sum / 1000, "s", s"n=${ms("maint").size}"),
      Metric("write_amp", storage.bytesCreated.toDouble / inputBytes, "ratio",
        s"${storage.bytesCreated} B created / $inputBytes B plain input"),
      Metric("space_amp", storage.bytesOnDisk.toDouble / livePlainBytes, "ratio",
        s"${storage.bytesOnDisk} B on disk / $livePlainBytes B plain live rows")) ++
      Named.latency("read", ms("read")) ++ Named.latency("scan", ms("scan")).take(1) ++
      Named.latency("timetravel", ms("timetravel")).take(1)
  }
}

object LakeMixed {
  val Regions = Array("eu", "us", "apac", "latam")
  /** The dimension the join reads take: region -> zone. */
  val Zones: Map[String, String] = Map("eu" -> "emea", "us" -> "amer", "latam" -> "amer", "apac" -> "apac")
  val ZoneNames: Array[String] = Zones.values.toArray.distinct.sorted
  val Categories = 10
  val InitRows = 5000
  val InitFiles = 40
  val InitBatch = -1
  val BatchRows = 1000
  val MergeRows = 200
  val MergeMatched = 150
  val MergeKeyBase = 1000000000L
  val MergeFileBase = 100000
  val HistoryVersions = 150
  val PointCols = Seq("id", "category", "amount")
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("region", StringType),
    StructField("category", IntegerType), StructField("amount", LongType),
    StructField("note", StringType)))

  /** The reads, in the order the read slots take them. */
  val ReadKinds: IndexedSeq[String] = IndexedSeq("selective_api", "timetravel_api", "point_api", "range_sql",
    "scan_sql", "dimjoin_api", "selective_sql", "timetravel_sql", "point_sql", "range_api", "scan_api",
    "dimjoin_sql")

  /** The warm-up runs every op kind once, so JIT and codegen warm-up is
    * paid before timing.
    */
  val WarmUp: Seq[String] = Seq("append", "merge_api", "update_api", "delete_sql", "append",
    "merge_sql", "update_sql", "delete_api", "optimize", "mv_refresh", "vacuum") ++ ReadKinds

  /** One cycle of the loop: 4-5 appends, a MERGE, an UPDATE, a DELETE,
    * six reads and a maintenance slot (OPTIMIZE on even cycles, MV
    * refresh then VACUUM on odd ones; the refresh comes right before the
    * VACUUM so no file it still needs is deleted). Every DML kind runs
    * through the API in one cycle and through SQL in the other; the
    * reads rotate over [[ReadKinds]].
    */
  val Slots: Array[String] = Array(
    "append", "merge", "read", "append", "dml1", "read", "read", "append", "maint", "read", "dml2",
    "read", "append", "read", "append_or_vacuum")
}

/** Median and tail of one op class, named `<klass>_p50_ms` and `<klass>_tail_ms`. */
object Named {
  def latency(klass: String, ms: Seq[Double]): Seq[Metric] =
    if (ms.isEmpty) Nil
    else Seq(Metric(s"${klass}_p50_ms", Stats.median(ms), "ms", s"n=${ms.size}"),
      Stats.tail(ms) match {
        case Some((p, v)) => Metric(s"${klass}_tail_ms", v, "ms", s"p$p, n=${ms.size}")
        case None => Metric(s"${klass}_tail_ms", Double.NaN, "ms", s"n=${ms.size}: fewer than 11 samples")
      })
}
