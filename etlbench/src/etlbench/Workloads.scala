package etlbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Catalog, EtlProcess, MaterializedAgg, VersionedCatalog, VersionedTable}
import graft.etl.MaterializedAgg.AggCol

/** One correctness check of the gate; a failed check counts as one failed
  * operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload. Inputs are generated from the seed with Spark
  * built-ins into the source catalog; the engine sees only those tables.
  * Expected results are computed by [[gate]] without engine code, from the
  * generated inputs, outside the timed region. */
abstract class Workload(val spark: SparkSession, seed: Long, work: String) {
  val gen = new Gen(seed)
  val srcDir = s"$work/src"
  lazy val src = new Catalog(spark, srcDir)
  protected var tgtDir: String = _

  /** Source rows one batch commits. */
  def rowsPerBatch: Long
  /** Batches a run measures: a fixed count, so that every run and every
    * commit measures the same work and ends in the same table state. The
    * generated source holds exactly these batches. */
  def batches: Int
  /** Source table the batches draw from (its bytes per row give write_amp). */
  def batchSource: String
  /** Tables the timed batches write (stored bytes, storage counters). */
  def writtenTables: Seq[String]
  /** Span name of the reader operation and the table it reads. */
  def readerSpan: String
  def readTable: String
  /** Sizes stated in the run record. */
  def sizes: Map[String, Any]

  def generate(): Unit
  /** Initial dimension and target loads into the fresh directory `dir`. */
  def setup(dir: String): Unit
  def step(b: Int, t: Option[Tracer]): Unit
  /** The reader operations that follow batch `b`, in order. */
  def reads(b: Int, t: Option[Tracer]): Seq[() => Unit]
  /** Live rows of the primary written table, read through the engine. */
  def liveRows(): Long
  def gate(batches: Int, corrupt: Boolean): Seq[Check]

  def targetDir: String = tgtDir

  /** Checksums of every generated input table (seed-determinism test). */
  def inputChecksums(): Map[String, (Long, BigDecimal)] =
    new java.io.File(srcDir).listFiles().map(_.getName).sorted.map { n =>
      val df = spark.read.parquet(s"$srcDir/$n")
      n -> Fingerprint.of(df, df.columns.toSeq)
    }.toMap

  protected def parquet(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name")

  protected def rowsOf(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))

  protected def fingerprintCheck(name: String, actual: DataFrame, model: DataFrame,
                                 cols: Seq[String]): Check = {
    val (a, e) = (Fingerprint.of(actual, cols), Fingerprint.of(model, cols))
    Check(name, a == e, s"actual rows=${a._1} hash=${a._2}; model rows=${e._1} hash=${e._2}")
  }

  /** Row count, duplicate natural keys, and ids unique and contiguous 1..n. */
  protected def keyChecks(prefix: String, actual: DataFrame, key: String,
                          expectedRows: Long): Seq[Check] = {
    val r = actual.agg(count(lit(1)), countDistinct(col(key)), countDistinct(col("id")),
      min(col("id")), max(col("id"))).head()
    val (n, keys, ids) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (lo, hi) = (Option(r.get(3)).map(_.toString.toLong), Option(r.get(4)).map(_.toString.toLong))
    Seq(
      Check(s"$prefix.rows", n == expectedRows, s"rows=$n model=$expectedRows"),
      Check(s"$prefix.no_duplicate_keys", keys == n, s"distinct $key=$keys rows=$n"),
      Check(s"$prefix.ids_contiguous", ids == n && (n == 0 || (lo.contains(1L) && hi.contains(n))),
        s"distinct ids=$ids min=${lo.orNull} max=${hi.orNull} rows=$n"))
  }

  /** One check per recorded read: its rows against the model's. */
  protected def readChecks(kind: String, got: Seq[(String, Seq[String])],
                           expected: String => Seq[String]): Seq[Check] =
    got.map { case (id, rows) =>
      val want = expected(id)
      Check(s"read.$kind[$id]", rows == want,
        if (rows == want) s"${rows.size} rows"
        else s"got ${rows.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
    }
}

object Workload {
  val Names: Seq[String] = Seq("star_append", "dim_upsert", "backfill")

  /** `cubeOnDayId` (star_append only) groups the cube on the nullable
    * `day_id` link instead of `o_orderdate`: see [[StarAppend]]. */
  def apply(name: String, spark: SparkSession, seed: Long, work: String,
            cubeOnDayId: Boolean = false): Workload = name match {
    case "star_append" => new StarAppend(spark, seed, work, cubeOnDayId)
    case "dim_upsert" => new DimUpsert(spark, seed, work)
    case "backfill" => new Backfill(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** The reference pipeline shape (`SparkEntry.entry`) on small incremental
  * batches: fixed per-statement driver and job overhead dominates.
  *
  * The cube groups on the order date and priority, keys that are never
  * NULL. With `cubeOnDayId` it groups on the `day_id` link instead, which is
  * NULL for the facts dated before the day dim: `MaterializedAgg.refresh`
  * does not merge NULL groups, so from the second refresh on the gate's
  * `cube.equals_group_by` check fails (README, Known defect). */
final class StarAppend(spark: SparkSession, seed: Long, work: String, cubeOnDayId: Boolean)
    extends Workload(spark, seed, work) {
  private val B = 10000L
  /** Rows of the previous batch each delivery repeats; the `{}` watermark
    * must drop them. */
  private val Overlap = 1000L
  private val Customers = 150000L
  /** Keys above the dimension that ~2% of facts carry: they link to null. */
  private val MissingCustomers = 10000L
  private val Days = 540
  private val DayStart = "2015-01-01"
  /** The day dim starts this many days after the first fact date, so ~2% of
    * facts fall before it: their `linkClosest("<=")` misses and `day_id` is
    * NULL, a group the cube has to carry. */
  private val DimOffsetDays = 10
  private val FactDays = 540
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Slices = 14
  /** The cube's date key: one-day slices and the top days read it. */
  private val DateKey = if (cubeOnDayId) "day_id" else "o_orderdate"
  private val CubeKeys = Seq(DateKey, "o_orderpriority")
  private val CubeAggs = Seq(AggCol("count", "o_orderkey", "n_orders"),
    AggCol("sum", "o_totalcents", "revenue_cents"), AggCol("max", "o_totalcents", "max_cents"))
  private val FactCols = Seq("id", "o_orderkey", "o_orderdate", "o_orderpriority",
    "o_totalcents", "o_comment", "customer_id", "day_id")

  val rowsPerBatch: Long = B
  val batches = 2
  val batchSource = "orders"
  val writtenTables = Seq("order_fact", "order_cube")
  val readerSpan = "MaterializedAgg.read"
  val readTable = "order_cube"
  def sizes: Map[String, Any] = Map("batch_rows" -> B, "redelivered_rows" -> Overlap,
    "customer_dim_rows" -> Customers, "day_dim_rows" -> Days, "day_dim_offset_days" -> DimOffsetDays,
    "fact_days" -> FactDays, "cube_keys" -> CubeKeys.mkString(","),
    "source_rows" -> batches * B, "reads_per_batch" -> (Slices + 2))

  private var tgt: Catalog = _
  private val got = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Seq[String])]]

  def generate(): Unit = {
    val i = col("id")
    spark.range(0, Customers, 1, 4).select((i + 1).as("c_custkey"),
      concat(lit("Customer#"), lpad((i + 1).cast("string"), 9, "0")).as("c_name"),
      gen.oneOf(1, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), i)
        .as("c_mktsegment"))
      .write.parquet(s"$srcDir/customer")
    spark.range(0, Days, 1, 1).select(
      date_add(lit(DayStart).cast("date"), (i * 7 + DimOffsetDays).cast("int")).as("d_date"),
      i.cast("int").as("d_week"))
      .write.parquet(s"$srcDir/days")
    // o_orderkey = 4*row + [1..4]: strictly increasing with gaps, so a
    // batch's key window is known from its row window alone
    spark.range(0, batches * B, 1, 8).select(
      (i * 4 + gen.pick(2, 4, i) + 1).as("o_orderkey"),
      when(gen.unit(3, i) < 0.02, gen.pick(4, MissingCustomers, i) + (Customers + 1))
        .otherwise(gen.pick(5, Customers, i) + 1).as("o_custkey"),
      date_add(lit(DayStart).cast("date"), gen.pick(6, FactDays, i).cast("int")).as("o_orderdate"),
      gen.oneOf(7, Priorities, i).as("o_orderpriority"),
      (gen.pick(8, 5000000, i) + 100).as("o_totalcents"),
      concat(lit("  note "), gen.pick(9, 1000, i).cast("string"), lit(" ")).as("o_comment"))
      .write.parquet(s"$srcDir/orders")
  }

  def setup(dir: String): Unit = {
    tgtDir = dir
    tgt = new Catalog(spark, dir)
    got.clear()
    val c = new EtlProcess(src, tgt, "customer_dim")
    c.idOrder = Seq("c_custkey")
    c.extract("SELECT c_custkey, c_name, c_mktsegment FROM customer")
    c.load()
    val d = new EtlProcess(src, tgt, "day_dim")
    d.idOrder = Seq("d_date")
    d.extract("SELECT d_date, d_week FROM days")
    d.load()
  }

  def step(b: Int, t: Option[Tracer]): Unit = {
    val start = math.max(0L, b * B - Overlap)
    val end = (b + 1) * B
    val p = new EtlProcess(src, tgt, "order_fact")
    p.idOrder = Seq("o_orderkey")
    p.extract(
      s"""SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority, o_totalcents, o_comment
         |FROM orders WHERE o_orderkey > {} AND o_orderkey BETWEEN ${4 * start + 1} AND ${4 * end}"""
        .stripMargin, writePkField = Some("o_orderkey"))
    p.transform("o_orderpriority").lower().replace("-", "_")
    p.transform("o_comment").strip().upper()
    p.link("customer_id", target = "o_custkey", tableName = "customer_dim", childField = "c_custkey")
    p.linkClosest("day_id", target = "o_orderdate", tableName = "day_dim", childField = "d_date",
      method = "<=")
    p.ignore("o_custkey")
    Tracer.span(t, "EtlProcess.load")(p.load())
    Tracer.span(t, "MaterializedAgg.refresh") {
      val fresh = Tracer.span(t, "Catalog.table")(tgt.table("order_fact"))
        .where(col("o_orderkey") > 4 * b * B)
      MaterializedAgg.refresh(tgt, "order_cube", fresh, CubeKeys, CubeAggs)
    }
  }

  private def cube(t: Option[Tracer])(q: DataFrame => DataFrame): Seq[String] =
    Tracer.span(t, "MaterializedAgg.read")(
      rowsOf(q(MaterializedAgg.read(tgt, "order_cube", CubeKeys, CubeAggs)).collect()))

  private def record(kind: String, id: String, rows: Seq[String]): Unit =
    got.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (id -> rows)

  /** A value of the cube's date key, as Spark prints it, from a day number. */
  private def dateKeyValue(day: Int): String =
    if (cubeOnDayId) (1 + day / 7).toString
    else java.time.LocalDate.parse(DayStart).plusDays(day.toLong).toString

  /** Dashboard-like reads: mostly one-day slices, plus a rollup and a
    * top-k (the median read is then a slice, whatever the mix's spread). */
  def reads(b: Int, t: Option[Tracer]): Seq[() => Unit] = {
    val rng = gen.rng(b)
    Seq.fill(Slices)(dateKeyValue(rng.nextInt(FactDays))).map { day =>
      val key = if (cubeOnDayId) lit(day.toLong) else lit(day).cast("date")
      () => record("slice", s"$b:$day", cube(t)(_.where(col(DateKey) === key)
        .select("o_orderpriority", "n_orders", "revenue_cents", "max_cents")).sorted)
    } ++ Seq(
      () => record("rollup", s"$b", cube(t)(_.groupBy("o_orderpriority")
        .agg(sum("n_orders"), sum("revenue_cents"))).sorted),
      () => record("top_days", s"$b", cube(t)(_.groupBy(DateKey)
        .agg(sum("revenue_cents").as("rev")).orderBy(desc("rev"), asc(DateKey)).limit(10))))
  }

  def liveRows(): Long = tgt.table("order_fact").count()

  def gate(batches: Int, corrupt: Boolean): Seq[Check] = {
    val loaded = batches * B
    val ds = date_add(lit(DayStart).cast("date"), DimOffsetDays)
    val custIds = parquet("customer").select(col("c_custkey"),
      row_number().over(Window.orderBy("c_custkey")).cast("long").as("customer_id"))
    val dayIds = parquet("days").select(col("d_date"),
      row_number().over(Window.orderBy("d_date")).cast("long").as("day_id"))
    val model = parquet("orders").where(col("o_orderkey") <= 4 * loaded)
      .withColumn("o_orderpriority", expr("replace(lower(o_orderpriority), '-', '_')"))
      .withColumn("o_comment", upper(trim(col("o_comment"))))
      .join(custIds, col("o_custkey") === col("c_custkey"), "left")
      // the day dim is weekly from ds and runs past the last fact date, so
      // the closest day at or before a date is its week start; a date before
      // ds gets a week start before ds, which the join does not find: NULL
      .withColumn("wk", date_add(ds, (floor(datediff(col("o_orderdate"), ds) / 7) * 7).cast("int")))
      .join(dayIds, col("wk") === col("d_date"), "left")
      .withColumn("id", row_number().over(Window.orderBy("o_orderkey")).cast("long"))
      .select(FactCols.map(col): _*)
      .persist()
    val actual0 = tgt.table("order_fact").persist()
    try {
      val actual = if (corrupt) Fingerprint.corruptOne(actual0, "id", "o_comment") else actual0
      val cubeModel = model.groupBy(CubeKeys.map(col): _*).agg(count(lit(1)).as("n_orders"),
        sum("o_totalcents").as("revenue_cents"), max("o_totalcents").as("max_cents"))
      val cubeCols = CubeKeys ++ CubeAggs.map(_.as)
      // per (batch, date key, priority) state; the read checks fold it on
      // the driver
      val perBatch = model.groupBy(expr(s"(o_orderkey - 1) div ${4 * B}").as("bt"),
        col(DateKey), col("o_orderpriority")).agg(count(lit(1)), sum("o_totalcents"),
        max("o_totalcents")).collect().toSeq.map(r => (r.getLong(0), Option(r.get(1)).map(_.toString),
        r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      // ascending date-key order, NULL first
      def keyOrder(d: Option[String]): Long = d.fold(Long.MinValue)(v =>
        if (cubeOnDayId) v.toLong else java.time.LocalDate.parse(v).toEpochDay)
      def upTo(b: Long) = perBatch.filter(_._1 <= b)
      def expected(kind: String)(id: String): Seq[String] = kind match {
        case "slice" =>
          val Array(b, d) = id.split(":")
          upTo(b.toLong).filter(_._2.contains(d)).groupBy(_._3).toSeq.map { case (p, rs) =>
            s"$p|${rs.map(_._4).sum}|${rs.map(_._5).sum}|${rs.map(_._6).max}"
          }.sorted
        case "rollup" =>
          upTo(id.toLong).groupBy(_._3).toSeq.map { case (p, rs) =>
            s"$p|${rs.map(_._4).sum}|${rs.map(_._5).sum}"
          }.sorted
        case "top_days" =>
          upTo(id.toLong).groupBy(_._2).toSeq.map { case (d, rs) => (d, rs.map(_._5).sum) }
            // revenue descending, then date key ascending
            .sortBy { case (d, rev) => (-rev, keyOrder(d)) }
            .take(10).map { case (d, rev) => s"${d.orNull}|$rev" }
      }
      keyChecks("fact", actual0, "o_orderkey", loaded) ++ Seq(
        fingerprintCheck("fact.link_checksum", actual0, model,
          Seq("o_orderkey", "customer_id", "day_id")),
        fingerprintCheck("fact.rows_checksum", actual, model, FactCols),
        fingerprintCheck("cube.equals_group_by",
          MaterializedAgg.read(tgt, "order_cube", CubeKeys, CubeAggs), cubeModel, cubeCols)) ++
        got.toSeq.sortBy(_._1).flatMap { case (kind, rs) => readChecks(kind, rs.toSeq, expected(kind)) }
    } finally { model.unpersist(); actual0.unpersist() }
  }
}

/** A versioned customer dimension under upsert batches, change-feed reads,
  * periodic compaction and vacuum, and point lookups at head. */
final class DimUpsert(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  private val Table = "customer_dim"
  private val Initial = 50000L
  private val B = 5000L
  /** Per batch: updates of the newest RecentWindow keys, updates spread over
    * the older keys, and inserts of new keys (80% updates, 20% inserts). */
  private val Recent = 2500L
  private val Old = 1500L
  private val Inserts = 1000L
  private val RecentWindow = 20000L
  private val Lookups = 16
  private val CompactEvery = 2
  private val KeepLast = 2
  private val Buckets = 16
  private val CompactFileBytes = 16L << 20
  private val Cols = Seq("c_custkey", "c_name", "c_address", "c_segment", "c_balance", "c_version")
  private val DimCols = "id" +: Cols
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val rowsPerBatch: Long = B
  val batches = 2
  val batchSource = "customer_updates"
  val writtenTables = Seq(Table)
  val readerSpan = "VersionedTable.lookup"
  val readTable: String = Table
  def sizes: Map[String, Any] = Map("initial_rows" -> Initial, "batch_rows" -> B,
    "updates_recent" -> Recent, "updates_old" -> Old, "inserts" -> Inserts,
    "recent_window" -> RecentWindow, "buckets" -> Buckets, "lookups_per_batch" -> Lookups,
    "absent_lookups_per_batch" -> Lookups / 8, "compact_every" -> CompactEvery, "vacuum_keep_last" -> KeepLast)

  private var tgt: VersionedCatalog = _
  private val feeds = mutable.ArrayBuffer.empty[(Int, Map[String, Long])]
  private val looked = mutable.ArrayBuffer.empty[(Int, Long, Seq[String])]

  /** Keys that exist before batch b. */
  private def keysBefore(b: Long): Long = Initial + Inserts * b

  def generate(): Unit = {
    val i = col("id")
    spark.range(0, Initial, 1, 4).select((i + 1).as("c_custkey"),
      concat(lit("Customer#"), (i + 1).cast("string"), lit("#v0")).as("c_name"),
      concat(lit("addr-"), gen.pick(10, 100000, i).cast("string")).as("c_address"),
      gen.oneOf(11, Segments, i).as("c_segment"),
      (gen.pick(12, 10000000, i) - 5000000).as("c_balance"),
      lit(0).as("c_version"))
      .write.parquet(s"$srcDir/customer")
    val b = expr(s"id div $B")
    val r = pmod(i, lit(B))
    val nb = b * Inserts + Initial
    // (r * A + C) mod W is a permutation of [0, W) for A coprime with W, so
    // each batch's keys are distinct; 7919 and 1000003 are primes that do
    // not divide either window
    val oldW = nb - RecentWindow
    val key = when(r < Recent,
        nb - RecentWindow + 1 + pmod(r * 7919 + gen.pick(13, RecentWindow, b), lit(RecentWindow)))
      .when(r < Recent + Old,
        pmod((r - Recent) * 1000003 + pmod(xxhash64(lit(seed), lit(14), b), oldW), oldW) + 1)
      .otherwise(nb + 1 + (r - Recent - Old))
    spark.range(0, batches * B, 1, 8).select(key.as("c_custkey"),
      concat(lit("Customer#"), key.cast("string"), lit("#v"), (b + 1).cast("string")).as("c_name"),
      concat(lit("addr-"), gen.pick(15, 100000, i).cast("string")).as("c_address"),
      gen.oneOf(16, Segments, i).as("c_segment"),
      (gen.pick(17, 10000000, i) - 5000000).as("c_balance"),
      (b + 1).cast("int").as("c_version"),
      b.cast("int").as("batch_no"))
      .write.parquet(s"$srcDir/customer_updates")
  }

  private def process(): EtlProcess = {
    val p = new EtlProcess(src, tgt, Table)
    p.idOrder = Seq("c_custkey")
    p.bucketBy = Some((Seq("c_custkey"), Buckets))
    p
  }

  def setup(dir: String): Unit = {
    tgtDir = dir
    tgt = new VersionedCatalog(spark, dir)
    feeds.clear()
    looked.clear()
    val p = process()
    p.extract(s"SELECT ${Cols.mkString(", ")} FROM customer")
    p.load()
  }

  def step(b: Int, t: Option[Tracer]): Unit = {
    val p = process()
    p.extract(s"SELECT ${Cols.mkString(", ")} FROM customer_updates WHERE batch_no = $b")
    Tracer.span(t, "EtlProcess.load")(p.load(upsertFields = Seq("c_custkey")))
    val feed = Tracer.span(t, "VersionedTable.changes") {
      val v = VersionedTable.currentVersion(tgt, Table).get
      VersionedTable.changes(tgt, Table, v - 1, v, Seq("c_custkey")).collect()
    }
    feeds += (b -> feed.toSeq.groupBy(_.getAs[String]("op")).map { case (k, v) => k -> v.size.toLong })
    if (b % CompactEvery == CompactEvery - 1) {
      Tracer.span(t, "VersionedTable.compact")(VersionedTable.compact(tgt, Table, CompactFileBytes))
      Tracer.span(t, "VersionedTable.vacuum")(VersionedTable.vacuum(tgt, Table, KeepLast))
    }
  }

  def reads(b: Int, t: Option[Tracer]): Seq[() => Unit] = {
    val rng = gen.rng(b)
    val live = keysBefore(b + 1L)
    (0 until Lookups).map { q =>
      val key = if (q % 8 == 7) live + 1 + rng.nextInt(1000000) else 1 + rng.nextLong(live)
      () => {
        val rows = Tracer.span(t, "VersionedTable.lookup") {
          val v = VersionedTable.currentVersion(tgt, Table).get
          VersionedTable.lookup(tgt, Table, v, Map("c_custkey" -> key))
            .select(DimCols.map(col): _*).collect()
        }
        looked += ((b, key, rowsOf(rows).sorted))
      }
    }
  }

  def liveRows(): Long = tgt.table(Table).count()

  def gate(batches: Int, corrupt: Boolean): Seq[Check] = {
    val all = parquet("customer").withColumn("batch_no", lit(-1))
      .unionByName(parquet("customer_updates").where(col("batch_no") < batches))
    // last writer wins: each key keeps the row of the latest batch that
    // wrote it; keys arrive in ascending key order (initial load, then each
    // batch's inserts above every existing key), so a key's id is its rank
    val model = all.groupBy("c_custkey")
      .agg(max_by(struct(Cols.tail.map(col): _*), col("batch_no")).as("r"))
      .select(col("c_custkey") +: Cols.tail.map(c => col(s"r.$c").as(c)): _*)
      .withColumn("id", row_number().over(Window.orderBy("c_custkey")).cast("long"))
      .persist()
    val actual0 = tgt.table(Table).persist()
    try {
      val actual = if (corrupt) Fingerprint.corruptOne(actual0, "id", "c_name") else actual0
      // every update rewrites c_version, so a batch's row is an insert when
      // the batch is the first to write its key and an update otherwise
      val writes = all.select("c_custkey", "batch_no").collect().map(r => (r.getLong(0), r.getInt(1)))
      val first = writes.groupMapReduce(_._1)(_._2)(math.min)
      val feedChecks = feeds.toSeq.map { case (b, got) =>
        val ins = writes.count { case (k, wb) => wb == b && first(k) == b }.toLong
        val want = Map("insert" -> ins, "update" -> (writes.count(_._2 == b) - ins)).filter(_._2 > 0)
        Check(s"changes[$b]", got == want, s"got $got want $want")
      }
      // the model state after batch b, from the looked-up keys' rows
      val keys = looked.map(_._2).distinct.toSeq
      val history = all.where(col("c_custkey").isin(keys: _*)).collect().toSeq
        .groupBy(_.getAs[Long]("c_custkey"))
      val idOf = model.where(col("c_custkey").isin(keys: _*)).select("c_custkey", "id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lookupChecks = looked.toSeq.map { case (b, k, rows) =>
        val want = history.getOrElse(k, Nil).filter(_.getAs[Int]("batch_no") <= b)
          .sortBy(_.getAs[Int]("batch_no")).lastOption
          .map(r => (idOf(k) +: Cols.map(r.getAs[Any])).map(String.valueOf).mkString("|")).toSeq
        Check(s"lookup[$b:$k]", rows == want, s"got ${rows.mkString(",")} want ${want.mkString(",")}")
      }
      keyChecks("dim", actual0, "c_custkey", model.count()) ++
        Seq(fingerprintCheck("dim.last_writer_wins", actual, model, DimCols)) ++
        feedChecks ++ lookupChecks
    } finally { model.unpersist(); actual0.unpersist() }
  }
}

/** Large batches through a long transform chain and two links to
  * dimensions above the broadcast limits, appended clustered: the data
  * plane (shuffle, sort, parquet encode, GC) dominates. */
final class Backfill(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  private val Table = "event_fact"
  private val B = 200000L
  /** Above Spark's 10 MB broadcast threshold once keyed. */
  private val Accounts = 1500000L
  /** More distinct keys than `AsOfJoin.MaxDimRowsDefault` (1M), so the
    * as-of link takes the range-merge path. */
  private val Rates = 1100000L
  private val RateStep = 10L
  private val FileBytes = 2L << 20
  private val RangeWidth = 7500L
  private val ReadsPerBatch = 2
  private val FactCols = Seq("id", "f_eventkey", "f_ts", "f_amount", "f_channel", "f_note",
    "f_region", "account_id", "rate_id")

  val rowsPerBatch: Long = B
  val batches = 3
  val batchSource = "events"
  val writtenTables = Seq(Table)
  val readerSpan = "Catalog.table"
  val readTable: String = Table
  def sizes: Map[String, Any] = Map("batch_rows" -> B, "account_dim_rows" -> Accounts,
    "rate_dim_rows" -> Rates, "target_file_bytes" -> FileBytes,
    "read_range_accounts" -> RangeWidth, "reads_per_batch" -> ReadsPerBatch,
    "source_rows" -> batches * B)

  private var tgt: Catalog = _
  private val got = mutable.ArrayBuffer.empty[(Int, Long, Seq[String])]

  def generate(): Unit = {
    val i = col("id")
    spark.range(0, Accounts, 1, 4).select((i * 2 + 1).as("a_acctkey"),
      concat(lit("acct-"), i.cast("string")).as("a_name"),
      gen.oneOf(20, Seq("bronze", "silver", "gold"), i).as("a_tier"))
      .write.parquet(s"$srcDir/accounts")
    spark.range(0, Rates, 1, 4).select((i * RateStep).as("r_ts"),
      gen.pick(21, 10000, i).as("r_rate"))
      .write.parquet(s"$srcDir/rates")
    // accounts hold the odd keys: an even f_acctkey (~2%) links to null; an
    // f_ts past the last rate key (~2%) has no rate at or after it
    spark.range(0, batches * B, 1, 16).select(
      (i * 2 + gen.pick(22, 2, i) + 1).as("f_eventkey"),
      (gen.pick(23, Accounts, i) * 2 +
        when(gen.unit(24, i) < 0.02, 2L).otherwise(1L)).as("f_acctkey"),
      gen.pick(25, Rates * RateStep * 51 / 50, i).as("f_ts"),
      gen.pick(26, 1000000, i).as("f_amount"),
      gen.oneOf(27, Seq("  Web ", "Store", " Phone-In", "PARTNER "), i).as("f_channel"),
      concat(lit(" n"), gen.pick(28, 100000, i).cast("string"), lit(" ")).as("f_note"),
      gen.oneOf(29, Seq("north east", "south", "west coast", "central"), i).as("f_region"))
      .write.parquet(s"$srcDir/events")
  }

  def setup(dir: String): Unit = {
    tgtDir = dir
    tgt = new Catalog(spark, dir)
    got.clear()
    val a = new EtlProcess(src, tgt, "account_dim")
    a.idOrder = Seq("a_acctkey")
    a.extract("SELECT a_acctkey, a_name, a_tier FROM accounts")
    a.load()
    val r = new EtlProcess(src, tgt, "rate_dim")
    r.idOrder = Seq("r_ts")
    r.extract("SELECT r_ts, r_rate FROM rates")
    r.load()
  }

  def step(b: Int, t: Option[Tracer]): Unit = {
    val p = new EtlProcess(src, tgt, Table)
    p.idOrder = Seq("f_eventkey")
    p.clusterBy = Seq("account_id")
    p.targetFileBytes = Some(FileBytes)
    p.extract(
      s"""SELECT f_eventkey, f_acctkey, f_ts, f_amount, f_channel, f_note, f_region
         |FROM events WHERE f_eventkey BETWEEN ${2 * b * B + 1} AND ${2 * (b + 1) * B}""".stripMargin)
    p.transform("f_channel").strip().lower().replace("-", "_")
    p.transform("f_note").strip().upper().zfill(10)
    p.transform("f_region").title().replace(" ", "_")
    p.link("account_id", target = "f_acctkey", tableName = "account_dim", childField = "a_acctkey")
    p.linkClosest("rate_id", target = "f_ts", tableName = "rate_dim", childField = "r_ts",
      method = ">=")
    p.ignore("f_acctkey")
    Tracer.span(t, "EtlProcess.load")(p.load())
  }

  def reads(b: Int, t: Option[Tracer]): Seq[() => Unit] = {
    val rng = gen.rng(b)
    (0 until ReadsPerBatch).map { _ =>
      val lo = 1 + rng.nextLong(Accounts - RangeWidth)
      () => {
        val rows = Tracer.span(t, "Catalog.table")(tgt.table(Table)
          .where(col("account_id").between(lo, lo + RangeWidth - 1))
          .agg(count(lit(1)), sum("f_amount")).collect())
        got += ((b, lo, rowsOf(rows)))
      }
    }
  }

  def liveRows(): Long = tgt.table(Table).count()

  def gate(batches: Int, corrupt: Boolean): Seq[Check] = {
    val loaded = batches * B
    val k = col("f_eventkey")
    // dims and facts are generated in key order, so surrogate ids are key
    // ranks: event row index + 1, account (odd key) (key + 1) / 2, and the
    // rate at or after f_ts is the ceil(f_ts / RateStep)-th
    val rateIx = (col("f_ts") + (RateStep - 1)).divide(lit(RateStep)).cast("long")
    val model = parquet("events").where(k <= 2 * loaded).select(
      (floor((k - 1) / 2) + 1).cast("long").as("id"), k, col("f_ts"), col("f_amount"),
      expr("replace(lower(trim(f_channel)), '-', '_')").as("f_channel"),
      lpad(upper(trim(col("f_note"))), 10, "0").as("f_note"),
      expr("replace(initcap(lower(f_region)), ' ', '_')").as("f_region"),
      when(pmod(col("f_acctkey"), lit(2)) === 1, floor((col("f_acctkey") + 1) / 2).cast("long"))
        .as("account_id"),
      when(rateIx < Rates, rateIx + 1).as("rate_id"))
      .persist()
    try {
      val actual0 = tgt.table(Table)
      val actual = if (corrupt) Fingerprint.corruptOne(actual0, "id", "f_note") else actual0
      import spark.implicits._
      val asked = got.map { case (b, lo, _) => (b, lo) }.toSeq.toDF("at", "lo")
      val rangeModel = model.withColumn("bt", floor((col("id") - 1) / B)).join(broadcast(asked),
          col("bt") <= col("at") && col("account_id").between(col("lo"), col("lo") + (RangeWidth - 1)))
        .groupBy("at", "lo").agg(count(lit(1)), sum("f_amount"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> s"${r.getLong(2)}|${r.getLong(3)}").toMap
      keyChecks("fact", actual0, "f_eventkey", loaded) ++ Seq(
        fingerprintCheck("fact.link_checksum", actual0, model, Seq("f_eventkey", "account_id", "rate_id")),
        fingerprintCheck("fact.rows_checksum", actual, model, FactCols)) ++
        got.toSeq.map { case (b, lo, rows) =>
          val want = Seq(rangeModel.getOrElse((b, lo), "0|null"))
          Check(s"read.range[$b:$lo]", rows == want, s"got ${rows.mkString} want ${want.mkString}")
        }
    } finally model.unpersist()
  }
}
