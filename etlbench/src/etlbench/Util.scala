package etlbench

import java.io.File
import java.lang.management.{BufferPoolMXBean, ManagementFactory}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** JSON rendering of the records the benchmark writes (Scala maps, sequences
  * and options through Jackson's Scala module, which Spark ships). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest order statistic with at least ten samples
    * beyond it. Below 21 samples that statistic is not above the median, so
    * the median stands in. Returns (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    if (n < 21) (median(xs), 50.0, n / 2)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, 10)
  }
}

/** Deterministic pseudo-random columns from the workload seed, built only
  * from Spark built-ins (`xxhash64`), so generated inputs do not depend on
  * partitioning or on engine code. */
final class Gen(seed: Long) {
  /** A long in [0, n) keyed by `salt` and the row's key columns. */
  def pick(salt: Int, n: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(n))

  /** A double in [0, 1). */
  def unit(salt: Int, keys: Column*): Column =
    pick(salt, 1L << 30, keys: _*).cast("double") / (1L << 30).toDouble

  def oneOf(salt: Int, choices: Seq[String], keys: Column*): Column =
    element_at(array(choices.map(lit): _*), (pick(salt, choices.size.toLong, keys: _*) + 1).cast("int"))

  /** Driver-side generator for per-batch choices (lookup keys, ranges). */
  def rng(stream: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + stream)
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (file count, bytes) of every regular file under `dir` whose top-level
    * entry is `table` or starts with `table.` (a versioned table keeps its
    * data and manifests in `table.__vdata` / `table.__vmeta` siblings). */
  def tableUsage(dir: String, table: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val top = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName == table || f.getName.startsWith(table + "."))
    val files = top.flatMap(walk)
    (files.size.toLong, files.map(_.length).sum)
  }
}

object Memory {
  private val MB = 1024.0 * 1024.0

  /** (live heap, JVM memory outside the heap), in MB, right after a full
    * collection. The live heap is the heap in use after it; the rest is the
    * committed non-heap pools (metaspace, code cache) plus direct and mapped
    * buffers. Memory malloc'd by native libraries is not counted: the
    * resident set outside the heap moved by 5-10% from run to run with it. */
  def held(): (Double, Double) = {
    // the first collection hands unreachable broadcasts and shuffles to
    // Spark's cleaner; the second, once it has run, frees what it released
    System.gc()
    Thread.sleep(300)
    System.gc()
    val mx = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (mx.getHeapMemoryUsage.getUsed / MB, (mx.getNonHeapMemoryUsage.getCommitted + buffers) / MB)
  }
}

/** Order-independent fingerprints for comparing engine output with the
  * independent model: row count plus the sum of a per-row hash over the
  * named columns, each rendered as a string (so an int/long or nullability
  * difference in the reader does not register as a value difference). */
object Fingerprint {
  def rowHash(cols: Seq[String]): Column =
    xxhash64(concat_ws("\u0001", cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))

  def of(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(rowHash(cols).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Replaces one value of `column` in the row with the smallest `key` — the
    * gate's own self-check that a single wrong row is caught. */
  def corruptOne(df: DataFrame, key: String, column: String): DataFrame = {
    val first = df.agg(min(col(key))).head().get(0)
    df.withColumn(column,
      when(col(key) === lit(first), lit("corrupted")).otherwise(col(column).cast("string")))
  }
}
