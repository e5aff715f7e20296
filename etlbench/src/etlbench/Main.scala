package etlbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload as a closed loop with one client: each batch step and
  * the reads after it start only when the previous operation has finished.
  *
  * Usage (normally through `run.py`):
  *   etlbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                 --cores C --work DIR --out FILE [--corrupt 1] [--inputs-only 1]
  *                 [--cube-on-day-id 1]
  *
  * Writes one JSON result object to `--out`; with `--trace 1` also writes
  * the spans next to it (`<out>.spans.jsonl`).
  */
object Main {
  /** Setups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Untimed batches (with their reads) run on the first, throwaway target. */
  val WarmBatches = 1
  /** The measured loop stops early (the record says `capped`) once it has
    * run this many times `--seconds`; runs make their fixed batch count well
    * inside it, so every run measures the same work. */
  val CapFactor = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val cores = args("cores").toInt
    val work = new File(args("work")).getAbsolutePath
    val out = args("out")
    require(Workload.Names.contains(workload), s"unknown workload '$workload'")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"etlbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.range(1 << 20).selectExpr("sum(id)").collect()
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

      val w = Workload(workload, spark, seed, work, args.get("cube-on-day-id").contains("1"))
      val g0 = System.nanoTime()
      w.generate()
      val genS = (System.nanoTime() - g0) / 1e9
      if (args.get("inputs-only").contains("1")) {
        val sums = w.inputChecksums().map { case (n, (rows, h)) =>
          n -> Map("rows" -> rows, "hash" -> h.toString)
        }
        write(out, Json.write(Map("workload" -> workload, "seed" -> seed, "inputs" -> sums)))
        return
      }

      // the first setup's target also takes the warm-up batches, each with
      // its reads (JIT, codegen and metadata caches), then every
      // setup but the last is thrown away; the last one's target is measured
      var warmS = 0.0
      val setupTimes = (1 to SetupReps).map { r =>
        val dir = s"$work/target$r"
        val t0 = System.nanoTime()
        w.setup(dir)
        val dt = (System.nanoTime() - t0) / 1e9
        if (r == 1) {
          val w0 = System.nanoTime()
          (0 until WarmBatches).foreach { b =>
            w.step(b, None)
            w.reads(b, None).foreach(_())
          }
          warmS = (System.nanoTime() - w0) / 1e9
        }
        if (r < SetupReps) Files.delete(new File(dir))
        dt
      }
      val setupS = sessionS + warmS + Stats.median(setupTimes)
      val result = measure(spark, w, seconds, trace, args.get("corrupt").contains("1"), out)
      write(out, Json.write(Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "cores" -> cores, "session_s" -> sessionS, "generate_s" -> genS,
        "setup_reps_s" -> setupTimes, "warmup_s" -> warmS, "setup_s" -> setupS,
        "sizes" -> w.sizes) ++ result))
    } finally spark.stop()
  }

  private def write(path: String, json: String): Unit = {
    val pw = new PrintWriter(path, "UTF-8")
    try pw.println(json) finally pw.close()
  }

  private def measure(spark: SparkSession, w: Workload, seconds: Double, trace: Boolean,
                      corrupt: Boolean, out: String): Seq[(String, Any)] = {
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val batchS = mutable.ArrayBuffer.empty[Double]
    val readS = mutable.ArrayBuffer.empty[Double]
    val storage = mutable.ArrayBuffer.empty[(Int, Long, Long, Long)] // batch, files, bytes, read-table bytes
    var attempted, failed = 0L
    def timed(op: => Unit): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try { op; Some((System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(e) => failed += 1; e.printStackTrace(); None }
    }
    val cap = System.nanoTime() + (CapFactor * seconds * 1e9).toLong
    var held = (0.0, 0.0) // (live heap, off-heap) MB at the largest sample
    var b = 0
    while (b < w.batches && (b == 0 || System.nanoTime() < cap)) {
      tracer.foreach(_.batch = b)
      timed(Tracer.span(tracer, "batch")(w.step(b, tracer))).foreach(batchS += _)
      if (trace) {
        val use = w.writtenTables.map(Files.tableUsage(w.targetDir, _))
        storage += ((b, use.map(_._1).sum, use.map(_._2).sum,
          Files.tableUsage(w.targetDir, w.readTable)._2))
      }
      w.reads(b, tracer).foreach(op => timed(op()).foreach(readS += _))
      val h = Memory.held()
      if (h._1 + h._2 > held._1 + held._2) held = h
      b += 1
    }
    tracer.foreach(_.drain())

    val live = w.liveRows()
    val storedBytes = w.writtenTables.map(Files.tableUsage(w.targetDir, _)._2).sum
    val g0 = System.nanoTime()
    val checks = w.gate(b, corrupt)
    val gateS = (System.nanoTime() - g0) / 1e9
    val wrong = checks.count(!_.ok)
    failed = math.min(attempted, failed + wrong)
    val (batchTail, batchPct, batchBeyond) = Stats.tail(batchS.toSeq)
    val (readTail, readPct, readBeyond) = Stats.tail(readS.toSeq)
    val srcBytesPerBatch = Files.tableUsage(w.srcDir, w.batchSource)._2.toDouble / w.batches

    def m(v: Double, unit: String, extra: (String, Any)*) =
      Map[String, Any]("value" -> v, "unit" -> unit) ++ extra
    val endToEnd = Seq(
      "batch_p50_s" -> m(Stats.median(batchS.toSeq), "s", "samples" -> batchS.size),
      "batch_tail_s" -> m(batchTail, "s", "samples" -> batchS.size, "percentile" -> batchPct,
        "samples_beyond" -> batchBeyond),
      "rows_per_s" -> m(w.rowsPerBatch * batchS.size / batchS.sum, "1/s",
        "rows_per_batch" -> w.rowsPerBatch),
      "read_p50_s" -> m(Stats.median(readS.toSeq), "s", "samples" -> readS.size),
      "read_tail_s" -> m(readTail, "s", "samples" -> readS.size, "percentile" -> readPct,
        "samples_beyond" -> readBeyond),
      "stored_bytes_per_row" -> m(storedBytes.toDouble / live, "B/row", "live_rows" -> live,
        "bytes" -> storedBytes),
      "peak_mem_mb" -> m(held._1 + held._2, "MB", "live_heap_mb" -> held._1,
        "off_heap_mb" -> held._2),
      "op_fail_ratio" -> m(failed.toDouble / attempted, "ratio"))

    val perLayer: Seq[(String, Any)] = tracer.toSeq.flatMap { t =>
      val pw = new PrintWriter(out + ".spans.jsonl", "UTF-8")
      try t.spansJson.foreach(pw.println) finally pw.close()
      val batchSpans = t.spansNamed("batch").map(s => s.batch -> t.spanCounters(s)).toMap
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val readBytes = storage.map(s => s._1 -> s._4).toMap
      val scan = t.spansNamed(w.readerSpan).flatMap { s =>
        readBytes.get(s.batch).filter(_ > 0).map(t.spanCounters(s)("input_bytes") / _)
      }
      val layer = t.summary ++ Tracer.ReaderSpans.map(n => s"$n.scan_fraction" -> 0.0) ++ Map(
        s"${w.readerSpan}.scan_fraction" -> mean(scan),
        "batch.files" -> mean(storage.map(_._2.toDouble).toSeq),
        "batch.bytes" -> mean(storage.map(_._3.toDouble).toSeq),
        "batch.write_amp" -> mean(storage.toSeq.flatMap(s =>
          batchSpans.get(s._1).map(_("output_bytes") / srcBytesPerBatch))))
      Seq("per_layer" -> layer,
        "storage_per_batch" -> storage.toSeq.map { case (bb, f, by, _) =>
          Map("batch" -> bb, "files" -> f, "bytes" -> by)
        })
    }

    Seq("batches" -> b, "batch_s" -> batchS.toSeq, "read_s" -> readS.toSeq,
      "attempted" -> attempted, "failed" -> failed, "correct" -> (failed == 0), "capped" -> (b < w.batches),
      "source_bytes_per_batch" -> srcBytesPerBatch, "gate_s" -> gateS,
      "end_to_end" -> endToEnd.toMap,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))) ++
      perLayer
  }
}
