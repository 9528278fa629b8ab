package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** What one timed op reports after its output check. `quality` holds
  * the counts the workload's quality metric is computed from (tp/fp/fn
  * or hits/total); `counters` are per-op layer counts the benchmark
  * measures from outside (file sizes, root counts). */
final case class OpResult(
    records: Long,
    ok: Boolean,
    error: String = "",
    quality: Map[String, Double] = Map.empty,
    counters: Map[String, Double] = Map.empty)

/** One closed-loop, single-client workload over graft's public API. */
trait Workload {
  /** Generate this round's inputs and build fixtures under `dir`. */
  def setupRound(dir: String): Unit
  /** Warm-up ops run after the last set-up round. */
  def warmupOps: Int
  /** Ops per cycle: a run times whole cycles, so the op mix it reports
    * does not depend on how many ops fit into its window. */
  def cycleOps: Int = 1
  /** Untimed work before op `i`, e.g. landing its input batch. */
  def prepare(i: Int): Unit = ()
  /** The timed op. */
  def run(i: Int): Unit
  /** Untimed output check of op `i`. */
  def check(i: Int): OpResult
  /** Bytes of generated input the timed ops consumed. */
  def inputBytes: Long
  /** Bytes the workload left on disk (exports, index roots, tombstones). */
  def diskBytes: Long
  /** Properties of the generated inputs, recorded with each run. */
  def props: Map[String, Any]
  /** Traced runs only, after the timed ops: microbenchmarks of the
    * kernels this workload exercises (ns per call, on operands sampled
    * from its own inputs) and any layer cost the timed ops cannot show. */
  def microbenchmarks(): Map[String, Double]
}

/** Runs one workload: `--workload w --seed n --seconds s --trace 0|1
  * --cpus n --work dir --out file`. Writes the raw run
  * record (op timings, checks, spans, listener data) as JSON to `--out`;
  * perfbench/run.py turns it into the metrics. */
object Main {
  /** Set-up rounds per run; setup_s reports their median. */
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val cpus = opts("cpus").toInt
    work.mkdirs()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tr = new Tracer(spark, trace)
    tr.install()
    val wl: Workload = workload match {
      case "sig_etl" => new SigEtl(spark, tr, seed)
      case "corpus_ingest" => new CorpusIngest(spark, tr, seed)
      case "ann_serve" => new AnnServe(spark, tr, seed)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: inputs and fixtures built SetupRounds times from scratch (the
    // last round's serve the timed section), then the warm-up ops
    val setupRounds = (1 to SetupRounds).map { r =>
      val dir = new File(work, s"round$r")
      val t0 = System.nanoTime()
      tr.op = -r
      wl.setupRound(dir.getPath)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 1) deleteTree(new File(work, s"round${r - 1}"))
      s
    }
    var warmupFailed = 0
    val w0 = System.nanoTime()
    (1 to wl.warmupOps).foreach { k =>
      val i = -100 - k
      tr.op = i
      wl.prepare(i)
      wl.run(i)
      val res = wl.check(i)
      if (!res.ok) {
        warmupFailed += 1
        System.err.println(s"perfbench: warm-up op $i failed: ${res.error}")
      }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    val gcBeans = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans).asScala
    def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    // closed loop, one client: whole cycles of ops; another cycle starts
    // only while the window has room for it at the last cycle's pace
    val ops = Seq.newBuilder[Map[String, Any]]
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    var i = 0
    var lastCycle = 0.0
    while (i == 0 || elapsed + lastCycle <= seconds) {
      val c0 = System.nanoTime()
      (1 to wl.cycleOps).foreach { _ =>
        i += 1
        tr.op = i
        wl.prepare(i)
        val gc0 = gcMs
        val t0 = System.nanoTime()
        val startMs = tr.nowMs
        val err = try { tr.span("op") { wl.run(i) }; "" }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = tr.nowMs
        val gc = (gcMs - gc0) / 1e3
        val res =
          if (err.nonEmpty) OpResult(0, ok = false, error = err)
          else try wl.check(i)
          catch { case e: Throwable =>
            OpResult(0, ok = false, error = s"check: ${e.getClass.getName}: ${e.getMessage}")
          }
        if (!res.ok) System.err.println(s"perfbench: op $i failed: ${res.error}")
        ops += Map("id" -> i, "start" -> startMs, "end" -> endMs, "wall_s" -> wall,
          "gc_s" -> gc, "records" -> res.records, "ok" -> res.ok,
          "error" -> res.error, "quality" -> res.quality, "counters" -> res.counters)
      }
      lastCycle = (System.nanoTime() - c0) / 1e9
    }
    val windowS = elapsed
    tr.op = Int.MaxValue

    // live heap: the least used heap over three full collections, spaced
    // so Spark's cleaner can drop blocks whose owners the first freed
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min

    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "trace" -> trace, "seconds" -> seconds, "window_s" -> windowS,
      "session_s" -> sessionS, "setup_rounds_s" -> setupRounds,
      "warmup_s" -> warmupS, "warmup_failed" -> warmupFailed,
      "ops" -> ops.result(),
      "input_bytes" -> wl.inputBytes, "disk_bytes" -> wl.diskBytes,
      "heap_mb" -> heapMb, "props" -> wl.props) ++
      (if (trace) tr.toJson ++ Map("micro" -> wl.microbenchmarks()) else Map.empty)
    Files.write(new File(opts("out")).toPath,
      Json.write(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of every regular file under `f`. */
  def treeBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  /** Regular data files under `f` (Spark's _SUCCESS markers and
    * checksum files excluded). */
  def dataFiles(f: File): Int =
    if (f.isFile) (if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0 else 1)
    else Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0)

  /** Row count of a parquet folder, from the file footers. */
  def parquetRows(dir: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Median wall time per call, in ns, of `f` over `calls` calls,
    * repeated `reps` times after one warm-up repetition. */
  def nsPerCall(calls: Int, reps: Int = 5)(f: Int => Unit): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var k = 0
      while (k < calls) { f(k); k += 1 }
      (System.nanoTime() - t0).toDouble / calls
    }
    once()
    val xs = (1 to reps).map(_ => once()).sorted
    xs(xs.size / 2)
  }
}
