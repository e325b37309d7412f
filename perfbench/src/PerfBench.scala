package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one iteration hands the workload. `stats` is present only on
  * traced iterations; `dir` is a fresh directory owned by the iteration. */
final case class Ctx(spark: SparkSession, seed: Long, iter: Int, traced: Boolean,
                     stats: Option[SparkStats], progress: Progress, dir: String)

/** One iteration's result. `items / opS` is the throughput; `latMs` and
  * `readMs` are latency samples; `layer` carries the per-layer values the
  * workload measured itself (traced iterations only). `busyS` is the wall
  * time of all `op` phases when it is longer than `opS`. `extra` holds
  * further values (with their units) for the printed report only. */
final case class Outcome(setupS: Double, items: Long, opS: Double,
                         latMs: Seq[Double], readMs: Seq[Double],
                         attempted: Long, failed: Long, mismatches: Seq[String],
                         digest: String, layer: Map[String, Double] = Map.empty,
                         busyS: Double = 0,
                         extra: Map[String, (Double, String)] = Map.empty)

/** Names under which a workload's end-to-end numbers are reported. */
final case class Names(throughput: String, latency: String, read: String)

trait Workload {
  def names: Names
  def iteration(c: Ctx): Outcome
}

/** Wall-clock timing and short content digests. */
object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
}

object Metrics {
  /** End-to-end metrics (`--trace 0`), the same on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "throughput_per_s" -> "1/s", "latency_ms_p50" -> "ms",
    "read_ms_p50" -> "ms", "heap_peak_mb" -> "MB", "setup_s" -> "s")

  /** Per-layer metrics (`--trace 1`); a layer a workload leaves idle
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.binlog.latest_offset_ms" -> "ms",
    "sources.binlog.connections_per_batch" -> "count",
    "sources.binlog.tail_events_per_s" -> "1/s",
    "sources.parquet.bytes_read" -> "B",
    "streaming.batches" -> "count",
    "streaming.rows_per_batch_p50" -> "count",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.overhead_share" -> "share",
    "streaming.backlog_changes_max" -> "count",
    "operators.apply.write_ms_p50" -> "ms",
    "operators.apply.target_files" -> "count",
    "operators.live.rows_scanned_per_row_returned" -> "ratio",
    "operators.live.shuffle_bytes" -> "B",
    "operators.snapshot.jobs_per_table" -> "count",
    "operators.snapshot.write_ms" -> "ms",
    "operators.snapshot.validate_ms" -> "ms",
    "operators.snapshot.bytes_written_per_byte_read" -> "ratio",
    "functions.minhash_ms" -> "ms",
    "functions.lsh_pairs_ms" -> "ms",
    "functions.cc_ms" -> "ms",
    "functions.keep_best_ms" -> "ms",
    "functions.cc_rounds" -> "count",
    "functions.cc_jobs" -> "count",
    "functions.candidate_pairs" -> "count",
    "functions.planted_pair_recall" -> "share",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.core_busy_share" -> "share",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s",
    "gen.late_ms_max" -> "ms",
    "trace.overhead_throughput" -> "share",
    "trace.overhead_latency" -> "share",
    "trace.overhead_read" -> "share")

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

object PerfBench {
  val Cores = 4
  private val Workloads: Map[String, () => Workload] = Map(
    "cdc" -> (() => new CdcWorkload),
    "curation_dedup" -> (() => new CurationWorkload))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val wl = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))()
    val spark = session(work)
    val progress = new Progress
    spark.streams.addListener(progress)
    val runs = ArrayBuffer.empty[(Int, Boolean, Outcome, Double)]
    val traceRecords = ArrayBuffer.empty[Json.Obj]

    def once(i: Int, tr: Boolean): Outcome = {
      val dir = s"$work/iter-$i"
      new File(dir).mkdirs()
      Spans.runId = i
      Spans.enabled = tr
      val stats = if (tr) { val s = new SparkStats(spark); s.attach(); Some(s) } else None
      val c = Ctx(spark, seed, i, tr, stats, progress, dir)
      val out0 =
        try wl.iteration(c)
        catch {
          case e: Throwable =>
            e.printStackTrace()
            Outcome(0, 0, 0, Nil, Nil, 1, 1, Seq(s"iteration $i threw $e"), "")
        }
      stats.foreach(_.detach())
      Spans.enabled = false
      val out = stats.fold(out0)(s => out0.copy(layer = sparkLayers(s, out0) ++ out0.layer))
      stats.foreach { s =>
        traceRecords += Json.obj("run" -> i, "layer" -> out.layer, "phases" -> s.table,
          "queries" -> s.queries.asScala.toSeq.map { case (p, f, ms, path) =>
            Json.obj("phase" -> p, "func" -> f, "ms" -> ms, "written" -> path) })
      }
      graft.GateCache.releaseAll()
      deleteTree(new File(dir))
      // unpersist and Spark's cleaner free blocks and shuffles
      // asynchronously, the cleaner only after a GC has found them
      // unreachable: let both finish so the heap measured after the second
      // full GC holds no leftover of this iteration
      Thread.sleep(200)
      System.gc()
      Thread.sleep(200)
      System.gc()
      runs += ((i, tr, out, oldGenMb()))
      System.err.println(f"[perfbench] iteration $i traced=$tr setup=${out.setupS}%.3fs " +
        f"op=${out.opS}%.3fs items=${out.items} read_p50=${Metrics.median(out.readMs)}%.1fms " +
        f"lat_p50=${Metrics.median(out.latMs)}%.1fms failed=${out.failed}")
      out
    }

    // iteration 0 warms the JIT and Spark's caches; it is checked but not
    // measured
    val first = once(0, tr = false)
    var broken = first.failed > 0 && first.items == 0
    // measured iterations: at least two, then another only while it is
    // expected to end less than half an iteration past `seconds`
    val t0 = System.nanoTime()
    var i = 1
    var last = 0.0
    while (!broken && (i <= 2 || (System.nanoTime() - t0) / 1e9 + last / 2 < seconds)) {
      val s0 = System.nanoTime()
      val o = once(i, traced && i % 2 == 1)
      last = (System.nanoTime() - s0) / 1e9
      broken = o.failed > 0 && o.items == 0
      i += 1
    }

    val measured = runs.drop(1).toSeq
    val plain = measured.filterNot(_._2)
    val withTrace = measured.filter(_._2)
    val e2e = endToEnd(plain)
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val traceE2e = endToEnd(withTrace)
        def worse(k: String, higherBetter: Boolean) =
          if (higherBetter) e2e(k) / traceE2e(k) - 1 else traceE2e(k) / e2e(k) - 1
        val own = Metrics.PerLayer.map { case (k, _) =>
          k -> Metrics.median(withTrace.flatMap(_._3.layer.get(k)).toSeq)
        }.toMap
        own ++ Map(
          "trace.overhead_throughput" -> worse("throughput_per_s", higherBetter = true),
          "trace.overhead_latency" -> worse("latency_ms_p50", higherBetter = false),
          "trace.overhead_read" -> worse("read_ms_p50", higherBetter = false))
      }
    val metrics =
      if (traced) Metrics.PerLayer.map { case (k, u) => k -> (layers(k), u) }
      else Metrics.EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
    val attempted = runs.map(_._3.attempted).sum
    val failed = runs.map(_._3.failed).sum
    val digests = runs.map(_._3.digest).filter(_.nonEmpty).distinct
    val mismatches = runs.flatMap(_._3.mismatches).distinct.take(20) ++
      (if (digests.size > 1) Seq(s"inputs differ between iterations: $digests") else Nil)

    val n = wl.names
    val lat = plain.flatMap(_._3.latMs).toSeq
    val reads = plain.flatMap(_._3.readMs).toSeq
    // a percentile is reported only with at least ten samples beyond it
    def tail(name: String, xs: Seq[Double]): Option[(String, (Double, String, Int))] =
      Seq(99 -> 1000, 90 -> 100).collectFirst { case (p, n) if xs.size >= n =>
        s"${name}_p$p" -> (Metrics.pct(xs, p), "ms", xs.size) }
    val report = Map[String, (Double, String, Int)](
      n.throughput -> (e2e("throughput_per_s"), "1/s", plain.size),
      s"${n.latency}_p50" -> (Metrics.pct(lat, 50), "ms", lat.size),
      s"${n.read}_p50" -> (Metrics.pct(reads, 50), "ms", reads.size),
      "setup_s" -> (e2e("setup_s"), "s", plain.size),
      "heap_peak_mb" -> (e2e("heap_peak_mb"), "MB", plain.size),
      "error_rate" -> (failed.toDouble / math.max(attempted, 1L), "share", attempted.toInt)) ++
      tail(n.latency, lat) ++ tail(n.read, reads) ++
      plain.flatMap(_._3.layer.get("gen.late_ms_max")).maxOption
        .map(v => "gen.late_ms_max" -> (v, "ms", plain.size)) ++
      plain.flatMap(_._3.extra).groupBy(_._1).map { case (k, vs) =>
        k -> (Metrics.median(vs.map(_._2._1).toSeq), vs.head._2._2, vs.size) }

    val traceFile =
      if (!traced) ""
      else {
        val dir = new File(opt("traces"))
        dir.mkdirs()
        val f = new File(dir, s"$name-seed$seed.json")
        Json.write(f, Json.traceDoc(name, seed, traceRecords.toSeq,
          endToEnd(withTrace), e2e))
        f.getPath
      }
    Json.write(new File(opt("result")), Json.obj(
      "correct" -> (failed == 0 && mismatches.isEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "iterations" -> runs.size,
      "input_digest" -> digests.mkString(","),
      "mismatches" -> mismatches.toSeq,
      "trace_file" -> traceFile,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "report" -> Json.obj(report.toSeq.map { case (k, (v, u, cnt)) =>
        k -> Json.obj("value" -> v, "unit" -> u, "n" -> cnt) }: _*)))
    spark.stop()
    System.exit(0)
  }

  /** End-to-end metrics over a set of iterations: medians, so that one
    * iteration slowed by a busy host does not move the result. */
  private def endToEnd(rs: Seq[(Int, Boolean, Outcome, Double)]): Map[String, Double] = {
    val os = rs.map(_._3)
    Map(
      "throughput_per_s" -> Metrics.median(os.map(o => o.items / math.max(o.opS, 1e-9))),
      "latency_ms_p50" -> Metrics.median(os.flatMap(_.latMs)),
      "read_ms_p50" -> Metrics.median(os.flatMap(_.readMs)),
      "heap_peak_mb" -> rs.map(_._4).maxOption.getOrElse(0.0),
      "setup_s" -> Metrics.median(os.map(_.setupS)))
  }

  /** Spark's counters over the timed region (phases named `op*`). */
  private def sparkLayers(s: SparkStats, o: Outcome): Map[String, Double] = {
    val ops = s.sum(_.startsWith("op"))
    val io = s.sum(p => p.startsWith("op") || p == "read")
    Map(
      "spark.jobs" -> ops("jobs").toDouble,
      "spark.tasks" -> ops("tasks").toDouble,
      "spark.executor_run_s" -> ops("run_ms") / 1e3,
      "spark.executor_cpu_s" -> ops("cpu_ns") / 1e9,
      "spark.core_busy_share" -> ops("run_ms") / 1e3 / math.max(math.max(o.opS, o.busyS) * Cores, 1e-9),
      "spark.shuffle_write_bytes" -> ops("shuffle_write").toDouble,
      "spark.spill_bytes" -> ops("spill").toDouble,
      "spark.gc_s" -> ops("gc_ms") / 1e3,
      "sources.parquet.bytes_read" -> io("bytes_read").toDouble)
  }

  private def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps up to 1000 jobs and executions even
      // without a UI, so the retained heap would grow with the number of
      // iterations a run fits: cap it below one iteration's worth
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
