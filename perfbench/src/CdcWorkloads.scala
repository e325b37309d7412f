package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType
import graft.sources.{BinlogFixture, BinlogFixtureServer, BinlogFormat, BinlogSocketClient, MysqlBinlogSource}
import graft.sources.BinlogFixture.Change
import graft.sources.BinlogFormat.ColumnDef
import graft.streaming.CdcPipeline

/** The replicated table, its binlog encoding and the seeded change plan
  * both CDC workloads replay. */
object Cdc {
  val Table = "orders"
  val File = "graft-bin.000001"
  private val User = "repl"
  private val Password = "perfbench-secret"
  val Cols = IndexedSeq(
    ColumnDef(BinlogFormat.TypeLongLong, 0), ColumnDef(BinlogFormat.TypeLongLong, 0),
    ColumnDef(BinlogFormat.TypeVarchar, 16), ColumnDef(BinlogFormat.TypeLong, 0),
    ColumnDef(BinlogFormat.TypeDouble, 8), ColumnDef(BinlogFormat.TypeVarchar, 200))
  val RowSchema: StructType =
    StructType.fromDDL("id BIGINT, acct BIGINT, status STRING, qty INT, amount DOUBLE, note STRING")
  private val Statuses = IndexedSeq("new", "paid", "packed", "shipped", "closed")
  private val Words = IndexedSeq("express", "gift", "fragile", "priority", "bulk", "return",
    "insured", "standard", "weekend", "pickup", "locker", "signature")

  /** Transactions in commit order, the cumulative change count after each,
    * and the table's final state by primary key. */
  final case class Plan(txns: IndexedSeq[Seq[Change]], cumulative: IndexedSeq[Long],
                        state: Map[Long, IndexedSeq[Any]]) {
    def changes: Long = cumulative.lastOption.getOrElse(0L)
  }

  /** Multi-row transactions of INSERT/UPDATE/DELETE over a skewed key
    * space: key = keys·u³, so low keys collect many versions. An absent
    * key is inserted; a present one is updated (70 %) or deleted. */
  def plan(seed: Long, nTxns: Int, keys: Long, maxRows: Int): Plan = {
    val rnd = new SplittableRandom(seed)
    val state = mutable.HashMap.empty[Long, IndexedSeq[Any]]
    def row(id: Long): IndexedSeq[Any] = IndexedSeq[Any](id, rnd.nextLong(1000000L),
      Statuses(rnd.nextInt(Statuses.size)), rnd.nextInt(1, 500),
      rnd.nextInt(100000) / 100.0,
      Seq.fill(rnd.nextInt(2, 14))(Words(rnd.nextInt(Words.size))).mkString(" "))
    var total = 0L
    val cumulative = IndexedSeq.newBuilder[Long]
    val txns = IndexedSeq.fill(nTxns) {
      val t = Seq.fill(rnd.nextInt(1, maxRows + 1)) {
        val u = rnd.nextDouble()
        val k = (keys * u * u * u).toLong
        state.get(k) match {
          case None => val r = row(k); state(k) = r; Change.insert(r)
          case Some(old) if rnd.nextInt(10) < 7 =>
            val r = row(k); state(k) = r; Change.update(old, r)
          case Some(old) => state.remove(k); Change.delete(old)
        }
      }
      total += t.size
      cumulative += total
      t
    }
    Plan(txns, cumulative.result(), state.toMap)
  }

  def encode(p: Plan): Array[Byte] =
    BinlogFixture.encode("shop", Table, Cols, p.txns, gtidFrom = Some(1L))

  /** Byte offset where the log ends after each transaction's XID event
    * (element 0: the header, before the first transaction). */
  def txnEnds(bytes: Array[Byte]): IndexedSeq[Int] = {
    val ends = IndexedSeq.newBuilder[Int]
    var off = 4
    var first = -1
    while (off < bytes.length) {
      val tpe = bytes(off + 4) & 0xff
      val size = ByteBuffer.wrap(bytes, off + 9, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      if (first < 0 && tpe == BinlogFormat.GtidEvent) first = off
      off += size
      if (tpe == BinlogFormat.XidEvent) ends += off
    }
    first +: ends.result()
  }

  def server(bytes: Array[Byte]): BinlogFixtureServer =
    new BinlogFixtureServer(IndexedSeq(File -> bytes), User, Password)

  def stream(spark: SparkSession, srv: BinlogFixtureServer): DataFrame =
    spark.readStream.format("mysql-binlog")
      .schema(MysqlBinlogSource.withMeta(RowSchema))
      .option("host", "127.0.0.1").option("port", srv.port.toString)
      .option("user", User).option("password", Password)
      .option("table", Table).option("startFile", File).option("startPos", "4")
      .load()

  def start(pipe: CdcPipeline, df: DataFrame, trigger: Trigger): StreamingQuery =
    pipe.start(df, Table, opCol = "op", seqCol = "_seq", tables = Seq(Table),
      tableCol = Some("_tbl"), versionOf = b => b + 1, trigger = trigger)

  /** Changes per second of a standalone socket tail of the whole log. */
  def tailRate(srv: BinlogFixtureServer): Double = {
    val client = new BinlogSocketClient("127.0.0.1", srv.port, User, Password)
    val (r, s) = Timed(Spans("sources.binlog.tail")(client.tail(File, 4L)))
    r.changes.size / s
  }

  def check(rows: Array[Row], p: Plan, committed: Long): Seq[String] = {
    val got = rows.map(r => r.getLong(0) -> r.toSeq.toIndexedSeq).toMap
    val wrong = (got.keySet ++ p.state.keySet).filter(k => got.get(k) != p.state.get(k))
    (if (rows.length != got.size) Seq(s"_live has duplicate keys: ${rows.length} rows, ${got.size} keys") else Nil) ++
      (if (wrong.nonEmpty) Seq(s"_live differs from the source on ${wrong.size} keys, e.g. " +
        wrong.take(3).map(k => s"$k: ${got.get(k)} vs ${p.state.get(k)}").mkString("; ")) else Nil) ++
      (if (committed != p.changes) Seq(s"committed offset count $committed != ${p.changes} changes revealed") else Nil)
  }

  /** Per-layer values from a finished query's micro-batch progress, the
    * Spark counters of its `_live` reads and a standalone tail of its log. */
  def streamLayers(ps: Seq[StreamingQueryProgress], srv: BinlogFixtureServer,
                   c: Ctx, targetDir: String, readPhase: String): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def p50(k: String) = Metrics.median(data.map(Progress.dur(_, k)))
    val trig = data.map(Progress.dur(_, "triggerExecution")).sum
    val add = data.map(Progress.dur(_, "addBatch")).sum
    val s = c.stats.get
    val read = s.phase(readPhase)
    val files = Option(new java.io.File(s"$targetDir/$Table.parquet").listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    Map(
      "sources.binlog.latest_offset_ms" -> Metrics.median(ps.map(Progress.dur(_, "latestOffset"))),
      "sources.binlog.connections_per_batch" -> srv.connections.toDouble / math.max(ps.size, 1),
      "streaming.batches" -> data.size.toDouble,
      "streaming.rows_per_batch_p50" -> Metrics.median(data.map(_.numInputRows.toDouble)),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.planning_ms_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streaming.overhead_share" -> (if (trig > 0) (trig - add) / trig else 0.0),
      "operators.apply.write_ms_p50" -> Metrics.median(s.writesTo(targetDir)),
      "operators.apply.target_files" -> files.toDouble,
      "operators.live.shuffle_bytes" -> read("shuffle_write").toDouble,
      "sources.binlog.tail_events_per_s" -> tailRate(srv))
  }
}

/** `cdc`: one stream through the `mysql-binlog` source and
  * `CdcPipeline.start`, in two phases per iteration.
  *
  *  - Catch-up (closed loop): a seeded backlog of multi-row transactions is
  *    on the in-process primary when the stream starts; the first
  *    micro-batch drains it, timed from `start` to its commit. Wire decode
  *    and bulk apply dominate; per-trigger overhead is amortised.
  *  - Live (open loop): a generator grows the active binlog file at a fixed
  *    transaction rate, revealing each transaction at its due time on a
  *    schedule that does not slow when the system does; the stream runs
  *    back-to-back micro-batches and one reader queries `_live` on a fixed
  *    period. Per-trigger overhead, commit-to-visible latency and the read
  *    cost of the small files each batch leaves behind dominate.
  */
final class CdcWorkload extends Workload {
  val names = Names("cdc_changes_per_s", "commit_to_visible_ms", "live_read_ms")
  private val TxnsPerS = 200
  private val TrafficS = 4
  private val PreTxns = 8000
  private val Keys = 20000L
  private val ReadEveryMs = 500L
  private val WarmupMs = 500L
  private val MaxLateMs = 200.0

  def iteration(c: Ctx): Outcome = {
    val target = s"${c.dir}/warehouse"
    val n = TxnsPerS * TrafficS
    val pipe = new CdcPipeline(c.spark, target, s"${c.dir}/checkpoints")
    val ((plan, ends, srv), setupS) = Timed(Phase("setup") {
      val p = Cdc.plan(c.seed, PreTxns + n, Keys, maxRows = 8)
      val bytes = Cdc.encode(p)
      val ends = Cdc.txnEnds(bytes)
      val srv = Cdc.server(bytes)
      srv.truncate(Cdc.File, ends(PreTxns))
      (p, ends, srv)
    })
    val backlog = plan.cumulative(PreTxns - 1)
    val start = System.nanoTime()
    val q = Phase("op.apply")(Cdc.start(pipe, Cdc.stream(c.spark, srv), Trigger.ProcessingTime(0L)))
    try {
      val (_, drainS) = Timed(
        while (!c.progress.of(q.id).exists(Progress.endCount(_) >= backlog) && q.isActive)
          Thread.sleep(2))
      // the view reads the target's schema eagerly: register it only once
      // the first batch has committed
      val view = pipe.registerLiveView(Cdc.Table, Seq("id"))
      // due times in epoch ms with sub-ms precision, on the monotonic clock
      val (wall0, nano0) = (System.currentTimeMillis(), System.nanoTime())
      def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
      val t0 = now() + 20
      val due = IndexedSeq.tabulate(n)(i => t0 + i * 1000.0 / TxnsPerS)
      val late = new Array[Double](n)
      var backlogMax = 0L
      @volatile var genDone = false
      val reads = mutable.ArrayBuffer.empty[Double]
      val gen = new Thread(() => {
        var i = 0
        while (i < n) {
          val wait = due(i) - now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          srv.truncate(Cdc.File, ends(PreTxns + i + 1))
          late(i) = math.max(0.0, now() - due(i))
          val committed = c.progress.of(q.id).lastOption.map(Progress.endCount).getOrElse(0L)
          backlogMax = math.max(backlogMax, plan.cumulative(PreTxns + i) - committed)
          i += 1
        }
        genDone = true
      }, "perfbench-generator")
      val reader = new Thread(() => {
        var next = t0
        while (!genDone) {
          val wait = next - now()
          if (wait > 0) Thread.sleep(wait.toLong)
          val (_, s) = Timed(Phase("op.live_read")(c.spark.table(view).collect()))
          reads += s * 1e3
          next += ReadEveryMs
        }
      }, "perfbench-reader")
      gen.start(); reader.start()
      gen.join(); reader.join()
      val deadline = System.currentTimeMillis() + 60000
      while (!c.progress.of(q.id).exists(Progress.endCount(_) >= plan.changes) &&
        System.currentTimeMillis() < deadline && q.exception.isEmpty) Thread.sleep(5)
      q.stop()
      val busyS = (System.nanoTime() - start) / 1e9
      val ps = c.progress.finished(q.id).sortBy(_.batchId)
      val batchEnds = ps.map(p => (Progress.endCount(p), Progress.endMs(p)))
      val visible = IndexedSeq.tabulate(n) { i =>
        batchEnds.find(_._1 >= plan.cumulative(PreTxns + i)).map(_._2).getOrElse(Double.NaN)
      }
      val lat = (0 until n).filter(i => due(i) - t0 >= WarmupMs)
        .map(i => visible(i) - due(i)).filterNot(_.isNaN)
      val rows = Phase("check")(c.spark.table(view).collect())
      val committed = batchEnds.lastOption.map(_._1).getOrElse(0L)
      val lateMax = late.max
      val bad = Cdc.check(rows, plan, committed) ++
        (if (lateMax > MaxLateMs) Seq(f"generator fell behind its schedule by $lateMax%.0f ms") else Nil) ++
        q.exception.map(e => s"stream failed: $e")
      val layer =
        if (!c.traced) Map("gen.late_ms_max" -> lateMax)
        else Cdc.streamLayers(ps, srv, c, target, "op.live_read") ++
          Map("streaming.backlog_changes_max" -> backlogMax.toDouble, "gen.late_ms_max" -> lateMax,
            "operators.live.rows_scanned_per_row_returned" ->
              c.stats.get.phase("op.live_read")("records_read").toDouble /
                math.max(rows.length.toLong * reads.size, 1L))
      Outcome(setupS, backlog, drainS, lat, reads.toSeq,
        attempted = PreTxns + n, failed = if (bad.isEmpty) 0 else PreTxns + n, mismatches = bad,
        digest = Timed.sha(plan.txns.toString), layer = layer, busyS = busyS)
    } finally {
      q.stop()
      srv.close()
    }
  }
}
