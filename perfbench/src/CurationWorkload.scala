package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DedupOps
import graft.model.{GraftConfig, ReplicationConfig, SourceConfig, TargetConfig}
import graft.queries.TrainingData

/** A seeded corpus in the `documents` schema with planted near-duplicates:
  * star clusters (a base document and a few lightly edited copies) and
  * chains (each document an edit of the previous one, so only neighbours
  * are likely LSH candidates). Beside 200 stars among 4000 documents, 40
  * chains of 12 made connected components take 3 star rounds on 39 of 40
  * seeds tried (4 on seed 3009), the stars alone 2.
  * Document ids are shuffled so no cluster is id-ordered. */
final case class Corpus(docs: IndexedSeq[(Long, String, String, String, Long)],
                        planted: IndexedSeq[(Long, Long)])

object Corpus {
  private val Langs = IndexedSeq("en", "de", "fr", "es")
  private val Sources = IndexedSeq("web", "books", "forum", "news")

  def apply(seed: Long, docs: Int, stars: Int, chains: Int, chainLen: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    val syll = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe")
    val vocab = IndexedSeq.tabulate(6000)(i =>
      Iterator.iterate(i + 7)(_ / 12).takeWhile(_ > 0).map(d => syll(d % 12)).mkString)
    def word(): String = { val u = rnd.nextDouble(); vocab((vocab.size * u * u).toInt) }
    def text(): Array[String] = Array.fill(rnd.nextInt(80, 160))(word())
    def edit(t: Array[String], n: Int): Array[String] = {
      val c = t.clone()
      (0 until n).foreach(_ => c(rnd.nextInt(c.length)) = word())
      c
    }
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val pairs = mutable.ArrayBuffer.empty[(Int, Int)]
    (0 until stars).foreach { _ =>
      val b = texts.size
      texts += text()
      (0 until rnd.nextInt(1, 5)).foreach { _ =>
        pairs += ((b, texts.size))
        texts += edit(texts(b), rnd.nextInt(1, 4))
      }
    }
    (0 until chains).foreach { _ =>
      texts += text()
      (1 until chainLen).foreach { _ =>
        pairs += ((texts.size - 1, texts.size))
        texts += edit(texts.last, 5)
      }
    }
    while (texts.size < docs) texts += text()
    // shuffled ids: Fisher-Yates over 1..n
    val ids = Array.tabulate(texts.size)(i => i + 1L)
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val rows = texts.indices.map { i =>
      val s = texts(i).mkString(" ")
      (ids(i), s, Langs(rnd.nextInt(Langs.size)), Sources(rnd.nextInt(Sources.size)), s.length.toLong)
    }
    Corpus(rows, pairs.map { case (a, b) => (ids(a), ids(b)) }.toIndexedSeq)
  }

  def write(spark: SparkSession, c: Corpus, path: String): Unit = {
    import spark.implicits._
    c.docs.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(4)
      .write.parquet(path)
  }
}

/** `curation_dedup` (batch): replicate, then curate. The seeded corpus is
  * the `documents` table of a source database in the harness layout;
  * `Main.runSnapshot` copies it into a fresh warehouse with count
  * validation, and the `x_dedup_keep_best` chain with `TrainingData`'s
  * constants runs on the copy — `DedupOps.minhashSignature` → `lshBands` →
  * `lshCandidatePairs` → `connectedComponents(inputDistinct = true)` → keep
  * the longest member of each cluster → survivors written. Native kernels
  * and the iterative connected-components jobs dominate; the snapshot copy
  * adds the bulk scan/write and per-table job overhead of
  * `SnapshotReplicator`/`ParquetCatalog`; no binlog, streaming or sink
  * apply. Traced iterations materialise every stage so that each gets its
  * own span. */
final class CurationWorkload extends Workload {
  val names = Names("curation_docs_per_s", "curation_ms", "survivors_read_ms")
  private val Docs = 4000
  private val ReadsPerIteration = 5

  // (rows, content hash) of the seed's source table, computed once: every
  // iteration regenerates the same corpus, which the input digest confirms
  private var expected = Option.empty[(Long, Long)]

  def iteration(c: Ctx): Outcome = {
    val spark = c.spark
    val src = s"${c.dir}/source"
    val wh = s"${c.dir}/warehouse"
    val out = s"${c.dir}/survivors.parquet"
    val (corpus, setupS) = Timed(Phase("setup") {
      val corpus = Corpus(c.seed, Docs, stars = 200, chains = 40, chainLen = 12)
      Corpus.write(spark, corpus, s"$src/documents.parquet")
      corpus
    })
    if (expected.isEmpty) expected = Some(Phase("check")(
      SnapshotCheck.signature(spark.read.parquet(s"$src/documents.parquet"))))
    val cfg = GraftConfig(SourceConfig(), TargetConfig(), ReplicationConfig(mode = "snapshot"))
    def stage[T](name: String)(body: => T): T =
      if (c.traced) Phase(s"op.$name")(body) else body
    def done(df: DataFrame): DataFrame =
      if (c.traced) { df.persist(); df.count(); df } else df

    val (pairs, cc, rounds, copied, snapS, opS) = {
      val t0 = System.nanoTime()
      val (copied, snapS) = Timed(stage("snapshot")(graft.Main.runSnapshot(spark, cfg, src, wh)))
      val docs = spark.read.parquet(s"$wh/documents.parquet")
      val sig = stage("minhash")(done(graft.GateCache.cache(DedupOps.minhashSignature(
        docs, "doc_id", "text", TrainingData.ShingleW, TrainingData.MinhashK))))
      val pairs = stage("lsh_pairs")(done(DedupOps.lshCandidatePairs(
        DedupOps.lshBands(sig, "doc_id", TrainingData.Bands, TrainingData.RowsPerBand),
        "doc_id", maxBucket = TrainingData.MaxBucket)))
      val (cc, rounds) = stage("cc") {
        val (cc, r) = DedupOps.connectedComponentsWithRounds(pairs, inputDistinct = true)
        (done(cc), r)
      }
      stage("keep_best") {
        val members = cc.select(col("id"), col("label"))
          .join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
        val best = members.groupBy(col("label"))
          .agg(max_by(col("id"), struct(col("n_chars"), -col("id"))).as("keep"))
        val dropped = members.join(best, "label").filter(col("id") =!= col("keep"))
          .select(col("id").as("doc_id"))
        docs.join(dropped, Seq("doc_id"), "left_anti").write.parquet(out)
      }
      (pairs, cc, rounds, copied, snapS, (System.nanoTime() - t0) / 1e9)
    }
    val target = Phase("check")(SnapshotCheck.signature(spark.read.parquet(s"$wh/documents.parquet")))
    // the output is small: read it several times for a steadier median
    val reads = Seq.fill(ReadsPerIteration)(Timed(Phase("read")(
      spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet)))
    val survivors = reads.head._1

    // reference: an in-memory union-find over the collected candidate pairs
    val (edges, labels) = Phase("check") {
      (pairs.collect().map(r => (r.getLong(0), r.getLong(1))),
        cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectLabels = parent.keys.map(k => k -> find(k)).toMap
    val nChars = corpus.docs.map(d => d._1 -> d._5).toMap
    val keep = expectLabels.groupBy(_._2).values.map(_.keys.maxBy(id => (nChars(id), -id))).toSet
    val expectSurvivors = corpus.docs.map(_._1).filter(id => !expectLabels.contains(id) || keep(id)).toSet
    val bad =
      (if (!copied.exists(r => r.table == "documents" && r.success) || Some(target) != expected)
        Seq(s"snapshot of documents: source $expected target $target result $copied") else Nil) ++
        (if (labels != expectLabels) Seq(s"connected-component labels differ from union-find on " +
          s"${(labels.keySet ++ expectLabels.keySet).count(k => labels.get(k) != expectLabels.get(k))} docs") else Nil) ++
        (if (survivors != expectSurvivors) Seq(s"survivors differ: ${survivors.size} written, " +
          s"${expectSurvivors.size} expected") else Nil)
    val recall = corpus.planted.count { case (a, b) =>
      labels.contains(a) && labels.get(a) == labels.get(b) }.toDouble / corpus.planted.size
    val layer =
      if (!c.traced) Map.empty[String, Double]
      else Map(
        "functions.minhash_ms" -> Spans.durationsMs("op.minhash", c.iter).sum,
        "functions.lsh_pairs_ms" -> Spans.durationsMs("op.lsh_pairs", c.iter).sum,
        "functions.cc_ms" -> Spans.durationsMs("op.cc", c.iter).sum,
        "functions.keep_best_ms" -> Spans.durationsMs("op.keep_best", c.iter).sum,
        "functions.cc_rounds" -> rounds.toDouble,
        "functions.cc_jobs" -> c.stats.get.phase("op.cc")("jobs").toDouble,
        "functions.candidate_pairs" -> edges.length.toDouble,
        "functions.planted_pair_recall" -> recall) ++ {
        val s = c.stats.get
        val op = s.phase("op.snapshot")
        Map(
          "operators.snapshot.jobs_per_table" -> op("jobs").toDouble / copied.size,
          "operators.snapshot.write_ms" -> s.writesTo(wh).sum,
          "operators.snapshot.validate_ms" ->
            s.queriesOf("op.snapshot").filter(_._2 == "count").map(_._3).sum,
          "operators.snapshot.bytes_written_per_byte_read" ->
            op("bytes_written").toDouble / SnapshotCheck.bytesOnDisk(s"$src/documents.parquet"))
      }
    Outcome(setupS, corpus.docs.size, opS, Seq(opS * 1e3), reads.map(_._2 * 1e3),
      attempted = 1, failed = if (bad.isEmpty) 0 else 1, mismatches = bad,
      digest = Timed.sha(corpus.toString), layer = layer,
      extra = Map("snapshot_rows_per_s" -> (corpus.docs.size / snapS, "1/s"),
        "cc_rounds" -> (rounds.toDouble, "count")))
  }
}

/** Output check of the snapshot copy. */
object SnapshotCheck {
  def bytesOnDisk(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  /** (row count, order-independent content hash). */
  def signature(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).bitwiseAND(0xffffffffL)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
