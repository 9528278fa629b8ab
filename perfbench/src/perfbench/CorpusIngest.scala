package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{JaccardImpl, MinHashImpl, ShingleImpl}
import graft.operators.Dedup
import graft.streaming.StreamDedup

/** `corpus_ingest`: one op is one scheduled ingest of a newly landed
  * doc batch — `StreamDedup.incrementalWriter` over a JSON file source
  * with `Trigger.AvailableNow` (probe the multi-root MinHash index,
  * dedup within the batch, export survivors, save a delta root), then
  * `StreamDedup.addTombstones` for the batch's deletions, then
  * `StreamDedup.compactIfDue` at its default cadence.
  *
  * Inputs (from the seed): a seed corpus indexed in set-up, and
  * batches with planted near-duplicates of indexed docs, exact
  * copies, within-batch duplicates and deletions. Doc text draws
  * words from a Zipf vocabulary. `quality` is the F1 of dropped docs
  * against the planted duplicates. */
final class CorpusIngest(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import spark.implicits._
  import CorpusIngest._

  private var dir: String = _
  private var vocab: IndexedSeq[String] = IndexedSeq.empty
  private var zipf: Gen.Zipf = _
  private val texts = mutable.HashMap.empty[Long, String]
  /** Ids the model expects live in the index (dup sources). */
  private val live = mutable.ArrayBuffer.empty[Long]
  private val indexed = mutable.HashSet.empty[Long]
  private val tombstoned = mutable.HashSet.empty[Long]
  private var nextId = 0L
  private var inBytes = 0L
  private var seedBytes = 0L
  private val rootsBefore = mutable.ArrayBuffer.empty[Int]

  private final case class Batch(ids: Seq[Long], planted: Set[Long],
      deletions: Seq[Long], bytes: Long)
  private var batch: Batch = _
  private var batchNo = 0
  private var lastRun: (Int, Option[String], Long) = (0, None, -1L)

  private def indexDir = s"$dir/minhash"
  private def landDir = s"$dir/land"
  private def exportDir = s"$dir/exports"

  /** `n` doc lengths, log-uniform over [MinWords, MaxWords] at stratified
    * quantiles, in a seed-dependent order. */
  private def lengths(g: Gen, n: Int): Seq[Int] = g.shuffle((0 until n).map { k =>
    math.round(math.exp(math.log(MinWords) +
      (k + 0.5) / n * math.log(MaxWords.toDouble / MinWords))).toInt
  })

  private def doc(g: Gen, len: Int): String = {
    val sb = new StringBuilder
    (0 until len).foreach { k => if (k > 0) sb += ' '; sb ++= vocab(zipf(g)) }
    sb.result()
  }

  /** A near copy: about `EditShare` of the words replaced, dropped or
    * duplicated. */
  private def perturb(g: Gen, text: String): String = {
    val words = text.split(' ')
    val out = mutable.ArrayBuffer.empty[String]
    words.foreach { w =>
      if (g.chance(EditShare)) g.int(3) match {
        case 0 => out += vocab(zipf(g))
        case 1 => ()
        case _ => out += w; out += w
      } else out += w
    }
    out.mkString(" ")
  }

  def setupRound(d: String): Unit = {
    dir = d
    val g = new Gen(seed)
    // frequent words are short (Zipf's law of abbreviation): ranking the
    // vocabulary by length keeps bytes per word the same for every seed
    vocab = Gen.words(g, Vocab, 1, 3).sortBy(w => (w.length, w))
    zipf = new Gen.Zipf(Vocab, 1.05)
    texts.clear(); live.clear(); indexed.clear(); tombstoned.clear()
    rootsBefore.clear()
    val docs = lengths(g, SeedDocs).zipWithIndex.map { case (n, k) => (k.toLong, doc(g, n)) }
    docs.foreach { case (k, t) => texts(k) = t; live += k; indexed += k }
    nextId = SeedDocs.toLong
    seedBytes = docs.map(_._2.length.toLong + 8).sum
    inBytes = seedBytes
    batchNo = 0
    new File(landDir).mkdirs()
    tr.span("operators.Dedup.buildMinhashIndex") {
      Dedup.buildMinhashIndex(docs.toDF("doc_id", "text"), "doc_id", "text")
        .save(s"$indexDir/seed")
    }
  }

  def warmupOps: Int = Warmup

  /** Lands the next batch as one JSON-lines file in the source folder. */
  override def prepare(i: Int): Unit = {
    batchNo += 1
    val g = new Gen(seed * 1000003L + batchNo)
    val rows = mutable.ArrayBuffer.empty[(Long, String)]
    val planted = mutable.HashSet.empty[Long]
    def add(t: String, dup: Boolean): Long = {
      val id = nextId; nextId += 1
      rows += id -> t; texts(id) = t
      if (dup) planted += id
      id
    }
    val nNear = math.round(BatchDocs * 0.30).toInt
    val nExact = math.round(BatchDocs * 0.05).toInt
    val nWithin = math.round(BatchDocs * 0.05).toInt
    val nDel = math.max(1, math.round(BatchDocs * 0.01).toInt)
    val nFresh = BatchDocs - nNear - nExact - nWithin
    val sources = g.shuffle(live.toIndexedSeq).take(nNear + nExact + nDel)
    val fresh = lengths(g, nFresh).map(n => add(doc(g, n), dup = false))
    sources.take(nNear).foreach(s => add(perturb(g, texts(s)), dup = true))
    sources.slice(nNear, nNear + nExact).foreach(s => add(texts(s), dup = true))
    // a within-batch duplicate always takes a higher id than its
    // original, which dedup keeps (the component's smallest id)
    fresh.take(nWithin).foreach(s => add(perturb(g, texts(s)), dup = true))
    val deletions = sources.drop(nNear + nExact)
    val sb = new StringBuilder
    rows.foreach { case (id, t) => sb ++= s"""{"doc_id":$id,"text":"$t"}\n""" }
    val bytes = sb.result().getBytes(StandardCharsets.UTF_8)
    val tmp = new File(landDir, s".batch_$batchNo.tmp")
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, new File(landDir, f"batch_$batchNo%06d.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    batch = Batch(rows.map(_._1).toSeq, planted.toSet, deletions, bytes.length.toLong)
    deletions.foreach(id => live -= id)
  }

  def run(i: Int): Unit = {
    val roots = indexRoots.size
    val q = tr.span("streaming.StreamDedup.incrementalWriter") {
      val stream = spark.readStream.schema("doc_id LONG, text STRING").json(landDir)
      val query = StreamDedup.incrementalWriter(stream, "doc_id", "text",
        exportDir, "TRANSFORMED_FILES", "Docs-Deduped", indexDir)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/checkpoint")
        .start()
      query.awaitTermination()
      query
    }
    val batchId = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      .lastOption.getOrElse(-1L)
    tr.span("streaming.StreamDedup.addTombstones") {
      StreamDedup.addTombstones(batch.deletions.toDF("doc_id"), indexDir)
    }
    val compacted = tr.span("streaming.StreamDedup.compactIfDue") {
      StreamDedup.compactIfDue(spark, indexDir)
    }
    lastRun = (roots, compacted, batchId)
  }

  private def indexRoots: Seq[File] =
    Option(new File(indexDir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(d => d.isDirectory && !d.getName.startsWith("_") &&
        new File(d, "entries").exists())

  def check(i: Int): OpResult = {
    val (roots, compacted, batchId) = lastRun
    inBytes += batch.bytes
    val path = f"$exportDir/TRANSFORMED_FILES/Docs-Deduped_b$batchId%010d"
    val survivors = spark.read.parquet(path).select("doc_id").as[Long].collect()
    val ids = batch.ids.toSet
    val dropped = ids -- survivors
    survivors.foreach(indexed += _)
    survivors.filterNot(batch.planted).foreach(live += _)
    batch.deletions.foreach(tombstoned += _)
    val tp = dropped.count(batch.planted).toDouble
    val liveIndex = indexRoots
      .map(r => spark.read.parquet(s"${r.getPath}/entries").select("id"))
      .reduce(_ unionByName _).distinct()
    val tomb = new File(indexDir, "_tombstones")
    val liveCount =
      if (tomb.exists()) liveIndex.join(spark.read.parquet(tomb.getPath), Seq("id"), "left_anti").count()
      else liveIndex.count()
    val expected = (indexed -- tombstoned).size.toLong
    val delta = new File(f"$indexDir/delta_b$batchId%010d")
    val problems = Seq(
      (batchId < 0) -> "no micro-batch ran",
      (survivors.distinct.length != survivors.length) -> "duplicate survivors",
      survivors.exists(s => !ids.contains(s)) -> "survivor not in batch",
      (survivors.length + dropped.size != ids.size) -> "survivors + dropped != batch",
      (liveCount != expected) -> s"live index $liveCount != kept - tombstoned $expected"
    ).collect { case (true, msg) => msg }
    rootsBefore += roots
    OpResult(ids.size.toLong, problems.isEmpty, problems.mkString("; "),
      quality = Map("tp" -> tp, "fp" -> (dropped.size - tp),
        "fn" -> (batch.planted.size - tp)),
      counters = Map(
        "operators.Dedup.roots_scanned" -> roots.toDouble,
        "operators.Dedup.dropped" -> dropped.size.toDouble,
        "operators.Dedup.delta_bytes" ->
          (if (delta.exists()) Main.treeBytes(delta).toDouble else 0.0),
        "sources.StageSink.bytes" -> Main.treeBytes(new File(path)).toDouble,
        "sources.StageSink.files" -> Main.dataFiles(new File(path)).toDouble,
        "operators.IndexMaintenance.compactions" -> (if (compacted.isDefined) 1.0 else 0.0)))
  }

  def inputBytes: Long = inBytes
  def diskBytes: Long =
    Main.treeBytes(new File(indexDir)) + Main.treeBytes(new File(exportDir))

  def props: Map[String, Any] = Map(
    "seed_docs" -> SeedDocs, "batch_docs" -> BatchDocs,
    "doc_words" -> Seq(MinWords, MaxWords), "vocab" -> Vocab,
    "near_dup_share" -> 0.30, "exact_copy_share" -> 0.05,
    "within_batch_share" -> 0.05, "deletion_share" -> 0.01,
    "edit_share" -> EditShare, "seed_bytes" -> seedBytes,
    "roots_before_each_op" -> rootsBefore.toSeq)

  def microbenchmarks(): Map[String, Double] = {
    val g = new Gen(seed + 11)
    val ids = texts.keys.toIndexedSeq.sorted
    val sample = (0 until 256).map(_ => texts(ids(g.int(ids.size))))
    val shingles = sample.map(t => ShingleImpl.shingles(UTF8String.fromString(t), 3))
    def hashed(t: String): GenericArrayData = {
      val arr = ShingleImpl.shingles(UTF8String.fromString(t), 3)
      val hs = (0 until arr.numElements()).map { k =>
        val s = arr.getUTF8String(k)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      }.sorted.toArray
      new GenericArrayData(hs)
    }
    val pairs = sample.map(t => (hashed(t), hashed(perturb(g, t))))
    // one compaction of the roots the run left: compactIfDue's default
    // cadence (more than 8 roots) is not reached within a run
    val t0 = System.nanoTime()
    val folded = StreamDedup.compact(spark, indexDir)
    val compactS = (System.nanoTime() - t0) / 1e9
    Map(
      "operators.IndexMaintenance.compact_s" -> compactS,
      "operators.IndexMaintenance.bytes_rewritten" ->
        folded.map(n => Main.treeBytes(new File(indexDir, n)).toDouble).getOrElse(0.0),
      "functions.MinHash.signature_ns" -> Main.nsPerCall(shingles.size) { k =>
        MinHashImpl.signature(shingles(k), 32) },
      "functions.inter_longs_ns" -> Main.nsPerCall(pairs.size * 4) { k =>
        val (a, b) = pairs(k % pairs.size); JaccardImpl.interCountLongs(a, b) })
  }
}

object CorpusIngest {
  // Sizes: tuned so one run's timed window holds enough ops on 4 cores.
  val Vocab = 20000
  val SeedDocs = 600
  val BatchDocs = 60
  val MinWords = 40
  val MaxWords = 400
  val EditShare = 0.03
  val Warmup = 1
}
