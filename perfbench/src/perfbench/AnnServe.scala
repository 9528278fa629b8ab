package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.functions.PqImpl
import graft.operators.{Ann, Pca}

/** `ann_serve`: one op is one retrieval request — 10 query vectors
  * through `Ann.searchOpqIndex(k=10, nprobe=4, refine=4)` and collect,
  * against an index loaded once with `Ann.loadOpqIndex`. Set-up trains
  * and persists that index (`Pca.train` → `Pca.opqModel` →
  * `Ann.trainCentroids` → `Ann.trainPq` → `Ann.buildPqIndex` →
  * `Ann.saveOpqIndex`) and computes the exact top-10 of every query
  * with `Ann.bruteForceTopK`, which `quality` (recall@10) is scored
  * against.
  *
  * Inputs (from the seed): clustered vectors with a per-dimension
  * decay, so the OPQ guard rotates; queries are held-out perturbed
  * copies of corpus vectors. */
final class AnnServe(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import spark.implicits._
  import AnnServe._

  private var dir: String = _
  private var corpus: DataFrame = _
  private var index: Ann.PersistedPqIndex = _
  private var queries: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var spread = 0.0
  private var rotated = false
  private var result: Array[(Long, Long, Int, Double)] = Array.empty
  private var batch: IndexedSeq[Long] = IndexedSeq.empty

  private def indexDir = s"$dir/opq"

  def setupRound(d: String): Unit = {
    dir = d
    val g = new Gen(seed)
    val decay = (0 until Dim).map(i => math.pow(0.87, i))
    // two-level clusters: topics, and tight groups of near neighbours
    // inside each topic, so a query's true top-10 is mostly its group
    val topics = (0 until Topics).map(_ => Array.fill(Dim)(g.gaussian()))
    val groups = (0 until Vectors / GroupSize).map { _ =>
      val t = topics(g.int(Topics))
      Array.tabulate(Dim)(i => t(i) + TopicNoise * g.gaussian())
    }
    val vecs = (0 until Vectors).map { k =>
      val c = groups(k % groups.size)
      k.toLong -> Array.tabulate(Dim)(i => ((c(i) + GroupNoise * g.gaussian()) * decay(i)).toFloat)
    }
    queries = (0 until Queries).map { j =>
      val base = vecs(g.int(Vectors))._2
      (Vectors + j).toLong ->
        Array.tabulate(Dim)(i => (base(i) + QueryNoise * g.gaussian() * decay(i)).toFloat)
    }
    vecs.toDF("vec_id", "embedding").repartition(4)
      .write.mode("overwrite").parquet(s"$d/vectors")
    corpus = spark.read.parquet(s"$d/vectors")

    val pca = tr.span("operators.Pca.train") {
      Pca.train(corpus, "vec_id", "embedding", k = Dim)
    }
    spread = Pca.eigenSpread(pca)
    val rotation = if (Pca.opqRecommended(pca)) Some(Pca.opqModel(pca, SubQuantizers)) else None
    rotated = rotation.isDefined
    val e = rotation match {
      case Some(r) => tr.span("operators.Pca.rotate") {
        Pca.rotate(corpus, "vec_id", "embedding", r).localCheckpoint()
      }
      case None => corpus
    }
    val centroids = tr.span("operators.Ann.trainCentroids") {
      Ann.trainCentroids(e, "vec_id", "embedding", k = Lists, iters = 3)
        .withColumnRenamed("centroid_id", "vec_id")
    }
    val books = tr.span("operators.Ann.trainPq") {
      Ann.trainPq(e, "vec_id", "embedding", m = SubQuantizers, ksub = 128,
        iters = 5, maxTrain = 4096)
    }
    tr.span("operators.Ann.build_save") {
      Ann.saveOpqIndex(indexDir, Ann.buildPqIndex(e, centroids, books, "vec_id", "embedding"),
        centroids, books, "vec_id", "embedding", rotation = rotation)
    }
    index = tr.span("operators.Ann.load") { Ann.loadOpqIndex(spark, indexDir) }
    truth = tr.span("operators.Ann.bruteForceTopK") {
      Ann.bruteForceTopK(corpus, queries.toDF("vec_id", "embedding"),
        "vec_id", "embedding", K, excludeSelf = false)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    }.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
  }

  def warmupOps: Int = Warmup

  def run(i: Int): Unit = {
    val off = Math.floorMod((i - 1) * PerRequest, Queries)
    val qs = (0 until PerRequest).map(j => queries((off + j) % Queries))
    batch = qs.map(_._1)
    result = tr.span("operators.Ann.searchOpqIndex") {
      Ann.searchOpqIndex(index, corpus, qs.toDF("vec_id", "embedding"),
        k = K, nprobe = 4, refine = 4, excludeSelf = false)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect()
    }
  }

  def check(i: Int): OpResult = {
    val byQuery = result.groupBy(_._1)
    val problems = batch.flatMap { q =>
      val rows = byQuery.getOrElse(q, Array.empty).sortBy(_._3)
      val ids = rows.map(_._2)
      val scores = rows.map(_._4)
      Seq(
        (rows.length != K) -> s"query $q got ${rows.length} rows",
        (ids.distinct.length != ids.length) -> s"query $q repeats ids",
        ids.exists(id => id < 0 || id >= Vectors) -> s"query $q returns a non-corpus id",
        scores.zip(scores.drop(1)).exists { case (a, b) => b > a } ->
          s"query $q scores increase with rank"
      ).collect { case (true, m) => m }
    } ++ byQuery.keys.filterNot(batch.contains).map(q => s"unexpected query $q")
    val hits = batch.map(q => byQuery.getOrElse(q, Array.empty)
      .count(r => truth(q).contains(r._2))).sum
    OpResult(batch.size.toLong, problems.isEmpty, problems.mkString("; "),
      quality = Map("hits" -> hits.toDouble, "total" -> (batch.size * K).toDouble),
      counters = Map("operators.Ann.rows" -> result.length.toDouble))
  }

  def inputBytes: Long = Vectors.toLong * Dim * 4
  def diskBytes: Long = Main.treeBytes(new File(indexDir))

  def props: Map[String, Any] = Map(
    "vectors" -> Vectors, "dim" -> Dim, "topics" -> Topics,
    "group_size" -> GroupSize,
    "queries" -> Queries, "ivf_lists" -> Lists, "eigen_spread" -> spread,
    "opq_rotated" -> rotated,
    "index_mb" -> Main.treeBytes(new File(indexDir)) / 1e6,
    "raw_vector_mb" -> inputBytes / 1e6)

  def microbenchmarks(): Map[String, Double] = {
    val codes = index.pqIndex.select("codes").limit(4096).as[Array[Byte]].collect()
    val books = new GenericArrayData(index.codebooks.map(b =>
      new GenericArrayData(b.map(cw => new GenericArrayData(cw.toArray[Any])).toArray[Any])).toArray[Any])
    val lut = PqImpl.lut(new GenericArrayData(queries.head._2.toArray[Any]), PqImpl.build(books))
    Map("functions.PqImpl.adc_ns" -> Main.nsPerCall(codes.length * 4) { k =>
      PqImpl.adc(codes(k % codes.length), lut) })
  }
}

object AnnServe {
  // Sizes: tuned so one run's timed window holds enough ops on 4 cores.
  val Vectors = 6000
  val Dim = 64
  val Topics = 32
  val TopicNoise = 1.0
  val GroupSize = 10
  val GroupNoise = 0.03
  val QueryNoise = 0.02
  val Queries = 200
  val PerRequest = 10
  val K = 10
  val Lists = 32
  val SubQuantizers = 16
  val Warmup = 2
}
