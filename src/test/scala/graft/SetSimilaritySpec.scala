package graft

import org.apache.spark.sql.functions._
import graft.operators.SetSimilarity

/** Exact set-similarity join (q124): the whole contract is recall =
  * 1.0 — prefix filtering must return BIT-IDENTICAL results to the
  * brute-force all-pairs join, at every τ, on every fixture. */
class SetSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def bag(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long, Long)].collect().toSet

  test("jaccardJoin ≡ brute force on a mixed fixture (planted dups + noise)") {
    // 40 sets over a 30-token vocab: pairs of near-identical sets
    // (high overlap), plus random noise sets; seeded → deterministic
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"t$i")
    val rows = (0 until 20).flatMap { i =>
      val base = rnd.shuffle(vocab).take(6 + rnd.nextInt(8))
      val mutated =
        if (i % 3 == 0) base.drop(1) :+ s"x$i" // near-dup of base
        else rnd.shuffle(vocab).take(5 + rnd.nextInt(9))
      Seq((i * 2L, base), (i * 2L + 1L, mutated))
    }
    val df = rows.toDF("id", "toks")
    for ((num, den) <- Seq((1, 2), (4, 10), (7, 10), (9, 10), (1, 1))) {
      val fast = bag(SetSimilarity.jaccardJoin(df, "id", col("toks"), num, den))
      val brute = bag(SetSimilarity.jaccardJoinBrute(df, "id", col("toks"), num, den))
      assert(fast === brute, s"tau=$num/$den: prefix filter lost/invented pairs")
    }
  }

  test("jaccardJoin: exact-τ boundary pairs are kept (integer cut, no epsilon)") {
    // J({a,b,c,d}, {a,b,c,e}) = 3/5 — τ = 3/5 keeps it, τ = 7/10 drops it
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e"))).toDF("id", "toks")
    assert(bag(SetSimilarity.jaccardJoin(df, "id", col("toks"), 3, 5)) ===
      Set((1L, 2L, 3L, 5L)))
    assert(SetSimilarity.jaccardJoin(df, "id", col("toks"), 7, 10).count() === 0)
  }

  test("jaccardJoin: identical sets, duplicate in-row tokens, empty sets") {
    val df = Seq(
      (1L, Seq("p", "q", "r")),
      (2L, Seq("p", "q", "r", "q", "p")), // dups collapse → identical set
      (3L, Seq.empty[String]),            // dropped: can't reach any τ > 0
      (4L, Seq("z"))).toDF("id", "toks")
    val got = bag(SetSimilarity.jaccardJoin(df, "id", col("toks"), 9, 10))
    assert(got === Set((1L, 2L, 3L, 3L)))
  }

  test("jaccardJoin: one shared FREQUENT token is not enough; shared rare is found") {
    // every set shares 'common' (df = 4 → sorts LAST, outside every
    // prefix at τ=1/2): the frequent token alone must not generate the
    // pair. Sets 1/2 share 3 of 4 tokens → J = 3/5 ≥ 1/2, found via
    // their RARE shared tokens; sets 3/4 share only 'common' → J = 1/7,
    // correctly absent
    val df = Seq(
      (1L, Seq("common", "r1", "r2", "r3")),
      (2L, Seq("common", "r1", "r2", "r4")),
      (3L, Seq("common", "s1", "s2", "s3")),
      (4L, Seq("common", "u1", "u2", "u3"))).toDF("id", "toks")
    val got = bag(SetSimilarity.jaccardJoin(df, "id", col("toks"), 1, 2))
    assert(got === Set((1L, 2L, 3L, 5L)))
  }

  private def cbag(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long, Long, Long)].collect().toSet

  test("containmentJoin ≡ brute force; finds subsets Jaccard misses") {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 40).map(i => s"t$i")
    // planted subsets: every third set is a small SUBSET of its base —
    // containment 1.0 from subset → base, Jaccard well below 1/2
    val rows = (0 until 20).flatMap { i =>
      val base = rnd.shuffle(vocab).take(12 + rnd.nextInt(6))
      val other =
        if (i % 3 == 0) base.take(4)                // strict subset
        else rnd.shuffle(vocab).take(5 + rnd.nextInt(9))
      Seq((i * 2L, base), (i * 2L + 1L, other))
    }
    val df = rows.toDF("id", "toks")
    for ((num, den) <- Seq((1, 2), (4, 5), (9, 10), (1, 1))) {
      val fast = cbag(SetSimilarity.containmentJoin(df, "id", col("toks"), num, den))
      val brute = cbag(SetSimilarity.containmentBrute(df, "id", col("toks"), num, den))
      assert(fast === brute, s"tau=$num/$den: containment lost/invented pairs")
    }
    // the planted subset pairs ARE found at τ=1 (asymmetric, subset→base)
    val full = cbag(SetSimilarity.containmentJoin(df, "id", col("toks"), 1, 1))
    assert((0 until 20).filter(_ % 3 == 0).forall(i =>
      full.exists(p => p._1 == i * 2L + 1 && p._2 == i * 2L)))
    // ...and symmetric Jaccard at 1/2 misses a 4-of-≥12 subset pair
    // (J = 4/|base| ≤ 1/3): the asymmetric case is containment-only
    val jac = bag(SetSimilarity.jaccardJoin(df, "id", col("toks"), 1, 2))
    assert(!jac.exists(p => p._1 == 0L && p._2 == 1L))
  }

  test("probeIndex ≡ cross-side brute force, incl. batch tokens the corpus never saw") {
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 40).map(i => s"t$i")
    val corpus = (0 until 30).map(i =>
      (i.toLong, rnd.shuffle(vocab).take(6 + rnd.nextInt(8)))).toDF("id", "toks")
    // batch: perturbed copies of corpus docs (near-dups with NEW,
    // never-indexed tokens — they must sort at df=0 without breaking
    // completeness) plus pure-noise docs
    val batchRows = (0 until 30).map { i =>
      val base = rnd.shuffle(vocab).take(6 + rnd.nextInt(8))
      if (i % 2 == 0) (1000L + i, base.drop(1) :+ s"new$i")
      else (1000L + i, base)
    }
    val batch = batchRows.toDF("id", "toks")
    val index = SetSimilarity
      .buildIndex(corpus, "id", col("toks")).materialize()
    for ((num, den) <- Seq((2, 5), (1, 2), (7, 10), (1, 1))) {
      val fast = bag(SetSimilarity.probeIndex(index, batch, "id",
        col("toks"), num, den))
      val brute = bag(SetSimilarity.probeBrute(corpus, "id", col("toks"),
        batch, "id", col("toks"), num, den))
      assert(fast === brute, s"tau=$num/$den: probe lost/invented pairs")
    }
  }

  test("probeContainment ≡ brute force; batch docs contained in longer corpus docs") {
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 40).map(i => s"t$i")
    val corpusRows = (0 until 30).map(i =>
      (i.toLong, rnd.shuffle(vocab).take(10 + rnd.nextInt(8))))
    val corpus = corpusRows.toDF("id", "toks")
    // batch: strict SUBSETS of corpus docs (the quote-inclusion case,
    // Jaccard-invisible), near-dups with unseen tokens, pure noise
    val batchRows = (0 until 30).map { i =>
      val base = corpusRows(i % 30)._2
      i % 3 match {
        case 0 => (1000L + i, base.take(4))              // strict subset
        case 1 => (1000L + i, base.drop(1) :+ s"new$i")  // near-dup
        case _ => (1000L + i, rnd.shuffle(vocab).take(6))
      }
    }
    val batch = batchRows.toDF("id", "toks")
    val index = SetSimilarity
      .buildIndex(corpus, "id", col("toks")).materialize()
    for ((num, den) <- Seq((1, 2), (4, 5), (1, 1))) {
      val fast = cbag(SetSimilarity.probeContainment(index, batch, "id",
        col("toks"), num, den))
      val brute = cbag(SetSimilarity.probeContainmentBrute(corpus, "id",
        col("toks"), batch, "id", col("toks"), num, den))
      assert(fast === brute, s"tau=$num/$den: containment probe drifted")
    }
    // every planted strict subset is found at τ = 1 against its source
    val full = cbag(SetSimilarity.probeContainment(index, batch, "id",
      col("toks"), 1, 1))
    assert((0 until 30 by 3).forall(i =>
      full.exists(p => p._1 == 1000L + i && p._2 == (i % 30).toLong)))
    // a save()d index probes through the token-sharded POSTINGS with
    // partition pruning — results must be identical to the in-memory
    // (explode-the-entries) path
    val dir = java.nio.file.Files.createTempDirectory("setsim_cidx").toString
    index.save(dir, mode = "overwrite")
    val loaded = SetSimilarity.SetSimIndex.load(spark, dir)
    assert(loaded.postings.isDefined)
    val viaPostings = cbag(SetSimilarity.probeContainment(loaded, batch,
      "id", col("toks"), 4, 5))
    val viaMemory = cbag(SetSimilarity.probeContainment(index, batch,
      "id", col("toks"), 4, 5))
    assert(viaPostings === viaMemory)
  }

  test("SetSimIndex: save/load round-trips and the probe prunes to candidate shards") {
    val dir = java.nio.file.Files.createTempDirectory("setsim_idx").toString
    val corpus = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("p", "q", "r", "s")),
      (3L, Seq("x", "y", "z", "w"))).toDF("id", "toks")
    SetSimilarity.buildIndex(corpus, "id", col("toks")).save(dir)
    val loaded = SetSimilarity.SetSimIndex.load(spark, dir)
    val batch = Seq((10L, Seq("a", "b", "c", "e"))).toDF("id", "toks")
    val got = bag(SetSimilarity.probeIndex(loaded, batch, "id",
      col("toks"), 3, 5))
    assert(got === Set((1L, 10L, 3L, 5L))) // J = 3/5 vs corpus doc 1 only
    // identical batch doc at tau = 1: exact-match lookup works too
    val same = bag(SetSimilarity.probeIndex(loaded,
      Seq((11L, Seq("p", "q", "r", "s"))).toDF("id", "toks"),
      "id", col("toks"), 1, 1))
    assert(same === Set((2L, 11L, 4L, 4L)))
  }

  test("SetSimIndex.load: missing postings degrade, corrupt postings fail loudly") {
    val corpus = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("p", "q", "r", "s"))).toDF("id", "toks")
    // pre-postings layout (entries + dfreq only): load must fall back
    // to the explode-the-entries path, not throw
    val bare = java.nio.file.Files.createTempDirectory("setsim_bare").toString
    val idx = SetSimilarity.buildIndex(corpus, "id", col("toks"))
    idx.entries.write.parquet(s"$bare/entries")
    idx.dfreq.write.parquet(s"$bare/dfreq")
    val legacy = SetSimilarity.SetSimIndex.load(spark, bare)
    assert(legacy.postings.isEmpty)
    val batch = Seq((10L, Seq("a", "b", "c", "e"))).toDF("id", "toks")
    assert(bag(SetSimilarity.probeIndex(legacy, batch, "id",
      col("toks"), 3, 5)) === Set((1L, 10L, 3L, 5L)))
    // an EXISTING but unreadable postings folder must NOT silently
    // degrade every probe to the full path: the error surfaces when
    // the broken postings are read (load itself resolves lazily)
    val broken = java.nio.file.Files.createTempDirectory("setsim_bad").toString
    idx.entries.write.parquet(s"$broken/entries")
    idx.dfreq.write.parquet(s"$broken/dfreq")
    val pdir = java.nio.file.Paths.get(broken, "postings")
    java.nio.file.Files.createDirectories(pdir)
    java.nio.file.Files.writeString(
      pdir.resolve("part-00000.parquet"), "this is not parquet")
    val loud = intercept[Exception] {
      SetSimilarity.SetSimIndex.load(spark, broken)
        .postings.get.collect()
    }
    assert(loud != null)
  }

  test("verify joins use inter_longs on a thread with no active session") {
    // the kernel lookup must follow the input frame's session: a
    // worker thread that never set (or cleared) its active session
    // used to fall back to size(array_intersect) silently
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 20).map(i => s"t$i")
    val df = (0L until 24L).map(i => (i, rnd.shuffle(vocab).take(4 + rnd.nextInt(6))))
      .toDF("id", "toks")
    val jBrute = bag(SetSimilarity.jaccardJoinBrute(df, "id", col("toks"), 1, 2))
    val cBrute = cbag(SetSimilarity.containmentBrute(df, "id", col("toks"), 1, 2))
    @volatile var outcome: scala.util.Try[Seq[(String, Any)]] = null
    val worker = new Thread(() => {
      outcome = scala.util.Try {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        assert(org.apache.spark.sql.SparkSession.getActiveSession.isEmpty)
        val j = SetSimilarity.jaccardJoin(df, "id", col("toks"), 1, 2)
        val c = SetSimilarity.containmentJoin(df, "id", col("toks"), 1, 2)
        Seq(j.queryExecution.executedPlan.toString -> bag(j),
          c.queryExecution.executedPlan.toString -> cbag(c))
      }
    })
    worker.start()
    worker.join()
    val Seq((jPlan, jGot), (cPlan, cGot)) = outcome.get
    assert(jPlan.contains("inter_longs"), jPlan)
    assert(cPlan.contains("inter_longs"), cPlan)
    assert(jGot === jBrute)
    assert(cGot === cBrute)
  }
}
