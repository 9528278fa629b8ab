package perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.{FuzzyImpl, TextFunctions}
import graft.operators.{FuzzyMatch, RosterQuery}
import graft.sources.Pipeline

/** `sig_etl`: one op is one interest group's full `Pipeline.run` —
  * export the scorecard, transform it with TextFunctions, pull the
  * roster through `RosterQuery.candidates` and link with
  * `FuzzyMatch.link` under the votervoice rules, then write the
  * matched and query exports.
  *
  * Inputs (all from the seed): a roster of candidates in the star
  * schema `graft.Tables` reads (customer = candidate, nation = office
  * per state, region = state, orders = candidacies), ~50 states with
  * Zipf population skew, Zipf first and last names, and a fixed list
  * of interest groups whose sizes sit at stratified lognormal
  * quantiles. Scorecard rows carry planted noise (case, nicknames,
  * dropped middle initials, typos) and ~10% have no roster
  * counterpart; the planted truth scores `quality` (F1 of matched
  * pairs). */
final class SigEtl(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import spark.implicits._
  import SigEtl._

  private final case class Person(id: Long, first: String, nick: String,
      mid: String, last: String, suffix: String, party: String,
      state: Int, chamber: Int, district: String)

  /** One scorecard row: the scraped info string plus its truth. */
  private final case class Row(sId: Long, info: String, chamber: String,
      rating: String, truth: Long)

  private final case class Sig(name: String, rows: IndexedSeq[Row],
      distinctPairs: Long, rawBytes: Long)

  private var dir: String = _
  private var tables: Tables = _
  private var sigs: IndexedSeq[Sig] = IndexedSeq.empty
  private var roster: IndexedSeq[Person] = IndexedSeq.empty
  private var inBytes = 0L
  private var current: (Sig, Pipeline.Exports, DataFrame) = _
  private var blockSizes: Seq[Int] = Nil

  private def sigOf(i: Int): Sig = sigs(Math.floorMod(i - 1, sigs.size))

  def setupRound(d: String): Unit = {
    dir = d
    val g = new Gen(seed)
    val firsts = Gen.words(g, FirstNames, 1, 2).map(Gen.capital)
    val lasts = Gen.words(g, LastNames, 2, 3).map(Gen.capital)
    val zf = new Gen.Zipf(firsts.size, 1.0)
    val zl = new Gen.Zipf(lasts.size, 1.0)
    val zs = new Gen.Zipf(States.size, 0.8)
    roster = (0 until RosterSize).map { k =>
      val first = firsts(zf(g))
      val chamber = if (g.chance(0.8)) 0 else 1
      Person(k.toLong, first,
        nick = if (g.chance(0.3)) Gen.capital(first.toLowerCase.take(3) + "ie") else "",
        mid = if (g.chance(0.4)) s"${('A' + g.int(26)).toChar}." else "",
        last = lasts(zl(g)),
        suffix = if (g.chance(0.08)) g.pick(Vector("Jr.", "Sr.", "III")) else "",
        party = if (g.chance(0.1)) "I" else g.pick(Vector("R", "D")),
        state = zs(g), chamber = chamber,
        district = if (chamber == 0) (1 + g.int(20)).toString else "")
    }
    blockSizes = roster.groupBy(_.state).values.map(_.size).toSeq.sorted.reverse
    writeTables(g, d)
    tables = Tables(spark, s"$d/tables")

    // interest groups: stratified lognormal sizes, ordered in cycles of
    // one SIG per size quartile (middle of each quartile first), so every
    // cycle a run times has the same spread of sizes
    val sorted = Gen.lognormalSizes(NumSigs, SigMedian, SigMax)
    val perStratum = NumSigs / CycleSigs
    val within = Gen.stratifiedOrder(perStratum).map(k => (k + perStratum / 2) % perStratum)
    val sizes = within.flatMap(k => (0 until CycleSigs).map(j => sorted(j * perStratum + k)))
    var nextSid = 0L
    val rosterLasts = roster.groupBy(p => States(p.state))
      .map { case (s, ps) => s -> ps.map(_.last).distinct.size }
    sigs = sizes.zipWithIndex.map { case (n, s) =>
      val rows = (0 until n).map { _ =>
        nextSid += 1
        if (g.chance(0.1)) {
          // no roster counterpart: a fresh person in a real state
          val p = Person(-1L, firsts(zf(g)), "", "", Gen.typo(g, lasts(zl(g))) + "s",
            "", g.pick(Vector("R", "D")), zs(g), 0, (1 + g.int(20)).toString)
          scraped(g, nextSid, p)
        } else scraped(g, nextSid, roster(g.int(roster.size)))
      }.toIndexedSeq
      val byState = rows.groupBy(r => stateOf(r.info))
      val pairs = byState.map { case (s, rs) =>
        rs.map(r => lastOf(r.info)).distinct.size.toLong *
          rosterLasts.getOrElse(s, 0)
      }.sum
      val raw = rows.map(r => s"${r.sId},${r.info},${r.chamber},${r.rating}\n"
        .getBytes("UTF-8").length.toLong).sum
      Sig(f"SIG$s%03d", rows, pairs, raw)
    }.toIndexedSeq
    inBytes = 0L
  }

  /** The roster database: parquet tables in the schema Tables reads. */
  private def writeTables(g: Gen, d: String): Unit = {
    val customer = roster.map(p => (p.id, rosterName(p), (p.state * 2 + p.chamber).toLong))
      .toDF("c_custkey", "c_name", "c_nationkey")
    val nation = States.indices.flatMap(s => Seq(
      ((s * 2).toLong, Offices(0), s.toLong), ((s * 2 + 1).toLong, Offices(1), s.toLong)))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = States.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("r_regionkey", "r_name")
    var ok = 0L
    val orders = roster.flatMap { p =>
      (0 until 1 + g.int(3)).map { _ =>
        ok += 1
        (ok, p.id, java.sql.Timestamp.valueOf(s"${2012 + 2 * g.int(6)}-11-0${1 + g.int(8)} 00:00:00"),
          g.pick(Vector("P", "G")))
      }
    }.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
    Seq("customer" -> customer, "nation" -> nation, "region" -> region,
      "orders" -> orders).foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/tables/$n.parquet")
    }
  }

  private def rosterName(p: Person): String = {
    val nick = if (p.nick.nonEmpty) s""" "${p.nick}"""" else ""
    val mid = if (p.mid.nonEmpty) s" ${p.mid}" else ""
    val suf = if (p.suffix.nonEmpty) s" ${p.suffix}" else ""
    s"${p.first}$nick$mid ${p.last}$suf (${psd(p)})"
  }

  private def psd(p: Person): String =
    if (p.district.isEmpty) s"${p.party}-${States(p.state)}"
    else f"${p.party}-${States(p.state)}-${p.district.toInt}%02d"

  /** The scraped scorecard row for person `p`, with planted noise. */
  private def scraped(g: Gen, sId: Long, p: Person): Row = {
    var first = if (p.nick.nonEmpty && g.chance(0.25)) p.nick else p.first
    var last = p.last
    if (g.chance(0.04)) first = Gen.typo(g, first)
    if (g.chance(0.08)) last = Gen.typo(g, last)
    val mid = if (p.mid.nonEmpty && g.chance(0.7)) s" ${p.mid}" else ""
    val suf = if (p.suffix.nonEmpty) s" ${p.suffix}" else ""
    var name = s"$first$mid $last$suf"
    if (g.chance(0.04)) name = name.toUpperCase
    else if (g.chance(0.04)) name = name.toLowerCase.capitalize
    val title = if (p.chamber == 0) "Rep." else "Sen."
    val rating = (0 until 8).map(_ => g.pick(Vector("+", "-", "*"))).mkString
    Row(sId, s"$title $name (${psd(p)})", ChamberNames(p.chamber), rating, p.id)
  }

  def warmupOps: Int = Warmup
  override def cycleOps: Int = CycleSigs

  private def opDir(i: Int) = s"$dir/exports/op$i"

  def run(i: Int): Unit = {
    val sig = sigOf(i)
    var rosterDf: DataFrame = null
    val exports = tr.span("sources.Pipeline.run") {
      Pipeline.run(spark,
        extract = () => sig.rows.map(r => (r.sId, r.info, r.chamber, r.rating))
          .toDF("s_id", "info", "chamber", "rating"),
        transform = transform,
        matcher = { transformed =>
          val states = transformed.select("state").distinct().as[String]
            .collect().toSeq.sorted
          rosterDf = tr.span("operators.RosterQuery.candidates") {
            RosterQuery.candidates(tables,
              RosterQuery.RosterParams(stateNames = states)).localCheckpoint()
          }
          val matched = tr.span("operators.FuzzyMatch.link") {
            link(transformed, rosterSide(rosterDf)).localCheckpoint()
          }
          (matched, rosterDf)
        },
        baseDir = opDir(i), session = sig.name,
        at = Instant.ofEpochSecond(1700000000L + i))
    }
    current = (sig, exports, rosterDf)
  }

  def check(i: Int): OpResult = {
    val (sig, ex, rosterDf) = current
    inBytes += sig.rawBytes
    val n = sig.rows.size.toLong
    val rosterRows = rosterDf.select("c_custkey", "state").as[(Long, String)].collect()
    val rosterIds = rosterRows.map(_._1).toSet
    val rosterPerState = rosterRows.groupBy(_._2).map { case (s, rs) => s -> rs.length }
    val pairs = sig.rows.groupBy(r => stateOf(r.info))
      .map { case (s, rs) => rs.size.toLong * rosterPerState.getOrElse(s, 0) }.sum
    val matched = spark.read.parquet(ex.matched.get)
      .select("s_id", "best_id").as[(Long, Long)].collect()
    val truth = sig.rows.map(r => r.sId -> r.truth).toMap
    val tp = matched.count { case (s, b) => truth.get(s).contains(b) }.toDouble
    val fp = matched.length - tp
    val fn = sig.rows.count(_.truth >= 0) - tp
    val problems = Seq(
      (Main.parquetRows(ex.extract.get) != n) -> s"extract rows != $n",
      (Main.parquetRows(ex.transformed.get) != n) -> s"transformed rows != $n",
      (Main.parquetRows(ex.query.get) != rosterIds.size) -> "query rows != roster rows",
      (matched.map(_._1).distinct.length != matched.length) -> "duplicate s_id",
      matched.exists(m => !rosterIds.contains(m._2)) -> "matched r_id not in roster",
      matched.exists(m => !truth.contains(m._1)) -> "matched s_id not in input"
    ).collect { case (true, msg) => msg }
    val od = new File(opDir(i))
    OpResult(n, problems.isEmpty, problems.mkString("; "),
      quality = Map("tp" -> tp, "fp" -> fp, "fn" -> fn),
      counters = Map(
        "sources.StageSink.bytes" -> Main.treeBytes(od).toDouble,
        "sources.StageSink.files" -> Main.dataFiles(od).toDouble,
        "operators.FuzzyMatch.matched" -> matched.length.toDouble,
        "operators.FuzzyMatch.pairs" -> pairs.toDouble,
        "functions.FuzzyImpl.distinct_pairs" -> sig.distinctPairs.toDouble,
        "sig_rows" -> n.toDouble, "roster_rows" -> rosterIds.size.toDouble))
  }

  def inputBytes: Long = inBytes
  def diskBytes: Long = Main.treeBytes(new File(s"$dir/exports"))

  def props: Map[String, Any] = Map(
    "roster" -> roster.size, "sig_sizes" -> sigs.map(_.rows.size),
    "state_block_sizes" -> blockSizes,
    "top_block_share" -> blockSizes.head.toDouble / roster.size,
    "distinct_lastname_pairs" -> sigs.map(_.distinctPairs),
    "memo_slots" -> MemoSlots,
    "sigs_over_memo" -> sigs.count(_.distinctPairs > MemoSlots),
    "no_counterpart_share" ->
      sigs.flatMap(_.rows).count(_.truth < 0).toDouble / sigs.map(_.rows.size).sum)

  def microbenchmarks(): Map[String, Double] = {
    val g = new Gen(seed + 7)
    val rows = sigs.flatMap(_.rows)
    val byState = roster.groupBy(_.state)
    val pairs = (0 until 4096).map { _ =>
      val r = rows(g.int(rows.size))
      val ps = byState.getOrElse(States.indexOf(stateOf(r.info)), roster)
      (lastOf(r.info), ps(g.int(ps.size)).last)
    }
    val mids = (0 until 4096).map(_ =>
      (s"${('a' + g.int(26)).toChar}.", if (g.chance(0.5)) "" else s"${('a' + g.int(26)).toChar}."))
    val hot = pairs.take(64).map { case (a, b) => (UTF8String.fromString(a), UTF8String.fromString(b)) }
    hot.foreach { case (a, b) => FuzzyImpl.wRatioCached(a, b) }
    val n = pairs.size
    Map(
      "functions.FuzzyImpl.wRatio_ns" -> Main.nsPerCall(n) { k =>
        FuzzyImpl.wRatio(pairs(k)._1, pairs(k)._2) },
      "functions.FuzzyImpl.wRatio_hit_ns" -> Main.nsPerCall(n) { k =>
        val (a, b) = hot(k & 63); FuzzyImpl.wRatioCached(a, b) },
      "functions.FuzzyImpl.partialTokenRatio_ns" -> Main.nsPerCall(n) { k =>
        FuzzyImpl.partialTokenRatio(mids(k)._1, mids(k)._2) })
  }
}

object SigEtl {
  // Sizes: tuned so one run's timed window holds enough ops on 4 cores.
  val RosterSize = 6000
  val FirstNames = 3000
  val LastNames = 20000
  val NumSigs = 40
  val SigMedian = 120.0
  val SigMax = 1500.0
  val CycleSigs = 4
  val Warmup = 2
  val MemoSlots = 1 << 16

  val States: IndexedSeq[String] = Vector("AL", "AK", "AZ", "AR", "CA",
    "CO", "CT", "DE", "FL", "GA", "HI", "ID", "IL", "IN", "IA", "KS", "KY",
    "LA", "ME", "MD", "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH",
    "NJ", "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC", "SD",
    "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY")
  val Offices = Vector("U.S. House", "U.S. Senate")
  val ChamberNames = Vector("House", "Senate")
  val PartyNames = Map("R" -> "Republican", "D" -> "Democratic", "I" -> "Independent")
  val ChamberOffices = Map("House" -> "U.S. House", "Senate" -> "U.S. Senate")

  private val PsdRe = "\\(([A-Z])-([A-Z]{2})".r
  def stateOf(info: String): String =
    PsdRe.findFirstMatchIn(info).map(_.group(2)).getOrElse("")
  def lastOf(info: String): String =
    info.replaceAll("\\s\\(.*$", "").split(' ').last

  /** The scorecard transform: name parts, party-state-district and
    * value normalisation through TextFunctions. */
  val transform: DataFrame => DataFrame = raw => raw.select(
    col("s_id"),
    TextFunctions.firstName(col("info")).as("firstname"),
    lower(TextFunctions.middleName(col("info"))).as("__mid_lc"),
    TextFunctions.lastName(col("info")).as("lastname"),
    TextFunctions.extractSuffix(col("info")).as("suffix"),
    TextFunctions.replaceValues(TextFunctions.party(col("info")), PartyNames).as("party"),
    TextFunctions.state(col("info")).as("state"),
    TextFunctions.district(col("info")).as("district"),
    TextFunctions.replaceValues(col("chamber"), ChamberOffices).as("office"),
    col("rating"))

  /** Roster rows in the matcher's schema: the candidate name string
    * parsed the same way (its quoted nickname split off first). */
  def rosterSide(roster: DataFrame): DataFrame = {
    val name = col("c_name")
    val info = regexp_replace(name, "\\s\"[^\"]*\"", "")
    roster.select(
      col("c_custkey").as("r_id"),
      TextFunctions.firstName(info).as("firstname"),
      TextFunctions.middleName(info).as("middlename"),
      lower(TextFunctions.middleName(info)).as("__mid_lc"),
      when(name.contains("\""), TextFunctions.nickname(name)).otherwise(lit(""))
        .as("nickname"),
      TextFunctions.lastName(info).as("lastname"),
      TextFunctions.extractSuffix(info).as("suffix"),
      TextFunctions.replaceValues(TextFunctions.party(info), PartyNames).as("party"),
      TextFunctions.district(info).as("district"),
      col("office"), col("state").as("r_state"))
  }

  /** q43's votervoice rule set, blocked on state. */
  def link(left: DataFrame, right: DataFrame): DataFrame = {
    val wr = (a: Column, b: Column) => call_function("w_ratio", a, b)
    val ptr = (a: Column, b: Column) => call_function("partial_token_ratio", a, b)
    FuzzyMatch.link(left, right, "s_id", "r_id", "state", "r_state",
      rules = Seq(
        FuzzyMatch.Rule("firstname", Seq("firstname", "middlename", "nickname"), wr, threshold = 85),
        FuzzyMatch.Rule("__mid_lc", Seq("__mid_lc"), ptr, threshold = 90),
        FuzzyMatch.Rule("lastname", Seq("lastname"), wr, threshold = 88),
        FuzzyMatch.Rule("suffix", Seq("suffix"), wr, threshold = 98),
        FuzzyMatch.Rule("office", Seq("office"), wr, threshold = 100),
        FuzzyMatch.Rule("district", Seq("district"), wr, threshold = 95),
        FuzzyMatch.Rule("party", Seq("party"), wr, threshold = 100)),
      requiredOverall = 75, dupMargin = 3.0)
  }
}
