package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-logic tests for the bench harness: the artifact line must be
  * valid JSON, complete at every emission point, and short enough to
  * survive a 2000-char tail window of the run's output; the headline and the
  * per-leg statistics follow the fixed protocol. (The fork/kill behavior
  * is exercised end-to-end by running graft.Bench, not unit tests.) */
class BenchHarnessSpec extends AnyFunSuite {

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()
  private def parse(line: String) = om.readTree(line)

  // worst-case-ish gate map: 45 real query names, contended 3-digit values
  private val gateNames = Seq(
    "q_agg_pricing", "q_ann_ivf", "q_ann_lsh", "q_ann_topk", "q_anti_join",
    "q_cb_parse", "q_clean_str", "q_closure", "q_column_analysis",
    "q_components", "q_dedup_exact", "q_dedup_jaccard", "q_detect_mentions",
    "q_distinct_flags", "q_dot_abbreviations", "q_edit_distance",
    "q_embed_lsh", "q_embed_pairs", "q_except_nations", "q_extract_text",
    "q_fingerprint", "q_join_agg", "q_lang_id", "q_literal_classify",
    "q_lookup_candidates", "q_lookup_fuzzy", "q_lookup_ids",
    "q_media_features", "q_mention_ner", "q_minhash_pairs",
    "q_name_index_features", "q_ngram_jaccard", "q_parse_literals",
    "q_parse_objects", "q_pos_score", "q_quality", "q_semi_join",
    "q_simhash_pairs", "q_summary_topk", "q_token_count", "q_token_jaccard",
    "q_topk_acctbal", "q_union_nations", "q_window_running", "q_winnow")
  private val gates = gateNames.map(n => n -> 110.354)

  private def leg(cores: Int, runs: Seq[Double], tps: Double) = {
    val best = runs.min
    val sorted = runs.sorted
    val med = (sorted((runs.size - 1) / 2) + sorted(runs.size / 2)) / 2
    Bench.LegStat(cores, Bench.Run((tps * best).round, best, best * 0.9, 30.5, 253.1),
      med, runs)
  }

  // contended 3-digit walls: the longest numbers a leg can print
  private def fullState = Seq(
    Bench.PointStat("pages24k", 24000, Seq(
      leg(1, Seq(179.9, 184.4, 201.3), 284.1),
      leg(4, Seq(122.8, 125.1, 131.9), 996.2))),
    Bench.PointStat("pages384k", 384000, Seq(
      leg(1, Seq(304.8), 1193.6), leg(4, Seq(104.6), 4400.0))))

  private def line(points: Seq[Bench.PointStat], shed: Seq[String] = Nil) =
    Bench.buildLine(gates, "sf0.1", points, Some((5.81, 18.84)),
      2, 1480.7, 1680.0, shed)

  test("full-state line: valid JSON, under the tail budget, all evidence present") {
    val l = line(fullState,
      Seq("round3_pages24k", "gates_pass2", "timeout_pages384k_c4"))
    assert(!l.contains("\n"))
    assert(l.length <= Bench.MaxLineChars, s"line is ${l.length} chars:\n$l")
    val j = parse(l)
    assert(j.get("metric").asText == "total")
    assert(math.abs(j.get("value").asDouble - 110.354 * 45) < 1.0)
    assert(j.get("queries").size == 45)
    val p = j.get("pipeline")
    // legs shown are the headline point's
    assert(p.get("pages").asInt == 24000)
    assert(p.get("entities").asInt == 4000)
    for (k <- Seq("task_sec", "gc_sec", "jit_sec", "triples_per_sec"))
      assert(p.get("local1").has(k), s"local1 missing $k")
    assert(p.get("points").size == 2)
    assert(math.abs(p.get("mem_probe").get("scaling").asDouble -
      18.84 / 5.81 / 4) < 0.001)
    assert(p.get("shed").size == 3)
    assert(p.get("gate_passes").asInt == 2)
  }

  test("full two-point state with k samples stays within 1,900 chars") {
    // every leg at the protocol's k, gate values at their widest
    val st = fullState.map(p => p.copy(legs = p.legs.map(l =>
      l.copy(runsSec = Seq.fill(if (p.tag == Bench.HeadlineTag)
        Bench.HeadlineRounds else Bench.PrimaryRounds)(l.best.sec)))))
    val l = line(st, Seq("round3_pages24k", "gates_pass2", "gates_partial",
      "point_pages384k", "timeout_pages384k_c4"))
    assert(l.length <= Bench.MaxLineChars, s"line is ${l.length} chars:\n$l")
    assert(parse(l).get("pipeline").get("points").size == 2)
  }

  test("headline source is pages24k even when the 384k point reads higher") {
    val p = parse(line(fullState)).get("pipeline")
    val eff24 = (996.2 / 284.1) / 4
    val eff384 = (4400.0 / 1193.6) / 4
    assert(eff24 < eff384, "fixture must have the 384k point read higher")
    assert(p.get("scaling_source").asText == "pages24k")
    assert(math.abs(p.get("scaling_efficiency").asDouble - eff24) < 0.001)
    assert(math.abs(p.get("points").get("pages384k").get("eff").asDouble -
      eff384) < 0.001)
  }

  test("each shown leg carries median, min and all samples") {
    val p = parse(line(fullState)).get("pipeline")
    val l1 = p.get("local1")
    assert(l1.get("min_sec").asDouble == 179.9)
    assert(l1.get("med_sec").asDouble == 184.4)
    assert(l1.get("runs_sec").size == 3)
    assert(p.get("local4").get("med_sec").asDouble == 125.1)
    // the other point's legs: min and median per leg in "points"
    val p384 = p.get("points").get("pages384k")
    assert(p384.get("min_sec").size == 2 && p384.get("med_sec").size == 2)
  }

  test("empty state (killed before any work) still emits a complete line") {
    val j = parse(Bench.buildLine(Nil, "sf0.1", Nil, None, 0,
      3.2, 1680.0, Nil))
    // no gate ran: the total is null, not a perfect 0.00, and shed says why
    assert(j.get("value").isNull)
    assert(j.get("pipeline").get("shed").toString == "[\"gates_not_run\"]")
    assert(j.get("queries").size == 0)
    assert(j.get("pipeline").get("gate_passes").asInt == 0)
    assert(!j.get("pipeline").has("scaling_efficiency"))
    assert(j.get("pipeline").get("scaling_source").asText == "pages24k")
  }

  test("single-leg point (mid-round kill) emits without an efficiency") {
    val st = Seq(Bench.PointStat("pages24k", 24000, Seq(leg(1, Seq(79.9), 284.1))))
    val p = parse(Bench.buildLine(gates, "sf", st, None, 0, 100, 1680, Nil))
      .get("pipeline")
    assert(p.get("local1").get("min_sec").asDouble == 79.9)
    assert(!p.has("local4"))
    assert(!p.has("scaling_efficiency"))
    assert(st.head.eff.isEmpty)
  }

  test("symmetric truncation: a leg's extra sample stays out of the ratio") {
    def run(sec: Double) = Bench.Run(10000L, sec, sec * 0.9, 1.0, 2.0)
    // interrupted round 2: local1 got a second (better) sample, local4
    // didn't — min and median must use only round 1 of each leg, while
    // runs_sec discloses both samples
    val m = Map(1 -> Vector(run(100.0), run(80.0)), 4 -> Vector(run(30.0)))
    val legs = Bench.legStatsFor(m)
    assert(legs.map(_.cores) == Seq(1, 4))
    assert(legs.head.best.sec == 100.0, "leg1 min must truncate to round 1")
    assert(legs.head.medSec == 100.0, "leg1 median must truncate to round 1")
    assert(legs.head.runsSec == Seq(100.0, 80.0), "all samples disclosed")
    assert(legs.last.best.sec == 30.0)
    // complete rounds: min and median over all of them
    val m2 = Map(1 -> Vector(run(100.0), run(80.0), run(90.0)),
      4 -> Vector(run(30.0), run(25.0), run(40.0)))
    val l2 = Bench.legStatsFor(m2)
    assert(l2.head.best.sec == 80.0 && l2.head.medSec == 90.0)
    assert(l2.last.best.sec == 25.0 && l2.last.medSec == 30.0)
    // single leg: no truncation partner, min over own samples
    val m3 = Map(1 -> Vector(run(100.0), run(80.0)))
    assert(Bench.legStatsFor(m3).head.best.sec == 80.0)
  }

  test("entity cap: fixed-KG production shape") {
    assert(Bench.entitiesFor(24000) == 4000)
    assert(Bench.entitiesFor(384000) == 32000)
    assert(Bench.entitiesFor(768000) == 32000)
    assert(Bench.entitiesFor(100) == 400)
  }

  test("memory probe returns sane bandwidth figures") {
    val probe = Bench.memProbe()
    assert(probe.isDefined, "probe failed")
    val (s1, s4) = probe.get
    assert(s1 > 0.2, s"single-thread $s1 GB/s implausibly low")
    assert(s4 > s1 * 0.8, s"4-thread aggregate $s4 below single $s1")
    // generous ceiling: a co-tenant hammering the box during the
    // single-thread window legitimately pushes the ratio past 4 (dress 10
    // recorded 3.79), but 8× means the probe's arithmetic is broken
    assert(s4 / s1 <= 8, s"4-thread aggregate $s4 is ${s4 / s1}x single " +
      s"$s1 GB/s; co-tenant regimes can exceed 4, never 8")
  }

  test("memory probe returns None, and does not hang, when a thread cannot allocate") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // Int.MaxValue bytes is past the JVM's array limit: every probe thread
    // fails its allocation before reaching the ready latch
    assert(Await.result(Future(Bench.memProbe(Int.MaxValue)), 60.seconds).isEmpty)
  }
}
