package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench plausibility gate (round-5 verdict #1): steal-based
  * contention detection is blind to I/O and page-cache interference,
  * so implausible per-query times are caught against the pinned
  * per-query ledger instead. These cases replay round 5's actual
  * failure: x39 recorded 13.1 s in the artifact vs 0.39 s reproduced,
  * while every other query ran near its ledger value.
  */
class BenchGateSpec extends AnyFunSuite {

  private val ledger = Map(
    "q01" -> 0.40, "q02" -> 0.25, "q05" -> 2.50, "q15" -> 3.50,
    "x02" -> 2.20, "x39" -> 0.35, "x55" -> 1.90)

  test("a lone I/O-contention spike is flagged (the r5 x39 shape)") {
    val times = ledger.updated("x39", 13.10) // everything else on-trend
    assert(Bench.suspects(times, ledger) == Seq("x39"))
  }

  test("two simultaneous spikes are both flagged (r5 had x39 AND x55)") {
    val times = ledger.updated("x39", 13.10).updated("x55", 11.51)
    assert(Bench.suspects(times, ledger) == Seq("x39", "x55"))
  }

  test("a uniformly slower box flags nothing — the gate is trend-normalized") {
    // every query 4x the ledger (older CPU / cold page cache): each
    // raw ratio exceeds 3x, but no query breaks from the RUN'S trend
    val times = ledger.view.mapValues(_ * 4.0).toMap
    assert(Bench.suspects(times, ledger).isEmpty)
  }

  test("sub-half-second times are never suspect, whatever the ratio") {
    // a 0.02 s query ballooning to 0.4 s is 20x but still noise-scale
    val times = ledger + ("q99" -> 0.40)
    val led = ledger + ("q99" -> 0.02)
    assert(Bench.suspects(times, led).isEmpty)
  }

  test("queries absent from the ledger (new this round) are never suspect") {
    val times = ledger + ("x63" -> 30.0)
    assert(Bench.suspects(times, ledger).isEmpty)
  }

  test("an empty ledger disables the gate instead of throwing") {
    assert(Bench.suspects(ledger, Map.empty).isEmpty)
  }

  test("failed queries (negative time) are ignored by the gate") {
    val times = ledger.updated("x39", -13.10)
    assert(Bench.suspects(times, ledger).isEmpty)
  }

  test("a uniform 7x contended run still flags under the median cap") {
    // round-6 ADVICE: an UNCAPPED median normalization would raise the
    // spike bar to 3 x 7 = 21x and certify the whole run; capped at
    // 2.0 the bar is 6x and every >0.5 s query at 7x surfaces
    val times = ledger.view.mapValues(_ * 7.0).toMap
    assert(Bench.suspects(times, ledger).nonEmpty)
  }

  test("p90LedgerRatio surfaces the tail and ignores sub-floor noise") {
    val led = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 0.1)
    // d is 4x its ledger but measured at 0.4 s — noise-scale, excluded
    val times = Map("a" -> 1.0, "b" -> 1.1, "c" -> 2.6, "d" -> 0.4)
    assert(Bench.p90LedgerRatio(times, led) === 2.6)
    assert(Bench.p90LedgerRatio(Map("d" -> 0.4), led) === -1.0)
  }

  test("contendedVerdict: judge-idle shape — high loadavg downgraded by per-query evidence") {
    // round-6 verdict #1: loadavg 2.63 from a just-exited JVM, zero
    // suspects, steal 0.06%, median ~1.0, tail at trend => clean
    assert(!Bench.contendedVerdict(2.63, 0.06, 0, 1.0, 1.1))
  }

  test("contendedVerdict: the committed-r7 artifact shape — median at trend, 2-2.7x tails => contended") {
    // round-7 verdict #1: median 1.114 passed the old median-only bar
    // while x56/x55/x28 ran at 2.1-2.7x ledger under loadavg 8.12
    assert(Bench.contendedVerdict(8.12, 0.5, 0, 1.114, 2.1))
  }

  test("contendedVerdict: steal > 5% or an unresolved suspect always taints") {
    assert(Bench.contendedVerdict(0.5, 7.2, 0, 1.0, 1.0))
    assert(Bench.contendedVerdict(0.5, 0.1, 1, 1.0, 1.0))
  }

  test("contendedVerdict: an invalid steal sample cannot prove a high-loadavg run clean") {
    assert(Bench.contendedVerdict(2.63, -1.0, 0, 1.0, 1.0))
    // ... but a low-loadavg run needs no proof in the first place
    assert(!Bench.contendedVerdict(1.0, -1.0, 0, 1.0, 1.0))
  }

  test("contendedVerdict: off-trend ledger evidence taints a low-loadavg run") {
    // measured round-8 shape: loadavg_start 0.8, steal 1.99%, zero
    // suspects — every host proxy idle-looking — but median ratio
    // 1.342 / p90 2.589 vs ledger; an idle re-run 10 min later
    // reproduced the ledger (median 0.785, p90 1.202). The ledger
    // evidence must condemn on its own.
    assert(Bench.contendedVerdict(0.8, 1.99, 0, 1.342, 2.589))
    // uniform >1.5x with a quiet tail is still off-trend
    assert(Bench.contendedVerdict(0.3, 0.1, 0, 1.6, 1.7))
    // the clean re-run shape stays clean
    assert(!Bench.contendedVerdict(0.65, 0.01, 0, 0.785, 1.202))
    // post-optimization staleness only LOWERS ratios — never taints
    assert(!Bench.contendedVerdict(0.5, 0.1, 0, 0.5, 0.9))
  }

  test("contendedVerdict: no ledger overlap (ratios -1) cannot prove a high-loadavg run clean") {
    assert(Bench.contendedVerdict(2.63, 0.06, 0, -1.0, -1.0))
    // p90 of -1 alone (all overlapping queries under the evidence
    // floor) is absence of tail evidence — the median still certifies
    assert(!Bench.contendedVerdict(2.63, 0.06, 0, 1.0, -1.0))
  }

  test("loadLedger drops only a malformed entry, never the whole gate") {
    val f = java.nio.file.Files.createTempFile("ledger_bad", ".json")
    // "." matches the numeric charset but fails toDouble — round-6
    // ADVICE: one bad token must not silently disable the gate
    java.nio.file.Files.writeString(f, """{"good":0.45,"bad":.,"also":1.2}""")
    assert(Bench.loadLedger(f.toString) == Map("good" -> 0.45, "also" -> 1.2))
  }

  test("loadLedger parses the flat JSON object Bench emits") {
    val f = java.nio.file.Files.createTempFile("ledger", ".json")
    java.nio.file.Files.writeString(f,
      """{"q01_pending_scan":0.45,"x39_json_roundtrip":0.31,"x55":1.96}""")
    val m = Bench.loadLedger(f.toString)
    assert(m == Map("q01_pending_scan" -> 0.45, "x39_json_roundtrip" -> 0.31,
      "x55" -> 1.96))
    assert(Bench.loadLedger("/nonexistent/ledger.json").isEmpty)
  }

  test("watchlist flags the committed-r9 sub-bar spikes while the run still certifies") {
    // replay the committed round-9 shape against the ACTUAL committed
    // ledger: an at-trend run carrying x68 at 0.60 s vs its 0.2195
    // pin (2.76x), x70 at 0.53 vs 0.252 (2.10x), x72 at 2.13 vs its
    // same-round 1.2942 re-pin (1.65x) — all under the 3x suspect
    // bar, artifact self-certified clean, and a reader had no
    // machine-readable hint (round-9 verdict "what's wrong" #2). With
    // the watch list the 2x-breakers surface as NOTES: suspects stays
    // empty, the contended verdict is unchanged.
    val ledger = Bench.loadLedger("BENCH_LEDGER.json")
    assert(ledger.nonEmpty, "committed ledger missing")
    val times = ledger ++ Map(
      "x68_weighted_sample" -> 0.60,
      "x70_containment" -> 0.53,
      "x72_dup_clusters_all" -> 2.13)
    val watch = Bench.watchlist(times, ledger)
    assert(watch === Seq("x68_weighted_sample", "x70_containment"),
      s"expected exactly the 2x-breaking r9 spikes under watch, got $watch")
    // x72 at 1.65x sits under the 2x watch bar by design (it was
    // re-pinned in-round; flagging sub-2x would drown the list)
    assert(Bench.suspects(times, ledger).isEmpty,
      "watch entries must not escalate to suspect")
    // the gate itself still certifies the run (watch is a note)
    assert(!Bench.contendedVerdict(0.8, 0.27, 0,
      Bench.medianLedgerRatio(times, ledger),
      Bench.p90LedgerRatio(times, ledger)))
  }

  test("watchlist ignores tiny pins, failed runs, and suspect escalations") {
    val led = Map("a" -> 0.30, "b" -> 0.05, "c" -> 2.0, "d" -> 1.0,
      "e" -> 1.0, "f" -> 1.0, "g" -> 1.0, "h" -> 1.0)
    val times = Map(
      "a" -> 0.75, // 2.5x on a 0.3 pin -> watch
      "b" -> 0.40, // 8x but pin under 0.2 -> ignored
      "c" -> 7.0, // 3.5x over 0.5 s -> SUSPECT, so not watch
      "d" -> -2.5, // failed -> ignored
      "e" -> 1.0, "f" -> 1.0, "g" -> 1.0, "h" -> 1.0)
    assert(Bench.watchlist(times, led) === Seq("a"))
    assert(Bench.suspects(times, led) === Seq("c"))
  }

  test("epoch verdict adjudicates a watch list from the bracket ratios") {
    // round-12 ask #2: the steal-blind host memory epoch cost three
    // rounds of MANUAL interleaved bracket runs; Bench now adjudicates
    // in-run. The four outcomes, pinned:
    // (1) watch re-measures at trend -> transient burst, host
    assert(Bench.epochVerdict(
      Map("x72" -> 0.98, "x61" -> 1.1),
      Map("x102_prf_expansion" -> 1.0)) === "host")
    // (2) watch stays inflated but the sentinels — unchanged code —
    //     inflate alongside: the epoch is live and uniform -> host
    assert(Bench.epochVerdict(
      Map("x72" -> 2.4),
      Map("x102_prf_expansion" -> 2.1, "x132_z_fusion" -> 1.9,
        "x91_bm25" -> 2.6)) === "host")
    // (3) watch stays inflated while the sentinels reproduce their
    //     pins: a clean in-run bracket contradicts the number -> code
    assert(Bench.epochVerdict(
      Map("x72" -> 2.4),
      Map("x102_prf_expansion" -> 1.02, "x132_z_fusion" -> 0.95,
        "x91_bm25" -> 1.1)) === "code")
    // (4) sentinel median in the grey band (1.25, 1.5], or nothing to
    //     bracket against -> unresolved: re-run, never guess
    assert(Bench.epochVerdict(
      Map("x72" -> 2.4),
      Map("x102_prf_expansion" -> 1.4, "x132_z_fusion" -> 1.35,
        "x91_bm25" -> 1.3)) === "unresolved")
    assert(Bench.epochVerdict(Map("x72" -> 2.4), Map.empty) === "unresolved")
    // an empty watch needs no adjudication
    assert(Bench.epochVerdict(Map.empty, Map.empty) === "none")
    // the sentinel set itself must stay inside the documented
    // epoch-affected posting-scan family and name real pinned queries
    assert(Bench.epochSentinels.nonEmpty)
    Bench.epochSentinels.foreach(s =>
      assert(SparkEntry.queries.contains(s), s"sentinel $s is not a query"))
  }

  test("familyWatch flags the committed-r14 shape the per-query gates missed") {
    // the committed r14 artifact: run median 0.81, watch EMPTY (every
    // family ratio under the 2.0x per-query watch bar, p90 1.359), yet
    // the BM25 posting-scan family sat a uniform 1.4-1.9x over its
    // pins — the documented steal-blind host epoch at sub-threshold
    // amplitude, exonerated only by the driver's happenstance re-run
    // (round-14 verdict ask #6). Measured per-query ratios from the
    // verdict's recomputation; unlisted members at the band's middle.
    val fam = Bench.epochFamily
    val others = (1 to 30).map(i => f"q$i%02d" -> 1.0).toMap
    val ledger = fam.map(_ -> 0.7).toMap ++ others
    val famRatio = Map(
      "x111_boolean" -> 1.88, "x106_phrase" -> 1.88, "x91_bm25" -> 1.51,
      "x132_z_fusion" -> 1.46, "x92_hybrid_rrf" -> 1.42)
    val times = fam.map(q => q -> 0.7 * famRatio.getOrElse(q, 1.55)).toMap ++
      others.view.mapValues(_ * 0.81).toMap
    // the per-query gates certify the run clean — the r14 failure mode
    assert(Bench.watchlist(times, ledger).isEmpty)
    assert(Bench.suspects(times, ledger).isEmpty)
    // ...but 14 queries moving together ARE evidence: the family
    // median (~1.55x vs the trend-clamped 1.4x bar) folds the whole
    // family into the bracket's watch set
    assert(Bench.familyWatch(times, ledger) === fam.sorted)
  }

  test("familyWatch stays quiet on clean, uniformly-slow, and sub-pin runs") {
    val fam = Bench.epochFamily
    val ledger = fam.map(_ -> 0.7).toMap ++
      (1 to 30).map(i => f"q$i%02d" -> 1.0).toMap
    // clean run: everything at its pin
    assert(Bench.familyWatch(
      ledger.view.mapValues(_ * 1.02).toMap, ledger).isEmpty)
    // uniformly slower box: EVERYTHING 1.6x — the run's own median
    // raises the bar; the family does not break from the trend
    assert(Bench.familyWatch(
      ledger.view.mapValues(_ * 1.6).toMap, ledger).isEmpty)
    // sub-floor pins carry no evidence, whatever the ratio
    val tinyLedger = fam.map(_ -> 0.1).toMap ++
      (1 to 30).map(i => f"q$i%02d" -> 1.0).toMap
    val tinyTimes = fam.map(_ -> 0.25).toMap ++
      (1 to 30).map(i => f"q$i%02d" -> 1.0).toMap
    assert(Bench.familyWatch(tinyTimes, tinyLedger).isEmpty)
    // fewer than 3 pinned members is no family signal
    val sparse = Map("x91_bm25" -> 0.7, "x106_phrase" -> 0.7,
      "q01" -> 1.0, "q02" -> 1.0)
    val sparseTimes = Map("x91_bm25" -> 1.4, "x106_phrase" -> 1.4,
      "q01" -> 1.0, "q02" -> 1.0)
    assert(Bench.familyWatch(sparseTimes, sparse).isEmpty)
    // the family set itself must name real declared queries and keep
    // the epoch sentinels inside it (an inflated sentinel is what lets
    // the bracket call "host")
    Bench.epochFamily.foreach(q =>
      assert(SparkEntry.queries.contains(q), s"family member $q not a query"))
    Bench.epochSentinels.foreach(s =>
      assert(Bench.epochFamily.contains(s), s"sentinel $s outside family"))
  }

  test("round-15 live epoch replay: family trigger fires and the bracket reads host") {
    // round-15 verdict ask #6: the committed BENCH_r15.json is the
    // family detector's first LIVE firing (steal 3.13%, run median
    // 1.141, family inflated ~1.5-3x) — pin it as a replay so a
    // refactor of familyWatch/epochVerdict can't silently lose the
    // behavior. Times are reconstructed from the artifact's own
    // bracket ratios (ratio x current pin keeps the case valid across
    // ledger re-pins); non-family queries ride the run median.
    val r15Bracket = Map(
      "x100_bm25_batch" -> 2.107, "x101_hybrid_batch" -> 1.526,
      "x102_prf_expansion" -> 0.935, "x106_phrase" -> 2.498,
      "x111_boolean" -> 3.075, "x114_proximity" -> 1.94,
      "x117_snippet" -> 1.477, "x124_passage_indexed" -> 1.811,
      "x132_z_fusion" -> 1.849, "x134_ql_retrieval" -> 0.883,
      "x91_bm25" -> 2.04, "x92_hybrid_rrf" -> 2.204,
      "x97_hybrid_indexed" -> 1.496)
    val ledger = Bench.loadLedger("BENCH_LEDGER.json")
    assert(ledger.nonEmpty, "committed ledger missing")
    val times = ledger.map { case (q, p) =>
      q -> p * r15Bracket.getOrElse(q, 1.141) }
    val expected = Bench.epochFamily
      .filter(q => r15Bracket.contains(q) && ledger.getOrElse(q, 0.0) >= 0.2)
      .sorted
    assert(expected.size >= 10, s"replay fixture degenerated: $expected")
    assert(Bench.familyWatch(times, ledger) === expected,
      "the r15 family inflation must fold the pinned family into watch")
    // the in-run bracket then adjudicates host off the artifact's own
    // sentinel ratios (x102 0.935 / x132 1.849 / x91 2.04)
    assert(Bench.epochVerdict(r15Bracket,
      Map("x102_prf_expansion" -> 0.935, "x132_z_fusion" -> 1.849,
        "x91_bm25" -> 2.04)) === "host")
    // and the artifact-level verdict stays contended (the run is
    // non-evidence for pins, exactly as BASELINE.md records)
    assert(Bench.contendedVerdict(6.2, 3.13, 0, 1.141, 2.04))
  }

  test("cold probes get a plausibility band: inflated flagged, clean and contended quiet") {
    // round-15 verdict gap #3: the contended r15 run's cold entries ran
    // 1.4-1.6x their r14 values (x04 10.1 vs 7.4, x97 10.2 vs 7.2) with
    // nothing to flag them. Cold pins live under cold:<query> keys in
    // the same ledger.
    val led = Map("cold:x04_ngram_jaccard" -> 7.4,
      "cold:x97_hybrid_indexed" -> 7.2, "cold:x129_whiten" -> 0.3,
      "x91_bm25" -> 0.4)
    // a cold-path regression (2x the pin) on an otherwise-clean run:
    // flagged. (The 1.5 factor sits deliberately ABOVE the r15
    // epoch's 1.37-1.42x cold drift: a single-shot build probe has no
    // min-of-N to shed noise, so the band trades that band's bottom
    // for not flagging clean-run variance.)
    val inflated = Map("x04_ngram_jaccard" -> 14.9,
      "x97_hybrid_indexed" -> 11.2)
    assert(Bench.coldWatch(inflated, led, warmMedian = 1.0) ===
      Seq("x04_ngram_jaccard", "x97_hybrid_indexed"))
    // clean replay: at-pin cold entries stay quiet — and so does the
    // committed-r15 epoch drift itself (1.37x / 1.42x, under the band)
    assert(Bench.coldWatch(Map("x04_ngram_jaccard" -> 7.6,
      "x97_hybrid_indexed" -> 7.0), led, 1.0).isEmpty)
    assert(Bench.coldWatch(Map("x04_ngram_jaccard" -> 10.1,
      "x97_hybrid_indexed" -> 10.2), led, 1.0).isEmpty)
    // a contended run is already non-evidence — no cold noise on top
    assert(Bench.coldWatch(inflated, led, 1.6).isEmpty)
    assert(Bench.coldWatch(inflated, led, -1.0).isEmpty)
    // a live epoch inflates the cold BUILD paths while leaving the run
    // median untouched (observed: an epoch_verdict:host run at median
    // 1.184 flagged all 8 probes) — the epoch signal mutes the band
    assert(Bench.coldWatch(inflated, led, 1.0, epochClean = false).isEmpty)
    // no pin / sub-floor pin / failed probe: never flagged
    assert(Bench.coldWatch(Map("x96_bm25_indexed" -> 50.0), led, 1.0).isEmpty)
    assert(Bench.coldWatch(Map("x129_whiten" -> 5.0), led, 1.0).isEmpty)
    assert(Bench.coldWatch(Map("x04_ngram_jaccard" -> -10.1), led, 1.0).isEmpty)
    // the call-site mapping (round-16 ADVICE): a "code" verdict means
    // the bracket re-measured clean against the sentinels — machine
    // fine — so the band stays LIVE to catch a shared code regression
    // that inflates warm scans and cold builds together; host and
    // unresolved epochs (and any live suspect) mute it
    assert(Bench.coldBandLive("none", 0))
    assert(Bench.coldBandLive("code", 0))
    assert(!Bench.coldBandLive("host", 0))
    assert(!Bench.coldBandLive("unresolved", 0))
    assert(!Bench.coldBandLive("none", 1))
    assert(!Bench.coldBandLive("code", 2))
  }

  test("cold probes cover the memoized families and are real queries") {
    // round-10 ask #8: the artifact must carry first-touch timings for
    // the session-memoized entries whose pins are warm-path-only. The
    // probe list must stay non-empty, name only declared queries, and
    // keep the two memo families (shared shingle posting; BPE memo) —
    // removing one would re-blind the gate to that family's cold cost.
    assert(Bench.coldProbes.nonEmpty)
    Bench.coldProbes.foreach(q =>
      assert(SparkEntry.queries.contains(q), s"cold probe $q is not a query"))
    assert(Bench.coldProbes.contains("x04_ngram_jaccard"))
    assert(Bench.coldProbes.contains("x79_bpe_train"))
  }

  test("cpuPins extracts only the cpu: channel, prefix stripped") {
    // the steal-invariant channel (round-17): cpu pins live beside the
    // wall and cold pins in one flat ledger, scoped by prefix
    val led = Map("x91" -> 0.46, "cold:x91" -> 6.7,
      "cpu:x91" -> 11.2, "cpu:q01" -> 0.9, "cold_cpu:x91" -> 40.1)
    assert(Bench.cpuPins(led) == Map("x91" -> 11.2, "q01" -> 0.9))
  }

  test("warm gates never see channel-scoped pins") {
    // cpu:/cold:/cold_cpu: keys must not add warm overlap: a run's
    // query names are unprefixed, so a channel pin can neither make a
    // query suspect nor count toward ledger_queries
    val led = Map("x91" -> 0.46, "cpu:x39" -> 99.0, "cold_cpu:x39" -> 99.0,
      "cold:x39" -> 99.0)
    assert(Bench.warmPinCount(led) == 1)
    val times = Map("x91" -> 0.46, "x39" -> 5.0) // x39 has NO warm pin
    assert(Bench.suspects(times, led).isEmpty)
    assert(Bench.watchlist(times, led).isEmpty)
  }

  test("cpu median ratio reads the cpu channel against its own pins") {
    // an epoch run: wall 1.8x everywhere, cpu flat — the cpu ratio is
    // the signal that the code did the same WORK while the box lied
    val cpuLed = Map("cpu:a" -> 10.0, "cpu:b" -> 4.0, "cpu:c" -> 2.0)
    val cpuRun = Map("a" -> 10.3, "b" -> 4.1, "c" -> 2.0, "new" -> 7.0)
    val r = Bench.medianLedgerRatio(cpuRun, Bench.cpuPins(cpuLed))
    assert(r > 0.95 && r < 1.1)
    // a genuine work regression still reads through the cpu channel
    val regressed = cpuRun.updated("a", 31.0)
    assert(Bench.suspects(regressed, Bench.cpuPins(cpuLed)) == Seq("a"))
  }

  test("artifact line round-trips a full 181-query run through a strict JSON parser") {
    // round-16's artifact printed with rc 0 but never parsed, costing
    // round 17 its whole driver-side PERF comparison. Pin the contract
    // on a full-sized synthetic artifact with every awkward value the
    // real bench can emit: negative (failed) walls, -1 sentinels,
    // sub-normal times that render in exponent notation, and
    // non-finite doubles (JSON cannot carry NaN/Infinity — jsonNum
    // records them as -1 instead of poisoning the line).
    val qs = (1 to 181).map(i => (f"x$i%03d_q", i match {
      case 1 => -2.5          // failed convention: negative wall
      case 2 => 1.0e-7        // exponent notation
      case _ => i * 0.01
    }))
    val cold = Seq("x004_q" -> 8.9, "x005_q" -> Double.NaN)
    val cpu = qs.take(50).map { case (k, v) => k -> math.abs(v) * 3 }
    val line = Bench.artifactLine(
      total = qs.map(v => math.abs(v._2)).sum, queries = qs,
      failed = Seq("x001_q"), sfDir = "/root/testdata/sf0.1", runs = 2,
      loadStart = 0.5, loadEnd = Double.PositiveInfinity, stealPct = 0.12,
      ledgerQueries = 181, medianRatio = 1.001, p90Ratio = -1.0,
      cpuMedianRatio = Double.NaN, retried = Seq("x002_q"),
      suspect = Seq.empty, watch = Seq("x003_q"),
      familyWatch = Seq("x091_q", "x092_q"), epochVerdict = "none",
      bracketJson = """{"sentinels":{"x091_q":1.02},"watch":{"x003_q":2.3}}""",
      cold = cold, coldWatch = Seq.empty, cpu = cpu,
      coldCpu = Seq("x004_q" -> 100.2), contended = false)
    assert(line.linesIterator.size == 1, "artifact must be ONE line")
    // strict parse (Jackson ships with Spark); FAIL_ON_TRAILING_TOKENS
    // would be stricter still but readTree already rejects malformed JSON
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(line)
    assert(root.get("queries").size() === 181)
    assert(root.get("queries").get("x001_q").asDouble() === -2.5)
    assert(root.get("queries").get("x002_q").asDouble() === 1.0e-7)
    assert(root.get("failed").get(0).asText() === "x001_q")
    assert(root.get("cold").get("x005_q").asDouble() === -1.0, "NaN must sanitize")
    assert(root.get("loadavg_end").asDouble() === -1.0, "Infinity must sanitize")
    assert(root.get("cpu_median_ledger_ratio").asDouble() === -1.0)
    assert(root.get("bracket").get("watch").get("x003_q").asDouble() === 2.3)
    assert(!root.get("contended").asBoolean())
  }

  test("keys and strings carrying quotes, backslashes or newlines round-trip") {
    val key = "x\"q\\uote\nd"
    val line = Bench.artifactLine(
      total = 1.0, queries = Seq(key -> 0.5, "plain" -> 0.25),
      failed = Seq(key), sfDir = "C:\\data\\\"sf\"", runs = 1,
      loadStart = 0.0, loadEnd = 0.0, stealPct = 0.0, ledgerQueries = 0,
      medianRatio = 1.0, p90Ratio = 1.0, cpuMedianRatio = 1.0,
      retried = Nil, suspect = Nil, watch = Nil, familyWatch = Nil,
      epochVerdict = "none", bracketJson = "{}", cold = Nil,
      coldWatch = Nil, cpu = Seq(key -> 1.5), coldCpu = Nil,
      contended = false)
    assert(line.linesIterator.size == 1, "artifact must be ONE line")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(root.get("queries").get(key).asDouble() === 0.5)
    assert(root.get("queries").get("plain").asDouble() === 0.25)
    assert(root.get("failed").get(0).asText() === key)
    assert(root.get("cpu").get(key).asDouble() === 1.5)
    assert(root.get("sf").asText() === "C:\\data\\\"sf\"")
  }
}
