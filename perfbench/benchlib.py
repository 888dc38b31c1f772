"""Pure helpers of the perfbench harness: percentiles and tail selection,
span self time, call-site to module mapping, and turning the JVM
harness's raw samples into the reported metrics.
"""

import math
import os
import re
import statistics

# Percentiles tried, highest first, when choosing the reported tail.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values, ladder=TAIL_LADDER, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile with at least `min_beyond` samples beyond
    it, as (percentile, value, samples beyond); None when no ladder
    percentile qualifies."""
    for p in ladder:
        k = beyond(len(values), p)
        if k >= min_beyond:
            return p, percentile(values, p), k
    return None


def self_times(spans):
    """Span id -> self time in seconds: the span's duration minus the
    part of its interval that its direct children cover (children that
    overlap each other are counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, cur_s, cur_e = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            cs, ce = max(c["start_ns"], start), min(c["end_ns"], end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (end - start - covered) / 1e9
    return out


_SITE = re.compile(r"\bat ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def file_modules(src_root):
    """Source file name -> module for the program under `src_root`
    (the `graft` package): a file in a sub-package maps to the
    sub-package (`ml`, `queries`, ...), a top-level file to its own
    name (`Pipeline`, `Caches`, ...)."""
    out = {}
    for dirpath, _, files in os.walk(src_root):
        rel = os.path.relpath(dirpath, src_root)
        for f in files:
            if f.endswith(".scala") or f.endswith(".java"):
                out[f] = rel.split(os.sep)[0] if rel != "." else f.rsplit(".", 1)[0]
    return out


def module_of(callsite, modules, default="spark"):
    """Module of a Spark job from its short call site, e.g.
    "count at Pipeline.scala:275" -> "Pipeline". Call sites outside the
    mapped files (Spark's own threads, such as broadcast builds) map to
    `default`."""
    m = _SITE.search(callsite or "")
    if not m:
        return default
    return modules.get(m.group(1), default)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- metric derivation ------------------------------------------------------

SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "executor_cpu_s",
                  "gc_s", "scheduler_delay_s", "stage_skew")
_COUNTER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                  "stage_skew": "ratio"}

# (name, unit) of the gated end-to-end metrics of every untraced run
E2E = (
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("spark_jobs_per_op", "count"),
    ("peak_rss_mb", "MiB"),
    ("stored_bytes_per_input_byte", "ratio"),
)

# end-to-end wall-clock metrics, printed by every untraced run but not
# gated: on a shared host their run-to-run spread exceeds any bound the
# benchmark may set (see README)
WALL = (
    ("docs_per_s", "docs/s"),
    ("batch_latency_p50_s", "s"),
    ("batch_latency_tail_s", "s"),
)

# modules whose jobs are counted per operation; on the gated workloads
# only the stream's jobs have a program call site (the query's start)
GATED_MODULES = ("streaming",)
RELEASE_MODULES = ("Pipeline", "Caches", "queries", "ml", "operators", "sources",
                   "functions")


def _module_metrics(mods):
    return tuple((m + k, u) for m in mods for k, u in
                 ((".jobs", "count"), (".job_s", "s"), (".executor_cpu_s", "s")))


# (name, unit) of the per-layer metrics, reported by every traced run
PER_LAYER = (
    ("functions.Tokenize.tokensByLang_s", "s"),
    ("functions.tokens", "count"),
    ("agg.VecAgg.weightedSum_s", "s"),
    ("agg.VecAgg.rows", "count"),
    ("sources.FastTextVec.read_s", "s"),
    ("sources.FastTextVec.words", "count"),
    ("queries.wordvecsByLang_s", "s"),
    ("queries.vocab_rows", "count"),
    ("queries.docVectorsByLang_s", "s"),
    ("queries.known_token_ratio", "ratio"),
    ("streaming.DedupStream.batch_s", "s"),
    ("streaming.start_wait_s", "s"),
    ("streaming.accepted", "count"),
    ("streaming.dup_dropped", "count"),
    ("streaming.planted_dup_recall", "ratio"),
    ("sources.store_bytes_written_per_batch", "bytes"),
    ("sources.vectors_rewrite_ratio", "ratio"),
    ("sources.store_files", "count"),
) + _module_metrics(GATED_MODULES) + tuple(
    ("spark." + k, _COUNTER_UNITS.get(k, "s" if k.endswith("_s") else "bytes"))
    for k in SPARK_COUNTERS) + (
    ("trace.overhead_ratio", "ratio"),
    ("baseline.local1_docs_per_s", "docs/s"),
)

# extra per-layer metrics of the (ungated) release_pipeline workload
RELEASE_LAYER = (
    ("Pipeline.run_s", "s"),
    ("sources.VersionedStore.readTable_s", "s"),
    ("Caches.cached_bytes_peak", "bytes"),
) + _module_metrics(RELEASE_MODULES)


def end_to_end(raw):
    """The end-to-end metrics of an untraced run as name -> (value,
    unit): the gated ones, the wall-clock ones, and the tail's
    percentile and sample count."""
    ops = [o for o in raw["ops"] if not o["traced"]] or raw["ops"]
    lat = [o["latency_s"] for o in ops]
    med = median(lat)
    t = tail(lat)
    docs = median([o["docs"] for o in ops])
    vals = {
        "setup_s": median(raw["setup_s"]),
        "docs_per_s": docs / med,
        "cpu_s": median([o["cpu_s"] for o in ops]),
        "spark_jobs_per_op": median([o["jobs"] for o in ops]),
        "batch_latency_p50_s": med,
        # below 11 samples no percentile has 10 beyond it: the maximum
        "batch_latency_tail_s": t[1] if t else max(lat),
        "peak_rss_mb": raw["peak_rss_mb"],
        "stored_bytes_per_input_byte": raw["stored_bytes"] / raw["input_text_bytes"],
    }
    info = {"samples": len(lat),
            "tail_percentile": t[0] if t else 100.0,
            "tail_samples_beyond": t[2] if t else 0}
    return ({n: (vals[n], u) for n, u in E2E},
            {n: (vals[n], u) for n, u in WALL}, info)


def span_index(raw):
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    return by_id, kids


def descendants(root, kids):
    out, stack = [], [root]
    while stack:
        x = stack.pop()
        out.append(x)
        stack.extend(kids.get(x, []))
    return out


def span_counters(raw):
    """Span id -> Spark counters summed over the jobs of the span and
    its descendants (stage_skew: the largest over those jobs)."""
    by_id, kids = span_index(raw)
    jobs_by_span = {}
    for j in raw["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    out = {}
    for sid in by_id:
        js = [j for d in descendants(sid, kids) for j in jobs_by_span.get(d, [])]
        c = {k: 0.0 for k in SPARK_COUNTERS}
        c["jobs"] = float(len(js))
        c["stage_skew"] = max([j["stage_skew"] for j in js], default=1.0)
        for j in js:
            for k in SPARK_COUNTERS:
                if k not in ("jobs", "stage_skew"):
                    c[k] += j[k]
        out[sid] = c
    return out


def per_layer(raw, modules, names):
    """The per-layer metrics in `names` (name -> unit) as name -> (value,
    unit), from a traced run's spans, jobs and the harness's layer
    counts. Layers the workload does not exercise read 0."""
    spans = raw["spans"]
    dur = {}
    for s in spans:
        dur.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    # top-level operation spans (a warm-up operation inside set-up is not one)
    ops = [s for s in spans if s["name"] == "op" and s["parent"] == 0]
    counters = span_counters(raw)
    layer = raw.get("layer", {})
    vals = {}

    def span_s(name):
        return median(dur.get(name, []))

    for span in ("functions.Tokenize.tokensByLang", "agg.VecAgg.weightedSum",
                 "sources.FastTextVec.read", "queries.wordvecsByLang",
                 "queries.docVectorsByLang", "streaming.DedupStream.batch",
                 "Pipeline.run", "sources.VersionedStore.readTable"):
        vals[span + "_s"] = span_s(span)
    for k in ("functions.tokens", "agg.VecAgg.rows", "sources.FastTextVec.words",
              "queries.vocab_rows", "queries.known_token_ratio",
              "streaming.accepted", "streaming.dup_dropped",
              "streaming.planted_dup_recall", "Caches.cached_bytes_peak"):
        vals[k] = float(layer.get(k, 0.0))

    # time from a micro-batch's start() call to its first Spark job
    first_job = {}
    for j in raw["jobs"]:
        first_job[j["span"]] = min(first_job.get(j["span"], j["start_ms"]), j["start_ms"])
    by_id, kids = span_index(raw)
    waits = []
    for s in spans:
        if s["name"] == "streaming.DedupStream.batch":
            starts = [first_job[d] for d in descendants(s["id"], kids) if d in first_job]
            if starts:
                waits.append(max(0.0, (min(starts) - s["start_wall_ms"]) / 1e3))
    vals["streaming.start_wait_s"] = median(waits)

    traced_ops = [o for o in raw["ops"] if o["traced"]]
    for k, name in (("store_bytes_written", "sources.store_bytes_written_per_batch"),
                    ("store_files", "sources.store_files")):
        vals[name] = median([o[k] for o in traced_ops if k in o])
    ratios = [o["vectors_bytes_written"] / o["vectors_new_bytes"]
              for o in traced_ops
              if o.get("vectors_new_bytes", 0) > 0]
    vals["sources.vectors_rewrite_ratio"] = median(ratios)

    # per-module job counts, job seconds and executor CPU, per traced op
    n_ops = max(len(ops), 1)
    op_ids = set()
    for o in ops:
        op_ids.update(descendants(o["id"], kids))
    per_mod = {m: [0, 0.0, 0.0] for m in GATED_MODULES + RELEASE_MODULES}
    for j in raw["jobs"]:
        if j["span"] not in op_ids:
            continue
        m = module_of(j["callsite"], modules)
        if m in per_mod:
            per_mod[m][0] += 1
            per_mod[m][1] += (j["end_ms"] - j["start_ms"]) / 1e3
            per_mod[m][2] += j["executor_cpu_s"]
    for m, (n, js, cpu) in per_mod.items():
        vals[m + ".jobs"] = n / n_ops
        vals[m + ".job_s"] = js / n_ops
        vals[m + ".executor_cpu_s"] = cpu / n_ops

    # Spark counters of the operation span, median over traced ops
    for k in SPARK_COUNTERS:
        vals["spark." + k] = median([counters[o["id"]][k] for o in ops])

    traced = [o["latency_s"] for o in raw["ops"] if o["traced"]]
    untraced = [o["latency_s"] for o in raw["ops"] if not o["traced"]]
    vals["trace.overhead_ratio"] = (median(traced) / median(untraced) - 1.0
                                    if traced and untraced else 0.0)
    base = raw.get("baseline_local1")
    vals["baseline.local1_docs_per_s"] = (base["docs"] / base["latency_s"]
                                          if base else 0.0)
    missing = set(names) - set(vals)
    if missing:
        raise KeyError("per-layer metrics not derived: %s" % sorted(missing))
    return {n: (vals[n], names[n]) for n in names}


def span_report(raw, modules):
    """Per span name: count, median duration and self time, and the
    median Spark counters — written beside the spans of a traced run."""
    st = self_times(raw["spans"])
    counters = span_counters(raw)
    groups = {}
    for s in raw["spans"]:
        groups.setdefault(s["name"], []).append(s)
    out = {}
    for name, ss in sorted(groups.items()):
        out[name] = {
            "count": len(ss),
            "median_s": median([(s["end_ns"] - s["start_ns"]) / 1e9 for s in ss]),
            "median_self_s": median([st[s["id"]] for s in ss]),
        }
        for k in SPARK_COUNTERS:
            out[name]["spark." + k] = median([counters[s["id"]][k] for s in ss])
    mods = {}
    for j in raw["jobs"]:
        m = module_of(j["callsite"], modules)
        a = mods.setdefault(m, {"jobs": 0, "job_s": 0.0, "executor_cpu_s": 0.0})
        a["jobs"] += 1
        a["job_s"] += (j["end_ms"] - j["start_ms"]) / 1e3
        a["executor_cpu_s"] += j["executor_cpu_s"]
    return {"spans": out, "modules": mods}
