"""Turns one run's raw result (steps, spans, observations) into checks and
metrics. Pure functions over plain data, so the tests can feed them
synthetic timelines.
"""

import statistics

# Per-layer spans and the metrics each reports (`<span>.<metric>`).
SPAN_METRICS = {
    "etl.ingest": "wall_s plan_s driver_s cpu_s gc_s core_util jobs in_bytes "
                  "shuf_w_bytes fetch_wait_s spill_bytes out_bytes fs_writes",
    "etl.widen": "wall_s plan_s driver_s cpu_s core_util jobs in_bytes in_rows "
                 "out_bytes fs_reads fs_writes",
    "curation.split": "wall_s cpu_s gc_s core_util jobs shuf_w_bytes "
                      "shuf_r_bytes fetch_wait_s spill_bytes peak_mem_bytes",
    "curation.curate": "wall_s cpu_s gc_s core_util jobs shuf_w_bytes "
                       "shuf_r_bytes fetch_wait_s spill_bytes peak_mem_bytes",
    "curation.mix": "wall_s cpu_s gc_s core_util jobs shuf_w_bytes "
                    "shuf_r_bytes fetch_wait_s spill_bytes peak_mem_bytes",
}
SPAN_METRICS = {k: v.split() for k, v in SPAN_METRICS.items()}

# Extra per-layer metric a traced run reports beside the spans.
OVERHEAD = "trace.overhead_pct"

UNITS = {"wall_s": "s", "plan_s": "s", "driver_s": "s", "cpu_s": "s",
         "gc_s": "s", "fetch_wait_s": "s", "core_util": "ratio",
         "jobs": "count", "in_rows": "rows", "fs_reads": "count",
         "fs_writes": "count"}

END_TO_END = {
    "setup_s": "s", "cpu_us_per_row": "us", "peak_rss_mb": "MB",
    "store_bytes_per_row": "bytes",
}


def unit(metric):
    return UNITS.get(metric, "bytes")


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_figures(rec):
    """Per-instance figures of one span record.

    `driver_s` is the span's self time on the driver: its wall time minus
    the time some Spark job of the span was running, minus Catalyst time.
    """
    wall = (rec["t1_ms"] - rec["t0_ms"]) / 1e3
    busy = union_ms(rec["jobs_ms"], rec["t0_ms"], rec["t1_ms"]) / 1e3
    plan = rec["plan_ms"] / 1e3
    g = rec.get
    return {
        "wall_s": wall, "plan_s": plan,
        "driver_s": max(0.0, wall - busy - plan),
        "busy_s": busy, "run_s": g("run_ms", 0) / 1e3,
        "cpu_s": g("cpu_ns", 0) / 1e9, "gc_s": g("gc_ms", 0) / 1e3,
        "jobs": len(rec["jobs_ms"]), "in_bytes": g("in_bytes", 0),
        "in_rows": g("in_rows", 0), "shuf_w_bytes": g("shuf_w_bytes", 0),
        "shuf_r_bytes": g("shuf_r_bytes", 0),
        "fetch_wait_s": g("fetch_wait_ms", 0) / 1e3,
        "spill_bytes": g("spill_bytes", 0), "out_bytes": g("out_bytes", 0),
        "fs_reads": g("fs_reads", 0), "fs_writes": g("fs_writes", 0),
        "peak_mem_bytes": g("peak_mem_bytes", 0),
    }


def layer_metrics(spans, cores):
    """Every declared `<span>.<metric>`: per-instance medians, except
    `core_util` (task run time over job-busy time times cores, summed over
    the span's instances) and `peak_mem_bytes` (the maximum). A span this
    workload never opened reports 0."""
    out = {}
    for name, metrics in SPAN_METRICS.items():
        figs = [span_figures(r) for r in spans if r["name"] == name]
        for m in metrics:
            if not figs:
                v = 0.0
            elif m == "core_util":
                v = (sum(f["run_s"] for f in figs) /
                     max(sum(f["busy_s"] for f in figs) * cores, 1e-9))
            elif m == "peak_mem_bytes":
                v = max(f[m] for f in figs)
            else:
                v = statistics.median(f[m] for f in figs)
            out[f"{name}.{m}"] = float(v)
    return out


def tracing_overhead_pct(steps):
    """Traced against untraced step time, as the ratio of their medians:
    the cost of the listeners and bus drains."""
    on = [s["seconds"] for s in steps if s["traced"]]
    off = [s["seconds"] for s in steps if not s["traced"]]
    if not on or not off:
        return 0.0
    return 100 * (statistics.median(on) / statistics.median(off) - 1)


def input_rows(workload, expected, steps):
    """Input rows each step consumed: raw metric CSV rows per month, or
    documents per corpus batch."""
    if workload == "fresco_etl":
        rows = {f"m{i:02d}": m["raw_rows"]
                for i, m in enumerate(expected["months"])}
        return [rows[s["month"]] for s in steps]
    docs = {f"b{i:02d}": b["docs"] for i, b in enumerate(expected["batches"])}
    return [docs[s["batch"]] for s in steps]


def rows_per_s(workload, expected, result):
    """Median over the timed steps of input rows per wall second. Printed
    with every run but not a metric: on a shared 4-core, 16 GB machine its
    spread over ten seeds exceeded every bound the benchmark may set."""
    rows = input_rows(workload, expected, result["steps"])
    return statistics.median(
        n / s["seconds"] for n, s in zip(rows, result["steps"]))


def end_to_end(workload, expected, result):
    """CPU per row is a median over the timed steps, so one step that
    meets a noisy neighbour does not set it. It leaves out the JIT
    compiler's threads, whose share is warm-up (Main.measure)."""
    steps = result["steps"]
    rows = input_rows(workload, expected, steps)
    obs = result["observed"]
    return {
        "setup_s": result["setup_s"],
        "cpu_us_per_row": statistics.median(
            1e6 * s["cpu_s"] / n for n, s in zip(rows, steps)),
        "peak_rss_mb": result["peak_rss_mb"],
        "store_bytes_per_row": obs["store_bytes"] / obs["store_rows"],
    }


def per_layer(result):
    out = layer_metrics(result["spans"], result["cores"])
    out[OVERHEAD] = tracing_overhead_pct(result["steps"])
    return out


# ------------------------------------------------------------------ checks

def check(workload, expected, result):
    """Returns (attempted, failed, problems): every timed step (a month or
    a corpus batch) is one attempted operation, failed when any of its
    outputs is wrong."""
    return CHECKS[workload](expected, result)


def _check_fresco(expected, result):
    months = {m["ym"]: m for m in expected["months"]}
    obs = result["observed"]
    problems = []
    steps = result["steps"]
    failed = 0
    for s in steps:
        ym, bad = s["ym"], []
        exp = months[ym]
        if obs["store_rows_by_ym"].get(ym) != exp["stored_rows"]:
            bad.append(f"store rows {obs['store_rows_by_ym'].get(ym)} != "
                       f"{exp['stored_rows']}")
        sink = obs["sinks"].get(ym, {})
        if sink.get("days") != exp["widen_days"]:
            bad.append("per-day widened row counts differ")
        events = {k[len("value_"):]: v for k, v in sink.get("events", {})
                  .items()}
        want = {e: exp["widen_events"].get(e, 0) for e in events}
        if not events or events != want:
            bad.append(f"per-event non-null counts {events} != {want}")
        if bad:
            failed += 1
            problems.append(f"{ym}: " + "; ".join(bad))
    stored = sorted(obs["store_rows_by_ym"])
    want_total = sum(months[ym]["stored_rows"] for ym in stored)
    if (obs["store_distinct_keys"] != obs["store_rows"]
            or obs["store_rows"] != want_total):
        problems.append(f"store holds {obs['store_rows']} rows, "
                        f"{obs['store_distinct_keys']} distinct keys, "
                        f"expected {want_total} each")
        failed = len(steps)
    return len(steps), failed, problems


def _check_corpus(expected, result):
    batches = {f"b{i:02d}": b for i, b in enumerate(expected["batches"])}
    problems = []
    failed = 0
    for s in result["steps"]:
        exp = batches[s["batch"]]
        bad = []
        got = s["survivors"]
        if len(got) != len(exp["survivors"]):
            bad.append(f"{len(got)} survivors, want {len(exp['survivors'])}")
        elif got != exp["survivors"]:
            bad.append("survivor ids differ")
        alive = set(got)
        both = [p for p in exp["dup_pairs"] if p[0] in alive and p[1] in alive]
        if both:
            bad.append(f"{len(both)} planted duplicate pairs survive")
        if s["splits"] != exp["split_sizes"]:
            bad.append(f"split sizes {s['splits']} != {exp['split_sizes']}")
        if (s["mix_docs"], s["mix_tokens"]) != (exp["mix_docs"],
                                                exp["mix_tokens"]):
            bad.append(f"mix ({s['mix_docs']} docs, {s['mix_tokens']} "
                       f"packed tokens) != ({exp['mix_docs']}, "
                       f"{exp['mix_tokens']})")
        if bad:
            failed += 1
            problems.append(f"{s['batch']}: " + "; ".join(bad))
    return len(result["steps"]), failed, problems


CHECKS = {"fresco_etl": _check_fresco, "corpus_curation": _check_corpus}
