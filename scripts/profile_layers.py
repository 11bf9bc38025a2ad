#!/usr/bin/env python3
"""Splits a JFR recording of a perfbench run into engine layers.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile" \\
        python3 perfbench/run.py --workload corpus_curation --seed 1 \\
        --seconds 16 --trace 1
    jfr print --json --stack-depth 512 \\
        --events jdk.ExecutionSample,jdk.JVMInformation run.jfr \\
        | python3 scripts/profile_layers.py - .bench_build/last-corpus_curation.json

The first input is `jfr print --json` output (a path, or `-` for stdin;
the JSON of a whole run runs to gigabytes, so it is read one event at a
time). The second is the runner's result JSON, which perfbench keeps at
`.bench_build/last-<workload>.json`.

A traced run (`--trace 1`) keeps the samples inside each span's
`[t0_ms, t1_ms]` and reports one table per span name. An untraced run has
no spans: it keeps the samples taken after `setup_s`, measured from the
JVM's start (the `jdk.JVMInformation` event when the recording holds one,
else the first sample), and reports them as one `timed steps` table.

Each sample goes to the layer of its innermost frame that matches one of
`LAYERS`; where one frame matches several, the earlier layer wins. A
sample with no matching frame is `other`. The `main` column counts the
samples of the runner's main thread, the driver's.
"""

import datetime
import json
import re
import sys

# (layer, pattern over "package.Class.method") in precedence order.
# Patterns name the frames that do a layer's own work; shared helpers
# (radix sort, compression, row serializers) match nothing, so the
# caller's frame decides.
LAYERS = [
    ("AQE/explain",
     r"\.sql\.execution\.adaptive\."
     r"|\.QueryExecution\.(explainString|simpleString|writePlans)"
     r"|\.catalyst\.trees\.TreeNode\.(treeString|generateTreeString"
     r"|argString|simpleString|verboseString|toString)"
     r"|\.catalyst\.plans\.QueryPlan\.(simpleString|verboseString"
     r"|simpleStringWithNodeId)"
     r"|\.catalyst\.util\.StringConcat"
     r"|\.sql\.execution\.ExplainUtils"),
    ("Catalyst",
     r"\.sql\.catalyst\.(analysis|optimizer|rules|trees|plans)\."
     r"|\.catalyst\.expressions\.codegen\.(CodeGenerator|Generate"
     r"|CodegenContext|CodeFormatter)"
     r"|^org\.codehaus\."
     r"|\.sql\.execution\.(QueryExecution|SparkPlanner|SparkStrategies"
     r"|SparkOptimizer|CacheManager|CollapseCodegenStages"
     r"|WholeStageCodegenExec\.doCodeGen|exchange\.EnsureRequirements)"
     r"|\.sql\.classic\.Dataset\.<init>"),
    ("task deserialization",
     r"^java\.io\.ObjectInputStream"
     r"|\.serializer\.JavaDeserializationStream"
     r"|\.serializer\.JavaSerializerInstance\.deserialize"
     r"|\.scheduler\.Task\$\.deserializeWithDependencies"),
    ("hash aggregation",
     r"\.unsafe\.map\.BytesToBytesMap"
     r"|\.sql\.execution\.UnsafeFixedWidthAggregationMap"
     r"|\.sql\.execution\.aggregate\."),
    ("sort",
     r"\.unsafe\.sort\.UnsafeExternalSorter"
     r"|\.unsafe\.sort\.UnsafeInMemorySorter"
     r"|\.unsafe\.sort\.UnsafeSorterSpill"
     r"|\.sql\.execution\.UnsafeExternalRowSorter"
     r"|\.sql\.execution\.SortExec"),
    ("shuffle write",
     r"\.spark\.shuffle\.(sort\.|ShuffleWriteProcessor"
     r"|IndexShuffleBlockResolver)"
     r"|\.storage\.DiskBlockObjectWriter"),
    ("broadcast build",
     r"\.exchange\.BroadcastExchangeExec"
     r"|\.joins\.(HashedRelation\$|UnsafeHashedRelation\$"
     r"|LongHashedRelation\$|HashedRelationBroadcastMode"
     r"|LongToUnsafeRowMap\.(append|optimize|<init>))"
     r"|\.broadcast\.TorrentBroadcast"),
    ("cache build",
     r"\.sql\.execution\.columnar\.(DefaultCachedBatchSerializer"
     r"|CachedRDDBuilder|.*ColumnBuilder|compression\.)"
     r"|\.storage\.memory\.MemoryStore\.put"),
    ("Parquet",
     r"^org\.apache\.parquet\.|\.datasources\.parquet\."),
    ("CSV",
     r"^com\.univocity\.|\.sql\.catalyst\.csv\.|\.datasources\.csv\."),
    ("generated code", r"\.GeneratedClass\$"),
    ("scheduler and listener",
     r"\.scheduler\.(DAGScheduler|TaskSchedulerImpl|TaskSetManager"
     r"|LiveListenerBus|AsyncEventQueue|SparkListenerBus"
     r"|local\.LocalEndpoint|Pool|FIFOSchedulingAlgorithm)"
     r"|\.spark\.util\.(ListenerBus|EventLoop)"
     r"|\.spark\.status\.|\.sql\.execution\.ui\."
     r"|\.spark\.rpc\."),
]
OTHER = "other"
ORDER = [name for name, _ in LAYERS] + [OTHER]
_COMPILED = [(name, re.compile(p)) for name, p in LAYERS]


def layer_of(frames):
    """The layer of a sample whose frames (innermost first) are
    "package.Class.method" strings."""
    for f in frames:
        for name, pat in _COMPILED:
            if pat.search(f):
                return name
    return OTHER


def epoch_ms(ts):
    """Epoch milliseconds of a JFR ISO-8601 timestamp (nanosecond
    fractions allowed)."""
    m = re.fullmatch(r"([^.Z+]+)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)?", ts)
    if not m:
        raise ValueError(f"unreadable timestamp {ts!r}")
    base, frac, zone = m.groups()
    t = datetime.datetime.fromisoformat(
        base + ("+00:00" if zone in (None, "Z") else zone))
    return t.timestamp() * 1e3 + (float("0." + frac) * 1e3 if frac else 0.0)


def events(lines):
    """Yields the event objects of `jfr print --json` output one at a
    time. The tool writes each element of the `events` array between
    separator lines at one indentation; anything else is parsed whole."""
    it = iter(lines)
    head = []
    for line in it:
        head.append(line)
        if line.rstrip().endswith('"events": [{'):
            break
    else:
        doc = json.loads("".join(head))
        yield from doc["recording"]["events"]
        return
    ind = head[-1][:len(head[-1]) - len(head[-1].lstrip())]
    sep, end = ind + "}, {", ind + "}]"
    body = []
    for line in it:
        s = line.rstrip()
        if s in (sep, end):
            yield json.loads("{" + "".join(body) + "}")
            body = []
            if s == end:
                return
        else:
            body.append(line)


def frame_name(frame):
    m = frame["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def samples(lines):
    """(epoch ms, thread name, layer) per execution sample, and the JVM's
    start in epoch ms (None when the recording does not say)."""
    out, start = [], None
    for ev in events(lines):
        v = ev["values"]
        if ev["type"] == "jdk.JVMInformation":
            start = epoch_ms(v["jvmStartTime"])
        elif ev["type"] == "jdk.ExecutionSample":
            frames = (v.get("stackTrace") or {}).get("frames") or []
            thread = (v.get("sampledThread") or {}).get("javaName") or ""
            out.append((epoch_ms(v["startTime"]), thread,
                        layer_of([frame_name(f) for f in frames])))
    return out, start


def windows(result, sampled, jvm_start):
    """{window name: [(t0_ms, t1_ms), ...]} for a run's result JSON."""
    spans = result.get("spans") or []
    if spans:
        out = {}
        for s in spans:
            out.setdefault(s["name"], []).append((s["t0_ms"], s["t1_ms"]))
        return out
    if jvm_start is None:
        jvm_start = min((t for t, _, _ in sampled), default=0.0)
    return {"timed steps": [(jvm_start + 1e3 * result["setup_s"],
                             float("inf"))]}


def tables(sampled, wins):
    """{window: {layer: (samples, main-thread samples)}}."""
    out = {}
    for name, spans in wins.items():
        counts = {layer: [0, 0] for layer in ORDER}
        for t, thread, layer in sampled:
            if any(a <= t <= b for a, b in spans):
                counts[layer][0] += 1
                counts[layer][1] += thread == "main"
        out[name] = {k: tuple(v) for k, v in counts.items()}
    return out


def render(tabs, wins):
    lines = []
    for name, counts in tabs.items():
        total = sum(n for n, _ in counts.values())
        main = sum(m for _, m in counts.values())
        lines.append(f"== {name}: {len(wins[name])} window(s), {total} "
                     f"samples, {main} on main ==")
        lines.append(f"{'layer':<24}{'samples':>9}{'share':>8}{'main':>7}")
        for layer in ORDER:
            n, m = counts[layer]
            share = 100.0 * n / total if total else 0.0
            lines.append(f"{layer:<24}{n:>9}{share:>7.1f}%{m:>7}")
    return "\n".join(lines)


def main(argv=None):
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        sys.exit(__doc__)
    jfr_json, result_json = argv
    if jfr_json == "-":
        sampled, start = samples(sys.stdin)
    else:
        with open(jfr_json) as f:
            sampled, start = samples(f)
    with open(result_json) as f:
        result = json.load(f)
    wins = windows(result, sampled, start)
    print(render(tables(sampled, wins), wins))


if __name__ == "__main__":
    main()
