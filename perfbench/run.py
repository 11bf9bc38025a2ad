"""graft end-to-end benchmark.

    python3 perfbench/run.py --workload fresco_etl --seed 1 --seconds 16 --trace 0

Builds graft and the Scala runner from source (`build.py`), generates the
workload's inputs in a separate process (`gen.py`, cached by workload,
seed, scale and generator version), runs the runner JVM directly on `local[nproc]`, checks
every output against the generator's expected results, and prints one
JSON line last: end-to-end metrics with `--trace 0`, per-layer span
metrics with `--trace 1`. Exits non-zero when a check fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build   # noqa: E402
import report  # noqa: E402

WORKLOADS = ("fresco_etl", "corpus_curation")
DEADLINE_S = 170            # a run's time limit once graft is built
KEEP_DATASETS = 24          # ten seeds of each workload stay cached
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def dataset(workload, seed, scale):
    """The generated inputs for (workload, seed, scale) and this version
    of the generator, generating them in a separate process on first use.
    Old datasets are evicted."""
    root = os.path.join(build.BUILD, "data")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(root, f"{workload}-s{seed}-x{scale:g}-{version}")
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--scale", str(scale), "--out", out], check=True)
    os.utime(out)
    others = sorted((os.path.join(root, d) for d in os.listdir(root)
                     if not d.endswith(".tmp")), key=os.path.getmtime)
    for d in others[:-KEEP_DATASETS]:
        shutil.rmtree(d, ignore_errors=True)
    return out


def box():
    """Load average, cumulative steal seconds and usable cores; recorded
    with every run, never used to scale a metric."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load,
            "steal_s": steal}


def run_jvm(cp, workload, data, work, seconds, trace, cores, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
            # compiler threads live as long as the JVM (Main.measure)
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           # a traced run counts filesystem operations (Trace.scala)
           + (["-Dspark.hadoop.fs.file.impl=perfbench.CountingLocalFileSystem"]
              if trace else [])
           + [x for p in JDK_OPENS
              for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--data", data, "--work", work, "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores), "--out", out])
    # the JVM's own stdout goes to stderr: stdout ends with one JSON line
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: runner JVM ran past the time limit")
    finally:
        # also on SIGTERM (see main): the runner JVM never outlives us
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"perfbench: runner JVM exited with {code}")
    # kept beside the build for inspection; the next run replaces it
    shutil.copy(out, os.path.join(build.BUILD, f"last-{workload}.json"))
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 is the benchmark's size)")
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    started = time.time()
    posture = box()
    cp = build.build()
    # building is a checkout's one-off cost; the limit covers the rest
    deadline = time.time() + DEADLINE_S
    data = dataset(a.workload, a.seed, a.scale)
    work = os.path.join(build.BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(cp, a.workload, data, work, a.seconds, a.trace,
                            posture["nproc"], deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    attempted, failed, problems = report.check(a.workload, expected, result)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": v,
                       "unit": "%" if k == report.OVERHEAD
                       else report.unit(k.rsplit(".", 1)[1])}
                   for k, v in report.per_layer(result).items()}
    else:
        metrics = {k: {"value": v, "unit": report.END_TO_END[k]}
                   for k, v in report.end_to_end(a.workload, expected,
                                                 result).items()}
    after = box()
    print("# box " + json.dumps({
        "workload": a.workload, "seed": a.seed, "nproc": posture["nproc"],
        "loadavg_start": posture["loadavg"], "loadavg_end": after["loadavg"],
        "steal_s": round(after["steal_s"] - posture["steal_s"], 2),
        "steps": len(result["steps"]),
        "run_s": round(time.time() - started, 1),
        "rows_per_s": report.rows_per_s(a.workload, expected, result)}))
    print(json.dumps({"correct": failed == 0 and not problems,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 and not problems else 1


if __name__ == "__main__":
    sys.exit(main())
