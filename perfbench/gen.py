"""Seeded input generator for the graft benchmark.

Run as its own process:

    python3 perfbench/gen.py --workload fresco_etl --seed 7 --scale 1.0 --out DIR

It writes the inputs one workload needs under DIR, plus ``expected.json``:
results computed here, from the generated rows, never by graft. The same
(workload, seed, scale) always gives byte-identical files.

Values carry realistic entropy (lognormal counters, random hosts and jobs,
random text) so that stored bytes per row and input bytes mean something.
"""

import argparse
import calendar
import datetime as dt
import hashlib
import json
import os
import sys

import numpy as np

SAMPLE_S = 600          # Conte TACC-stats sampling interval
EPOCH = dt.datetime(1970, 1, 1)


def hash60(s):
    """graft's portable 60-bit id hash: first 15 hex digits of md5."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def write_lines(path, header, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write(header + "\n")
        if lines:
            f.write("\n".join(lines) + "\n")


def month_start(m):
    y, mo = 2015 + m // 12, 1 + m % 12
    return dt.datetime(y, mo, 1), calendar.monthrange(y, mo)[1]


def raw_ts(t):
    """Conte's raw `M/d/yyyy H:mm:ss` (F9) for an epoch second."""
    d = EPOCH + dt.timedelta(seconds=int(t))
    return f"{d.month}/{d.day}/{d.year} {d.hour}:{d.minute:02d}:{d.second:02d}"


def iso_ts(t):
    return (EPOCH + dt.timedelta(seconds=int(t))).strftime("%Y-%m-%d %H:%M:%S")


HOSTS = [f"conte-{r}{i:03d}" for r in "abcd" for i in range(128)]

# ---------------------------------------------------------------- fresco_etl

METRIC_COLS = {
    "block": ["rd_sectors", "wr_sectors", "rd_ticks", "wr_ticks"],
    "cpu": ["user", "nice", "system", "idle", "iowait", "irq", "softirq"],
    "mem": ["MemTotal", "MemFree", "FilePages"],
    "llite": ["read_bytes", "write_bytes"],
}
# FRESCO events each raw file yields, one row per event (mem yields two)
METRIC_EVENTS = {"block": ["block"], "cpu": ["cpuuser"],
                 "mem": ["memused", "memused_minus_diskcache"],
                 "llite": ["nfs"]}


def metric_values(rng, metric, n):
    """Per-sample counters with lognormal spread."""
    def ln(mu, sigma):
        return np.round(rng.lognormal(mu, sigma, n)).astype(np.int64)
    if metric == "block":
        return [ln(16, 2), ln(15, 2), ln(11, 1.5), ln(10, 1.5)]
    if metric == "cpu":
        return [ln(12, 1), ln(6, 2), ln(10, 1), ln(13, 1), ln(8, 2),
                ln(3, 1), ln(6, 1)]
    if metric == "mem":
        total = np.full(n, 32 << 30, dtype=np.int64)
        free = np.minimum(total, ln(22.5, 0.8))
        pages = np.minimum(total - free, ln(21.5, 1.0))
        return [total, free, pages]
    return [ln(20, 2), ln(18, 2)]


def month_samples(rng, m, rows_per_file, jobs_per_month):
    """One month of (job, host, slot) samples with skewed job sizes.

    Returns (samples dict of arrays, accounting jobs list).
    """
    start, ndays = month_start(m)
    t0 = int((start - EPOCH).total_seconds())
    slots = ndays * 86400 // SAMPLE_S
    # Pareto job weights: a few jobs own most samples, as on a real cluster
    # capped at 200x the smallest, so that no single job (or one job missing
    # from accounting) decides how much work a month holds
    w = np.minimum(rng.pareto(1.2, jobs_per_month) + 0.05, 10.0)
    alloc = np.maximum(1, np.round(w / w.sum() * rows_per_file)).astype(int)
    nodes = np.minimum(16, rng.geometric(0.5, jobs_per_month))
    per_node = np.maximum(1, np.minimum(alloc // nodes, slots // 2))
    job_ids = 1000000 + m * 100000 + rng.choice(90000, jobs_per_month,
                                                replace=False)
    # ~2% of samples come from jobs that accounting never saw
    unknown = rng.random(jobs_per_month) < 0.02
    j_idx, h_idx, s_idx = [], [], []
    jobs = []
    for j in range(jobs_per_month):
        n, k = int(per_node[j]), int(nodes[j])
        s0 = int(rng.integers(0, slots - n))
        hs = rng.choice(len(HOSTS), k, replace=False)
        for h in hs:
            j_idx.append(np.full(n, j))
            h_idx.append(np.full(n, h))
            s_idx.append(np.arange(s0, s0 + n))
        if unknown[j]:
            continue
        start_t = t0 + s0 * SAMPLE_S
        last_t = start_t + (n - 1) * SAMPLE_S
        # ~5% of jobs were killed before their last sample was taken
        end_t = (start_t + (n - 1) * SAMPLE_S * 7 // 10
                 if rng.random() < 0.05 else last_t + 60)
        ncpus = 16 * k
        jobs.append(dict(
            id=int(job_ids[j]), qtime=start_t - int(rng.integers(30, 7200)),
            start=start_t, end=end_t, hosts=[HOSTS[h] for h in sorted(hs)],
            ncpus=ncpus, nodect=k,
            walltime=int(rng.choice([1, 2, 4, 8, 12, 24, 48])),
            account=f"acct{int(rng.integers(0, 300)):03d}",
            queue=str(rng.choice(["standby", "normal", "long", "debug"])),
            name=f"job_{int(rng.integers(0, 1 << 30)):x}",
            user=f"u{int(rng.integers(0, 900)):04d}",
            event=str(rng.choice(["E", "E", "E", "A"])),
            exit=str(rng.choice(["0", "0", "0", "1", "137", "271"]))))
    j_idx = np.concatenate(j_idx)
    h_idx = np.concatenate(h_idx)
    s_idx = np.concatenate(s_idx)
    # realistic dump order: per host, then time
    order = np.lexsort((s_idx, h_idx))
    return dict(job=job_ids[j_idx[order]], host=h_idx[order],
                t=t0 + s_idx[order] * SAMPLE_S), jobs


def corrupt(rng, line_fields, ncols):
    """One of the malformed shapes P4/P5 drop: a missing counter, a
    non-numeric counter, or an unparseable timestamp."""
    kind = int(rng.integers(0, 3))
    f = list(line_fields)
    if kind == 0:
        f[3 + int(rng.integers(0, ncols))] = ""
    elif kind == 1:
        f[3 + int(rng.integers(0, ncols))] = "n/a"
    else:
        f[2] = "13/45/2015 99:99:99"
    return f


def gen_fresco(rng, out, scale):
    rows_per_file = max(200, int(6000 * scale))
    jobs_per_month = max(20, int(480 * scale))
    months = 11                           # 2 set-up months, up to 9 timed
    expect = {"months": []}
    prev = None                           # previous month's raw lines
    for m in range(months):
        smp, jobs = month_samples(rng, m, rows_per_file, jobs_per_month)
        n = len(smp["t"])
        ts_str = {t: raw_ts(t) for t in np.unique(smp["t"])}
        base = [[f"jobID{j}", HOSTS[h], ts_str[t]] for j, h, t in
                zip(smp["job"].tolist(), smp["host"].tolist(),
                    smp["t"].tolist())]
        valid = {}
        lines = {}
        for metric, cols in METRIC_COLS.items():
            vals = [v.tolist() for v in metric_values(rng, metric, n)]
            bad = rng.random(n) < 0.01
            ok = ~bad
            out_lines = []
            for i in range(n):
                f = base[i] + [str(v[i]) for v in vals]
                if bad[i]:
                    f = corrupt(rng, f, len(cols))
                out_lines.append(",".join(f))
            valid[metric] = ok
            lines[metric] = out_lines
        redeliver = {}
        if prev is not None:
            # ~5% of last month's lines arrive again, byte for byte
            pick = np.sort(rng.choice(len(prev["block"]),
                                      len(prev["block"]) // 20,
                                      replace=False))
            redeliver = {k: [prev[k][i] for i in pick] for k in prev}
        for metric, cols in METRIC_COLS.items():
            all_lines = lines[metric] + redeliver.get(metric, [])
            # four part files per folder, as a dump split by host group
            header = ",".join(["jobID", "node", "timestamp"] + cols)
            parts = np.array_split(np.arange(len(all_lines)), 4)
            for p, idx in enumerate(parts):
                write_lines(os.path.join(out, f"m{m:02d}", metric,
                                         f"part-{p}.csv"), header,
                            [all_lines[i] for i in idx])
        write_lines(os.path.join(out, f"m{m:02d}", "jobs.csv"),
                    "jobID,qtime,start,end,Resource_List.walltime,"
                    "Resource_List.nodect,Resource_List.ncpus,account,"
                    "queue,jobname,user,group,exec_host,jobevent,"
                    "Exit_status",
                    [",".join([
                        f"{j['id']}.conte-adm.rcac.purdue.edu",
                        iso_ts(j["qtime"]), iso_ts(j["start"]),
                        iso_ts(j["end"]), f"{j['walltime']}:00:00",
                        str(j["nodect"]), str(j["ncpus"]), j["account"],
                        j["queue"], j["name"], j["user"], "users",
                        "+".join(f"{h}/{c}" for h in j["hosts"]
                                 for c in range(2)),
                        j["event"], j["exit"]]) for j in jobs])
        prev = lines
        # expected results: FRESCO rows stored for this month, and the
        # Stage-2 rows per day of the month (sample inside its job)
        known = {j["id"]: (j["start"], j["end"]) for j in jobs}
        inside = np.array([
            (jid in known and known[jid][0] <= t <= known[jid][1])
            for jid, t in zip(smp["job"].tolist(), smp["t"].tolist())])
        day = np.array([(EPOCH + dt.timedelta(seconds=int(t))).day
                        for t in smp["t"].tolist()])
        stored = 0
        widen_events = {}
        widen_days = np.zeros(32, dtype=np.int64)
        for metric, events in METRIC_EVENTS.items():
            stored += int(valid[metric].sum()) * len(events)
            hit = valid[metric] & inside
            for e in events:
                widen_events[e] = int(hit.sum())
                widen_days += np.bincount(day[hit], minlength=32)
        expect["months"].append(dict(
            ym=f"{month_start(m)[0]:%Y_%m}",
            raw_rows=4 * n + sum(len(v) for v in redeliver.values()),
            stored_rows=stored,
            widen_days={str(d): int(c) for d, c in enumerate(widen_days)
                        if c},
            widen_events=widen_events))
    return expect


# ------------------------------------------------------------ corpus_curation

SOURCES = ["web", "code", "books", "wiki", "forum"]
SOURCE_P = [0.45, 0.2, 0.15, 0.1, 0.1]
MIN_CHARS = 200
MAX_STOPWORD_RATIO = 0.75
JACCARD = 0.5
SWAPS = 5              # words a near-dup swaps in its source
SAMPLE_RATES = {"web": 0.5, "code": 1.0, "books": 0.8, "wiki": 1.0,
                "forum": 0.3}
SPLIT_CUTS = [("train", 90), ("valid", 95)]
SPLIT_REST = "test"


def shingles(words):
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def gen_vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, n)
    words = set()
    out = []
    for k in lens:
        wd = "".join(rng.choice(letters, k))
        if wd not in words:
            words.add(wd)
            out.append(wd)
    return out


def near_dup(rng, words, vocab, offset):
    """`words` with SWAPS words replaced at positions `offset` mod 6, far
    enough apart that each swap breaks three trigrams of its own, and
    offsets 0 and 3 never swap the same word: a near-dup of a 120-180
    word text is at least 0.77 Jaccard from it and a near-dup of that
    at least 0.59 from the text."""
    slots = np.arange(offset, len(words), 6)
    out = list(words)
    for pos in rng.choice(slots, SWAPS, replace=False):
        out[int(pos)] = vocab[int(rng.integers(len(vocab)))]
    return out


def gen_corpus(rng, out, scale):
    docs_per_batch = max(100, int(600 * scale))
    batches = 11                          # 2 set-up batches, up to 9 timed
    vocab = gen_vocab(rng, 20000)
    zipf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** 1.05)
    zipf /= zipf[-1]
    stopwords = vocab[:40]
    expect = {"stopwords": stopwords, "min_chars": MIN_CHARS,
              "max_stopword_ratio": MAX_STOPWORD_RATIO, "jaccard": JACCARD,
              "rates": SAMPLE_RATES, "batches": []}
    stop = set(stopwords)
    next_id = 1
    for b in range(batches):
        n = docs_per_batch
        # fixed shares, so every batch asks graft for the same work
        n_short, n_exact, n_near = n // 20, n // 20, n // 10
        texts = []
        family = []                    # family root per doc

        def draw(k):
            return [vocab[x] for x in np.searchsorted(zipf, rng.random(k))]
        for _ in range(n - n_short - n_exact - n_near):
            texts.append(draw(int(rng.integers(120, 180))))
            family.append(len(family))
        bases = list(range(len(texts)))
        for _ in range(n_short):
            texts.append(draw(int(rng.integers(10, 25))))
            family.append(len(family))
        # near-dups form chains base -> first -> second, one chain per
        # base: a first swaps words of a base, a second other words of
        # that first. Even a second stays well above the cut to its base,
        # so every cluster is a clique and Dedup.clusters needs the same
        # number of label-propagation rounds in every batch
        chains = n_near // 2
        first = []
        for src in rng.choice(bases, chains, replace=False):
            first.append(len(texts))
            texts.append(near_dup(rng, texts[src], vocab, 0))
            family.append(family[src])
        for j in range(n_near - chains):
            src = first[j % chains]
            texts.append(near_dup(rng, texts[src], vocab, 3))
            family.append(family[src])
        for _ in range(n_exact):
            src = int(rng.choice(bases + first))
            texts.append(list(texts[src]))
            family.append(family[src])
        ids = next_id + rng.permutation(n)
        next_id += n
        source = rng.choice(SOURCES, n, p=SOURCE_P)
        lines = [f"{int(ids[i])},{source[i]},{' '.join(texts[i])}"
                 for i in rng.permutation(n)]
        write_lines(os.path.join(out, f"b{b:02d}", "docs.csv"),
                    "doc_id,source,text", lines)
        expect["batches"].append(expect_batch(texts, family, ids, source,
                                              stop))
    return expect


def expect_batch(texts, family, ids, source, stop):
    """Replays Curation.curate's documented semantics on the batch:
    quality gate, exact dedup (smallest id per fingerprint), then drop
    the larger id of every near-dup pair with Jaccard >= the cut."""
    n = len(texts)
    ids = [int(x) for x in ids]
    sh = [shingles(t) for t in texts]
    fams = {}
    for i, f in enumerate(family):
        fams.setdefault(f, []).append(i)
    # every Jaccard pair in the raw corpus: only within a family, since
    # independent random texts share no word trigrams at this length
    pairs = []
    for members in fams.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if jaccard(sh[a], sh[b]) >= JACCARD:
                    pairs.append((a, b))
    quality = [len(" ".join(t)) >= MIN_CHARS and
               sum(w in stop for w in t) / len(t) <= MAX_STOPWORD_RATIO
               for t in texts]
    canon = {}
    for i in range(n):
        if quality[i]:
            key = " ".join(texts[i])
            if key not in canon or ids[i] < ids[canon[key]]:
                canon[key] = i
    kept = set(canon.values())
    losers = set()
    for a, b in pairs:
        if a in kept and b in kept:
            losers.add(a if ids[a] > ids[b] else b)
    survivors = sorted(ids[i] for i in kept - losers)
    # leakage-safe split: component of the raw pair graph, labelled by
    # its smallest id, split by the id hash of that label
    parent = list(range(n))

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb, key=lambda r: ids[r])] = min(
                ra, rb, key=lambda r: ids[r])
    splits = {}
    for i in range(n):
        pct = hash60(str(ids[root(i)])) % 100
        name = next((s for s, cut in SPLIT_CUTS if pct < cut), SPLIT_REST)
        splits[name] = splits.get(name, 0) + 1
    mix_tokens = 0
    mix_docs = 0
    pos = {ids[i]: i for i in range(n)}
    for d in survivors:
        i = pos[d]
        if hash60(str(d)) % 100 < round(SAMPLE_RATES[source[i]] * 100):
            mix_docs += 1
            mix_tokens += len(texts[i])
    return dict(docs=n, survivors=survivors,
                dup_pairs=[[ids[a], ids[b]] for a, b in pairs],
                split_sizes=splits, mix_docs=mix_docs,
                mix_tokens=mix_tokens)


GENERATORS = {"fresco_etl": gen_fresco, "corpus_curation": gen_corpus}


def generate(workload, seed, scale, out):
    """Writes the inputs and expected.json under `out`, atomically: a
    finished directory always holds a complete, consistent set."""
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, int(scale * 1e6),
                                 sorted(GENERATORS).index(workload)])
    expect = GENERATORS[workload](rng, tmp, scale)
    expect.update(workload=workload, seed=seed, scale=scale)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expect, f, sort_keys=True)
    os.rename(tmp, out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.scale, a.out)


if __name__ == "__main__":
    sys.exit(main())
