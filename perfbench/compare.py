"""Compare the benchmark records of two commits.

  python3 perfbench/run.py compare <baseline.jsonl> <candidate.jsonl>

Each file holds one JSON record per run, as run.py appends them to
.perfbench/results.jsonl (copy or filter that file per commit). Runs are
paired per workload in the order they were made, so alternate the two
commits (A, B, B, A, ...) while recording. For every workload and metric
this prints each side's median and quartiles, the share of pairs the
candidate won, and a verdict:

  better        the candidate won at least 9 in 10 pairs and the medians
                differ by more than the baseline's own quartile spread
  within bound  the candidate's median is no worse than the bound allows
                and the baseline's spread is inside the bound
  worse         the candidate's median is worse by more than the bound
  unresolved    the spread is wider than the bound and not every
                candidate run beats every baseline run

Records whose environment differs (nproc, heap, JVM, Spark), that started
with loadavg above the core count, or that lost more than 0.5 % of the
host's CPU time to other guests (steal) are flagged: on a 4-core test
host, steal read 0.0 % in every run of its fast state and 0.7-5 % in its
slow state, where every timing and CPU-time metric was 2.1x larger.
"""
import json
import os
import statistics
import sys

ENV_KEYS = ["nproc", "heap_max_mb", "jvm", "spark"]
STEAL_LIMIT = 0.005


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(a, b, better, bound):
    sign = 1 if better == "lower" else -1  # positive delta = candidate worse
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    won = wins / len(pairs) if pairs else 0.0
    spread = (qa3 - qa1) / abs(ma) if ma else float("inf")
    delta = sign * (mb - ma) / abs(ma) if ma else 0.0
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if won >= 0.9 and abs(mb - ma) > (qa3 - qa1) and delta < 0:
        v = "better"
    elif bound is not None and delta > bound:
        v = "worse"
    elif bound is not None and spread <= bound:
        v = "within bound"
    elif all_better:
        v = "better"
    else:
        v = "unresolved"
    return won, v


def flags(records):
    out = set()
    envs = {tuple(str(r["env"].get(k)) for k in ENV_KEYS) for r in records}
    if len(envs) > 1:
        out.add("mixed environments: %s" % sorted(envs))
    for r in records:
        e = r["env"]
        if float(e.get("loadavg_start", 0)) > float(e.get("nproc", 1)):
            out.add("%s seed %s started on a loaded host (loadavg %.1f)"
                    % (r["workload"], r["seed"], float(e["loadavg_start"])))
        if float(e.get("steal_share", 0)) > STEAL_LIMIT:
            out.add("%s seed %s lost %.0f%% of the host's CPU time to other guests"
                    % (r["workload"], r["seed"], 100 * float(e["steal_share"])))
    return out


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    bench_path = os.path.join(os.getcwd(), "BENCHMARK.json")
    with open(bench_path) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    # the reference pipeline's records_per_s is its fixed input over
    # pass_s, so it takes pass_s's bound
    spec["records_per_s"] = dict(spec["pass_s"], name="records_per_s", unit="1/s", better="higher")
    a_all, b_all = load(argv[0]), load(argv[1])
    for fl in sorted(flags(a_all + b_all)):
        print("FLAG " + fl)
    print("%-20s %-24s %26s %26s %6s  %s" % ("workload", "metric", "baseline q1/med/q3",
                                            "candidate q1/med/q3", "won", "verdict"))
    for wl in sorted({r["workload"] for r in a_all + b_all}):
        for trace in (False, True):
            a = [r for r in a_all if r["workload"] == wl and r["trace"] == trace]
            b = [r for r in b_all if r["workload"] == wl and r["trace"] == trace]
            if not a or not b:
                continue
            names = [m["name"] for m in (bench["per_layer"] if trace else bench["end_to_end"])]
            if not trace:
                names.append("records_per_s")
            for name in names:
                xs = [r["metrics"][name] for r in a if name in r["metrics"]]
                ys = [r["metrics"][name] for r in b if name in r["metrics"]]
                if not xs or not ys:
                    continue
                m = spec[name]
                won, v = verdict(xs, ys, m["better"], m.get("bound"))
                qa, qb = quartiles(xs), quartiles(ys)
                print("%-20s %-24s %8.4g/%8.4g/%8.4g %8.4g/%8.4g/%8.4g %5.0f%%  %s (n=%d/%d)"
                      % (wl, name, *qa, *qb, 100 * won, v, len(xs), len(ys)))
    return 0
