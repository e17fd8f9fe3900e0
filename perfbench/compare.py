#!/usr/bin/env python3
"""Collects run sets of the graft benchmark and compares two of them.

    # run every workload once per seed in this checkout; one JSON line per run
    python3 perfbench/compare.py collect --seeds 1-10 --out base.jsonl [--trace 1]

    # spread of one run set: quartile distance over median, against the bounds
    python3 perfbench/compare.py spread base.jsonl

    # two commits: per (metric, workload) medians, quartiles, pairs won, verdict
    python3 perfbench/compare.py diff base.jsonl head.jsonl

    # tracing overhead: a --trace 1 run set against a --trace 0 one
    python3 perfbench/compare.py overhead untraced.jsonl traced.jsonl

Runs pair up by (workload, seed). A head run set with a failed output check,
or with more failed ops than the base, is refused on that workload: its
timings say nothing. A gain needs the head to win at least 9 of
10 pairs (ties count for neither) and the medians to differ by more than the
base's quartile distance. A regression is a head median worse than the base
median by more than the metric's bound. Where the base's own spread exceeds
the bound the verdict is "unresolved", unless every head run beats every base
run. Per-layer metrics have no bound: they get medians and pairs won only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def collect(args):
    bench = load_bench()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    with open(args.out, "a") as out:
        for seed in seeds_of(args.seeds):
            for w in workloads:
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]),
                                          "--trace", str(args.trace)]
                r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                if r.returncode != 0:
                    print("run failed: %s seed %d (exit %d)" % (w, seed, r.returncode), file=sys.stderr)
                if not lines:
                    continue
                rec = {"workload": w, "seed": seed, "trace": args.trace,
                       "result": json.loads(lines[-1])}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print("%s seed %d done" % (w, seed), file=sys.stderr)


def load_runs(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["seed"])] = r["result"]
    return runs


def values(runs, workload, metric):
    """{seed: value} of one metric on one workload."""
    return {s: r["metrics"][metric]["value"] for (w, s), r in runs.items()
            if w == workload and metric in r["metrics"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def metric_specs(bench):
    for m in bench["end_to_end"]:
        yield m, True
    for m in bench["per_layer"]:
        yield m, False


def spread(args):
    bench = load_bench()
    runs = load_runs(args.runs)
    worst = 0.0
    print("%-14s %-24s %5s %12s %8s %8s" % ("workload", "metric", "n", "median", "spread", "bound"))
    for w in sorted({w for w, _ in runs}):
        for m, e2e in metric_specs(bench):
            xs = list(values(runs, w, m["name"]).values())
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            s = (q3 - q1) / abs(med) if med else 0.0
            bound = m.get("bound")
            flag = ""
            if bound is not None and m["name"] != "setup_s":
                worst = max(worst, s / bound)
                flag = " OVER" if s > bound else (" >1/3" if s > bound / 3 else "")
            if e2e or args.all:
                print("%-14s %-24s %5d %12.4g %8.3f %8s%s" % (
                    w, m["name"], len(xs), med, s, "-" if bound is None else bound, flag))
    print("worst spread / bound (setup_s excluded): %.2f" % worst)
    bad = sorted(k for k, r in runs.items() if not r["correct"] or r["failed"])
    print("runs: %d, with a failed check or op: %d %s" % (len(runs), len(bad), bad or ""))


def failures(runs, workload):
    """(failed ops, runs with a failed check) of one workload's run set."""
    rs = [r for (w, _), r in runs.items() if w == workload]
    return sum(r["failed"] for r in rs), sum(1 for r in rs if not r["correct"])


def diff(args):
    bench = load_bench()
    base, head = load_runs(args.base), load_runs(args.head)
    refused_any = False
    print("%-14s %-26s %28s %28s %7s  %s" % (
        "workload", "metric", "base q1/med/q3", "head q1/med/q3", "won", "verdict"))
    for w in sorted({w for w, _ in base} & {w for w, _ in head}):
        (bfail, _), (hfail, hwrong) = failures(base, w), failures(head, w)
        refused = hwrong > 0 or hfail > bfail
        if refused:
            refused_any = True
            print("%-14s REFUSED: head has %d runs with a failed check and %d failed ops "
                  "(base %d failed ops)" % (w, hwrong, hfail, bfail))
        for m, e2e in metric_specs(bench):
            b, h = values(base, w, m["name"]), values(head, w, m["name"])
            seeds = sorted(set(b) & set(h))
            if not seeds:
                continue
            lower = m["better"] == "lower"
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            won = sum(1 for s in seeds if better(h[s], b[s]))
            bq1, bmed, bq3 = quartiles(list(b.values()))
            hq1, hmed, hq3 = quartiles(list(h.values()))
            worse_by = ((hmed - bmed) if lower else (bmed - hmed)) / abs(bmed) if bmed else 0.0
            verdict = ""
            if e2e and refused:
                verdict = "REFUSED (failed checks or ops)"
            elif e2e:
                bound = m["bound"]
                base_spread = (bq3 - bq1) / abs(bmed) if bmed else 0.0
                all_better = all(better(x, y) for x in h.values() for y in b.values())
                if won >= 0.9 * len(seeds) and abs(hmed - bmed) > (bq3 - bq1):
                    verdict = "gain"
                elif base_spread > bound and not all_better:
                    verdict = "unresolved (spread %.3f > bound %.3f)" % (base_spread, bound)
                elif worse_by > bound:
                    verdict = "REGRESSION (%.1f%% worse, bound %.0f%%)" % (100 * worse_by, 100 * bound)
                else:
                    verdict = "within bound (%+.1f%%)" % (-100 * worse_by)
            elif not args.all:
                continue
            print("%-14s %-26s %28s %28s %3d/%-3d  %s" % (
                w, m["name"], "%.4g/%.4g/%.4g" % (bq1, bmed, bq3),
                "%.4g/%.4g/%.4g" % (hq1, hmed, hq3), won, len(seeds), verdict))
    return 1 if refused_any else 0


def overhead(args):
    """Median traced round time over median untraced round time, minus one.

    Both run sets measure the same fixed rounds; only tracing differs.
    """
    plain, traced = load_runs(args.untraced), load_runs(args.traced)
    for w in sorted({w for w, _ in plain} & {w for w, _ in traced}):
        p = list(values(plain, w, "batch_p50_ms").values())
        t = list(values(traced, w, "trace.batch_p50_ms").values())
        a = list(values(traced, w, "trace.attributed_share").values())
        if p and t:
            print("%-14s untraced %.4g ms (n=%d)  traced %.4g ms (n=%d)  overhead %+.1f%%"
                  "  attributed share %.3f" % (
                      w, statistics.median(p), len(p), statistics.median(t), len(t),
                      100 * (statistics.median(t) / statistics.median(p) - 1),
                      statistics.median(a) if a else float("nan")))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--out", required=True)
    c.add_argument("--trace", type=int, default=0)
    c.add_argument("--workloads")
    s = sub.add_parser("spread")
    s.add_argument("runs")
    s.add_argument("--all", action="store_true", help="also list per-layer metrics")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("head")
    d.add_argument("--all", action="store_true", help="also list per-layer metrics")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    a = ap.parse_args()
    return {"collect": collect, "spread": spread, "diff": diff, "overhead": overhead}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
