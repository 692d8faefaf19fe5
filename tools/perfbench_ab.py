#!/usr/bin/env python3
"""A/B comparison of two checkouts on the repository benchmark.

Runs `perfbench/run.py` alternately in a base checkout (A, usually the
parent commit) and a changed checkout (B) for N pairs per workload, then
prints, per end-to-end metric: each side's median and quartiles, how many
pairs B won, the no-regression verdict against the metric's bound, and,
for the claimed metric, the claim verdict.

Metric names, directions and bounds come from BENCHMARK.json (read only).
Within a pair both sides use the same seed; the side that runs first
alternates from pair to pair.

Rules (as in the choosing-metrics guide):
  claim   - at least ten pairs; B wins at least nine tenths of all pairs run
            (ties count for neither side); and B's median beats A's by more
            than A's interquartile range.
  no-regression - B's median is not worse than A's by more than the
            metric's bound (a fraction of A's median). When A's own spread
            (IQR / median) is wider than the bound, the metric is
            "unresolved" unless every B run beats every A run.

Usage, from anywhere:

    python3 tools/perfbench_ab.py --a ../parent --b . --pairs 10 \\
        --workloads nightly --claim pipeline_s@nightly --log ab.jsonl

    # recompute the tables from a log, running nothing
    python3 tools/perfbench_ab.py --summarize ab.jsonl --claim pipeline_s@nightly

    # traced runs (--trace 1): per-side medians of chosen per-layer counters,
    # the counters that show where a change in the end-to-end metric comes from
    python3 tools/perfbench_ab.py --a ../parent --b . --pairs 5 --trace \\
        --workloads refresh --layers serve.refresh_batch --log ab_trace.jsonl

Every run is appended to the --log file as one JSON line, so no run goes
unreported and an interrupted comparison can be summarized as it stands.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def quartiles(values):
    """(q1, median, q3) of the values; inclusive quartiles."""
    s = sorted(values)
    if not s:
        raise ValueError("no values")
    if len(s) == 1:
        return s[0], s[0], s[0]
    q1, med, q3 = statistics.quantiles(s, n=4, method="inclusive")
    return q1, med, q3


def improves(b, a, better):
    """True when b is strictly better than a in the metric's direction."""
    return b < a if better == "lower" else b > a


def wins(a_runs, b_runs, better):
    """Pairs B won and pairs counted (ties count for neither side)."""
    won = sum(1 for a, b in zip(a_runs, b_runs) if improves(b, a, better))
    return won, min(len(a_runs), len(b_runs))


def claim_verdict(a_runs, b_runs, better, min_pairs=10, win_share=0.9):
    """The claim rule: enough pairs, B wins at least `win_share` of them,
    and the medians differ, in B's favour, by more than A's IQR."""
    won, pairs = wins(a_runs, b_runs, better)
    a_q1, a_med, a_q3 = quartiles(a_runs)
    _, b_med, _ = quartiles(b_runs)
    iqr = a_q3 - a_q1
    gain = (a_med - b_med) if better == "lower" else (b_med - a_med)
    reasons = []
    if pairs < min_pairs:
        reasons.append(f"only {pairs} pairs (need {min_pairs})")
    if won < win_share * pairs:
        reasons.append(f"won {won}/{pairs} (need {win_share:.0%})")
    if not gain > iqr:
        reasons.append(f"median gain {gain:.6g} not above parent IQR {iqr:.6g}")
    return {"pass": not reasons, "won": won, "pairs": pairs, "gain": gain,
            "parent_iqr": iqr, "reasons": reasons}


def regression_verdict(a_runs, b_runs, better, bound):
    """'ok', 'regressed' or 'unresolved' for one metric on one workload."""
    a_q1, a_med, a_q3 = quartiles(a_runs)
    _, b_med, _ = quartiles(b_runs)
    worse = (b_med - a_med) if better == "lower" else (a_med - b_med)
    limit = bound * abs(a_med)
    if worse > limit:
        return "regressed"
    spread = (a_q3 - a_q1) / abs(a_med) if a_med else 0.0
    if spread > bound:
        if better == "lower":
            separated = max(b_runs) < min(a_runs)
        else:
            separated = min(b_runs) > max(a_runs)
        return "ok" if separated else "unresolved"
    return "ok"


def load_benchmark(path):
    with open(path) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    directions = {m["name"]: m["better"] for m in bench.get("per_layer", [])}
    return bench, metrics, workloads, directions


def run_once(checkout, command, workload, seed, seconds, timeout, trace=False):
    """One benchmark run, traced or not; returns the parsed result line."""
    t0 = time.time()
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1" if trace else "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=timeout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    rec = {"exit": proc.returncode, "elapsed_s": round(time.time() - t0, 1)}
    try:
        rec["result"] = json.loads(lines[-1])
        rec["error_rate"] = json.loads(lines[-2])["report"]["error_rate"]
    except (IndexError, ValueError, KeyError) as e:
        rec["result"] = None
        rec["error"] = f"{type(e).__name__}: {proc.stderr[-500:]}"
    return rec


def values(records, side, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in records
            if r["side"] == side and r["workload"] == workload
            and r.get("result") and metric in r["result"]["metrics"]]


def paired(records, workload, metric):
    """(A values, B values) for pairs where both sides produced the metric."""
    by_pair = {}
    for r in records:
        if r["workload"] == workload and r.get("result") \
                and metric in r["result"]["metrics"]:
            by_pair.setdefault(r["pair"], {})[r["side"]] = \
                r["result"]["metrics"][metric]["value"]
    keys = sorted(p for p, v in by_pair.items() if "A" in v and "B" in v)
    return [by_pair[p]["A"] for p in keys], [by_pair[p]["B"] for p in keys]


def layer_names(names, layers):
    """The per-layer metric names `layers` selects: a name is selected by a
    layer it equals or that it extends by a '.'-separated suffix."""
    return sorted(n for n in names
                  if any(n == l or n.startswith(l + ".") for l in layers))


def summarize_layers(records, layers, directions):
    """One row per workload and selected per-layer counter of the traced
    runs: each side's median over the complete pairs and, when the
    counter's direction is known, the pairs B won."""
    traced = [r for r in records if r.get("trace") and r.get("result")]
    rows = []
    for w in sorted({r["workload"] for r in traced}):
        names = set()
        for r in traced:
            if r["workload"] == w:
                names.update(r["result"]["metrics"])
        for name in layer_names(names, layers):
            a, b = paired(traced, w, name)
            if not a:
                continue
            better = directions.get(name)
            rows.append({"workload": w, "metric": name, "pairs": len(a),
                         "a_median": statistics.median(a),
                         "b_median": statistics.median(b),
                         "b_wins": wins(a, b, better)[0] if better else None})
    return rows


def print_layers(rows):
    for w in sorted({r["workload"] for r in rows}):
        print(f"\n== {w}: per-layer medians of traced runs")
        print(f"   {'metric':<40} {'A median':>12} {'B median':>12} {'B/A':>7} B wins")
        for r in (r for r in rows if r["workload"] == w):
            ratio = r["b_median"] / r["a_median"] if r["a_median"] else float("nan")
            won = "-" if r["b_wins"] is None else f"{r['b_wins']}/{r['pairs']}"
            print(f"   {r['metric']:<40} {r['a_median']:>12.4g} {r['b_median']:>12.4g} "
                  f"{ratio:>7.3f} {won}")


def summarize(records, metrics, claim):
    """Print the per-workload tables; returns False when a claim fails or a
    metric regresses."""
    ok = True
    workloads = sorted({r["workload"] for r in records})
    for w in workloads:
        runs = [r for r in records if r["workload"] == w]
        print(f"\n== {w}: {len(runs)} runs")
        for side in ("A", "B"):
            side_runs = [r for r in runs if r["side"] == side]
            failed = sum(1 for r in side_runs if not r.get("result")
                         or r["result"].get("failed", 1) or r.get("error_rate", 1))
            print(f"   {side}: {len(side_runs)} runs, {failed} with failures")
            ok &= failed == 0
        shown = [(name, m) for name, m in metrics.items() if paired(records, w, name)[0]]
        if shown:
            print(f"   {'metric':<14} {'A q1/med/q3':<32} {'B q1/med/q3':<32} "
                  f"{'B wins':<8} verdict")
        for name, m in shown:
            a, b = paired(records, w, name)
            aq, bq = quartiles(a), quartiles(b)
            won, pairs = wins(a, b, m["better"])
            verdict = regression_verdict(a, b, m["better"], m["bound"])
            ok &= verdict != "regressed"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"   {name:<14} {fmt(aq):<32} {fmt(bq):<32} "
                  f"{f'{won}/{pairs}':<8} {verdict} (bound {m['bound']})")
            if claim == (name, w):
                c = claim_verdict(a, b, m["better"])
                ok &= c["pass"]
                print(f"   claim {name}@{w}: {'PASS' if c['pass'] else 'FAIL'} "
                      f"(won {c['won']}/{c['pairs']}, median gain {c['gain']:.4g}, "
                      f"parent IQR {c['parent_iqr']:.4g})"
                      + ("" if c["pass"] else "; " + "; ".join(c["reasons"])))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", help="base checkout (the parent commit)")
    ap.add_argument("--b", help="changed checkout")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--claim", help="METRIC@WORKLOAD to test with the claim rule")
    ap.add_argument("--benchmark", help="BENCHMARK.json to read (default: the B checkout's)")
    ap.add_argument("--log", help="append every run here as a JSON line")
    ap.add_argument("--summarize", help="summarize this log instead of running")
    ap.add_argument("--timeout", type=float, default=1200.0, help="per run, seconds")
    ap.add_argument("--trace", action="store_true",
                    help="run with --trace 1 and report per-layer counters")
    ap.add_argument("--layers", default="",
                    help="comma-separated layers (or metric names) whose traced "
                         "counters to print, e.g. serve.refresh_batch")
    args = ap.parse_args()
    layers = [l for l in args.layers.split(",") if l]
    if args.trace and args.claim:
        ap.error("--claim needs untraced runs; traced runs carry per-layer metrics only")

    claim = None
    if args.claim:
        name, _, workload = args.claim.partition("@")
        claim = (name, workload)

    if args.summarize:
        with open(args.summarize) as fh:
            records = [json.loads(l) for l in fh if l.strip()]
        bench_path = args.benchmark or records[0]["benchmark"]
    else:
        if not (args.a and args.b):
            ap.error("--a and --b are required unless --summarize is given")
        bench_path = args.benchmark or os.path.join(args.b, "BENCHMARK.json")
        records = []
    bench, metrics, all_workloads, directions = load_benchmark(bench_path)
    if claim and claim[0] not in metrics:
        ap.error(f"unknown claim metric {claim[0]}")

    if not args.summarize:
        workloads = args.workloads.split(",") if args.workloads else all_workloads
        sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
        for w in workloads:
            for i in range(args.pairs):
                order = ("A", "B") if i % 2 == 0 else ("B", "A")
                for side in order:
                    rec = run_once(sides[side], bench["command"], w, args.seed + i,
                                   bench.get("run_seconds", 10), args.timeout, args.trace)
                    rec.update({"workload": w, "pair": i, "side": side, "trace": args.trace,
                                "seed": args.seed + i, "checkout": sides[side],
                                "benchmark": os.path.abspath(bench_path),
                                "at": time.strftime("%Y-%m-%dT%H:%M:%S")})
                    records.append(rec)
                    if args.log:
                        with open(args.log, "a") as fh:
                            fh.write(json.dumps(rec) + "\n")
                    vals = {k: round(v["value"], 4) for k, v in
                            (rec["result"] or {}).get("metrics", {}).items()}
                    if layers:
                        vals = {k: vals[k] for k in layer_names(vals, layers)}
                    print(f"[ab] {w} pair {i} {side} seed {args.seed + i}: {vals}",
                          file=sys.stderr, flush=True)
    ok = summarize(records, metrics, claim)
    if layers:
        print_layers(summarize_layers(records, layers, directions))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
