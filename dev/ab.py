#!/usr/bin/env python3
"""Interleaved A/B of the perfbench workloads between two graft checkouts.

    python3 dev/ab.py <parent_dir> <change_dir> --workload pipeline \
        --pairs 10 --seeds 1 2 3 [--seconds 8] [--trace 0] [--out ab.json] \
        [--claim p50_ms]

Each pair runs `python3 perfbench/run.py --workload W --seed S` once in each
checkout, from that checkout's root, so each side builds and runs its own
sources. The side that goes first alternates from pair to pair, so drift
in machine load lands on both sides alike. Pair i uses seed
seeds[i % len(seeds)].

The report gives, for every end-to-end metric `BENCHMARK.json` declares:
the median of each side, the parent's quartiles, the change's median
relative to the parent's, the declared bound, and how many pairs the change
won (better by the metric's direction), and a verdict:

- the `--claim` metric is `claim met` when the change wins at least nine
  tenths of the pairs (ties count for neither side) and its median beats
  the parent's by more than the parent's interquartile range, else
  `claim not met`; a line below the table gives the counts;
- every other metric is `unresolved` when the parent's interquartile range
  is wider than the bound (relative to the parent's median) and not every
  change run beats every parent run, else `over bound` when the change's
  median is worse than the parent's by more than the bound, else `ok`.

Below it, the same for each
statement kind's warm median (seconds), parsed from perfbench's
`per kind (cold s / warm median s / n)` stderr line. Then the
correct/attempted/failed counts of each side and every raw run, with the
machine's CPU steal share during the run as perfbench's report records it
(a run on a contended host reads slow on every layer at once). Runs with
the same tree on both sides (an A/A set) show the noise floor the same way.

Nothing in either checkout is edited; perfbench's own caches
(`.bench_build/`, `.bench_out/`, ...) are written where it writes them.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def run_once(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    wall = time.time() - t0
    line = None
    for ln in reversed(p.stdout.strip().splitlines()):
        try:
            line = json.loads(ln)
            break
        except ValueError:
            continue
    if p.returncode != 0 or line is None:
        tail = "\n".join(p.stderr.strip().splitlines()[-15:])
        return {"ok": False, "seed": seed, "wall_s": wall, "error": tail}
    steal = None
    try:
        with open(os.path.join(root, ".bench_out",
                               f"result-{workload}-{seed}-t{trace}.json")) as f:
            steal = json.load(f)["stamp"].get("cpu_steal_share")
    except (OSError, ValueError, KeyError):
        pass
    return {"ok": True, "seed": seed, "wall_s": wall, "correct": line["correct"],
            "attempted": line["attempted"], "failed": line["failed"], "steal": steal,
            "metrics": {k: v["value"] for k, v in line["metrics"].items()},
            "kinds": per_kind(p.stderr)}


PER_KIND = "per kind (cold s / warm median s / n) "


def per_kind(stderr):
    """{kind: warm median s} from perfbench's `per kind` stderr line."""
    for ln in stderr.splitlines():
        at = ln.find(PER_KIND)
        if at < 0:
            continue
        kinds = {}
        for item in ln[at + len(PER_KIND):].split():
            kind, _, vals = item.partition("=")
            parts = vals.split("/")
            if len(parts) == 3 and int(parts[2]) > 0:
                kinds[kind] = float(parts[1])
        return kinds
    return {}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(m, a, b, wins, pairs, claim):
    """The metric's verdict, by the rule in the module docstring."""
    lower = m["better"] == "lower"
    ma, mb = statistics.median(a), statistics.median(b)
    q1, q3 = quartiles(a)
    if m["name"] == claim:
        gap = ma - mb if lower else mb - ma
        met = wins >= math.ceil(0.9 * pairs) and gap > q3 - q1
        return "claim met" if met else "claim not met"
    bound = m.get("bound")
    if bound is None or not ma:
        return "ok"
    all_better = max(b) < min(a) if lower else min(b) > max(a)
    if (q3 - q1) / abs(ma) > bound and not all_better:
        return "unresolved"
    worse = (mb - ma) / abs(ma) if lower else (ma - mb) / abs(ma)
    return "over bound" if worse > bound else "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write every run and the summary as JSON")
    ap.add_argument("--claim", help="the end-to-end metric the change claims to improve")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent_dir),
             "change": os.path.abspath(args.change_dir)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]

    runs = []
    for i in range(args.pairs):
        seed = args.seeds[i % len(args.seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            r = pair[side]
            status = (f"correct={r['correct']} failed={r['failed']}" if r["ok"]
                      else "RUN FAILED")
            print(f"[ab] pair {i} seed {seed} {side}: {status} ({r['wall_s']:.0f} s)",
                  file=sys.stderr, flush=True)
        runs.append(pair)

    ok = [p for p in runs if p["parent"]["ok"] and p["change"]["ok"]]
    print(f"workload {args.workload}: {len(ok)}/{len(runs)} complete pairs, "
          f"seconds {args.seconds}, trace {args.trace}")
    summary = {}
    print(f"{'metric':<14}{'parent_med':>12}{'parent_q1':>11}{'parent_q3':>11}"
          f"{'change_med':>12}{'ratio':>8}{'bound':>7}{'wins':>7}  verdict")
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name] for p in ok if name in p["parent"]["metrics"]]
        b = [p["change"]["metrics"][name] for p in ok if name in p["change"]["metrics"]]
        if not a or not b:
            continue
        wins = sum(1 for p in ok
                   if (p["change"]["metrics"][name] < p["parent"]["metrics"][name]) == lower
                   and p["change"]["metrics"][name] != p["parent"]["metrics"][name])
        ma, mb = statistics.median(a), statistics.median(b)
        q1, q3 = quartiles(a)
        ratio = mb / ma if ma else float("nan")
        v = verdict(m, a, b, wins, len(ok), args.claim)
        summary[name] = {"parent_median": ma, "parent_q1": q1, "parent_q3": q3,
                         "change_median": mb, "ratio": ratio, "bound": m.get("bound"),
                         "change_wins": wins, "pairs": len(ok), "verdict": v}
        print(f"{name:<14}{ma:>12.4g}{q1:>11.4g}{q3:>11.4g}{mb:>12.4g}{ratio:>8.3f}"
              f"{m.get('bound', float('nan')):>7}{wins:>4}/{len(ok)}  {v}")
        if name == args.claim:
            claim_line = (f"claim {name}: {v}: change won {wins}/{len(ok)} pairs "
                          f"(needs {math.ceil(0.9 * len(ok))}), median gain "
                          f"{(ma - mb) if lower else (mb - ma):.4g} vs parent IQR "
                          f"{q3 - q1:.4g}")
    if args.claim:
        print(claim_line if args.claim in summary
              else f"claim {args.claim}: no such metric in both sides' runs")
    kinds = sorted({k for p in ok for side in ("parent", "change")
                    for k in p[side].get("kinds", {})})
    w = max([14] + [len(k) + 2 for k in kinds])
    if kinds:
        print(f"{'kind warm s':<{w}}{'parent_med':>12}{'parent_q1':>11}{'parent_q3':>11}"
              f"{'change_med':>12}{'ratio':>8}{'wins':>9}")
    for k in kinds:
        both = [p for p in ok if k in p["parent"].get("kinds", {})
                and k in p["change"].get("kinds", {})]
        if not both:
            continue
        a = [p["parent"]["kinds"][k] for p in both]
        b = [p["change"]["kinds"][k] for p in both]
        wins = sum(1 for x, y in zip(a, b) if y < x)
        ma, mb = statistics.median(a), statistics.median(b)
        q1, q3 = quartiles(a)
        summary["kind:" + k] = {"parent_median": ma, "parent_q1": q1, "parent_q3": q3,
                                "change_median": mb, "change_wins": wins,
                                "pairs": len(both)}
        print(f"{k:<{w}}{ma:>12.4g}{q1:>11.4g}{q3:>11.4g}{mb:>12.4g}"
              f"{(mb / ma if ma else float('nan')):>8.3f}{wins:>6}/{len(both)}")
    for side in ("parent", "change"):
        rs = [p[side] for p in runs]
        done = [r for r in rs if r["ok"]]
        print(f"{side}: runs {len(rs)}, completed {len(done)}, "
              f"correct {sum(1 for r in done if r['correct'])}, "
              f"attempted {sum(r['attempted'] for r in done)}, "
              f"failed ops {sum(r['failed'] for r in done)}")
    print("raw runs:")
    for p in runs:
        for side in (p["first"], "change" if p["first"] == "parent" else "parent"):
            r = p[side]
            body = (" ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items()))
                    + (f" cpu_steal={r['steal']:.3f}" if r.get("steal") is not None else "")
                    if r["ok"] else "FAILED: " + r["error"].replace("\n", " | "))
            print(f"  pair {p['pair']} seed {p['seed']} {side}: {body}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
