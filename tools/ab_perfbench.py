#!/usr/bin/env python3
"""Same-window A/B of the repository benchmark between two checkouts.

    python3 tools/ab_perfbench.py PARENT CHANGE --workload W --seeds A-B
        [--seconds 20] [--out results.jsonl]
    python3 tools/ab_perfbench.py --summarize results.jsonl

For each seed N in A..B it runs
`python3 perfbench/run.py --workload W --seed N --seconds S --trace 0`
once in each checkout (working directory = the checkout, CARGO_TARGET_DIR
= <checkout>/.bench_build, so the two builds never share a classpath),
parent first on even pair indexes and change first on odd ones. Every
result line is kept: the run's JSON last line, tagged with side, seed and
position, is appended to --out as it arrives (default
ab_<workload>_<A>-<B>.jsonl in the working directory). A run that fails
or prints no result is kept too, with `"result": null`.

Then, for each end-to-end metric of BENCHMARK.json (the change
checkout's; with --summarize, the working directory's), it prints each
side's median and [q1, q3] (`statistics.quantiles(n=4)`, as
perfbench/results/RESULTS.md uses), the pairs each side won (ties count for neither), and whether a gain may be
claimed by the sandbox rule: at least ten pairs, the change winning at
least nine tenths of them, and the medians differing, in the better
direction, by more than the parent's interquartile range. Only pairs in
which both runs are `correct` count.

The tool only reads the checkouts' perfbench/ files; it changes nothing
there.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(s):
    """"A-B" (inclusive) or "N" -> list of ints."""
    a, _, b = s.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise ValueError(f"empty seed range {s}")
    return list(range(lo, hi + 1))


def order_of(i):
    """Sides of pair i in run order: parent first on even i."""
    return ("parent", "change") if i % 2 == 0 else ("change", "parent")


def last_json_line(stdout):
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                return None
    return None


def run_one(checkout, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(os.path.abspath(checkout), ".bench_build"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, stdin=subprocess.DEVNULL)
    return last_json_line(p.stdout), p.returncode, p.stderr[-2000:]


def quartiles(xs):
    """(q1, median, q3) with statistics.quantiles(n=4); one value is its
    own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def pairs_of(records, metric):
    """[(parent value, change value)] over seeds where both sides ran
    correctly, in seed order."""
    by = {}
    for r in records:
        res = r.get("result")
        if res and res.get("correct") and metric in res.get("metrics", {}):
            by.setdefault(r["seed"], {})[r["side"]] = res["metrics"][metric]["value"]
    return [(v["parent"], v["change"]) for s, v in sorted(by.items())
            if "parent" in v and "change" in v]


def compare(pairs, better):
    """Medians, quartiles, wins and the gain rule for one metric; `better`
    is "lower" or "higher"."""
    sign = -1.0 if better == "lower" else 1.0
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    change_wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    parent_wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    gap = sign * (cmed - pmed)
    iqr = pq3 - pq1
    n = len(pairs)
    holds = n >= 10 and change_wins * 10 >= 9 * n and gap > iqr
    return {"n": n, "parent": (pmed, pq1, pq3), "change": (cmed, cq1, cq3),
            "change_wins": change_wins, "parent_wins": parent_wins,
            "gap": gap, "parent_iqr": iqr, "gain_holds": holds}


def report(records, metrics):
    lines = []
    runs = {"parent": [r for r in records if r["side"] == "parent"],
            "change": [r for r in records if r["side"] == "change"]}
    for side, rs in runs.items():
        ok = sum(1 for r in rs if r.get("result") and r["result"].get("correct"))
        failed = sum(int(r["result"].get("failed", 0)) for r in rs if r.get("result"))
        lines.append(f"{side}: {len(rs)} runs, {ok} correct, {failed} failed requests")
    for m in metrics:
        pairs = pairs_of(records, m["name"])
        if not pairs:
            lines.append(f"{m['name']}: no complete pair")
            continue
        c = compare(pairs, m["better"])
        (pm, p1, p3), (cm, c1, c3) = c["parent"], c["change"]
        lines.append(
            f"{m['name']} ({m['better']} is better, {c['n']} pairs): "
            f"parent {pm:.4g} [{p1:.4g}, {p3:.4g}] -> change {cm:.4g} [{c1:.4g}, {c3:.4g}]; "
            f"change won {c['change_wins']}/{c['n']}, parent won {c['parent_wins']}/{c['n']}; "
            f"median gap {c['gap']:+.4g} vs parent IQR {c['parent_iqr']:.4g}; "
            f"gain rule {'holds' if c['gain_holds'] else 'does not hold'}")
    return lines


def end_to_end(bench_path):
    with open(bench_path) as f:
        return json.load(f)["end_to_end"]


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out")
    ap.add_argument("--summarize", help="print the table for an existing result file; run nothing")
    a = ap.parse_args(argv)
    if a.summarize:
        records = load(a.summarize)
        bench = "BENCHMARK.json"
    else:
        if not (a.parent and a.change and a.workload and a.seeds):
            ap.error("PARENT, CHANGE, --workload and --seeds are required")
        seeds = parse_seeds(a.seeds)
        out = a.out or f"ab_{a.workload}_{seeds[0]}-{seeds[-1]}.jsonl"
        sides = {"parent": a.parent, "change": a.change}
        records = []
        for i, seed in enumerate(seeds):
            for pos, side in enumerate(order_of(i)):
                res, rc, err = run_one(sides[side], a.workload, seed, a.seconds)
                rec = {"side": side, "seed": seed, "pair": i, "position": pos,
                       "workload": a.workload, "returncode": rc, "result": res}
                if res is None:
                    rec["stderr_tail"] = err
                records.append(rec)
                with open(out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"[ab] pair {i} seed {seed} {side}: rc={rc} "
                      f"correct={res.get('correct') if res else None}", file=sys.stderr, flush=True)
        bench = os.path.join(a.change, "BENCHMARK.json")
    for line in report(records, end_to_end(bench)):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
