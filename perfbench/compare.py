"""Compare a change against its parent with the benchmark.

    # alternate parent and change runs, ten pairs per workload
    python3 perfbench/compare.py run --parent <checkout> --change <checkout> \
        --out pairs.jsonl
    # the verdict table from recorded pairs
    python3 perfbench/compare.py report pairs.jsonl

`run` runs each checkout's own perfbench/run.py from that checkout, for
every workload of BENCHMARK.json, alternating which side goes first, a
fresh seed per pair (the same seed on both sides), and appends one JSON
line per run:
{"workload", "pair", "side", "seed", "result"}.

`report` prints, per workload and end-to-end metric, each side's median
and quartiles, the share of pairs the change won (ties count for
neither), and a verdict, with the direction and bound of each metric
taken from BENCHMARK.json:
  improved    the change won at least 9 of 10 pairs and the medians
              differ by more than the parent's inter-quartile distance;
  unresolved  the parent's own spread (IQR / median) exceeds the bound
              and not every change run beats every parent run;
  no worse    the change's median is within the bound of the parent's;
  worse       otherwise.
A side with a failed or incorrect run is reported as such first, and a
workload with fewer than ten complete pairs gets no verdict.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

PAIRS = 10
FIRST_SEED = 1000


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run(args):
    spec = load_spec()
    with open(args.out, "a") as out:
        for w in (w["name"] for w in spec["workloads"]):
            for i in range(PAIRS):
                seed = FIRST_SEED + i
                sides = [("parent", args.parent), ("change", args.change)]
                if i % 2:
                    sides.reverse()
                for side, root in sides:
                    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
                           "--workload", w, "--seed", str(seed),
                           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
                    lines = p.stdout.strip().splitlines()
                    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                    out.write(json.dumps({"workload": w, "pair": i, "side": side,
                                          "seed": seed, "result": result}) + "\n")
                    out.flush()
                    print(f"{w} pair {i} {side}: "
                          f"{'ok' if result and result['correct'] else 'FAILED'}", file=sys.stderr)


def verdict(parent, change, better, bound):
    """Verdict for paired values (lists of equal length, pair i = index i)."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    share = wins / len(parent)
    q1, mp, q3 = metrics.quartiles(parent)
    mc = metrics.median(change)
    worse_by = sign * (mc - mp) / mp if mp else 0.0
    if share >= 0.9 and sign * (mp - mc) > (q3 - q1):
        return "improved", share
    all_better = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if metrics.spread(parent) > bound and not all_better:
        return "unresolved", share
    return ("no worse" if worse_by <= bound else "worse"), share


def report(args):
    spec = load_spec()
    rows = [json.loads(line) for line in open(args.pairs) if line.strip()]
    print(f"{'workload':10} {'metric':18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'won':>5}  verdict")
    for w in sorted({r["workload"] for r in rows}):
        runs = {}
        for r in rows:
            if r["workload"] == w:
                runs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        pairs = [v for _, v in sorted(runs.items()) if "parent" in v and "change" in v]
        bad = [(i, s) for i, v in enumerate(pairs) for s in ("parent", "change")
               if not v[s] or not v[s]["correct"]]
        if bad:
            print(f"{w:10} failed or incorrect runs: {bad}")
            continue
        if len(pairs) < PAIRS:
            print(f"{w:10} {len(pairs)} complete pairs, {PAIRS} needed for a verdict")
            continue
        for m in spec["end_to_end"]:
            p = [v["parent"]["metrics"][m["name"]]["value"] for v in pairs]
            c = [v["change"]["metrics"][m["name"]]["value"] for v in pairs]
            v, share = verdict(p, c, m["better"], m["bound"])
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in metrics.quartiles(xs))  # noqa: E731
            print(f"{w:10} {m['name']:18} {fmt(p):>30} {fmt(c):>30} {share:5.0%}  {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("pairs")
    args = ap.parse_args()
    run(args) if args.cmd == "run" else report(args)


if __name__ == "__main__":
    main()
