"""Compare a parent and a change commit on the benchmark.

Collect paired runs, alternating which side runs first in each pair:

    python3 etlbench/compare.py run --parent ../parent --change . \\
        --workload etl_bulk --pairs 10 --out pairs.jsonl

then judge every end-to-end metric of every workload in the file:

    python3 etlbench/compare.py report pairs.jsonl

Each run lasts the benchmark's ``run_seconds``; pair ``k`` uses seed
``k + 1`` on both sides.

The verdicts follow the paired-run rule for small sandboxes:

- ``failed``      the change's runs fail or miss the correctness gate on a
                  larger share of their attempted operations than the
                  parent's; no other verdict is given for the workload;
- ``better``      the change wins at least 9 of every 10 pairs (ties count
                  for neither side) and the medians differ by more than
                  the parent's interquartile range;
- ``worse``       the change's median is worse than the parent's by more
                  than the metric's bound in BENCHMARK.json;
- ``unresolved``  the parent's own spread (IQR / median) exceeds the
                  bound, so "no worse" cannot be shown, unless every
                  change run beats every parent run;
- ``no worse``    otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced run of this benchmark's code against the package in
    ``checkout`` (both sides run identical benchmark code); its result.
    A run whose gate failed exits 1 but still prints its result."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"run failed in {checkout}:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def collect(args) -> None:
    seconds = load_spec()["run_seconds"]
    with open(args.out, "a") as out:
        for k in range(args.pairs):
            seed = k + 1
            sides = [("parent", args.parent), ("change", args.change)]
            if k % 2:
                sides.reverse()
            for side, checkout in sides:
                res = run_once(os.path.abspath(checkout), args.workload, seed, seconds)
                out.write(json.dumps({
                    "workload": args.workload, "pair": k, "seed": seed,
                    "side": side, "result": res,
                }) + "\n")
                out.flush()
                print(f"pair {k} {side}: correct={res['correct']}", file=sys.stderr)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def judge(parent: list[float], change: list[float], better: str, bound: float) -> tuple[str, dict]:
    """Apply the paired rule to one metric of one workload."""
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    iqr = p3 - p1
    spread = iqr / abs(pm) if pm else float("inf")
    worse_by = -sign * (cm - pm) / abs(pm) if pm else 0.0
    stats = {
        "parent": (p1, pm, p3), "change": (c1, cm, c3),
        "wins": wins, "pairs": len(pairs), "spread": spread, "worse_by": worse_by,
    }
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > iqr:
        return "better", stats
    if worse_by > bound:
        return "worse", stats
    if spread > bound:
        every = all(sign * (c - p) > 0 for c in change for p in parent)
        return ("better" if every else "unresolved"), stats
    return "no worse", stats


def fail_share(results: list[dict]) -> float:
    return sum(r["failed"] for r in results) / max(sum(r["attempted"] for r in results), 1)


def report(args) -> int:
    spec = {m["name"]: m for m in load_spec()["end_to_end"]}
    runs: dict[tuple[str, str], dict[int, dict]] = {}
    with open(args.results) as f:
        for line in f:
            r = json.loads(line)
            runs.setdefault((r["workload"], r["side"]), {})[r["pair"]] = r["result"]
    status = 0
    for wl in sorted({w for w, _ in runs}):
        par, chg = runs.get((wl, "parent"), {}), runs.get((wl, "change"), {})
        keys = sorted(set(par) & set(chg))
        bad = [k for k in keys if not (par[k]["correct"] and chg[k]["correct"])]
        print(f"\n{wl}: {len(keys)} pairs" + (f", {len(bad)} with a failed gate" if bad else ""))
        f_par = fail_share([par[k] for k in keys])
        f_chg = fail_share([chg[k] for k in keys])
        if f_chg > f_par:
            # a change that is faster because it is wrong is no gain
            print(f"  failed: the change fails {f_chg:.4f} of its operations, "
                  f"the parent {f_par:.4f}")
            status = 1
            continue
        for name, m in spec.items():
            p = [par[k]["metrics"][name]["value"] for k in keys if name in par[k]["metrics"]]
            c = [chg[k]["metrics"][name]["value"] for k in keys if name in chg[k]["metrics"]]
            if not p or len(p) != len(c):
                continue
            verdict, st = judge(p, c, m["better"], m["bound"])
            status |= verdict == "worse"
            print(
                f"  {name:<14} {verdict:<10} parent {st['parent'][1]:.4g} "
                f"[{st['parent'][0]:.4g}, {st['parent'][2]:.4g}]  change {st['change'][1]:.4g} "
                f"[{st['change'][0]:.4g}, {st['change'][2]:.4g}] {m['unit']}  "
                f"wins {st['wins']}/{st['pairs']}  spread {st['spread']:.3f} (bound {m['bound']})"
            )
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect paired, alternating runs")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="judge collected pairs")
    p.add_argument("results")
    args = ap.parse_args(argv)
    if args.cmd == "run":
        collect(args)
        return 0
    return report(args)


if __name__ == "__main__":
    sys.exit(main())
