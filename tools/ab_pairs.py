"""Paired A/B runs of the benchmark: a parent checkout against a change.

    python tools/ab_pairs.py <parent_dir> <change_dir> --workload W --pairs N [--seed S]

Each pair runs the benchmark command of ``BENCHMARK.json`` (read from
``change_dir``; ``perfbench/run.py``) once from each checkout with
``--workload W --seed <S + pair> --seconds <run_seconds> --trace 0``, one
run at a time, alternating which side goes first.  Every run prints one JSON
line here as it finishes.  The summary gives, per end-to-end metric, each
side's median and quartiles, the change's wins (ties count for neither, a
pair with a failed run for neither), whether a gain can be claimed (wins in
at least nine tenths of the pairs run and a median difference larger than
the parent's interquartile range) and whether the change's median is worse
than the parent's by more than the metric's bound.  Nothing under either
checkout's ``perfbench/`` is changed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 900


def run_once(checkout: str, command: list[str], workload: str, seed: int,
             seconds: float) -> dict:
    """One untraced benchmark run from ``checkout``: its last JSON line
    (``correct``, ``metrics``), or ``{"correct": False, "error": ...}``."""
    args = [*command, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0"]
    try:
        proc = subprocess.run(args, cwd=checkout, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"correct": False, "error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        return {"correct": False, "error": f"exit {proc.returncode}: {proc.stderr[-400:]}"}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[dict], declared: list[dict]) -> list[dict]:
    """Per end-to-end metric: both sides' quartiles, the change's wins, and
    the gain and regression verdicts (the rules in the module docstring)."""
    rows = []
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        side = {k: [p[k]["metrics"][name]["value"] for p in pairs
                    if name in p[k].get("metrics", {})] for k in ("parent", "change")}
        wins = 0
        for p in pairs:
            try:
                a = p["parent"]["metrics"][name]["value"]
                b = p["change"]["metrics"][name]["value"]
            except KeyError:
                continue
            wins += (b < a) if lower else (b > a)
        pq, cq = quartiles(side["parent"]), quartiles(side["change"])
        better = (cq[1] < pq[1]) if lower else (cq[1] > pq[1])
        worse_by = (cq[1] - pq[1]) / pq[1] * (1 if lower else -1) if pq[1] else 0.0
        rows.append({
            "metric": name, "unit": m["unit"], "better": m["better"],
            "parent": pq, "change": cq, "wins": wins, "pairs": len(pairs),
            "gain": better and wins >= 0.9 * len(pairs) and abs(cq[1] - pq[1]) > pq[2] - pq[0],
            "regression": worse_by > m["bound"],
        })
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args()

    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    dirs = {"parent": os.path.abspath(args.parent_dir), "change": os.path.abspath(args.change_dir)}
    pairs = []
    for k in range(args.pairs):
        seed = args.seed + k
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(dirs[side], bench["command"], args.workload, seed,
                                  bench["run_seconds"])
            print(json.dumps({"pair": k, "seed": seed, "side": side, **pair[side]}), flush=True)
        pairs.append(pair)

    failed = {s: sum(not p[s].get("correct") for p in pairs) for s in ("parent", "change")}
    print(f"\n{args.workload}: {args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1}, "
          f"failed runs parent {failed['parent']} change {failed['change']}")
    print(f"{'metric':<12} {'parent q1/median/q3':>32} {'change q1/median/q3':>32} "
          f"{'change/parent':>13} {'wins':>6}  verdict")
    for r in summarize(pairs, bench["end_to_end"]):
        ratio = r["change"][1] / r["parent"][1] if r["parent"][1] else float("nan")
        verdict = ("regression" if r["regression"] else
                   "gain" if r["gain"] else "no gain claimed")
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        print(f"{r['metric']:<12} {fmt.format(*r['parent']):>32} {fmt.format(*r['change']):>32} "
              f"{ratio:>13.3f} {r['wins']:>3}/{r['pairs']:<2}  {verdict}")
    return 0 if not any(failed.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
