"""Parent-vs-change comparison of the end-to-end metrics.

    python3 poibench/compare.py --parent ../parent --change . --workload dedup_index

``--parent`` and ``--change`` are engine checkouts. Both sides run this
file's copy of the benchmark (identical benchmark code and settings),
pointed at each side's engine with ``run.py --engine-root``. Runs come
in ten pairs with alternating order (parent first on even pairs,
change first on odd pairs), each pair on a fresh seed. A run that fails
or gives wrong output has no metrics. For every end-to-end metric of
BENCHMARK.json the report gives each side's median and quartiles over
its good runs, the change's win count over all ten pairs (a tie or a
pair with a failed side is no win), and a verdict:

- ``improved``: the change wins at least 9 pairs in 10, the medians
  differ by more than the parent's own interquartile distance, and the
  change failed no more operations than the parent;
- ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: the parent's own spread (interquartile distance over
  its median) exceeds the bound, unless every change run beats every
  parent run;
- ``unchanged``: none of the above.

The last line of output is the whole report as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
PAIRS = 10
SEED_BASE = 1000  # pair i runs seed SEED_BASE + i on both sides


def run_once(engine: Path, workload: str, seed: int, seconds: float) -> tuple[dict | None, int]:
    """(metrics, failed operations); metrics are None when the run
    failed or gave wrong output, and a crashed run counts one failure."""
    cmd = [sys.executable, str(HERE / "run.py"), "--engine-root", str(engine),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=engine, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"run failed ({engine}, seed {seed}): exit {proc.returncode}", file=sys.stderr)
        return None, 1
    out = json.loads(lines[-1])
    if not out["correct"]:
        print(f"wrong output ({engine}, seed {seed})", file=sys.stderr)
        return None, max(1, out["failed"])
    return {k: v["value"] for k, v in out["metrics"].items()}, 0


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float | None], change: list[float | None], better: str,
            bound: float, more_failed: bool) -> dict:
    """``parent[i]`` and ``change[i]`` are pair i's values, None where
    that side's run failed; ``more_failed``: the change failed more
    operations than the parent."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(p is not None and c is not None and sign * (c - p) > 0
               for p, c in zip(parent, change))
    good_p = [p for p in parent if p is not None]
    good_c = [c for c in change if c is not None]
    if not good_p or not good_c:
        return dict(wins=wins, pairs=len(parent), verdict="unresolved")
    p1, pm, p3 = quartiles(good_p)
    c1, cm, c3 = quartiles(good_c)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse_by = -sign * (cm - pm) / pm if pm else 0.0
    separated = (min(good_c) > max(good_p)) if sign > 0 else (max(good_c) < min(good_p))
    if wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1) and not more_failed:
        v = "improved"
    elif worse_by > bound:
        v = "regressed"
    elif spread > bound and not separated:
        v = "unresolved"
    else:
        v = "unchanged"
    return dict(parent=dict(q1=p1, median=pm, q3=p3), change=dict(q1=c1, median=cm, q3=c3),
                wins=wins, pairs=len(parent), parent_spread=spread, worse_by=worse_by,
                bound=bound, verdict=v)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--workload", required=True)
    args = ap.parse_args(argv)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    runs: dict[str, list[dict | None]] = {"parent": [], "change": []}
    failed = {"parent": 0, "change": 0}   # failed operations per side
    for i in range(PAIRS):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            metrics, n_failed = run_once(sides[side], args.workload, SEED_BASE + i, seconds)
            runs[side].append(metrics)
            failed[side] += n_failed
        print(f"pair {i + 1}/{PAIRS} done", file=sys.stderr)
    report = dict(workload=args.workload, pairs=PAIRS, failed_ops=failed, metrics={})
    for m in spec["end_to_end"]:
        name = m["name"]
        values = {side: [r[name] if r else None for r in rs] for side, rs in runs.items()}
        r = verdict(values["parent"], values["change"], m["better"], m["bound"],
                    failed["change"] > failed["parent"])
        report["metrics"][name] = r
        if "parent" not in r:
            print(f"{name:14s} no good run on one side  {r['verdict']}")
            continue
        print(f"{name:14s} parent {r['parent']['median']:.4g} [{r['parent']['q1']:.4g}, "
              f"{r['parent']['q3']:.4g}]  change {r['change']['median']:.4g} "
              f"[{r['change']['q1']:.4g}, {r['change']['q3']:.4g}]  wins {r['wins']}/{r['pairs']}"
              f"  {r['verdict']}")
    print(json.dumps(report))
    return 0 if not any(failed.values()) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
