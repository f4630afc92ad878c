"""Two-set self-check of the lake benchmark.

    python3 lakebench/selfcheck.py                      # 2 sets x 10 seeds, every workload
    python3 lakebench/selfcheck.py --workloads lakehouse_cdc
    python3 lakebench/selfcheck.py --traced-pair        # same-seed traced runs, exact counts
    python3 lakebench/selfcheck.py --report             # one run per workload, every metric

Runs ``run.py`` once per (set, workload, seed), each time as its own
process from the repository root, and prints for every end-to-end metric
on every workload: each set's median, its spread (the distance between
the first and third quartile as a share of the median), the bound from
BENCHMARK.json, and whether a spread exceeds the bound or the second
median is worse than the first by more than the bound.  ``--traced-pair``
instead makes two traced runs with one seed per workload and lists every
count the traced output marks exact that differed between them.
``--report`` runs each workload once and prints every end-to-end metric
that the workload defines (the gated ones and the per-workload ones listed
in design.json), with unit and sample count, the known defects and the
output-check failures.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETS = 2
SEEDS = 10
FIRST_SEED = 101


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def two_sets(bench: dict, workloads: list[str]) -> int:
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    results: dict[tuple[int, str], list[dict]] = {}
    for s in range(SETS):
        for w in workloads:
            for i in range(SEEDS):
                out = run_once(w, FIRST_SEED + i, bench["run_seconds"], 0)
                results.setdefault((s, w), []).append(out)
                print(f"set {s + 1} {w} seed {FIRST_SEED + i}: correct={out['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                      file=sys.stderr, flush=True)
    bad = 0
    print(f"{'workload':<14} {'metric':<12} {'unit':<7} {'bound':>6} "
          + " ".join(f"{'median' + str(s + 1):>12} {'spread' + str(s + 1):>8}" for s in range(SETS))
          + "  verdict")
    for w in workloads:
        for name, m in e2e.items():
            meds, spreads = [], []
            for s in range(SETS):
                vals = [r["metrics"][name]["value"] for r in results[(s, w)]]
                meds.append(statistics.median(vals))
                spreads.append(spread(vals))
            verdict = []
            if any(sp > m["bound"] for sp in spreads):
                verdict.append("SPREAD>BOUND")
            change = (meds[1] - meds[0]) / meds[0]
            worse = change if m["better"] == "lower" else -change
            if worse > m["bound"]:
                verdict.append("SECOND-WORSE")
            bad += bool(verdict)
            print(f"{w:<14} {name:<12} {m['unit']:<7} {m['bound']:>6.3f} "
                  + " ".join(f"{md:>12.5g} {sp:>8.4f}" for md, sp in zip(meds, spreads))
                  + "  " + (" ".join(verdict) or "ok"))
    failed = sum(1 for rs in results.values() for r in rs if not r["correct"])
    print(f"runs with failed operations: {failed}")
    return 1 if bad or failed else 0


def traced_pair(workloads: list[str], seconds: int, seed: int) -> int:
    bad = 0
    for w in workloads:
        outs = []
        for _ in range(2):
            run_once(w, seed, seconds, 1)
            outs.append(json.loads((HERE / "_out" / f"{w}-seed{seed}-trace1.json").read_text()))
        a, b = outs
        counts = a["exact_counts"] + list(a["non_exact"])
        diff = {k: (a["per_layer"][k], b["per_layer"][k]) for k in counts if a["per_layer"][k] != b["per_layer"][k]}
        wrong = [k for k in diff if k in a["exact_counts"]]
        bad += bool(wrong)
        print(f"{w}: {len(a['exact_counts'])} counts marked exact, {len(wrong)} of them differ")
        for k, (x, y) in diff.items():
            print(f"  {'EXACT ' if k in wrong else ''}{k}: {x} vs {y}")
        for k, why in a["non_exact"].items():
            print(f"  non-exact {k}: {why}")
    return 1 if bad else 0


def report(workloads: list[str], seconds: int, seed: int) -> int:
    failed = 0
    for w in workloads:
        out = run_once(w, seed, seconds, 0)
        detail = json.loads((HERE / "_out" / f"{w}-seed{seed}-trace0.json").read_text())
        print(f"{w} (seed {seed}): correct={out['correct']} attempted={out['attempted']} failed={out['failed']}")
        for name, m in detail["all_end_to_end"].items():
            pct = f" p{m['percentile']}" if m.get("percentile") else ""
            val = "n/a (fewer than 20 samples)" if m["value"] is None else f"{m['value']:.6g}"
            print(f"  {name:<18} {val:>14} {m['unit']:<7} samples={m['samples']}{pct}")
        for name, k in detail["known_defects"].items():
            print(f"  known defect {name} = {k['value']} (want {k['want']}): {k['why']}")
        for f in detail["failures"]:
            print(f"  FAILED {f}")
        failed += out["failed"]
    return 1 if failed else 0


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=names, choices=names)
    ap.add_argument("--traced-pair", action="store_true")
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args(argv)
    if args.report:
        return report(args.workloads, bench["run_seconds"], FIRST_SEED)
    if args.traced_pair:
        return traced_pair(args.workloads, bench["run_seconds"], FIRST_SEED)
    return two_sets(bench, args.workloads)


if __name__ == "__main__":
    sys.exit(main())
