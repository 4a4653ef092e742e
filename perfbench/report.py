"""Per-layer report: runs every workload untraced and traced on several
seeds and prints each per-layer metric by name, per workload (median over
the traced runs), next to the tracing overhead (median of the traced
runs' own end-to-end values against the median of the untraced runs).

    python3 perfbench/report.py --seeds 1,2,3 [--seconds S] [--workloads backfill,live]

Run from the repository root; ``--seconds`` defaults to ``run_seconds``
in ``BENCHMARK.json``. The runs go one after another (never in
parallel: they would contend for the same cores), an untraced and a
traced run per seed in turn, so host drift falls on both alike. Each
traced run leaves its spans and its own end-to-end values in
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def traced_end_to_end(workload: str, seed: int) -> dict:
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-{seed}.json")
    with open(path) as fh:
        return json.load(fh)["end_to_end"]


def median_of(runs: list[dict], name: str) -> float:
    return statistics.median(r[name]["value"] for r in runs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="comma-separated, e.g. 1,2,3")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    ap.add_argument("--seconds", type=float, default=run_seconds)
    ap.add_argument("--workloads", default="backfill,live")
    args = ap.parse_args(argv)
    wls, seeds = args.workloads.split(","), [int(s) for s in args.seeds.split(",")]
    plain = {w: [] for w in wls}  # untraced results (end-to-end metrics)
    layer = {w: [] for w in wls}  # traced results (per-layer metrics)
    own = {w: [] for w in wls}  # the traced runs' own end-to-end metrics
    status = []
    for w in wls:
        for s in seeds:
            for trace, into in ((0, plain[w]), (1, layer[w])):
                r = run(w, s, args.seconds, trace)
                into.append(r["metrics"])
                status.append(f"# {w} seed={s} trace={trace}: correct={r['correct']} "
                              f"attempted={r['attempted']} failed={r['failed']}")
            own[w].append(traced_end_to_end(w, s))

    first = layer[wls[0]][0]
    print(f"per-layer metric (median of {len(seeds)} traced runs)")
    print(f"{'':30s} {'unit':6s} " + " ".join(f"{w:>14s}" for w in wls))
    for n, m in first.items():
        cells = " ".join(f"{median_of(layer[w], n):14.6g}" for w in wls)
        print(f"{n:30s} {m['unit']:6s} {cells}")
    print()
    print(f"tracing overhead (median traced vs median untraced, {len(seeds)} seeds each)")
    for n in plain[wls[0]][0]:
        cells = []
        for w in wls:
            u, t = median_of(plain[w], n), median_of(own[w], n)
            cells.append(f"{(t - u) / u * 100:+13.1f}%" if u else f"{'n/a':>14s}")
        print(f"{n:30s} {'':6s} " + " ".join(cells))
    print()
    print("\n".join(status))
    return 0


if __name__ == "__main__":
    sys.exit(main())
