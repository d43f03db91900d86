"""One row per workload from the runs recorded under ``.perfbench/results/``:
the median of each end-to-end metric over the untraced runs, its spread
(distance between the quartiles as a share of the median), the failed
fraction over all runs, and the median of each per-layer metric over the
traced runs.

    python3 perfbench/report.py            # every recorded run
    python3 perfbench/report.py --layers   # per-layer medians as well
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

RESULTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench", "results")
E2E = (("setup_s", "s"), ("clips_per_s", "1/s"), ("latency_p50_s", "s"),
       ("latency_tail_s", "s"), ("peak_rss_mb", "MB"))


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--layers", action="store_true")
    args = ap.parse_args()
    runs: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, "*-t[01].json"))):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault(r["workload"], []).append(r)
    for workload, rs in sorted(runs.items()):
        plain = [r for r in rs if not r["trace"]]
        attempted = sum(r["attempted"] for r in rs)
        failed = sum(r["failed"] for r in rs)
        cells = []
        for name, unit in E2E:
            xs = [r["end_to_end"][name] for r in plain]
            if xs:
                cells.append(f"{name}={statistics.median(xs):.4g} {unit} (±{spread(xs):.3f})")
        tails = {(r["info"]["latency_tail_percentile"], r["info"]["latency_samples"])
                 for r in plain}
        print(f"{workload:13s} runs={len(plain)}  " + "  ".join(cells)
              + f"  failed_frac={failed / max(1, attempted):.4f} ({failed}/{attempted})"
              + "  tail=" + ",".join(f"p{q:.0f}/n{n}" for q, n in sorted(tails)))
        traced = [r for r in rs if r["trace"]]
        if args.layers and traced:
            for name in traced[0]["per_layer"]:
                xs = [r["per_layer"][name] for r in traced]
                print(f"    {name:42s} {statistics.median(xs):.6g}  (n={len(xs)})")


if __name__ == "__main__":
    main()
