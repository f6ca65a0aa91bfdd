"""Compare two sets of kept benchmark results, metric by metric.

    python3 perfbench/compare.py --base A.json [A2.json ...] --new B.json [B2.json ...]

The files are the results ``perfbench/run.py`` keeps under
``.perfbench_work/results/``. All of them must come from one workload and
one ``--trace`` setting and be recorded at the same ``cpus``; otherwise the
comparison is refused (exit code 2), because a number measured on another
core count says nothing about this change. For each metric it prints the
base median with its quartiles, the new median, and the change.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


class Incomparable(ValueError):
    pass


def load(paths: list[str]) -> list[dict]:
    out = []
    for path in paths:
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def compare(base: list[dict], new: list[dict]) -> list[str]:
    runs = base + new
    for key in ("workload", "trace"):
        if len({r[key] for r in runs}) != 1:
            raise Incomparable(f"results mix {key} values {sorted({str(r[key]) for r in runs})}")
    cpus = sorted({r["host"]["cpus"] for r in runs})
    if len(cpus) != 1:
        raise Incomparable(f"results were recorded at different cpus {cpus}")
    field = "layers" if runs[0]["trace"] else "all_metrics"
    lines = [f"{runs[0]['workload']} at cpus={cpus[0]}: {len(base)} base vs {len(new)} new runs"]
    for name in sorted(set.intersection(*(set(r[field]) for r in runs))):
        b = [r[field][name] for r in base]
        n = [r[field][name] for r in new]
        bq = statistics.quantiles(b, n=4) if len(b) > 1 else [b[0]] * 3
        bm, nm = statistics.median(b), statistics.median(n)
        change = f"{100.0 * (nm / bm - 1.0):+.1f}%" if bm else "n/a"
        lines.append(f"{name:40s} {bm:12.4g} [{bq[0]:.4g}, {bq[2]:.4g}] -> {nm:12.4g} {change}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    try:
        print("\n".join(compare(load(args.base), load(args.new))))
    except Incomparable as exc:
        print(f"compare: refused: {exc}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
