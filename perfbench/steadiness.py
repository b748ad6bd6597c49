"""Steadiness report and comparison over saved run records.

    python3 perfbench/steadiness.py .perfbench/results/export-live-t0-*.json
    python3 perfbench/steadiness.py --compare A1.json A2.json ... -- B1.json ...

Every run of ``perfbench/run.py`` saves a record under
``.perfbench/results/``.  The report groups records by workload and traced
flag and prints, per metric, the sample count, median, quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the relative spread
``(q3 - q1) / median`` next to the metric's bound from BENCHMARK.json:
``steady`` when the spread is under a third of the bound.  ``--compare``
checks that set B's median is no worse than set A's by more than the
bound.  Both refuse records whose provenance differs in any field of
``common.COMPARABLE`` (seed and git revision are allowed to differ).
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.common import COMPARABLE, provenance_mismatch, quartile_spread  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        rec["_path"] = p
        out.append(rec)
    return out


def bounds() -> dict[str, dict]:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["end_to_end"]}


def check_provenance(records: list[dict]) -> list[str]:
    """Differences between each record and the first, by field."""
    base = records[0]["provenance"]
    errs = []
    for r in records[1:]:
        diff = provenance_mismatch(base, r["provenance"])
        if diff:
            errs.append(f"{r['_path']}: differs in {', '.join(diff)}")
    return errs


def groups(records: list[dict]) -> dict[tuple, list[dict]]:
    out = defaultdict(list)
    for r in records:
        p = r["provenance"]
        out[(p["workload"], p["trace"])].append(r)
    return out


def report(records: list[dict], out=sys.stdout) -> int:
    b = bounds()
    status = 0
    for (workload, trace), recs in sorted(groups(records).items()):
        errs = check_provenance(recs)
        print(f"== {workload} trace={trace}: {len(recs)} runs", file=out)
        if errs:
            print("  refused, provenance differs:", *errs, sep="\n    ", file=out)
            status = 2
            continue
        names = list(recs[0]["metrics"])
        print(f"  {'metric':28s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}", file=out)
        for name in names:
            vals = [r["metrics"][name]["value"] for r in recs if name in r["metrics"]]
            med, q1, q3, spread = quartile_spread(vals)
            bound = b.get(name, {}).get("bound")
            verdict = ""
            if bound is not None and name != "setup_s":
                verdict = ("steady" if spread < bound / 3
                           else "within bound" if spread <= bound else "TOO WIDE")
                if verdict == "TOO WIDE":
                    status = max(status, 1)
            print(f"  {name:28s} {len(vals):3d} {med:12.6g} {q1:12.6g} {q3:12.6g} "
                  f"{spread:8.3f} {bound if bound is not None else '':>6} {verdict}",
                  file=out)
    return status


def compare(a: list[dict], b: list[dict], out=sys.stdout) -> int:
    """B against A: worse by more than the bound is a regression."""
    errs = check_provenance(a + b)
    if errs:
        print("refused, provenance differs:", *errs, sep="\n  ", file=out)
        print(f"(compared fields: {', '.join(COMPARABLE)})", file=out)
        return 2
    spec = bounds()
    status = 0
    for name in a[0]["metrics"]:
        va = [r["metrics"][name]["value"] for r in a]
        vb = [r["metrics"][name]["value"] for r in b]
        ma, mb = quartile_spread(va)[0], quartile_spread(vb)[0]
        m = spec.get(name)
        if m is None:
            print(f"  {name:28s} A={ma:.6g} B={mb:.6g} (no bound)", file=out)
            continue
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        ok = worse <= m["bound"]
        status = status if ok else 1
        print(f"  {name:28s} A={ma:.6g} B={mb:.6g} worse_by={worse:+.3f} "
              f"bound={m['bound']} {'ok' if ok else 'REGRESSED'}", file=out)
    return status


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0
    if argv[0] == "--compare":
        if "--" not in argv:
            print("usage: steadiness.py --compare A... -- B...", file=sys.stderr)
            return 2
        cut = argv.index("--")
        return compare(load(argv[1:cut]), load(argv[cut + 1:]))
    return report(load(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
