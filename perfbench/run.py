"""Benchmark entry point.

    python3 perfbench/run.py --workload registry-headline --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout.  Prints a human-readable report (every
metric by name with its unit, provenance, the correctness outcome) and, as
the last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Exits non-zero without a result line when the
engine cannot be imported.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry-headline", "export-live")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics() -> tuple[list[dict], list[dict]]:
    """(end_to_end, per_layer) metric lists of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def select_metrics(declared: list[dict], *sources: dict, idle=()) -> dict:
    """The declared metrics, in declared order, from the first source that
    has each; a name in ``idle`` names a layer the workload never enters
    and reads 0.  A declared metric the workload lacks is a bug."""
    out = {}
    for m in declared:
        name = m["name"]
        found = next((src[name] for src in sources if name in src), None)
        if found is None:
            if name not in idle:
                raise KeyError(f"workload did not measure {name}")
            found = (0.0, m["unit"])
        out[name] = (found[0], m["unit"])
    return out


def untraced_twin(results_dir: str, workload: str, seed: int) -> dict | None:
    """The newest untraced record of the same workload and seed."""
    paths = sorted(
        glob.glob(os.path.join(results_dir, f"{workload}-t0-s{seed}-*.json")),
        key=os.path.getmtime,
    )
    if not paths:
        return None
    with open(paths[-1]) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse(argv)
    if args.seconds < 1:
        print("perfbench: --seconds must be >= 1", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401 - the pinned headline list lives there
        import nntsc_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 3

    import importlib

    from perfbench import common

    common.prepare_dirs()
    res = common.Result()
    res.rss.start()
    spark = None
    module = importlib.import_module(
        "perfbench." + ("registry" if args.workload == "registry-headline" else "server")
    )

    def factory():
        nonlocal spark
        spark = common.start_spark(f"perfbench-{args.workload}", bool(args.trace))
        return spark

    try:
        _, data = module.run(factory, args.seed, args.seconds, bool(args.trace), res)
        res.provenance = common.provenance(
            args.workload, args.seed, bool(args.trace), args.seconds, data, spark
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        res.rss.stop()
        if spark is not None:
            common.stop_spark(spark)
    end_to_end, per_layer = declared_metrics()
    res.end_to_end = select_metrics(end_to_end, res.end_to_end)

    if args.trace:
        from perfbench import trace as tr

        jobs, tasks = tr.read_event_log(os.path.join(common.WORK, "eventlog"))
        module.spark_layer_totals(jobs, tasks, res, res.attempted)
        twin = untraced_twin(common.RESULTS, args.workload, args.seed)
        if twin is None:
            res.notes["tracing_overhead"] = "no untraced run of this seed recorded"
        else:
            res.notes["tracing_overhead"] = {
                k: round(v - twin["metrics"][k]["value"], 6)
                for k, (v, _) in res.end_to_end.items()
                if k in twin["metrics"]
            }
        res.per_layer = select_metrics(per_layer, res.per_layer, res.detail,
                                       idle=module.IDLE_LAYERS)

    res.print_report(bool(args.trace))
    res.save(args.workload, args.seed, bool(args.trace))
    print(res.final_line(bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
