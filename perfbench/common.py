"""Shared pieces of the benchmark: paths, the Spark session, timing
statistics, the memory sampler, provenance and result output.

Everything the benchmark writes goes under ``<checkout>/.perfbench/``:
``work/`` is wiped at the start of every run (generated data, Spark local
dirs, the event log, streaming checkpoints) and ``results/`` keeps one JSON
record per run for ``perfbench/steadiness.py``.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
RESULTS = os.path.join(STATE, "results")

#: bumped whenever a change to the benchmark makes old results incomparable
BENCH_VERSION = 2
#: local[N] cores; capped so one run stays small on a shared machine
MAX_CPUS = 4
DRIVER_MEM = "2g"


# -- statistics ---------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 <= q <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def beyond(n: int, q: float) -> int:
    """Samples strictly beyond the ``q``-th percentile of ``n`` samples."""
    return int(math.floor(n * (100.0 - q) / 100.0 + 1e-9))


def tail_supported(n: int, q: float, need: int = 10) -> bool:
    """True when ``n`` samples put at least ``need`` beyond percentile q."""
    return beyond(n, q) >= need


def highest_tail(n: int, candidates=(99, 95, 90, 75, 50), need: int = 10):
    """The highest candidate percentile that ``n`` samples support, or None."""
    for q in candidates:
        if tail_supported(n, q, need):
            return q
    return None


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Window:
    """A measured window of whole rounds lasting about ``seconds``.

    The first round always runs; another starts only while it is expected
    to end no later than half a round past ``seconds``, so the window lies
    within half a round of the target whatever the host's speed.
    """

    def __init__(self, seconds: float, clock=time.monotonic) -> None:
        self.seconds = seconds
        self.clock = clock
        self.t0 = clock()
        self.rounds = 0

    def another_round(self) -> bool:
        elapsed = self.clock() - self.t0
        if self.rounds and elapsed + elapsed / self.rounds / 2 > self.seconds:
            return False
        self.rounds += 1
        return True


class HostProbe:
    """How fast the host runs right now, against a quiet reference host.

    The machine is shared: other tenants slow the overhead-bound Spark
    jobs of a run by up to 2x for minutes at a time, far more than any
    bound worth setting.  The probe times a fixed, tiny Spark job that
    runs no code of this repository (``range`` -> global ``sum`` over
    ``defaultParallelism`` partitions): it pays the same job scheduling,
    task hand-offs and shuffle as the engine's small queries.  A workload
    calls ``sample()`` while the engine is idle, outside its timed
    regions, from set-up to the end of the measured window.  The run's
    host ``factor()`` is the probe's median time over ``REF_S``.

    Over six registry-headline runs on a 4-vCPU host whose raw work_s
    ranged 2.1x, the probe ranged 2.1x with it, while a pure-Python loop
    and a JVM sort timed alongside ranged only 1.4x.  The probe shares the
    session, so a change to the session's configuration can move it too;
    the measured values stay in each run's detail as ``raw.<name>``.
    """

    ROWS = 20_000
    #: the probe's median on a 4-vCPU Intel Xeon VM at its usual speed
    REF_S = 0.085
    #: first samples are dropped: the job's code is not generated yet
    COLD = 2

    def __init__(self, spark) -> None:
        self.spark = spark
        self.parts = spark.sparkContext.defaultParallelism
        self.times: list[float] = []
        #: wall seconds spent probing, so set-up time can leave it out
        self.spent = 0.0

    def sample(self, n: int = 1) -> None:
        for _ in range(n):
            t0 = time.perf_counter()
            out = (self.spark.range(0, self.ROWS, 1, self.parts)
                   .selectExpr("sum(id)").collect())
            dt = time.perf_counter() - t0
            if out[0][0] != self.ROWS * (self.ROWS - 1) // 2:
                raise RuntimeError(f"host probe summed {out[0][0]}")
            self.times.append(dt)
            self.spent += dt

    def factor(self) -> float:
        return median(self.times[self.COLD:]) / self.REF_S

    def record(self, res: "Result") -> float:
        """Put the probe's figures in the run's detail; returns the factor."""
        f = self.factor()
        res.detail["host.factor"] = (f, "x")
        res.detail["host.probe_ms"] = (median(self.times[self.COLD:]) * 1e3, "ms")
        res.detail["host.probes"] = (float(len(self.times) - self.COLD), "count")
        return f


def quartile_spread(values) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as ``statistics.quantiles``
    gives the quartiles."""
    import statistics

    if len(values) < 2:
        v = float(values[0])
        return v, v, v, 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else float("inf")


class OpenLoop:
    """Fixed-rate schedule: operation ``i`` is due at ``t0 + i * interval``.

    Latency is measured from the due time, not from when the generator got
    round to sending, so a stall that delays later sends is charged to
    every operation it delayed; ``lateness`` reports how far behind the
    generator itself ran.
    """

    def __init__(self, t0: float, interval: float) -> None:
        self.t0 = t0
        self.interval = interval
        self.sent: dict[int, float] = {}

    def due(self, i: int) -> float:
        return self.t0 + i * self.interval

    def wait(self, i: int, clock=time.monotonic, sleep=time.sleep) -> None:
        """Sleep until operation ``i`` is due (returns at once when late)."""
        delay = self.due(i) - clock()
        if delay > 0:
            sleep(delay)

    def mark_sent(self, i: int, at: float) -> None:
        self.sent[i] = at

    def lateness(self, i: int) -> float:
        return max(0.0, self.sent[i] - self.due(i))

    def latency(self, i: int, done_at: float) -> float:
        return done_at - self.due(i)


# -- environment --------------------------------------------------------------


def prepare_dirs() -> None:
    """Fresh work dir; temp files of Python and the JVM stay inside it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in (WORK, RESULTS, os.path.join(WORK, "tmp")):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def start_spark(app: str, trace: bool):
    """The engine's own session factory plus benchmark-local paths; the
    event log is on only in traced runs."""
    from nntsc_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap: G1 resizing the heap differently from run to
        # run made GC cost, and with it every timing, vary by ~15%
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM}"
        ),
    }
    if trace:
        logdir = os.path.join(WORK, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": logdir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    return proc.pid if proc is not None else None


def _rss_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this Python process plus the driver JVM,
    sampled from /proc every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.05) -> None:
        self.period = period
        self.peak_kb = 0
        self.peak_py_kb = 0
        self.peak_jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        pid = jvm_pid()
        py, jvm = _rss_kb("self"), (_rss_kb(pid) if pid else 0)
        self.peak_kb = max(self.peak_kb, py + jvm)
        self.peak_py_kb = max(self.peak_py_kb, py)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> float:
        """Stop sampling (idempotent) and return the peak in MB.  The
        workloads stop it when their measured window ends, so the
        correctness checks that follow are not counted."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
        return self.peak_kb / 1024.0


# -- provenance ---------------------------------------------------------------

#: provenance fields that must match before two result sets are compared;
#: ``git_rev`` and ``seed`` are recorded but expected to differ
COMPARABLE = (
    "bench_version",
    "workload",
    "trace",
    "run_seconds",
    "nproc",
    "spark_graft_cpus",
    "driver_mem",
    "data",
    "pyspark",
    "java",
    "python",
)


def _git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def java_version(spark) -> str:
    try:
        return spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        )
    except Exception:  # py4j errors surface as several exception types
        return "unknown"


def provenance(workload: str, seed: int, trace: bool, seconds: int,
               data: dict, spark) -> dict:
    import pyspark

    return {
        "bench_version": BENCH_VERSION,
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "run_seconds": seconds,
        "git_rev": _git_rev(),
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
        "data": data,
        "pyspark": pyspark.__version__,
        "java": java_version(spark),
        "python": platform.python_version(),
    }


def provenance_mismatch(a: dict, b: dict) -> list[str]:
    """Fields that make two provenance records incomparable."""
    return [k for k in COMPARABLE if a.get(k) != b.get(k)]


# -- output -------------------------------------------------------------------


class Result:
    """Metrics, correctness outcome and provenance of one run."""

    def __init__(self) -> None:
        self.end_to_end: dict[str, tuple[float, str]] = {}
        self.per_layer: dict[str, tuple[float, str]] = {}
        #: named metrics that only this workload has (printed, saved)
        self.detail: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.notes: dict[str, object] = {}
        self.provenance: dict = {}
        self.rss = RssSampler()

    def end_measurement(self) -> None:
        """Called by a workload when its measured window closes."""
        mb = self.rss.stop()
        self.end_to_end["peak_rss_mb"] = (mb, "MB")
        self.detail["rss.python_peak_mb"] = (self.rss.peak_py_kb / 1024.0, "MB")
        self.detail["rss.jvm_peak_mb"] = (self.rss.peak_jvm_kb / 1024.0, "MB")

    def timed(self, raw: dict, factor: float, rates=()) -> None:
        """End-to-end timings at the reference host's speed: each time in
        ``raw`` divided by ``factor`` (a ``HostProbe`` factor), each rate
        named in ``rates`` multiplied by it.  The measured values stay in
        the detail as ``raw.<name>``."""
        for name, (value, unit) in raw.items():
            self.detail[f"raw.{name}"] = (value, unit)
            scaled = value * factor if name in rates else value / factor
            self.end_to_end[name] = (scaled, unit)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def print_report(self, trace: bool) -> None:
        out = sys.stdout
        print(f"== provenance: {json.dumps(self.provenance, sort_keys=True)}",
              file=out)
        sections = [("end-to-end", self.end_to_end)]
        if trace:
            sections.append(("per-layer", self.per_layer))
        sections.append(("workload detail", self.detail))
        for title, metrics in sections:
            print(f"== {title}", file=out)
            for name, (value, unit) in metrics.items():
                print(f"  {name:40s} {value:16.6g} {unit}", file=out)
        for k, v in self.notes.items():
            print(f"  note {k}: {v}", file=out)
        frac = self.failed / self.attempted if self.attempted else 1.0
        print(f"== correctness: attempted={self.attempted} failed="
              f"{self.failed} failed_frac={frac:.6g} "
              f"{'OK' if not self.failed else 'FAILED'}", file=out)
        for e in self.errors:
            print(f"  error: {e}", file=out)

    def save(self, workload: str, seed: int, trace: bool) -> str:
        os.makedirs(RESULTS, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        path = os.path.join(
            RESULTS, f"{workload}-t{int(trace)}-s{seed}-{stamp}-{os.getpid()}.json"
        )
        with open(path, "w") as fh:
            json.dump(self.record(trace), fh, indent=1, sort_keys=True)
        return path

    def record(self, trace: bool) -> dict:
        def as_json(metrics):
            return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

        return {
            "provenance": self.provenance,
            "metrics": as_json(self.per_layer if trace else self.end_to_end),
            "end_to_end": as_json(self.end_to_end),
            "detail": as_json(self.detail),
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors,
        }

    def final_line(self, trace: bool) -> str:
        metrics = self.per_layer if trace else self.end_to_end
        return json.dumps(
            {
                "correct": self.failed == 0 and self.attempted > 0,
                "attempted": max(1, self.attempted),
                "failed": self.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
