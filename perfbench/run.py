"""Benchmark of the Spark engine: one workload per run, closed loop.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catalog_ops --seed 1 --seconds 8 --trace 0

One op is a registered query ``fn(spark, sf_dir)`` followed by
``toPandas()``, the result a user receives. One client thread runs the
workload's ops back to back; the seed shuffles their order in every
pass. The first pass of the process is the cold pass; warm passes
follow until ``--seconds`` have passed (at least ``MIN_WARM_PASSES``).
After the timer stops, every collected result is compared with its
query's DuckDB oracle; an op fails if it raised or its result differs.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` untraced and traced warm passes alternate and it
carries the per-layer metrics of ``perfbench/layertrace.py``, including the
tracing overhead. The line before it holds diagnostics that are no
metric (the run's timeline, fixture and oracle build times, the
host-drift probe, per-op latencies, the median and tail latency). Metric
definitions are in ``perfbench/README.md``.

Each run keeps its temporary files (``TMPDIR``, ``SPARK_LOCAL_DIRS``,
the JVM's ``java.io.tmpdir``) under ``.perfbench/run-<pid>`` and
deletes them at exit; the oracle cache and the last span dump of each
workload stay under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import layertrace  # noqa: E402
import oracle  # noqa: E402
from workloads import ROOT, WORK, WORKLOADS, sf_dir  # noqa: E402

#: warm passes every run makes, however short ``--seconds`` is; each
#: op's warm latency is its median over the passes
MIN_WARM_PASSES = 1
#: the host-drift probe runs ``bench.cpu_canaries`` on inputs this
#: many times smaller than bench.py's, so it costs about three seconds
PROBE_SHRINK = 1024


# ---- process tree and memory ----------------------------------------------


def _parents() -> dict[int, int]:
    out = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            out[int(p.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> set[int]:
    parents = _parents()
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - found
        found |= frontier
    return found


def _pss_kib(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakMemory:
    """Peak resident memory of this process and its live descendants
    (driver JVM, Python daemon and workers), sampled every 0.1 s from a
    background thread. Each process counts its proportional set size,
    so pages that forked workers share are counted once."""

    def __init__(self):
        self.peak_kib = 0
        #: (command name, KiB) of each process at the peak
        self.at_peak: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def _sample(self) -> None:
        me = os.getpid()
        now = []
        for pid in {me} | descendants(me):
            try:
                comm = Path(f"/proc/{pid}/comm").read_text().strip()
            except OSError:
                continue
            now.append((comm, _pss_kib(pid)))
        total = sum(kib for _, kib in now)
        if total > self.peak_kib:
            self.peak_kib, self.at_peak = total, now

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self._sample()

    def stop(self) -> dict[str, float]:
        """Stop sampling; MiB at the peak: in all, the JVM, the Python
        processes (this one included)."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        mib = {
            "mem.peak_mib": self.peak_kib / 1024.0,
            "mem.jvm_mib": 0.0,
            "mem.python_mib": 0.0,
        }
        for comm, kib in self.at_peak:
            if comm == "java":
                mib["mem.jvm_mib"] += kib / 1024.0
            elif comm.startswith("python"):
                mib["mem.python_mib"] += kib / 1024.0
        return mib


# ---- Spark lifecycle --------------------------------------------------------


def _warm_up(spark, sf: str) -> None:
    """The first half of bench.py's warm-up: JVM and parquet footers.
    Python workers start in the cold pass, as a user's first UDF would."""
    spark.read.parquet(f"{sf}/lineitem.parquet").count()


class _ShrunkRange:
    """Hands ``bench.cpu_canaries`` a ``range`` scaled down by ``div``."""

    def __init__(self, spark, div: int):
        self._spark, self._div = spark, div

    def range(self, n: int):
        return self._spark.range(n // self._div)


def shutdown_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child to exit."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
            proc.wait(timeout=60)
    # the Python daemon and workers outlive the JVM for a moment; end them
    for sig, grace in ((signal.SIGTERM, 30.0), (signal.SIGKILL, 10.0)):
        tree = {p for p in tree if Path(f"/proc/{p}").exists()}
        for pid in tree:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while tree and time.monotonic() < deadline:
            time.sleep(0.05)
            tree = {p for p in tree if Path(f"/proc/{p}").exists()}


# ---- the closed loop --------------------------------------------------------


class Loop:
    """Runs ops, keeps each result for the oracle check."""

    def __init__(self, spark, sf: str, ops: list[str], rng: random.Random):
        from aistore_spark.benchqueries import QUERIES
        from aistore_spark.util import release_cached

        self.spark, self.sf, self.ops, self.rng = spark, sf, ops, rng
        self._queries, self._release = QUERIES, release_cached
        self.results: list[tuple[str, object]] = []
        self.errors: list[tuple[str, str]] = []
        self.n_ops = 0

    def run_op(self, name: str) -> tuple[float, float, float] | None:
        """(t0, t1, t2): start, query built, result collected."""
        self.n_ops += 1
        fn = self._queries[name]
        try:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.errors.append((name, f"{type(exc).__name__}: {exc}"[:300]))
            return None
        finally:
            self._release()
        self.results.append((name, pdf))
        return t0, t1, t2

    def run_pass(self, hooks=None) -> dict[str, float]:
        """One pass in seeded order; op name -> latency (s). *hooks*
        (``before(op_id)``, ``after(op_id, name, times)``) run outside
        each op's timed region."""
        lat = {}
        for name in self.rng.sample(self.ops, len(self.ops)):
            op_id = self.n_ops + 1
            if hooks is not None:
                hooks.before(op_id)
            times = self.run_op(name)
            if times is not None:
                lat[name] = times[2] - times[0]
                if hooks is not None:
                    hooks.after(op_id, name, times)
        return lat


class TraceHooks:
    """Per-op job group, phase spans and status-store reading."""

    def __init__(self, spark, tracer, epoch_offset: float):
        self.spark, self.tracer, self.epoch_offset = spark, tracer, epoch_offset
        self.reader = layertrace.StatusReader(spark)
        self.records: list = []

    def before(self, op_id: int) -> None:
        self.tracer.op = op_id
        self.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", "perfbench")

    def after(self, op_id: int, name: str, times) -> None:
        t0, t1, t2 = times
        self.tracer.op = None
        self.tracer.add(layertrace.BUILD, t0, t1, op_id)
        self.tracer.add(layertrace.COLLECT, t1, t2, op_id)
        since_ms = int((t0 + self.epoch_offset) * 1000) - 5
        status = self.reader.op(f"perfbench-{op_id}", since_ms)
        self.records.append(layertrace.OpRecord(op_id, name, t0, t1, t2, status))


def check_results(checker, results: list[tuple[str, object]]) -> list[tuple[str, str]]:
    """(op, reason) of every collected result that differs from its oracle."""
    failures = []
    for name, pdf in results:
        why = checker.mismatch(name, pdf)
        if why is not None:
            failures.append((name, why))
    return failures


def _tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and its value."""
    v = sorted(values)
    if len(v) <= 10:
        return 0.0, 0.0
    k = len(v) - 11
    return (k + 1) / len(v), v[k]


def end_to_end(cold: dict, warm: list[dict], setup_s: float) -> dict:
    per_op: dict[str, list[float]] = {}
    for p in warm:
        for name, t in p.items():
            per_op.setdefault(name, []).append(t)
    op_s = [statistics.median(ts) for ts in per_op.values()]
    return {
        "wall_s": sum(op_s),
        "cold_pass_s": sum(cold.values()),
        "op_gmean_s": statistics.geometric_mean(op_s),
        "setup_s": setup_s,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tools = [ROOT / "tools" / f"{t}.py" for t in ("check_oracle", "gen_sf1")]
    if not (ROOT / "aistore_spark").is_dir() or not all(t.is_file() for t in tools):
        print(f"perfbench: no aistore_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sf = sf_dir()
    if not Path(sf).is_dir():
        print(f"perfbench: data tier {sf} is missing", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        return _run(args, sf, cores, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, sf: str, cores: int, tmp: Path) -> int:
    sys.path.insert(0, str(ROOT))
    import bench

    from aistore_spark import session
    from aistore_spark.sources import io_fixtures
    from aistore_spark.skew import stage_task_skew

    wl = WORKLOADS[args.workload]
    ops = list(wl.ops)
    rng = random.Random(args.seed)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    diag: dict = {"workload": wl.name, "seed": args.seed, "cores": cores}
    t_run = time.perf_counter()
    timeline = diag["timeline_s"] = {}

    def mark(what: str) -> None:
        timeline[what] = time.perf_counter() - t_run

    tracer = layertrace.Tracer() if args.trace else None
    # the set-up: JVM launch, session start and warm-up
    if tracer:
        tracer.install()
    t = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=cores, extra_conf=conf, sf_dir=sf)
    try:
        _warm_up(spark, sf)
        setup_s = diag["setup_s"] = time.perf_counter() - t
        if tracer:
            tracer.uninstall()
        mark("set_up")

        # fixtures and oracles are built outside every timed region
        if wl.fixtures:
            t = time.perf_counter()
            io_fixtures.materialize_shards(spark, sf)
            io_fixtures.materialize_media_shards(spark, sf)
            diag["fixture_build_s"] = time.perf_counter() - t
        all_ops = sorted({op for w in WORKLOADS.values() for op in w.ops})
        if oracle.missing(all_ops, sf):
            # a child process, so DuckDB's memory is not the benchmark's
            t = time.perf_counter()
            cmd = [sys.executable, oracle.__file__, sf, str(cores), *all_ops]
            if subprocess.run(cmd, cwd=ROOT, timeout=600).returncode != 0:
                print("perfbench: oracle build failed", file=sys.stderr)
                return 1
            diag["oracle_build_s"] = time.perf_counter() - t

        mark("fixtures_oracles")
        # memory is a traced-run metric; sampling it would perturb timed runs
        rss = PeakMemory().start() if tracer else None

        t = time.perf_counter()
        probe = _ShrunkRange(spark, PROBE_SHRINK)
        diag["host_probe_s"] = bench.cpu_canaries(probe, runs=1)
        diag["host_probe_total_s"] = time.perf_counter() - t

        mark("probe")
        loop = Loop(spark, sf, ops, rng)
        cold = loop.run_pass()
        mark("cold_pass")
        warm, traced, records = [], [], []
        epoch_offset = time.time() - time.perf_counter()
        skew_max = 1.0
        start_t = time.perf_counter()
        if tracer is None:
            def more() -> bool:
                return time.perf_counter() - start_t < args.seconds

            while len(warm) < MIN_WARM_PASSES or more():
                warm.append(loop.run_pass())
        else:
            # untraced and traced passes alternate, untraced on both ends
            warm.append(loop.run_pass())
            while not traced or time.perf_counter() - start_t < args.seconds:
                pass_ms = int(time.time() * 1000)
                hooks = TraceHooks(spark, tracer, epoch_offset)
                tracer.install()
                traced.append(loop.run_pass(hooks))
                tracer.uninstall()
                records.extend(hooks.records)
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                skews = stage_task_skew(spark, pass_ms, min_max_ms=100.0)
                skew_max = max([skew_max] + [r["ratio"] for r in skews])
                warm.append(loop.run_pass())
        memory = rss.stop() if rss else {}
        mark("warm_passes")
        # after the timer: the oracle check of every collected result,
        # which needs no Spark, overlaps the shutdown
        pool = ThreadPoolExecutor(max_workers=1)
        checked = pool.submit(
            lambda: check_results(oracle.Checker(oracle.expected(ops, sf)), loop.results)
        )
    finally:
        shutdown_spark(spark)
    mark("shutdown")
    failures = loop.errors + checked.result()
    pool.shutdown()
    mark("oracle_check")
    diag["failures"] = failures[:10]
    diag["passes"] = {"warm": len(warm), "traced": len(traced)}
    diag["warm_pass_s"] = [sum(p.values()) for p in warm]
    diag["op_s"] = {
        name: [cold.get(name), statistics.median([p[name] for p in warm if name in p])]
        for name in ops
        if any(name in p for p in warm)
    }
    pooled = [t for p in warm for t in p.values()]
    if pooled:
        diag["op_p50_s"] = statistics.median(pooled)
    diag["op_tail_pct"], diag["op_tail_s"] = _tail(pooled)
    diag["write_s"] = sum(diag["op_s"][op][1] for op in wl.writes if op in diag["op_s"])
    if not warm or not pooled:
        print(json.dumps({"diagnostics": diag}))
        print("perfbench: no op completed", file=sys.stderr)
        return 1

    if tracer is None:
        values = end_to_end(cold, warm, setup_s)
        metrics = {k: {"value": v, "unit": "s"} for k, v in values.items()}
    else:
        walls_u = [sum(p.values()) for p in warm]
        walls_t = [sum(p.values()) for p in traced]
        overhead = statistics.median(walls_t) - statistics.median(walls_u)
        values = layertrace.layer_metrics(
            tracer.spans, records, epoch_offset, len(traced), cores,
            skew_max, overhead,
        )
        values.update(memory)
        units = {n: u for n, u, _ in layertrace.metric_units()}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        _dump_spans(wl.name, tracer, records, epoch_offset)
    print(json.dumps({"diagnostics": diag}))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": loop.n_ops,
                "failed": len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


def _dump_spans(workload: str, tracer, records, epoch_offset: float) -> None:
    """Write the run's spans and op records once, at the end."""
    from dataclasses import asdict

    doc = {
        "epoch_offset": epoch_offset,
        "spans": [asdict(s) for s in tracer.spans],
        "ops": [asdict(r) for r in records],
    }
    WORK.mkdir(exist_ok=True)
    tmp = WORK / f"spans-{workload}.json.tmp"
    tmp.write_text(json.dumps(doc))
    tmp.replace(WORK / f"spans-{workload}.json")


if __name__ == "__main__":
    raise SystemExit(main())
