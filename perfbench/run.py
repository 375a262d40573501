"""Layered benchmark of the production extraction job.

    python3 perfbench/run.py --workload fixture_mix --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) through
``engine.run_extraction_job`` on ``local[4]`` and checks every written
turn against the text the generator embedded.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` measures the end-to-end metrics over three local[4]
sessions on one JVM.  The first session runs one untimed full job as a
warm-up, then the timed job rounds: three, more if they fit in
``--seconds``.  A round is a full job, then a re-run after a seeded
quarter of the buckets' lineage and results was deleted.  The other two
sessions are only started and stopped, for ``setup_s``.

* ``setup_s`` — median of the three session starts (SparkSession on the
  already-launched JVM plus a warm-up pass through every Python worker);
* ``turns_per_s`` / ``resume_s`` — median over the timed rounds;
* ``worker_peak_rss_mb`` — the largest VmHWM of the Python workers.

Every timed span (session start, job, resume) is corrected for the
host's speed while it ran.  ``HostProbe`` times a fixed pure-Python
loop on every core before the first span and after each one; a span's
wall time is scaled by ``PROBE_NOMINAL_S`` ÷ the median of the
``PROBE_WINDOW`` probes on each side of it.  On a shared host the same
loop's speed moves by up to 2.6x within minutes, which no number of
rounds in one run averages away.  The times are therefore seconds of a
host that runs the probe in ``PROBE_NOMINAL_S``; stderr shows each raw
wall time, its probe median and the corrected time.

``--trace 1`` prints the per-layer metrics instead: Spark stage metrics
from the live application's status REST API, and kernel-layer self
times from a single-process re-drive of the same rows (``layers.py``).
The line before the result holds ``text_equality_rate`` and
``failed_ratio``.  ``DESIGN.md`` has the workloads, the metrics and the
sizing decisions.

The program files are never edited; layers are reached only through
their public entry points.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# Buckets per job.  Each bucket is one Spark task of the kernel stage,
# and every Python task costs a fixed ~0.15 s of CPU; the production
# default of 64 would make these inputs measure mostly that fixed cost.
N_BUCKETS = 16
CORES = 4
WARMUP_ROWS = 256
TIMED_ROUNDS = 3  # at least
SESSION_STARTS = 3  # sampled for setup_s
# Host-speed probe: PROBE_LOOPS iterations of a pure-Python loop in each
# of CORES processes at once take about PROBE_NOMINAL_S on a calm 4-vCPU
# host.  The constant only sets the scale of the corrected times.
PROBE_LOOPS = 2_000_000
PROBE_NOMINAL_S = 0.15
PROBE_WINDOW = 3  # probes on each side of a span that set its host speed


def _environment() -> None:
    """Spark sessions started here import the package from this
    checkout, use this interpreter, keep their scratch files inside the
    work directory and never see the opt-in kernel cache."""
    if not os.path.isdir(os.path.join(ROOT, "pdf_parser_c_spark")):
        sys.exit(f"perfbench: no pdf_parser_c_spark package next to {HERE}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_KERNEL_CACHE", None)
    # C1 only: a run is ~10 jobs, and the default tiered JIT compiles
    # through most of them, which put ~30% spread on the timings
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-memory 2g",
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={os.path.join(WORK, 'spark')}"),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)
    import pdf_parser_c_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(pdf_parser_c_spark.__file__))) != ROOT:
        sys.exit("perfbench: pdf_parser_c_spark was imported from outside the checkout")


class Checker:
    """Per-turn correctness over every job a run makes.

    A turn fails when it is missing, written more than once, carries a
    status other than the expected one, or differs in text.  A job that
    raises fails all of its turns."""

    def __init__(self, expected):
        self.expected = expected
        self.attempted = self.failed = self.text_equal = 0

    def check(self, results_path: str) -> int:
        import pyarrow.parquet as pq

        return self.check_frame(pq.read_table(results_path, columns=[
            "conv_id", "turn_idx", "status", "text"]).to_pandas())

    def check_frame(self, got, turns=None) -> int:
        """Check written rows ``got`` against the expected turns, or
        only those in ``turns`` (a frame of conv_id, turn_idx)."""
        keys = ["conv_id", "turn_idx"]
        expected = self.expected if turns is None else self.expected.merge(turns, on=keys)
        n = got.groupby(keys).size().rename("n").reset_index()
        m = (expected.merge(n, on=keys, how="left")
             .merge(got.drop_duplicates(keys), on=keys, how="left",
                    suffixes=("", "_got")))
        once = m["n"].fillna(0).eq(1)
        text_ok = once & m["text"].eq(m["text_got"])
        ok = text_ok & m["status"].eq(m["status_got"])
        extra = len(n) - int(m["n"].notna().sum())  # turns nobody asked for
        failed = int((~ok).sum()) + extra
        self.attempted += len(m)
        self.failed += failed
        self.text_equal += int(text_ok.sum())
        return failed

    def job_raised(self) -> None:
        self.attempted += len(self.expected)
        self.failed += len(self.expected)

    def rates(self) -> dict:
        a = max(self.attempted, 1)
        return {"text_equality_rate": {"value": self.text_equal / a, "unit": "ratio"},
                "failed_ratio": {"value": self.failed / a, "unit": "ratio"}}


def _spin(n: int) -> float:
    """Seconds this process takes for ``n`` turns of a fixed loop."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i % 7
    return time.perf_counter() - t0


class HostProbe:
    """The host's speed, as the mean time of a fixed pure-Python loop
    run in ``CORES`` processes at once.  The mean, not the slowest
    process, because a job's tasks balance over the cores.  The
    processes are forked once and sit idle between probes.

    ``span(wall)`` records a span that ran since the last probe, probes
    again and returns a handle; ``seconds(handle)`` gives the span's
    corrected time once the probes after it have run."""

    def __init__(self):
        import multiprocessing

        self.pool = multiprocessing.get_context("fork").Pool(CORES)
        self.times: list[float] = []
        self.spans: list[tuple[str, float, int]] = []
        self._measure()  # first use of the pool: not kept
        self.times.clear()
        self._measure()

    def _measure(self) -> None:
        self.times.append(statistics.mean(
            self.pool.map(_spin, [PROBE_LOOPS] * CORES, chunksize=1)))

    def span(self, name: str, wall: float) -> int:
        self.spans.append((name, wall, len(self.times) - 1))
        self._measure()
        return len(self.spans) - 1

    def seconds(self, handle: int) -> float:
        name, wall, k = self.spans[handle]
        speed = statistics.median(self.times[max(0, k + 1 - PROBE_WINDOW):k + 1 + PROBE_WINDOW])
        corrected = wall * PROBE_NOMINAL_S / speed
        print(f"perfbench: {name}: {wall:.3f}s at probe median {speed:.3f}s "
              f"→ {corrected:.3f}s", file=sys.stderr)
        return corrected

    def close(self) -> None:
        self.pool.terminate()
        self.pool.join()


class NoProbe:
    """Stand-in for ``HostProbe`` where times stay uncorrected."""

    def span(self, name: str, wall: float) -> float:
        return wall

    def seconds(self, handle: float) -> float:
        return handle


def start_session(cores: int, src: str, probe=NoProbe()):
    """SparkSession on ``local[cores]`` plus a warm-up pass of the
    kernel over a few rows, which forks and imports the kernel in every
    Python worker → (spark, ``probe`` handle of the time it took)."""
    from pdf_parser_c_spark.engine import extract_turns, get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    sample = spark.read.parquet(src).limit(WARMUP_ROWS)
    (extract_turns(sample, num_partitions=cores)
     .write.format("noop").mode("overwrite").save())
    wall = time.perf_counter() - t0
    return spark, probe.span(f"local[{cores}] session start", wall)


def run_job(spark, src: str, out: str, checker: Checker, group: str,
            probe=NoProbe()) -> tuple[float, dict | None]:
    """One timed ``run_extraction_job`` → (``probe`` handle of its wall
    time, its return or None when it raised), then the correctness check
    of ``out``."""
    from pdf_parser_c_spark.engine import run_extraction_job

    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        ret = run_extraction_job(spark, spark.read.parquet(src), out,
                                 n_buckets=N_BUCKETS)
    except Exception as exc:  # a failed job is counted, not fatal
        print(f"perfbench: job {group} raised {type(exc).__name__}: {exc}",
              file=sys.stderr)
        checker.job_raised()
        return probe.span(group, time.perf_counter() - t0), None
    wall = time.perf_counter() - t0
    ret["returned_at"] = time.time()
    handle = probe.span(group, wall)
    checker.check(os.path.join(out, "results"))
    return handle, ret


def lose_quarter(out: str, rng_key: list[int]) -> None:
    """Delete a seeded quarter of the buckets' lineage and results."""
    import numpy as np

    rng = np.random.default_rng(rng_key)
    for b in rng.choice(N_BUCKETS, N_BUCKETS // 4, replace=False):
        for table in ("lineage", "results", "metrics"):
            shutil.rmtree(os.path.join(out, table, f"bucket={b}"), ignore_errors=True)


def job_rounds(spark, src, checker, seed, seconds, session=0, min_rounds=1,
               rest=None, probe=NoProbe()):
    """Full job, then a resume after losing a quarter of the buckets;
    repeated while another round fits in ``seconds`` (at least
    ``min_rounds``).  (seed, session, round) picks the lost buckets
    → (full-job handles, resume handles) of ``probe``."""
    full, resume = [], []
    t_end = time.perf_counter() + seconds
    out = os.path.join(WORK, "job")
    i, last = 0, 0.0
    while i < min_rounds or time.perf_counter() + last <= t_end:
        t0 = time.perf_counter()
        shutil.rmtree(out, ignore_errors=True)
        wall, ret = run_job(spark, src, out, checker, f"job{session}.{i}", probe)
        if ret is not None:
            full.append(wall)
            if rest is not None:
                rest.job(spark, f"job{session}.{i}", ret, out)
            lose_quarter(out, [seed, session, i])
            wall, ret = run_job(spark, src, out, checker, f"resume{session}.{i}", probe)
            if ret is not None:
                resume.append(wall)
                if rest is not None:
                    rest.resume(spark, f"resume{session}.{i}", ret)
        last = time.perf_counter() - t0
        print(f"perfbench: round {session}.{i}: {last:.2f}s", file=sys.stderr)
        i += 1
    shutil.rmtree(out, ignore_errors=True)
    return full, resume


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(workload: str, src: str, expected, checker: Checker, seed: int,
               seconds: float) -> dict:
    """``SESSION_STARTS`` local[4] sessions on one JVM.  The first runs
    one full job, which warms the JVM and the Python workers up and is
    checked but not timed, then the timed job rounds for ``seconds``.
    The others are started for ``setup_s`` only."""
    from pyspark import SparkContext

    from layers import worker_peak_rss_mb

    # forked before the JVM launches, so that no probe process holds the
    # JVM's stdin pipe open past _stop_jvm
    probe = HostProbe()
    try:
        SparkContext._ensure_initialized()  # JVM launch: not part of setup_s
        setups = []
        for session in range(SESSION_STARTS):
            spark, setup = start_session(CORES, src, probe)
            setups.append(setup)
            if session == 0:
                out = os.path.join(WORK, "job")
                shutil.rmtree(out, ignore_errors=True)
                run_job(spark, src, out, checker, "warmup", probe)
                full, resume = job_rounds(spark, src, checker, seed, seconds,
                                          min_rounds=TIMED_ROUNDS, probe=probe)
                rss = worker_peak_rss_mb()
            spark.stop()
    finally:
        probe.close()
    if not full or not resume:
        return {}
    return {
        "turns_per_s": _metric(
            len(expected) / statistics.median(map(probe.seconds, full)), "turns/s"),
        "resume_s": _metric(statistics.median(map(probe.seconds, resume)), "s"),
        "setup_s": _metric(statistics.median(map(probe.seconds, setups)), "s"),
        "worker_peak_rss_mb": _metric(rss, "MB"),
    }


def traced(workload: str, src: str, expected, checker: Checker, seed: int,
           seconds: float) -> dict:
    """Two job rounds read back through the status REST API, then the
    single-process kernel re-drive for ``seconds``."""
    from layers import SparkStages, redrive

    rest = SparkStages()
    spark, _ = start_session(CORES, src)
    job_rounds(spark, src, checker, seed, 0, min_rounds=2, rest=rest)
    spark.stop()
    return {**rest.metrics(), **redrive(workload, src, checker, seconds)}


def bench(workload: str, seed: int, seconds: float, trace: bool,
          size: int | None = None, corrupt: int = 0) -> tuple[dict, dict]:
    """One run → (result object, correctness rates).  ``size`` and
    ``corrupt`` (number of expected texts to falsify) exist for the
    self-test."""
    import workloads

    src, expected = workloads.materialize(WORK, workload, seed, size)
    if corrupt:
        expected.loc[expected.index[:corrupt], "text"] += " (corrupted)"
    checker = Checker(expected)
    metrics = (traced if trace else end_to_end)(
        workload, src, expected, checker, seed, seconds)
    return {
        "correct": checker.failed == 0 and bool(metrics),
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": metrics,
    }, checker.rates()


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _environment()
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.GENERATORS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    try:
        result, rates = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
    print(json.dumps({"checks": rates}))
    print(json.dumps(result))


def _stop_jvm() -> None:
    """End the JVM this process launched (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    main()
