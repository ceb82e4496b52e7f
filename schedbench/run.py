"""Benchmark of the paper's scheduled run (cold k-tune, warm cached rerun,
interval documents with GUI reads).

Run from the root of a checkout of the engine:

    python3 schedbench/run.py --workload rerun_warm --seed 1 --seconds 5 --trace 0

It builds its inputs from the seed (``gen.py``), starts one Spark
session on ``local[nproc]`` with one client thread, sets up (session
start, input generation three times, an untimed warm-up), then measures
passes for ``--seconds`` seconds (at least five) followed by a
closed-loop read phase (100 GUI reads on ``interval_docs``, 40 k-cache
lookups on ``rerun_warm``).
The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of one traced pass
(``layers.py``) with ``--trace 1``. Everything it writes goes under
``.schedbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
GEN_REPEATS = 3
# run_s, cpu_s and peak_rss_mb are medians of at least this many passes.
# Passes still speed up a little after the warm-up, so the median's
# place on that curve is fixed by the count: BENCHMARK.json's run_seconds
# is shorter than MIN_PASSES passes, which makes the count MIN_PASSES
MIN_PASSES = 5


def _fail(msg: str) -> None:
    print(f"schedbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- process-tree CPU and memory (driver, JVM, Python workers) ---------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, /proc/pid/stat fields after the command) for this process
    and all its descendants."""
    stats, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(name)
        stats[pid] = fields
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU of the tree, reaped children included."""
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for _, f in _tree()) / _TICK


def tree_pss_mb() -> float:
    """Summed proportional set size of the tree: a page shared by forked
    Python workers counts once, split between them."""
    total_kb = 0
    for pid, _ in _tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # exited, or a kernel thread without memory
    return total_kb / 1024


class PeakMemory:
    """Largest :func:`tree_pss_mb` seen since the last :meth:`take`:
    sampled every ``interval`` seconds on a background thread, so a
    worker that starts and exits between two samples can be missed, but
    one that exits before the end of the measurement is not."""

    def __init__(self, interval: float = 0.25):
        self.interval, self._peak = interval, 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            mb = tree_pss_mb()
            with self._lock:
                self._peak = max(self._peak, mb)
            if self._stop.wait(self.interval):
                return

    def take(self) -> float:
        """The peak since the last call (or the start), and start anew."""
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- session -------------------------------------------------------------------


def start_session(work: str, cores: int):
    """One local session pinned from here: master and shuffle partitions
    are passed explicitly (session.DEFAULT_CPUS would otherwise fall back
    to 32), Python workers get the checkout on PYTHONPATH, and every
    scratch directory lives under ``work``."""
    from clustering_spark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return session.get_spark(
        app_name="schedbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# -- measuring -------------------------------------------------------------------


def measure(wl, seconds: float, checks) -> dict:
    """Passes until ``seconds`` have passed and at least MIN_PASSES ran,
    each from the same state and checked, then ``wl.min_reads`` reads."""
    from workloads import Checks

    runs, cpus, peaks = [], [], []
    out = last = None
    read_checks = Checks()
    with PeakMemory() as mem:
        t_start = time.perf_counter()
        t_end = t_start + seconds
        while len(runs) < MIN_PASSES or time.perf_counter() < t_end:
            wl.reset()
            mem.take()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            out = wl.run_pass()
            runs.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            peaks.append(mem.take())
            last = wl.check(out)
            checks.extend(last)
        t_reads = time.perf_counter()
        reads = wl.read(wl.min_reads, read_checks)
        t_done = time.perf_counter()
    print(f"passes+checks {t_reads - t_start:.1f}s, reads {t_done - t_reads:.1f}s",
          file=sys.stderr)
    checks.extend(read_checks)
    # every pass repeats the same checks on the same state, so the share
    # is taken over one pass and the read phase: it then does not move
    # with the number of passes that fit in ``seconds``
    ok = (last.passed + read_checks.passed) / (len(last.items) + len(read_checks.items))
    return {"runs": runs, "cpus": cpus, "peaks": peaks, "reads": reads,
            "last": out, "ok_share": ok}


def setup(args, work: str, cores: int):
    """Session start, input generation (median of GEN_REPEATS) and the
    workload's untimed warm-up. Returns (spark, workload, times)."""
    import gen
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work, cores)
    start_s = time.perf_counter() - t0
    cls = WORKLOADS[args.workload]
    gen_times = []
    for _ in range(GEN_REPEATS):
        root = os.path.join(work, "input")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        g = gen.generate(root, args.seed, kcache=cls.name == "rerun_warm",
                         history=cls.name == "interval_docs")
        gen_times.append(time.perf_counter() - t0)
    wl = cls(spark, g)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    return spark, wl, {"start_s": start_s, "gen_s": statistics.median(gen_times), "warm_s": warm_s}


def end_to_end(wl, times: dict, seconds: float, checks) -> dict:
    m = measure(wl, seconds, checks)
    metric = lambda v, unit: {"value": v, "unit": unit}  # noqa: E731
    print(f"passes={len(m['runs'])} run_s={['%.3f' % r for r in m['runs']]} "
          f"cpu_s={m['cpus']} peak_mb={['%.0f' % p for p in m['peaks']]} "
          f"reads={len(m['reads'])} setup={times}", file=sys.stderr)
    return {
        "run_s": metric(statistics.median(m["runs"]), "s"),
        "cpu_s": metric(statistics.median(m["cpus"]), "s"),
        "setup_s": metric(times["start_s"] + times["gen_s"] + times["warm_s"], "s"),
        "peak_rss_mb": metric(statistics.median(m["peaks"]), "MB"),
        "ok_share": metric(m["ok_share"], "share"),
        "k_match_share": metric(wl.k_match_share(m["last"]), "share"),
        "mean_silhouette": metric(wl.mean_silhouette(m["last"]), "silhouette"),
        "read_p50_s": metric(statistics.median(m["reads"]), "s"),
        "read_p90_s": metric(statistics.quantiles(m["reads"], n=10)[8], "s"),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "clustering_spark", "__init__.py")):
        _fail(f"no clustering_spark package under {ROOT}; run from the engine's checkout root")
    sys.path[:0] = [ROOT, HERE]
    from workloads import KNOWN_DEFECTS, WORKLOADS, Checks

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work_root = os.path.join(ROOT, ".schedbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # everything temporary stays inside the checkout, and Python workers
    # import the engine from it whatever the caller's cwd or PYTHONPATH
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in the system temp dir from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark, wl, times = setup(args, work, cores)
        checks = Checks()
        if args.trace:
            from layers import traced_run

            metrics = traced_run(spark, wl, times, checks,
                                 os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(wl, times, args.seconds, checks)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    unexpected = checks.unexpected()
    if unexpected or checks.known():
        print(f"failed checks: unexpected={unexpected} known_engine_defects={checks.known()}",
              file=sys.stderr)
    # attempted = output checks run; failed = checks that failed other
    # than the known engine defects (workloads.KNOWN_DEFECTS: printed
    # above and counted in ok_share instead)
    print(json.dumps({
        "correct": not unexpected,
        "attempted": len(checks.items),
        "failed": sum(not ok and n not in KNOWN_DEFECTS for n, ok in checks.items),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
