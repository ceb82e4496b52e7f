"""The workloads: one timed pass each through the engine's public
functions, a closed-loop read phase, and the output checks.

* ``rerun_warm`` — ingest, then ``kcache.cluster_with_cache`` on every
  grid cell against the generated prior-day cache: most segments hit,
  the planted drifted share regresses and re-tunes.
* ``interval_docs`` — ``pipeline.run_interval`` with the row cap on,
  appending both documents to a generated N-day history.

Each pass starts from the same state (``reset``), so passes within a run
and across runs do the same work. The read phase reads back what the
workload persists: GUI document reads (``sinks.latest_document`` in both
orientations plus ``dropdown_options``) on ``interval_docs``, the next
run's k-cache lookups (``KCache.lookup``) on the two k workloads.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass, field

from clustering_spark import pipeline
from clustering_spark.config import PipelineConfig
from clustering_spark.operators import kcache, sinks
from clustering_spark.sources import csv_source

from gen import ALGORITHMS, MACRO, MICRO, X_COL, Y_COLS, Generated

START_K, STOP_K = 2, 10
WARM_PASSES = 2
WARM_READS = 14  # one cycle of interval_docs' GUI reads
INTERVAL = "daily"
RUN_INTERVAL_K = 3
# Checks that fail because of the engine, reported rather than hidden:
# the reference skips segments with fewer than two distinct points
# (cluster.py:115, kept by SURVEY.md A3), while cluster_with_cache and
# run_interval emit them as one-cluster segments and the tuner sweeps
# them (caching k=1). They count against ok_share and are printed; they
# do not count in ``failed`` or make a run incorrect.
KNOWN_DEFECTS = {
    "degenerate_skipped": "engine emits single-point segments instead of skipping them",
    # seed-dependent: on some seeds the GaussianMixture refit with the
    # cached k misses a planted partition in all six seeds, so the gate
    # also fires on an unchanged segment (``drifted_regressed`` still
    # requires every planted drift to fire)
    "regressed_planted": "GaussianMixture refit regresses an unchanged segment",
}

ORIGINAL_KEYS = {"algorithm", "macro", "micro", "firstColumn", "secondColumn", "date", "list"}
D3_KEYS = {"name", "children", "algorithm", "macro", "micro", "firstColumn", "secondColumn", "date"}


def config(algorithms, cap: int | None = None) -> PipelineConfig:
    return PipelineConfig(
        filtering_columns={MACRO: [MICRO]},
        columns={X_COL: list(Y_COLS)},
        algorithms=list(algorithms),
        dont_scale=[X_COL],
        limits={INTERVAL: cap} if cap is not None else {},
        start_k=START_K,
        stop_k=STOP_K,
    )


@dataclass
class Checks:
    """(name, passed) items; ``ok_share`` counts every item."""

    items: list = field(default_factory=list)

    def add(self, name: str, ok: bool) -> None:
        self.items.append((name, bool(ok)))

    def extend(self, other: "Checks") -> None:
        self.items.extend(other.items)

    @property
    def passed(self) -> int:
        return sum(ok for _, ok in self.items)

    def unexpected(self) -> list[str]:
        return sorted({n for n, ok in self.items if not ok and n not in KNOWN_DEFECTS})

    def known(self) -> list[str]:
        return sorted({n for n, ok in self.items if not ok and n in KNOWN_DEFECTS})


@dataclass
class PassOut:
    cells: dict  # (y_col, algorithm) -> list of per-cluster Rows
    corrupt: object  # DataFrame of corrupt raw records
    stats: dict = field(default_factory=dict)  # (y_col, algorithm) -> cluster_with_cache stats


def _segments(rows) -> dict[tuple[str, str], list]:
    """Per-cluster rows grouped by segment; cluster_with_cache keys them
    by the segment columns, run_interval by macro_id / micro_id."""
    out: dict[tuple[str, str], list] = {}
    for r in rows:
        key = (MACRO, MICRO) if MACRO in r.__fields__ else ("macro_id", "micro_id")
        out.setdefault((r[key[0]], r[key[1]]), []).append(r)
    return out


def _reset_dir(path: str, keep: set[str]) -> None:
    """Remove everything under ``path`` whose relative path is not in
    ``keep`` (the generated files)."""
    if not os.path.isdir(path):
        return
    for base, dirs, files in os.walk(path, topdown=False):
        for f in files:
            p = os.path.join(base, f)
            if os.path.relpath(p, path) not in keep:
                os.remove(p)
        for d in dirs:
            p = os.path.join(base, d)
            if not os.listdir(p):
                os.rmdir(p)


def _listing(path: str) -> set[str]:
    return {os.path.relpath(os.path.join(b, f), path)
            for b, _, fs in os.walk(path) for f in fs}


class Workload:
    """Ingest, checks and k-cache reads of ``rerun_warm``; the base of
    ``interval_docs``."""

    name = ""
    # a k-cache cell costs ~5-7 s on 4 cores, mostly per-Spark-job
    # overhead, and a process's first pass about three times that: one
    # cell (GaussianMixture, the heaviest kernel) lets a run time several
    # passes within the benchmark's time budget
    algorithms = ("GaussianMixture",)
    min_reads = 40  # p90 then has four samples beyond it

    def __init__(self, spark, g: Generated):
        self.spark, self.g = spark, g
        self.cfg = config(self.algorithms, self.cap_rows())
        self.cache = kcache.KCache(g.kcache_path)

    def cap_rows(self) -> int | None:
        return None

    def reset(self) -> None:
        raise NotImplementedError

    def ingest(self):
        raw = csv_source.read_csv(self.spark, self.g.csv_path)
        return csv_source.split_corrupt(raw)

    def warm_up(self) -> None:
        """Untimed: WARM_PASSES whole passes with their checks, then
        WARM_READS reads. The first pass of a process costs about three
        times a steady one (JIT, Python worker start) and the second is
        still ~20% slower; the timed passes after them still get a
        little faster, which their median absorbs."""
        for _ in range(WARM_PASSES):
            self.reset()
            self.check(self.run_pass())
        self.read(WARM_READS, Checks())

    def run_pass(self) -> PassOut:
        """Ingest, then ``cluster_with_cache`` on every grid cell."""
        clean, corrupt = self.ingest()
        out, stats = {}, {}
        for macro, micro, x, y, alg in self.cfg.grid():
            summaries, stats[(y, alg)] = kcache.cluster_with_cache(
                clean, macro, micro, x, y, alg, self.cache, self.g.today_version, self.cfg
            )
            out[(y, alg)] = summaries.collect()
        return PassOut(out, corrupt, stats)

    # -- read phase -------------------------------------------------------
    def read(self, n: int, checks: Checks) -> list[float]:
        """Closed loop, one client: ``n`` reads cycling through
        ``read_ops``; returns each read's latency and checks its result."""
        ops, times = self.read_ops(), []
        for i in range(n):
            name, fetch, ok = ops[i % len(ops)]
            t = time.perf_counter()
            rows = fetch()
            times.append(time.perf_counter() - t)
            checks.add(name, ok(rows))
        return times

    def read_ops(self) -> list:
        """One sweep of (check name, read, result check): the next run's
        k lookups, one ``KCache.lookup`` per cell."""
        every = {(s.macro, s.micro) for s in self.g.segments}
        return [
            ("read_lookup_complete",
             lambda a=alg, x=x, y=y: self.cache.lookup(self.spark, a, MACRO, MICRO, x, y).collect(),
             lambda rows: {(r.macro_id, r.micro_id) for r in rows} == every)
            for _, _, x, y, alg in self.cfg.grid()
        ]

    # -- checks -------------------------------------------------------------
    def check(self, out: PassOut) -> Checks:
        c = Checks()
        c.add("corrupt_rows", out.corrupt.count() == self.g.corrupt_rows)
        latest = self.cache.read_latest(self.spark).collect()
        c.add("version_conflicts", self.cache.version_conflicts(self.spark).count() == 0)
        for (y, alg), rows in out.cells.items():
            self._check_cell(c, y, alg, rows, k_fixed=None)
            cached = [r for r in latest if r.algorithm == alg and r.y_col == y
                      and (r.macro_id, r.micro_id) in self.g.viable(y)]
            c.add("cache_complete", len(cached) == len(self.g.viable(y)))
            c.add("cache_k_range", all(START_K <= r.k <= STOP_K for r in cached))
            c.add("cache_silhouette_range", all(-1.0 <= r.silhouette <= 1.0 for r in cached))
            # the gate appends re-tuned segments at today + 1: exactly the
            # drifted ones, and the stats agree with the cache
            stats = out.stats[(y, alg)]
            regressed = {(r.macro_id, r.micro_id) for r in latest if r.algorithm == alg
                         and r.y_col == y and r.version == self.g.today_version + 1}
            c.add("no_misses", stats["misses"] == 0)
            c.add("regressed_counted", stats["regressed"] == len(regressed))
            c.add("drifted_regressed", self.g.drifted() <= regressed)
            c.add("regressed_planted", regressed == self.g.drifted())
        return c

    def _check_cell(self, c: Checks, y: str, alg: str, rows, k_fixed: int | None) -> None:
        segs = _segments(rows)
        viable = self.g.viable(y)
        c.add("viable_present", viable <= set(segs))
        c.add("degenerate_skipped", not (self.g.degenerate() & set(segs)))
        ks = [len(segs[s]) for s in viable if s in segs]
        if k_fixed is None:
            c.add("k_range", all(START_K <= k <= STOP_K for k in ks))
        else:
            # only KMeans promises exactly k clusters (every viable segment
            # has more than k distinct points): a GaussianMixture component
            # can end with no points, and BisectingKMeans stops when no
            # leaf is divisible, so those promise 1..k
            c.add("k_fixed", all(k == k_fixed if alg == "KMeans" else 1 <= k <= k_fixed
                                 for k in ks))
        c.add("silhouette_range", all(-1.0 <= r.silhouette <= 1.0 for r in rows))
        if self.cap_rows() is None:
            # uncapped: clusters partition each segment's non-null rows
            want = {(s.macro, s.micro): s.pair_rows[y] for s in self.g.segments}
            c.add("cluster_sizes", all(
                sum(r.cluster_size for r in segs[s]) == want[s] for s in viable if s in segs))

    # -- quality metrics ----------------------------------------------------
    def k_match_share(self, out: PassOut) -> float:
        """Share of (algorithm, column pair, segment) whose cached k after
        the pass equals the planted k; the others are printed."""
        planted = {key: k for key, k in self.g.planted_k().items() if key[0] in self.algorithms}
        cached = {(r.algorithm, r.y_col, r.macro_id, r.micro_id): r.k
                  for r in self.cache.read_latest(self.spark).collect()}
        wrong = {key: (k, cached.get(key)) for key, k in planted.items() if cached.get(key) != k}
        if wrong:
            print(f"k mismatches (planted, cached): {wrong}", file=sys.stderr)
        return 1 - len(wrong) / len(planted)

    def mean_silhouette(self, out: PassOut) -> float:
        sils = [rs[0].silhouette for rows in out.cells.values() for rs in _segments(rows).values()]
        return sum(sils) / len(sils)


class RerunWarm(Workload):
    name = "rerun_warm"

    def __init__(self, spark, g: Generated):
        super().__init__(spark, g)
        self._keep = _listing(g.kcache_path)

    def reset(self) -> None:
        _reset_dir(self.g.kcache_path, self._keep)


class IntervalDocs(Workload):
    name = "interval_docs"
    algorithms = ALGORITHMS
    min_reads = 100  # p90 then has ten samples beyond it (7 sweeps and 2 reads)

    def __init__(self, spark, g: Generated):
        super().__init__(spark, g)
        self._keep = _listing(g.docs_path)

    def cap_rows(self) -> int:
        # the row cap samples the clean input down to ~70%
        return int(self.g.clean_rows * 0.7)

    def reset(self) -> None:
        _reset_dir(self.g.docs_path, self._keep)

    def new_bytes(self) -> int:
        """Bytes the last pass appended to the document store."""
        return sum(os.path.getsize(os.path.join(self.g.docs_path, p))
                   for p in _listing(self.g.docs_path) - self._keep)

    def run_pass(self) -> PassOut:
        clean, corrupt = self.ingest()
        results = pipeline.run_interval(
            clean, INTERVAL, self.cfg, self.g.docs_path, self.g.run_date,
            version=self.g.today_version, k=RUN_INTERVAL_K,
        ).collect()
        cells = {}
        for r in results:
            cells.setdefault((r.y_col, r.algorithm), []).append(r)
        return PassOut(cells, corrupt)

    def _store(self, kind: str) -> str:
        return os.path.join(self.g.docs_path, kind, INTERVAL)

    def read_ops(self) -> list:
        """One GUI session per store: every cell in both orientations,
        then the dropdowns, against one listing of each store."""
        want = {("macro", MACRO), ("micro", MICRO), ("firstColumn", X_COL)}
        want |= {("secondColumn", y) for y in Y_COLS} | {("algorithm", a) for a in ALGORITHMS}
        ops = []
        for kind in ("original", "d3"):
            docs = self.spark.read.parquet(self._store(kind))
            for macro, micro, x, y, alg in self.cfg.grid():
                for a, b in ((x, y), (y, x)):
                    ops.append((
                        "read_latest",
                        lambda d=docs, al=alg, a=a, b=b: sinks.latest_document(
                            d, al, MACRO, MICRO, a, b).collect(),
                        lambda rows, k=kind, al=alg, y=y: self._latest_ok(k, rows, al, y),
                    ))
            ops.append((
                "read_dropdown",
                lambda d=docs: sinks.dropdown_options(d).collect(),
                lambda rows: {(r.field, r.value) for r in rows} == want,
            ))
        return ops

    def _latest_ok(self, kind: str, rows, alg: str, y: str) -> bool:
        """One row, today's version, stored orientation (the swapped
        request falls back to it), and a document with §1.4 keys."""
        if len(rows) != 1:
            return False
        r = rows[0]
        if (r.version, r.date, r.x_col, r.y_col, r.algorithm) != (
            self.g.today_version, self.g.run_date, X_COL, y, alg
        ):
            return False
        return _doc_ok(kind, json.loads(r.doc))

    def check(self, out: PassOut) -> Checks:
        c = Checks()
        c.add("corrupt_rows", out.corrupt.count() == self.g.corrupt_rows)
        c.add("cells_complete", set(out.cells) == {(y, a) for y in Y_COLS for a in self.algorithms})
        for (y, alg), rows in out.cells.items():
            self._check_cell(c, y, alg, rows, k_fixed=RUN_INTERVAL_K)
        for kind in ("original", "d3"):
            today = [r for r in self.spark.read.parquet(self._store(kind)).collect()
                     if r.version == self.g.today_version]
            c.add("docs_written", len(today) == len(out.cells))
            c.add("docs_json_keys", all(_doc_ok(kind, json.loads(r.doc)) for r in today))
        return c

    def k_match_share(self, out: PassOut) -> float:
        """run_interval fixes k, so this is the share of (algorithm,
        column pair, segment) whose output has exactly that many
        clusters — a config check, not a tuner measure."""
        hits = total = 0
        for (y, _), rows in out.cells.items():
            segs = _segments(rows)
            for s in self.g.viable(y):
                total += 1
                hits += len(segs.get(s, ())) == RUN_INTERVAL_K
        return hits / total


def _doc_ok(kind: str, doc: dict) -> bool:
    """The SURVEY.md §1.4 key names, top level down to one cluster."""
    try:
        if kind == "original":
            macro = doc["list"][0]
            micro = macro[f"{MICRO}_List"][0]
            cluster = micro["clusters"][0]
            return (set(doc) == ORIGINAL_KEYS and MACRO in macro
                    and {MICRO, "entropy", "silhouette"} <= set(micro)
                    and set(cluster) == {"name", "center", "clusterSize", "radius"})
        macro = doc["children"][0]
        micro = macro["children"][0]
        cluster = micro["children"][0]
        return (set(doc) == D3_KEYS and "name" in macro
                and {"name", "entropy", "silhouette"} <= set(micro)
                and set(cluster) == {"name", "center", "clusterSize", "radius", "size"})
    except (KeyError, IndexError, TypeError):
        return False


WORKLOADS = {w.name: w for w in (RerunWarm, IntervalDocs)}
