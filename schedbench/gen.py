"""Seeded input generator for the scheduled-run benchmark.

Everything a workload reads is made here from ``--seed``, with no
download and no engine call:

* a dirty container-stats CSV shaped like FIXTURES.md §1/§1a —
  customer -> application segments with skewed sizes, ~0.1% shifted
  rows (text in ``time`` plus an extra field), null metrics, one
  single-point segment and one constant-column segment;
* the truth table: planted k per segment (today and, for drifted
  segments, the prior day), row counts per column pair, and the
  corrupt-row count;
* ``rerun_warm``'s prior-day k-cache (planted k and the silhouette of
  the planted partition), written directly as parquet; a fixed share of
  segments has drifted since (today's planted k differs);
* ``interval_docs``' N-day document history in ``write_documents``'
  schema, written directly as parquet.

k is planted on the well-separated grid ``q_tune_k_planted`` gates:
blob i sits at column i % 3 and row i // 3, spacing 45 with uniform
noise of +-1% of the spacing (separation / width = 50), k in {3, 4, 5}.
cpu_percent carries the column (raw: it is in dont_scale), ram_usage the
row (scaled as percent of ram_limit), and network_usage the level
(i + i // 3) % 3, which always has two or more levels, because min-max
scaling would stretch a single level's noise to the full [0, 100].
"""

from __future__ import annotations

import csv
import datetime
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALGORITHMS = ("KMeans", "BisectingKMeans", "GaussianMixture")
MACRO, MICRO = "customer_id", "application_id"
X_COL = "cpu_percent"
# the benchmark grid's y metrics: network_usage is min-max scaled, the
# general path, and the only one where the constant-column segment hits
# the max == min branch. One pair keeps a grid at 3 cells (one per
# algorithm); the truth below is still computed for ram_usage too.
Y_COLS = ("network_usage",)
HEADER = [
    "ram_usage", "cpu_percent", "node_id", "io_usage", "application_id",
    "ram_limit", "container_id", "customer_id", "time", "network_usage",
    "pids",
]
RAM_LIMITS = (8.0e8, 2.0e9, 4.2e9, 8.2e9)
SPACING, NOISE = 45.0, 0.45
PLANTED_K = (3, 4, 5)
# drifted segments: the prior day planted DRIFT_FROM blobs, today
# DRIFT_TO — any 2-cluster fit of 5 separated blobs merges blobs, which
# caps its silhouette far below 0.8x the cached value, so the
# regression gate fires for every algorithm and both column pairs
DRIFT_FROM, DRIFT_TO = 2, 5
K_CACHE_COLS = ["algorithm", "macro_col", "micro_col", "x_col", "y_col",
                "macro_id", "micro_id"]
DOC_GRID_COLS = ["algorithm", "macro_col", "micro_col", "x_col", "y_col"]


# input size: SEGMENTS regular segments over CUSTOMERS customers, sizes
# Zipf-like from MAX_ROWS down to MIN_ROWS; DRIFTED of them drifted
CUSTOMERS, SEGMENTS, MIN_ROWS, MAX_ROWS, DRIFTED = 4, 8, 40, 200, 2
HISTORY_DAYS = 7


@dataclass
class Segment:
    macro: str
    micro: str
    rows: int
    k: int | None  # planted k today; None for the single-point segment
    prior_k: int | None = None  # planted k the prior day (drifted only)
    constant_net: bool = False
    # per column pair: planted k (a constant network_usage collapses the
    # blobs onto their cpu columns), rows left after the null drop, and
    # the silhouette of the planted partition on the engine's features
    pair_k: dict = field(default_factory=dict)
    pair_rows: dict = field(default_factory=dict)
    pair_sil: dict = field(default_factory=dict)
    prior_sil: dict = field(default_factory=dict)


def _day(n: int) -> str:
    """ISO date of interval ``n`` (day 1 is the oldest history day)."""
    return (datetime.date(2026, 1, 31) + datetime.timedelta(days=n)).isoformat()


def _silhouette(X: np.ndarray, labels: np.ndarray) -> float:
    """Centroid-form squared-Euclidean silhouette (the measure MLlib's
    ClusteringEvaluator and the engine report)."""
    uniq, idx = np.unique(labels, return_inverse=True)
    if len(uniq) < 2:
        return 0.0
    counts = np.bincount(idx).astype(float)
    mus = np.zeros((len(uniq), X.shape[1]))
    np.add.at(mus, idx, X)
    mus /= counts[:, None]
    xsq = (X**2).sum(axis=1)
    msq = np.bincount(idx, weights=xsq) / counts
    D = np.maximum(xsq[:, None] - 2.0 * X @ mus.T + msq[None, :], 0.0)
    rows = np.arange(len(X))
    a = D[rows, idx].copy()
    D[rows, idx] = np.inf
    b = D.min(axis=1)
    denom = np.maximum(a, b)
    return float(np.where(denom <= 0, 0.0, (b - a) / np.where(denom <= 0, 1, denom)).mean())


def _scaled(col: str, values: np.ndarray, ram_limit: float) -> np.ndarray:
    """The engine's scaling for each benchmark metric: cpu_percent is in
    dont_scale, ram_usage is percent of ram_limit, network_usage is
    min-max to [0, 100] within the segment (0.0 when constant)."""
    if col == X_COL:
        return values
    if col == "ram_usage":
        return values * 100.0 / ram_limit
    lo, hi = values.min(), values.max()
    return np.zeros_like(values) if hi == lo else (values - lo) / (hi - lo) * 100.0


def _blob_rows(rng, n: int, k: int, constant_net: bool):
    """(labels, cpu, ram_pct, net_level) for n rows over k planted blobs."""
    labels = rng.permutation(np.arange(n) % k)
    noise = rng.uniform(-NOISE, NOISE, size=(n, 3))
    cpu = 5.0 + SPACING * (labels % 3) + noise[:, 0]
    ram_pct = 5.0 + SPACING * (labels // 3) + noise[:, 1]
    net = 10.0 * ((labels + labels // 3) % 3) + noise[:, 2] / SPACING * 10.0
    if constant_net:
        net = np.full(n, 3.0)
    return labels, cpu, ram_pct, net


class Generated:
    """Paths and truth for one seed; built by :func:`generate`."""

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed
        self.csv_path = os.path.join(root, "daily_data.csv")
        self.kcache_path = os.path.join(root, "kcache")
        self.docs_path = os.path.join(root, "docs")
        self.segments: list[Segment] = []
        self.corrupt_rows = 0
        self.clean_rows = 0
        self.run_date = _day(HISTORY_DAYS + 1)
        self.prior_version = HISTORY_DAYS
        self.today_version = HISTORY_DAYS + 1

    # -- truth helpers ---------------------------------------------------
    def cells(self):
        return [(MACRO, MICRO, X_COL, y, a) for y in Y_COLS for a in ALGORITHMS]

    def viable(self, y_col: str) -> set[tuple[str, str]]:
        """Segments with >= 2 distinct points in the (x, y) pair."""
        return {(s.macro, s.micro) for s in self.segments
                if s.k is not None and s.pair_rows[y_col] >= 2}

    def degenerate(self) -> set[tuple[str, str]]:
        return {(s.macro, s.micro) for s in self.segments if s.k is None}

    def planted_k(self) -> dict:
        """{(algorithm, y_col, macro, micro): planted k today}."""
        return {(a, y, s.macro, s.micro): s.pair_k[y] for s in self.segments
                if s.k is not None for y in Y_COLS for a in ALGORITHMS}

    def drifted(self) -> set[tuple[str, str]]:
        return {(s.macro, s.micro) for s in self.segments if s.prior_k is not None}

    def truth(self) -> dict:
        return {
            "seed": self.seed,
            "corrupt_rows": self.corrupt_rows,
            "clean_rows": self.clean_rows,
            "segments": [
                {"macro": s.macro, "micro": s.micro, "rows": s.rows, "k": s.k,
                 "prior_k": s.prior_k, "constant_net": s.constant_net,
                 "pair_k": s.pair_k, "pair_rows": s.pair_rows, "pair_sil": s.pair_sil}
                for s in self.segments
            ],
        }


def generate(root: str, seed: int, kcache: bool, history: bool) -> Generated:
    """Write the CSV (and optionally the prior k-cache / doc history)
    under ``root`` and return the truth. Same seed, same bytes."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    g = Generated(root, seed)
    customers = [f"cust{c:02d}" for c in range(CUSTOMERS)]

    # Zipf-like skew: segment r gets max_rows / (r+1)^0.9, floored
    n_reg = SEGMENTS
    sizes = [max(MIN_ROWS, int(MAX_ROWS / (r + 1) ** 0.9)) for r in range(n_reg)]
    # the planted structure is the same for every seed — size rank r gets
    # planted k PLANTED_K[r % 3], every (SEGMENTS // DRIFTED)-th rank
    # drifts, the last rank has the constant column — so seeds vary the
    # values. The work varies only where the engine's output does: on
    # some seeds the GaussianMixture refit regresses an unchanged segment
    # and re-tunes it too (the ``regressed_planted`` check reports it)
    drift_idx = set(range(1, n_reg, n_reg // DRIFTED)[:DRIFTED])
    const_idx = n_reg - 1
    rows_out: list[list] = []
    t0 = 1583000000000
    for i in range(n_reg):
        macro = customers[i % len(customers)]
        seg = Segment(macro, f"app{i:02d}", sizes[i], PLANTED_K[i % len(PLANTED_K)])
        if i in drift_idx:
            seg.k, seg.prior_k = DRIFT_TO, DRIFT_FROM
        seg.constant_net = i == const_idx
        g.segments.append(seg)
    single = Segment(customers[0], "app-single", 25, None)
    g.segments.append(single)

    for si, seg in enumerate(g.segments):
        ram_limit = RAM_LIMITS[si % len(RAM_LIMITS)]
        n = seg.rows
        if seg.k is None:
            labels = np.zeros(n, dtype=int)
            cpu, ram_pct, net = np.full(n, 12.5), np.full(n, 40.0), np.full(n, 7.0)
        else:
            labels, cpu, ram_pct, net = _blob_rows(rng, n, seg.k, seg.constant_net)
        ram = ram_pct * ram_limit / 100.0
        net_raw = 2.0e3 + net * 1.0e5
        # null metrics: ~1% of rows lose ram_usage or network_usage
        null_ram = rng.random(n) < 0.005
        null_net = (rng.random(n) < 0.005) & ~null_ram
        if seg.k is None:
            null_ram[:] = False
            null_net[:] = False
        containers = [f"{seg.micro}-c{j}" for j in range(3)]
        for j in range(n):
            rows_out.append([
                "" if null_ram[j] else repr(float(ram[j])),
                repr(float(cpu[j])),
                "node-1",
                repr(float(rng.integers(0, 4) * 4096.0)),
                seg.micro,
                repr(ram_limit),
                containers[j % 3],
                seg.macro,
                str(t0 + 1000 * len(rows_out)),
                "" if null_net[j] else repr(float(net_raw[j])),
                "1",
            ])
        g.clean_rows += n
        for y_col, nulls, yv in (("ram_usage", null_ram, ram), ("network_usage", null_net, net_raw)):
            keep = ~nulls
            seg.pair_rows[y_col] = int(keep.sum())
            if seg.k is None:
                seg.pair_sil[y_col] = 0.0
                continue
            lab = labels % 3 if seg.constant_net and y_col == "network_usage" else labels
            seg.pair_k[y_col] = len(np.unique(lab))
            X = np.column_stack([cpu[keep], _scaled(y_col, yv[keep], ram_limit)])
            seg.pair_sil[y_col] = _silhouette(X, lab[keep])
        if seg.prior_k is not None:
            # the prior day's partition: same segment, DRIFT_FROM blobs
            plab, pcpu, pram, pnet = _blob_rows(rng, n, seg.prior_k, seg.constant_net)
            for y_col, yv in (("ram_usage", pram), ("network_usage", 2.0e3 + pnet * 1.0e5)):
                scaled = yv if y_col == "ram_usage" else _scaled(y_col, yv, ram_limit)
                seg.prior_sil[y_col] = _silhouette(np.column_stack([pcpu, scaled]), plab)

    # shifted rows (~0.1%, at least 2): the reference CSV's shape — a
    # numeric token in container_id pushes customer into time (text)
    # and adds a 12th field
    n_bad = max(2, len(rows_out) // 1000)
    bad_at = sorted(rng.choice(len(rows_out), size=n_bad, replace=False).tolist())
    for off, pos in enumerate(bad_at):
        base = rows_out[pos + off]
        shifted = base[:6] + ["4", "14E+31", base[7]] + [base[8], base[9], "1"]
        rows_out.insert(pos + off + 1, shifted)
    g.corrupt_rows = n_bad

    with open(g.csv_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows_out)
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(g.truth(), f, indent=1, sort_keys=True)
    if kcache:
        _write_prior_kcache(g)
    if history:
        _write_doc_history(g, rng)
    return g


def _write_prior_kcache(g: Generated) -> None:
    """The prior day's k-cache at ``prior_version``: planted k and the
    planted partition's silhouette for every segment, column pair and
    algorithm. The single-point segment holds what the engine's tuner
    caches for a degenerate segment (k=1, silhouette 0.0), so every
    segment hits and only the drifted share re-tunes."""
    rows = {c: [] for c in K_CACHE_COLS + ["k", "silhouette", "version"]}
    for s in g.segments:
        for y in Y_COLS:
            if s.k is None:
                k, sil = 1, 0.0
            elif s.prior_k is not None:
                k, sil = s.prior_k, s.prior_sil[y]
            else:
                k, sil = s.pair_k[y], s.pair_sil[y]
            for a in ALGORITHMS:
                for c, v in zip(K_CACHE_COLS, (a, MACRO, MICRO, X_COL, y, s.macro, s.micro)):
                    rows[c].append(v)
                rows["k"].append(k)
                rows["silhouette"].append(sil)
                rows["version"].append(g.prior_version)
    table = pa.table({
        **{c: pa.array(rows[c], pa.string()) for c in K_CACHE_COLS},
        "k": pa.array(rows["k"], pa.int32()),
        "silhouette": pa.array(rows["silhouette"], pa.float64()),
        "version": pa.array(rows["version"], pa.int64()),
    })
    os.makedirs(g.kcache_path, exist_ok=True)
    pq.write_table(table, os.path.join(g.kcache_path, "part-prior.parquet"))


def _history_doc(g: Generated, kind: str, algo: str, y_col: str, date: str, rng) -> str:
    """One prior-day document in the §1.4 key layout of ``kind``."""
    by_macro: dict[str, list] = {}
    for s in g.segments:
        k = s.prior_k or s.k or 1
        clusters = []
        for c in range(k):
            center = [5.0 + SPACING * c, float(rng.uniform(0, 100))]
            cl = {"name": c, "center": center, "clusterSize": max(1, s.rows // k),
                  "radius": float(rng.uniform(0.5, 1.5))}
            if kind == "d3":
                cl["size"] = float(rng.uniform(1, 50))
            clusters.append(cl)
        micro = {"entropy": float(np.log2(k)), "silhouette": s.pair_sil[y_col]}
        if kind == "d3":
            micro = {"name": s.micro, **micro, "children": clusters}
        else:
            micro = {MICRO: s.micro, **micro, "clusters": clusters}
        by_macro.setdefault(s.macro, []).append(micro)
    head = {"algorithm": algo, "macro": MACRO, "micro": MICRO,
            "firstColumn": X_COL, "secondColumn": y_col, "date": date}
    if kind == "d3":
        children = [{"name": m, "children": v} for m, v in sorted(by_macro.items())]
        return json.dumps({"name": "clusters", "children": children, **head})
    lst = [{MACRO: m, f"{MICRO}_List": v} for m, v in sorted(by_macro.items())]
    return json.dumps({**head, "list": lst})


def _write_doc_history(g: Generated, rng) -> None:
    """N prior days of both document kinds, one parquet file per (day,
    kind), in the (algorithm, macro_col, micro_col, x_col, y_col, date,
    version, doc) schema ``write_documents`` appends."""
    for kind in ("original", "d3"):
        out = os.path.join(g.docs_path, kind, "daily")
        os.makedirs(out, exist_ok=True)
        for day in range(1, HISTORY_DAYS + 1):
            date = _day(day)
            cells = g.cells()
            docs = [_history_doc(g, kind, a, y, date, rng) for _, _, _, y, a in cells]
            table = pa.table({
                "algorithm": pa.array([c[4] for c in cells], pa.string()),
                "macro_col": pa.array([c[0] for c in cells], pa.string()),
                "micro_col": pa.array([c[1] for c in cells], pa.string()),
                "x_col": pa.array([c[2] for c in cells], pa.string()),
                "y_col": pa.array([c[3] for c in cells], pa.string()),
                "date": pa.array([date] * len(cells), pa.string()),
                "version": pa.array([day] * len(cells), pa.int64()),
                "doc": pa.array(docs, pa.string()),
            })
            pq.write_table(table, os.path.join(out, f"part-history-{day:03d}.parquet"))
