"""Pipeline configuration (reference: clustering_vars.py:19-63 `defaultConf`,
layered Mongo override clustering_vars.py:67-110).

The reference stores config in MongoDB with latest-document-wins merge
over a hardcoded default dict. Here config is a plain frozen dataclass
(JSON-serializable) — no external store. The analysis *grid* semantics
are preserved: ``filtering_columns`` maps macro segment column -> list of
micro segment columns; ``columns`` maps x metric -> list of y metrics;
``algorithms`` is the model whitelist. The reference's ``threadNum``
has no counterpart: ``pipeline.run_grid`` fits every column pair in one
Spark plan instead of a driver thread pool.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from typing import Iterator

# Column-name conventions are part of the data model (SURVEY §1.1;
# clustering_vars.py:14-16).
ID_SUFFIX = "_id"
LIMIT_SUFFIX = "_limit"
LIST_SUFFIX = "_List"

# Derived column names (clustering_vars.py:5-7).
FEATURES_COL = "features"
SCALED_FEATURES_COL = "scaledFeatures"
PREDICTION_COL = "prediction"

ALGORITHMS = ("KMeans", "BisectingKMeans", "GaussianMixture")


@dataclass(frozen=True)
class PipelineConfig:
    """All knobs of the reference's defaultConf that affect computation."""

    # analysis grid
    filtering_columns: dict[str, list[str]] = field(
        default_factory=lambda: {"customer_id": ["application_id"]}
    )
    columns: dict[str, list[str]] = field(
        default_factory=lambda: {"cpu_percent": ["ram_usage"]}
    )
    algorithms: list[str] = field(default_factory=lambda: ["KMeans"])
    dont_scale: list[str] = field(default_factory=lambda: ["cpu_percent"])

    # sampling caps per schedule interval (clustering_vars.py:20-33)
    limits: dict[str, int] = field(
        default_factory=lambda: {
            "daily": 100,
            "weekly": 200,
            "monthly": 300,
            "yearly": 400,
        }
    )

    # tuner (clustering_vars.py:38-44)
    start_k: int = 2
    stop_k: int = 10
    iter_num: int = 3
    thresholded_iter_num: int = 6
    silhouette_threshold: float = 0.9
    old_silhouette_threshold: float = 0.8

    # presentation
    d3_normalize_max: float = 50.0

    # determinism: the reference uses unseeded np.random.randint
    # (optimal_k.py:38,85) — an anti-pattern (SURVEY §4.3.7). We derive
    # a deterministic seed list from this base seed instead.
    base_seed: int = 42

    def grid(self) -> Iterator[tuple[str, str, str, str, str]]:
        """The (macro, micro, x, y, algorithm) analysis grid — the
        5-deep nested loop of cluster.py:277-287 as a generator."""
        for macro, micros in self.filtering_columns.items():
            for micro in micros:
                for x, ys in self.columns.items():
                    for y in ys:
                        for alg in self.algorithms:
                            yield macro, micro, x, y, alg

    def seeds(self, n: int, salt: int = 0) -> list[int]:
        """Deterministic seed list replacing np.random.randint calls."""
        return [(self.base_seed * 1_000_003 + salt * 7919 + i) % (2**31 - 1) for i in range(n)]

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "PipelineConfig":
        return cls(**json.loads(s))

    def override(self, **kwargs) -> "PipelineConfig":
        """Latest-wins key-by-key merge (clustering_vars.py:94-97).

        Goes through ``asdict`` (a DEEP copy) rather than
        ``dataclasses.replace``: replace() would alias the mutable
        dict/list fields between the old and new config, so mutating
        one config's grid in place would silently change every derived
        config too — frozen=True prevents rebinding, not aliasing."""
        base = asdict(self)
        unknown = set(kwargs) - set(base)
        if unknown:
            raise TypeError(f"override: unknown config keys {sorted(unknown)}")
        base.update(kwargs)
        return type(self)(**base)


def classify_columns(all_columns: list[str]) -> tuple[list[str], list[str]]:
    """Split columns into (filter/id columns, metric columns) by the
    ``_id`` suffix convention (cluster.py:266-272, optimal_k.py:371-377)."""
    id_cols = [c for c in all_columns if c.endswith(ID_SUFFIX)]
    metric_cols = [
        c for c in all_columns if not c.endswith(ID_SUFFIX) and not c.endswith(LIMIT_SUFFIX)
    ]
    return id_cols, metric_cols
