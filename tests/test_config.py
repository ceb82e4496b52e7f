"""Config source (S5), column classification (P1), analysis grid (J1):
the reference's Mongo-backed defaultConf re-expressed as a frozen
dataclass with JSON round-trip and latest-wins override."""

from __future__ import annotations

from clustering_spark.config import PipelineConfig, classify_columns


def test_json_round_trip_and_defaults():
    cfg = PipelineConfig()
    back = PipelineConfig.from_json(cfg.to_json())
    assert back == cfg
    # reference defaultConf shapes (clustering_vars.py / add_conf.py)
    assert cfg.limits == {"daily": 100, "weekly": 200, "monthly": 300, "yearly": 400}
    assert cfg.start_k == 2 and cfg.stop_k == 10
    assert cfg.silhouette_threshold == 0.9


def test_override_is_latest_wins_and_non_mutating():
    base = PipelineConfig()
    new = base.override(algorithms=["KMeans", "GaussianMixture"], stop_k=6)
    assert new.algorithms == ["KMeans", "GaussianMixture"] and new.stop_k == 6
    assert base.algorithms == ["KMeans"] and base.stop_k == 10  # frozen base


def test_grid_is_the_five_deep_loop():
    cfg = PipelineConfig(
        filtering_columns={"customer_id": ["application_id", "container_id"]},
        columns={"cpu_percent": ["ram_usage"], "io_usage": ["network_usage"]},
        algorithms=["KMeans", "BisectingKMeans"],
    )
    cells = list(cfg.grid())
    # 1 macro x 2 micro x 2 x-col x 1 y-per-x x 2 algorithms
    assert len(cells) == 8
    assert ("customer_id", "application_id", "cpu_percent", "ram_usage", "KMeans") in cells
    assert ("customer_id", "container_id", "io_usage", "network_usage", "BisectingKMeans") in cells


def test_seeds_deterministic_and_salted():
    cfg = PipelineConfig()
    assert cfg.seeds(3) == cfg.seeds(3)
    assert cfg.seeds(3) != cfg.seeds(3, salt=1)
    assert len(set(cfg.seeds(10))) == 10


def test_classify_columns_id_and_limit_suffixes():
    ids, metrics = classify_columns(
        ["customer_id", "application_id", "cpu_percent", "ram_usage", "ram_limit", "time"]
    )
    assert ids == ["customer_id", "application_id"]
    # _limit columns are scaling denominators, not metrics to cluster
    assert metrics == ["cpu_percent", "ram_usage", "time"]


def test_override_does_not_alias_mutable_fields():
    # mutating a derived config's dict in place must not leak into the
    # base (dataclasses.replace would alias the dict instances)
    base = PipelineConfig()
    derived = base.override(stop_k=6)
    derived.filtering_columns["customer_id"].append("node_id")
    derived.limits["daily"] = 999
    assert base.filtering_columns == {"customer_id": ["application_id"]}
    assert base.limits["daily"] == 100


def test_override_unknown_key_raises():
    import pytest

    with pytest.raises(TypeError, match="unknown config keys"):
        PipelineConfig().override(no_such_knob=1)


def test_every_config_field_is_read_outside_config():
    """A PipelineConfig field that no program source reads is a dead
    setting: it can be set, serialized and overridden but changes
    nothing. Every field must be read as an attribute somewhere in the
    package, the benchmark harness or bench.py, outside config.py; a
    PipelineConfig method called there (``grid()``, ``seeds()``)
    counts as reading the fields it reads."""
    import ast
    import dataclasses
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    sources = [
        *(root / "clustering_spark").rglob("*.py"),
        *(p for p in (root / "schedbench").rglob("*.py") if "tests" not in p.parts),
        root / "bench.py",
    ]
    config_py = root / "clustering_spark" / "config.py"

    def attrs_read(tree):
        return {
            n.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
        }

    read = set()
    for path in sources:
        if path != config_py:
            read |= attrs_read(ast.parse(path.read_text()))
    (cls,) = [
        n
        for n in ast.parse(config_py.read_text()).body
        if isinstance(n, ast.ClassDef) and n.name == "PipelineConfig"
    ]
    for method in cls.body:
        if isinstance(method, ast.FunctionDef) and method.name in read:
            read |= attrs_read(method)

    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    assert not fields - read, f"settings nothing reads: {sorted(fields - read)}"
