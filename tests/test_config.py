"""Config source (S5), column classification (P1), analysis grid (J1):
the reference's Mongo-backed defaultConf re-expressed as a frozen
dataclass with JSON round-trip and latest-wins override."""

from __future__ import annotations

import ast
import pathlib

from clustering_spark.config import PipelineConfig, classify_columns

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "clustering_spark"
# the benchmark harness's program files, without its tests
SCHEDBENCH = [p for p in (ROOT / "schedbench").rglob("*.py") if "tests" not in p.parts]


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
    import dataclasses

    sources = [*PACKAGE.rglob("*.py"), *SCHEDBENCH, ROOT / "bench.py"]
    config_py = PACKAGE / "config.py"

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


# Modules under clustering_spark/ that no program entry point imports, kept
# on purpose; the walk starts from them too. Anything else unreached is dead
# code.
UNREACHED_ON_PURPOSE = {
    "clustering_spark.operators.pngsink": "the reference's S10 PNG sink "
    "(cluster.py:138-143), paper functionality no scheduled run wires in yet",
    "clustering_spark.plans.audit": "the plan-pin helper library the tests use",
}


def test_every_package_module_is_reached_from_an_entry_point():
    """Every module under clustering_spark/ is imported, transitively,
    from a program entry point: the driver contract, bench.py, the
    benchmark harness, tools/, the query registry, the scheduled
    pipeline or the trainprep capstone. Absolute, relative and
    function-local imports all count; a module only its own tests
    import is dead code and must go, or be listed with its reason in
    UNREACHED_ON_PURPOSE."""
    entry_points = [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *SCHEDBENCH,
        *(ROOT / "tools").glob("*.py"),
        PACKAGE / "queries.py",
        PACKAGE / "pipeline.py",
        PACKAGE / "trainprep.py",
    ]

    def module_name(path):
        parts = path.relative_to(ROOT).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    def module_file(name, script_dir):
        # package modules resolve from the repo root; a script's sibling
        # imports (schedbench's `from gen import ...`) from its own folder
        for base in (ROOT, script_dir):
            stem = base.joinpath(*name.split("."))
            for path in (stem.with_suffix(".py"), stem / "__init__.py"):
                if path.is_file():
                    return path
        return None

    def imported_files(path):
        is_package = path.name == "__init__.py"
        here = module_name(path).split(".")
        names = []
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names += [alias.name for alias in node.names]
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    anchor = here if is_package else here[:-1]
                    anchor = anchor[: len(anchor) - (node.level - 1)]
                    base = ".".join([*anchor, *filter(None, [node.module])])
                else:
                    base = node.module
                names.append(base)
                # `from pkg import mod` imports the submodule pkg.mod
                names += [f"{base}.{alias.name}" for alias in node.names]
        return {f for name in names for f in import_chain(name, path.parent)}

    def import_chain(name, script_dir):
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = name.split(".")
        found = (module_file(".".join(parts[:i]), script_dir) for i in range(1, len(parts) + 1))
        return {f for f in found if f is not None}

    missing = [name for name in UNREACHED_ON_PURPOSE if module_file(name, ROOT) is None]
    assert not missing, f"UNREACHED_ON_PURPOSE names missing modules: {missing}"
    kept = [f for name in UNREACHED_ON_PURPOSE for f in import_chain(name, ROOT)]
    reached, todo = set(), [*entry_points, *kept]
    while todo:
        path = todo.pop()
        if path not in reached:
            reached.add(path)
            todo += imported_files(path)

    unreached = sorted(module_name(p) for p in set(PACKAGE.rglob("*.py")) - reached)
    assert not unreached, f"modules no entry point imports: {unreached}"
