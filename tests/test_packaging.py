"""Packaging surface: pyproject metadata and the bench module entry.

The container's setuptools predates wheel support, so a real
``pip install -e .`` cannot complete here (it fails at bdist_wheel
AFTER metadata/entry-point generation succeeds); these tests pin
everything verifiable without an install: the pyproject parses, the
package imports from source, and ``python -m datafusion_monoid_spark.
bench`` resolves to a callable ``main``.
"""

import ast
import importlib
import os
import pkgutil
import subprocess
import sys
import tomllib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyproject_parses_and_declares_the_package():
    with open(os.path.join(ROOT, "pyproject.toml"), "rb") as f:
        meta = tomllib.load(f)
    proj = meta["project"]
    assert proj["name"] == "datafusion-monoid-spark"
    assert "pyspark>=4.1" in proj["optional-dependencies"]["spark"]
    assert proj["scripts"]["dms-bench"] == "datafusion_monoid_spark.bench:main"


def test_bench_module_entry_importable():
    mod = importlib.import_module("datafusion_monoid_spark.bench")
    assert callable(mod.main)


def test_bench_duckdb_column_records_a_failing_oracle(monkeypatch, tmp_path):
    """One oracle that DuckDB cannot run (a scale tier's OOM, say) is
    recorded under its name and the others are still timed, so the
    bench still writes its result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mod = importlib.import_module("datafusion_monoid_spark.bench")
    from datafusion_monoid_spark import queries
    for t in queries.TABLES:
        pq.write_table(pa.table({"x": [1, 2]}), tmp_path / f"{t}.parquet")
    monkeypatch.setattr(mod, "SF_DIR", str(tmp_path))
    times, errors = mod._duckdb_times(
        {"bad": (None, "SELECT * FROM no_such_table"),
         "good": (None, "SELECT sum(x) AS s FROM lineitem")})
    assert list(times) == ["good"] and times["good"] >= 0
    assert "no_such_table" in errors["bad"]


def test_package_import_roundtrip_in_clean_interpreter():
    """`import datafusion_monoid_spark` + the public names, in a fresh
    interpreter with only the repo on sys.path — what an installed
    site-packages copy would exercise."""
    code = ("import datafusion_monoid_spark as m; "
            "assert callable(m.get_spark) and callable(m.register_all); "
            "import datafusion_monoid_spark.bench as b; "
            "assert callable(b.main); print('ok')")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("ok")


#: The monoid-reduce engine: the Monoid algebra, the session factory,
#: the array_reduce forms and registered names, the SQL router and the
#: monoid stream with its sink.  The query catalog and the bench build
#: on it; it never reaches back into them.
CORE_MODULES = (
    "datafusion_monoid_spark",
    "datafusion_monoid_spark.monoid",
    "datafusion_monoid_spark.session",
    "datafusion_monoid_spark.sql_route",
    "datafusion_monoid_spark.operators",
    "datafusion_monoid_spark.operators.array_reduce",
    "datafusion_monoid_spark.streaming",
    "datafusion_monoid_spark.streaming.monoid_stream",
)


def _module_source(name: str) -> str:
    path = os.path.join(ROOT, *name.split("."))
    return (os.path.join(path, "__init__.py") if os.path.isdir(path)
            else path + ".py")


def _package_imports(name: str) -> set:
    """Every package module ``name``'s source imports, at module level
    or inside a function; ``from pkg import sub`` counts as ``pkg.sub``
    when ``sub`` is a module.  The package imports absolutely."""
    with open(_module_source(name)) as f:
        tree = ast.parse(f.read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import in {name}"
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                found.add(sub if os.path.exists(_module_source(sub))
                          else node.module)
    return {m for m in found
            if m.split(".")[0] == "datafusion_monoid_spark"}


#: module built on the core -> the package modules it may import besides
#: the core: the catalog runs the core only, and the bench the catalog.
ON_TOP_OF_CORE = {
    "datafusion_monoid_spark.queries": (),
    "datafusion_monoid_spark.bench": ("datafusion_monoid_spark.queries",),
}


def _loaded_by_clean_import(modules) -> set:
    """Package modules in ``sys.modules`` after a clean interpreter
    imports ``modules``."""
    code = ("import importlib, sys\n"
            f"for m in {sorted(modules)!r}: importlib.import_module(m)\n"
            "print(sorted(m for m in sys.modules\n"
            "             if m.split('.')[0] == 'datafusion_monoid_spark'))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    return set(ast.literal_eval(out.stdout.strip().splitlines()[-1]))


def test_core_imports_only_core_modules():
    """The core's sources import no catalog, bench or helper module, not
    even lazily inside a function; the catalog imports only the core,
    and the bench only the core and the catalog.  A clean interpreter
    that imports the core loads nothing else of the package, and one
    that imports the catalog and the bench loads nothing beyond them
    and the core."""
    allowed = {name: set(CORE_MODULES) for name in CORE_MODULES}
    allowed.update({name: set(CORE_MODULES) | set(extra)
                    for name, extra in ON_TOP_OF_CORE.items()})
    outside = {name: sorted(bad) for name, ok in allowed.items()
               if (bad := _package_imports(name) - ok)}
    assert outside == {}

    assert sorted(_loaded_by_clean_import(CORE_MODULES)
                  - set(CORE_MODULES)) == []
    assert sorted(_loaded_by_clean_import(ON_TOP_OF_CORE)
                  - set(CORE_MODULES) - set(ON_TOP_OF_CORE)) == []


def test_streaming_package_is_the_monoid_stream():
    """The streaming package holds the monoid stream and nothing else,
    and a clean import of the pipeline catalog loads no other streaming
    module and no module without a source file in the package."""
    import datafusion_monoid_spark.streaming as streaming

    assert [m.name for m in pkgutil.iter_modules(streaming.__path__)] == [
        "monoid_stream"]
    loaded = _loaded_by_clean_import(
        ["datafusion_monoid_spark.pipeline_queries"])
    assert sorted(m for m in loaded if m.startswith(streaming.__name__)) == [
        "datafusion_monoid_spark.streaming",
        "datafusion_monoid_spark.streaming.monoid_stream"]
    assert sorted(m for m in loaded
                  if not os.path.exists(_module_source(m))) == []


#: where the import walk starts: the package, the driver's catalog, the
#: bench and the pipeline tier's catalog
ENTRY_MODULES = (
    "datafusion_monoid_spark",
    "datafusion_monoid_spark.queries",
    "datafusion_monoid_spark.bench",
    "datafusion_monoid_spark.pipeline_queries",
)


def test_every_package_module_is_reached_from_the_package():
    """Every ``.py`` under the package is imported, directly or through
    other package modules (function-level imports included), from the
    package, its catalogs or the bench: no module serves only tests."""
    modules = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT,
                                                  "datafusion_monoid_spark")):
        for f in files:
            if f.endswith(".py"):
                parts = os.path.relpath(os.path.join(dirpath, f[:-3]),
                                        ROOT).split(os.sep)
                modules.add(".".join(parts[:-1] if parts[-1] == "__init__"
                                     else parts))
    reached, todo = set(), list(ENTRY_MODULES)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            parts = name.split(".")
            todo += [".".join(parts[:i]) for i in range(1, len(parts))]
            todo += _package_imports(name)
    assert sorted(modules - reached) == []
