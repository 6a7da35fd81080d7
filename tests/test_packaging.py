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
#: monoid stream with its sink.  The query catalog and the other
#: operators build on it; it never reaches back into them.
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


def test_core_imports_only_core_modules():
    """The core's sources import no catalog, bench, helper or
    non-monoid operator module, not even lazily inside a function; and
    a clean interpreter that imports the core loads nothing else of
    the package."""
    outside = {name: sorted(bad) for name in CORE_MODULES
               if (bad := _package_imports(name) - set(CORE_MODULES))}
    assert outside == {}

    code = ("import importlib, sys\n"
            f"for m in {CORE_MODULES!r}: importlib.import_module(m)\n"
            "print(sorted(m for m in sys.modules\n"
            "             if m.split('.')[0] == 'datafusion_monoid_spark'))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    loaded = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert sorted(set(loaded) - set(CORE_MODULES)) == []
