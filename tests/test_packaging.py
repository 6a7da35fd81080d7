"""Packaging surface: pyproject metadata and the bench module entry.

The container's setuptools predates wheel support, so a real
``pip install -e .`` cannot complete here (it fails at bdist_wheel
AFTER metadata/entry-point generation succeeds); these tests pin
everything verifiable without an install: the pyproject parses, the
package imports from source, and ``python -m datafusion_monoid_spark.
bench`` resolves to a callable ``main``.
"""

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


def test_driver_window_covers_backlog():
    """The committed driver window must lead with every catalog entry
    that has NO driver check on record — computed from the ACTUAL
    CORRECTNESS_r*.json artifacts in the checkout, never from a
    window manifest standing in for a check (the round-6 failure:
    CORRECTNESS_r05.json was never written back, and crediting the r5
    manifest as if it had run left 28 entries unverified for two
    rounds).  New entries are sentinels in-window by construction, so
    this invariant is the per-round discipline: no entry ships
    outside the driver's gate."""
    import glob
    import json

    from datafusion_monoid_spark import queries as qcat

    seen: set = set()
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            data = json.load(f)
        assert isinstance(data, dict), f"unreadable {path}"
        seen |= set(data)
    window = list(qcat.catalog())[:50]
    never = [n for n in qcat._CATALOG if n not in seen]
    missing = [n for n in never if n not in window]
    assert not missing, (
        f"{len(missing)} never-driver-checked entries outside the "
        f"50-entry window: {missing}")


def _latest_check_by_entry(max_round: int) -> dict:
    """Latest CORRECTNESS_r*.json round per entry, considering ONLY
    artifacts from rounds <= ``max_round``.  Window tests MUST pin
    against the artifact set that existed when the window was cut:
    the r11 version of this test scanned ALL artifacts, so it
    self-invalidated the moment the driver wrote CORRECTNESS_r11.json
    (the deferred entries' latest check became r11, no longer the
    checkout's oldest — ADVICE r11, VERDICT r11 item 1)."""
    import glob
    import json
    import re

    seen: dict = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        if rnd > max_round:
            continue
        with open(path) as f:
            for name in json.load(f):
                seen[name] = os.path.basename(path)
    return seen


def test_r11_window_leads_with_deferred():
    """The r10 window deferred 8 r6-stale entries to fit 17 new
    sentinels; ADVICE r10 pins that deferral so the rotation cannot
    silently slip again — the r11 window led with exactly those 8,
    verified against the artifacts that existed when r11 was cut
    (r01–r10 only: their latest check in THAT set is the oldest)."""
    from datafusion_monoid_spark import queries as qcat

    assert qcat._DRIVER_WINDOW_R11[:8] == qcat._R11_DEFERRED_HEAD
    seen = _latest_check_by_entry(max_round=10)
    oldest = min(seen.values())
    assert {seen.get(n) for n in qcat._R11_DEFERRED_HEAD} == {oldest}


def test_r14_window_leads_with_r9_stale():
    """VERDICT r13 item 10: the r14 window must lead with the 36
    entries whose latest driver check (as of the r01-r13 artifact set,
    i.e. when this window was cut) is r09 — the oldest cohort in the
    rotation.  Pinned against rounds <= 13 so CORRECTNESS_r14.json
    landing on disk cannot flip this assertion."""
    from datafusion_monoid_spark import queries as qcat

    window = list(qcat.catalog())[:50]
    head = qcat._R14_STALE_HEAD
    assert window[: len(head)] == head
    assert window == qcat._DRIVER_WINDOW_R14
    seen = _latest_check_by_entry(max_round=13)
    r9 = sorted(n for n, p in seen.items()
                if p == "CORRECTNESS_r09.json")
    assert sorted(head) == r9
    # After this window runs, no entry's latest check is older than r10.
    assert all(seen[n] >= "CORRECTNESS_r10.json"
               for n in qcat._CATALOG if n not in window and n in seen)


def test_r12_window_leads_with_r7_stale():
    """VERDICT r11 item 2: the r12 window must lead with the 21
    entries whose latest driver check (as of the r01–r11 artifact
    set, i.e. when this window was cut) is r07 — the oldest cohort in
    the rotation.  Pinned against rounds <= 11 so CORRECTNESS_r12.json
    landing on disk cannot flip this assertion."""
    from datafusion_monoid_spark import queries as qcat

    window = qcat._DRIVER_WINDOW_R12
    head = qcat._R12_STALE_HEAD
    assert window[: len(head)] == head
    seen = _latest_check_by_entry(max_round=11)
    r7 = sorted(n for n, p in seen.items()
                if p == "CORRECTNESS_r07.json")
    assert sorted(head) == r7
    # After this window ran, no entry's latest check is older than r8.
    assert all(seen[n] >= "CORRECTNESS_r08.json"
               for n in qcat._CATALOG if n not in window and n in seen)


def test_r13_window_leads_with_r8_stale():
    """VERDICT r12 item 4: the r13 window must lead with the 30
    entries whose latest driver check (as of the r01-r12 artifact set,
    i.e. when this window was cut) is r08 — the oldest cohort in the
    rotation.  Pinned against rounds <= 12 so CORRECTNESS_r13.json
    landing on disk cannot flip this assertion.  (Since r14 cut its
    own window, this pins the frozen _DRIVER_WINDOW_R13 constant —
    the live catalog head now serves the r14 window.)"""
    from datafusion_monoid_spark import queries as qcat

    window = qcat._DRIVER_WINDOW_R13
    head = qcat._R13_STALE_HEAD
    assert window[: len(head)] == head
    seen = _latest_check_by_entry(max_round=12)
    r8 = sorted(n for n, p in seen.items()
                if p == "CORRECTNESS_r08.json")
    assert sorted(head) == r8
    # After this window runs, no entry's latest check is older than r9.
    assert all(seen[n] >= "CORRECTNESS_r09.json"
               for n in qcat._CATALOG if n not in window and n in seen)
