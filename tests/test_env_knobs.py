"""The program's import graph and its environment knobs, pinned.

Every module under ``eeg_data_lake_spark`` must import on its own, so a
module that still imports a deleted sibling fails here instead of in
whichever late test happens to reach it. The same holds for the
``probes/*.py`` scripts and the top-level driver scripts, which no
other test imports; each guards ``__main__``, so loading one runs
only its imports and constants.

The ``SPARK_GRAFT_*`` variables the program reads are its whole
runtime configuration surface. A new knob is an untested code path
until a test or the benchmark sets it, so adding one (or leaving a
removed one behind) must be a deliberate edit of ``KNOBS``. The scan
covers the package plus the two top-level entry points,
``bench.py`` (which reads ``SPARK_GRAFT_SF_DIR``) and
``__spark_entry__.py``.
"""

from __future__ import annotations

import importlib
import importlib.util
import pkgutil
import re
import sys
from pathlib import Path

import eeg_data_lake_spark

ROOT = Path(eeg_data_lake_spark.__file__).resolve().parent.parent
KNOBS = {"CPUS", "SF_DIR", "SPREAD", "WAREHOUSE"}
SCRIPTS = [
    "stream_probe.py",
    "scaling_probe.py",
    "gen_parity.py",
    "gen_plans.py",
    "gen_queries_md.py",
]


def test_every_package_module_imports(monkeypatch):
    names = [
        m.name
        for m in pkgutil.walk_packages(
            eeg_data_lake_spark.__path__, eeg_data_lake_spark.__name__ + "."
        )
    ]
    assert names  # the walk itself found the package
    for name in names:
        importlib.import_module(name)

    # the scripts put the repo (and gen_parity the tests dir) on
    # sys.path; keep that from leaking into later tests
    monkeypatch.setattr(sys, "path", list(sys.path))
    scripts = sorted((ROOT / "probes").glob("*.py"))
    assert scripts  # the glob itself found the probes
    scripts += [ROOT / name for name in SCRIPTS]
    for path in scripts:
        spec = importlib.util.spec_from_file_location(
            f"_script_{path.stem}", path
        )
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_program_reads_exactly_the_pinned_knobs():
    sources = sorted((ROOT / "eeg_data_lake_spark").rglob("*.py"))
    sources += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    found = set()
    for path in sources:
        found |= set(re.findall(r"SPARK_GRAFT_([A-Z_]+)", path.read_text()))
    assert found == KNOBS
