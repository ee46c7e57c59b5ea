"""The program's import graph and its environment knobs, pinned.

Every module under ``eeg_data_lake_spark`` must import on its own, so a
module that still imports a deleted sibling fails here instead of in
whichever late test happens to reach it.

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
import pkgutil
import re
from pathlib import Path

import eeg_data_lake_spark

ROOT = Path(eeg_data_lake_spark.__file__).resolve().parent.parent
KNOBS = {"CPUS", "SF_DIR", "SPREAD", "WAREHOUSE"}


def test_every_package_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            eeg_data_lake_spark.__path__, eeg_data_lake_spark.__name__ + "."
        )
    ]
    assert names  # the walk itself found the package
    for name in names:
        importlib.import_module(name)


def test_program_reads_exactly_the_pinned_knobs():
    sources = sorted((ROOT / "eeg_data_lake_spark").rglob("*.py"))
    sources += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    found = set()
    for path in sources:
        found |= set(re.findall(r"SPARK_GRAFT_([A-Z_]+)", path.read_text()))
    assert found == KNOBS
