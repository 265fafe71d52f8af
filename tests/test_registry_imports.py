"""Every registry module imports on its own, in a fresh interpreter. A
module that reads another module's registered oracle while it is being
imported must import that module first: otherwise importing it before
the registry raises a KeyError and leaves REGISTRY half filled, and
every later ``all_queries()`` fails on a duplicate name."""

from __future__ import annotations

import pkgutil
import subprocess
import sys
from pathlib import Path

import pytest

from dataingestionplayground_spark import queries

ROOT = Path(__file__).resolve().parents[1]
MODULES = sorted(m.name for m in pkgutil.iter_modules(queries.__path__))


@pytest.mark.parametrize("module", MODULES)
def test_registry_module_imports_alone(module):
    code = (
        f"import dataingestionplayground_spark.queries.{module}\n"
        "from dataingestionplayground_spark.queries import all_queries\n"
        "print(len(all_queries()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) == len(queries.all_queries())
