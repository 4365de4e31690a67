"""Put the benchmark's modules and the package on the import path (and on
the Python workers' path) for these tests."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)
_old = os.environ.get("PYTHONPATH")
os.environ["PYTHONPATH"] = ROOT + (os.pathsep + _old if _old else "")
