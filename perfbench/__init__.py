"""Repository benchmark: seeded point-in-time workloads, checked against
DuckDB oracles, with a separate traced run that attributes job time to the
engine's layers. Entry point: ``python3 perfbench/run.py --help``."""

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
