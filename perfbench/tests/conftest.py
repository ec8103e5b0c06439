"""Make the benchmark's modules importable as top-level modules, the way
``perfbench/run.py`` imports them."""

from __future__ import annotations

import os
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
