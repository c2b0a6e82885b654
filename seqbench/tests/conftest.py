"""The benchmark's modules import each other by bare name (the benchmark
runs as ``python3 seqbench/run.py``), so its directory goes on the path."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
