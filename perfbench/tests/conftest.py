import os
import sys

# the repository root: `perfbench`, the engine and bench.py import from it
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))
