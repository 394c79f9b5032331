import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)

# the benchmark's modules import each other flat (run.py puts perfbench/ on
# the path) and the engine from the checkout root
for path in (REPO, BENCH):
    if path not in sys.path:
        sys.path.insert(0, path)
