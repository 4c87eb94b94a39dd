import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
# the benchmark's modules, and the checkout root for the package and
# the BIFF8 fixture writer the payload generator reuses
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
