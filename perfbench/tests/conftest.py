import os
import sys

# the checkout root: perfbench and diagon_spark import from there
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))
