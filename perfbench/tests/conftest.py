import os
import sys

# run from anywhere: the benchmark package and the engine live at the root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
