import sys
from pathlib import Path

# the repository root, so ``perfbench`` and ``tests.traffic_sim`` import
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
