import sys
from pathlib import Path

# the benchmark's modules live one directory up and are imported by name,
# as run.py imports them; the library lives at the repository root
HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]
