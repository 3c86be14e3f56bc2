"""The benchmark's own test: ``run.py --smoke`` must pass.

Runs every workload once at sf0.001, untraced and traced, and fails
unless all outputs check out, every written input's parquet footer
matches its fixture's, and every metric named in BENCHMARK.json is
emitted with its unit. Takes a few minutes:

    python3 -m pytest perfbench/test_smoke.py -q
"""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def test_smoke_emits_every_metric():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
