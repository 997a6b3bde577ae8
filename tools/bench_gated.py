"""Run the FROZEN bench.py bracketed by single-thread kernel readings so
every number carries window-quality evidence (VERDICT r5 #1: the r5 driver
regression had the uniform signature of host contention but no in-run
evidence either way). bench.py itself cannot carry the bracket (frozen for
driver measurement), so this wrapper is the builder-side protocol:

    kernel_before -> bench.py -> kernel_after

window_stable = kernel drift < 15% (same gate as tools/dedup_bench.py).
Prints one JSON line combining bench.py's output with the bracket. If
bench.py fails (non-zero exit or no JSON line), ``bench`` carries an
``error`` field instead and this script exits 1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, TOOLS)


def main() -> None:
    from scaling_bench import kernel_rate

    kernel_rate(5_000)  # warm-up, discarded
    k_before = kernel_rate()
    env = dict(os.environ)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=3600,
    )
    k_after = kernel_rate()
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode == 0 and lines:
        bench = json.loads(lines[-1])
    else:
        bench = {
            "error": "bench.py exited %d" % proc.returncode,
            "stderr": proc.stderr[-1000:],
        }
    drift = round(1.0 - min(k_before, k_after) / max(k_before, k_after), 3)
    out = {
        "bench": bench,
        "kernel_before_docs_per_sec": round(k_before, 1),
        "kernel_after_docs_per_sec": round(k_after, 1),
        "kernel_drift": drift,
        "window_stable": drift < 0.15,
    }
    print(json.dumps(out))
    if "error" in bench:
        sys.exit(1)


if __name__ == "__main__":
    main()
