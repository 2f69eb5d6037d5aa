"""A fixed CPU loop that measures how fast the host runs right now.

    python3 perfbench/calib.py

Prints one JSON line with the CPU seconds this process spent on a fixed
interpreter loop. The work never changes, so a change in its time is a
change in the host (other tenants on the same physical cores), not in the
program the benchmark measures. harness.calibrate runs one copy per core at
once, the way a Spark pass loads the cores.
"""

from __future__ import annotations

import json
import time

ITERS = 12_000_000


def main() -> None:
    t = time.process_time()
    x = 0
    for i in range(ITERS):
        x = (x * 31 + i) & 0xFFFFFFFF
    print(json.dumps({"cpu_s": time.process_time() - t, "check": x}))


if __name__ == "__main__":
    main()
