#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It pins its own environment (core count,
driver memory, Spark local dirs, temp dirs and a worker PYTHONPATH, all
inside the checkout), starts one Spark session, makes the workload's
inputs, warms up, checks outputs, then runs a fixed number of timed passes
(``--seconds`` is recorded; it does not set the pass count, see
perfbench/README.md). ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer ledger and writes the span dump and the
ledger table under ``perfbench/.work/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "datafusion_cyberpolka_eda_spark"
WORKLOADS = ("eda_pipeline", "registry")


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """sha256 over the package sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def commit_id() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def pin_environment() -> dict:
    """Set the environment every result is measured under; returns it."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # 4 GiB of driver heap holds every workload's inputs and caches at
        # benchmark scale; the session default (24g) overcommits a 15 GiB box
        "SPARK_DRIVER_MEMORY": "4g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers must import the package (streaming foreachBatch and
        # UDF entries fail with ModuleNotFoundError otherwise)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        # keep the JVM's own temp files inside the checkout as well
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--inject-wrong-hash", default=None, metavar="ENTRY",
        help="self-test hook: corrupt the expected result of one op",
    )
    args = ap.parse_args(argv)
    age0 = process_age_s()
    t0 = time.perf_counter() - age0  # perf_counter value at process start

    env = pin_environment()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 3

    import harness  # noqa: E402  (needs the pinned environment)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "commit": commit_id(),
        "source_sha256": source_digest(),
    }
    result = harness.run(args, t0, record)
    # a human/audit line with everything the last line does not carry
    print(json.dumps({"perfbench_record": record}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
