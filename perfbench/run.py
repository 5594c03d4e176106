"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ask_sql --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/build.py), then runs the
harness in one JVM with Spark on local[nproc] over perfbench/data/sf0.01.
The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it reports every figure with its sample count.
Everything the run writes stays under .bench_build/ in the checkout.

Other modes (not timed): --mode selftest checks the ask generator and the
whole-result sink; --mode hashes --dump DIR prints each entry's workload and
answer hash (see README.md).
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ask_sql", "curation_batch", "stream_incremental")
RUN_LIMIT_S = 170


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", choices=("0", "1"), default="0")
    p.add_argument("--mode", choices=("run", "selftest", "hashes"), default="run")
    p.add_argument("--dump", help="parquet dump directory, for --mode hashes")
    p.add_argument("--all-entries", action="store_true",
                   help="run every entry of the workload's kind, not the timed set (minutes)")
    a = p.parse_args()
    if a.mode == "run" and not a.workload:
        p.error("--workload is required")
    if a.mode == "hashes" and not a.dump:
        p.error("--dump is required with --mode hashes")
    return a


def main():
    a = parse()
    root = build.ROOT
    if not os.path.isdir(os.path.join(root, build.DATA)):
        sys.exit(f"perfbench: missing input data {build.DATA}")
    t0 = time.time()
    build.build()
    print(f"[perfbench] build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    work = os.path.join(".bench_build", "perfbench", a.workload or a.mode)
    cmd = build.jvm() + build.harness_args(a.mode, work) + [
        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace]
    if a.workload:
        cmd += ["--workload", a.workload]
    if a.dump:
        cmd += ["--dump", a.dump]
    if a.all_entries:
        cmd += ["--all-entries"]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    expired = threading.Event()

    def stop():
        expired.set()
        os.killpg(proc.pid, signal.SIGKILL)

    limit = RUN_LIMIT_S if a.mode == "run" and not a.all_entries else 3600
    watchdog = threading.Timer(limit, stop)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if a.mode != "run":
                print(line, end="", flush=True)
        proc.wait()
    except KeyboardInterrupt:
        stop()
        proc.wait()
        raise
    finally:
        watchdog.cancel()
    if expired.is_set():
        sys.exit(f"perfbench: run exceeded {limit} s, stopped")
    if proc.returncode != 0:
        sys.exit(f"perfbench: harness exited with {proc.returncode}")
    if a.mode != "run":
        return
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: harness printed no result line")
    for line in lines[:-1]:
        print(line)
    print(lines[-1])


if __name__ == "__main__":
    main()
