"""Runs one seeded benchmark workload and prints its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-fingerprints   # re-record catalog results

Builds the engine and the benchmark first when their sources changed
(see build.py), then starts one JVM for the run. The last stdout line
is `{"correct", "attempted", "failed", "metrics"}`; the exit code is 0
only when every output check held. Build output, generated inputs and
traces go under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`); the traced run's span file and per-layer table are in
its `work/trace/`.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("news_pipeline", "news_flaky_llm", "catalog_scheduler_bound",
             "catalog_data_bound")
# A run must end within 180 s; the first one may also build.
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880


def java(main_class, args, limit_s):
    """Runs a JVM in its own process group; kills the group past `limit_s`."""
    cmd = build.jvm_command(main_class, args)
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    try:
        return proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit_s:.0f} s; stopped", file=sys.stderr)
        kill()
        return 124
    except KeyboardInterrupt:
        kill()
        return 130


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()

    built = build.build()
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    work = os.path.join(build.build_dir(), "work")
    prints = os.path.join(build.BENCH, "fingerprints.json")
    if a.selftest:
        return java("perfbench.SelfTest", [os.path.join(work, "selftest")], limit)
    if a.record_fingerprints:
        for w in (w for w in WORKLOADS if w.startswith("catalog_")):
            rc = java("perfbench.Main", ["--workload", w, "--seed", "0", "--seconds", "1",
                                         "--work", work, "--fingerprints", prints,
                                         "--record-fingerprints"], 900)
            if rc:
                return rc
        return 0
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    return java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--work", work, "--fingerprints", prints], limit)


if __name__ == "__main__":
    sys.exit(main())
