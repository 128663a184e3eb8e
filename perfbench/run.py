"""Benchmark entry point: seeded batch pipelines through the program's
public functions, one closed-loop client, outputs checked every run.

    python3 perfbench/run.py --workload ep1_metadata --seed 1 --seconds 10 --trace 0

Steps: generate the workload's inputs from ``--seed`` (or reuse the
ones an earlier run made for the same seed) and compute the oracle;
time several fresh-process session set-ups; start one worker process
that runs the pipeline once cold and then back to back, a number of
warm runs fixed by ``--seconds`` (``worker.WARM_RUN_S``), checking each
output; sample the resident memory of the worker's whole process tree
(Python driver, JVM, Python workers).

Throughput is reported per CPU second of that process tree, not per
wall second: on a few cores of a shared host, wall time mostly measures
the neighbours (the EP1 plan is built in thousands of py4j round trips,
each waiting for a scheduler wake-up). The cold run is the warm runs'
warm-up; its wall and CPU time, like the warm runs' wall times, are in
the record line only, since one cold start per run is too noisy to gate
on.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before
it is the full record, with the pinned environment and a fingerprint
of the machine and the inputs. Everything is written under
``.bench_work/`` in the checkout; traced runs also leave their
per-layer record in ``perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import proctree  # noqa: E402

WORKLOADS = ("ep1_metadata", "llm_curation")
SETUP_SAMPLES = 2  # fresh-process set-ups per run, the worker's own included
DRIVER_MEM = "1g"  # JVM heap: the program's default (16g) exceeds a small machine,
# and the pipelines' inputs fit in 1g with room to spare
GEN_VERSION = "1"  # bump when gen.py or oracle.py change what they write


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.1):
            self.peak = max(self.peak, sum(proctree.rss_bytes(p) for p in proctree.tree(self.pid)))


def _reap(proc: subprocess.Popen) -> None:
    """Wait for every descendant of the exited worker (this process is
    their subreaper): the JVM's shutdown hooks get a grace period, then
    whatever is left in the worker's process group is stopped."""
    start = time.time()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        waited = time.time() - start
        if waited > 10:
            try:
                os.killpg(proc.pid, signal.SIGKILL if waited > 20 else signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _spawn(args: list[str], env: dict, workers: list, sample_rss: bool = False):
    """Start a worker (recorded in ``workers``); return (process, seconds
    until READY, sampler)."""
    t = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    workers.append(proc)
    sampler = RssSampler(proc.pid) if sample_rss else None
    if sampler:
        sampler.start()
    ready = None
    for line in proc.stdout:
        if line.strip() == "READY":
            ready = time.perf_counter() - t
            break
    # keep draining so a chatty worker never blocks on a full pipe
    threading.Thread(target=lambda: [None for _ in proc.stdout], daemon=True).start()
    return proc, ready, sampler


def _finish(proc, sampler, timeout: float) -> int:
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = -1
    if sampler:
        sampler.done.set()
        sampler.join()
    _reap(proc)
    return code


def _fingerprint(manifest: dict, env_info: dict, load_start: float) -> dict:
    cpu = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    return {
        "cpu_model": cpu,
        "nproc": len(os.sched_getaffinity(0)),
        "load1_start": load_start,
        "load1_end": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": env_info.get("spark"),
        "java": env_info.get("java"),
        "input_digest": manifest["input_digest"],
        "input_bytes": manifest["input_bytes"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "anime_data_pipeline_spark")):
        print("perfbench: the program (anime_data_pipeline_spark/) is not in this "
              "checkout", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    from perfbench import oracle

    work = os.path.join(ROOT, ".bench_work")
    prepared = os.path.join(work, "inputs", f"{a.workload}-{a.seed}-v{GEN_VERSION}")
    os.makedirs(os.path.dirname(prepared), exist_ok=True)
    manifest, expected = oracle.prepare(a.workload, a.seed, prepared)

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    nproc = len(os.sched_getaffinity(0))
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    }
    os.makedirs(pinned["TMPDIR"])
    env = dict(os.environ, **pinned)
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    # orphaned JVMs re-parent to this process, so it can wait for them
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER

    setups, workers = [], []
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))  # run the cleanup below
    try:
        if not a.trace:
            for _ in range(SETUP_SAMPLES - 1):
                proc, ready, _ = _spawn(["--setup-only"], env, workers)
                if _finish(proc, None, 120) != 0 or ready is None:
                    raise RuntimeError("set-up sample failed")
                setups.append(ready)
        result_path = os.path.join(run_dir, "result.json")
        proc, ready, sampler = _spawn(
            ["--workload", a.workload, "--prepared", prepared, "--work", run_dir,
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--result", result_path],
            env, workers, sample_rss=True,
        )
        code = _finish(proc, sampler, max(170 - (time.perf_counter() - started), 1))
        if ready is None or code != 0 or not os.path.exists(result_path):
            raise RuntimeError(f"worker exited with code {code}")
        setups.append(ready)
        with open(result_path) as f:
            res = json.load(f)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        for proc in workers:
            if proc.poll() is None:  # interrupted while a worker was running
                os.killpg(proc.pid, signal.SIGKILL)
                _reap(proc)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    if a.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in res["per_layer"].items()}
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        with open(os.path.join(HERE, "traces", f"{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "per_layer": res["per_layer"],
                       "spans": res["spans"], "attribution_walls": res["attribution_walls"],
                       "traced_s": res["traced_s"], "untraced_s": res["warm_s"]}, f, indent=1)
    else:
        # JIT compilation still going on is warm-up, not per-row work
        warm = [c - j for c, j in zip(res["warm_cpu_s"], res["warm_jit_s"])
                if c == c]  # drop failed runs (NaN)
        out_bytes = statistics.median(res["out_bytes"]) if res["out_bytes"] else 0
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "rows_per_cpu_s": {"value": manifest["rows_in"] / statistics.median(warm) if warm
                               else 0.0, "unit": "rows/cpu_s"},
            "peak_rss_mb": {"value": sampler.peak / 2**20, "unit": "MB"},
            "out_bytes_per_in_byte": {"value": out_bytes / manifest["input_bytes"],
                                      "unit": "ratio"},
            "ok_run_share": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": pinned, "fingerprint": _fingerprint(manifest, res["env"], load_start),
        "sizes": manifest["sizes"], "shares": manifest["shares"],
        "setup_samples_s": setups, "cold_run_s": res["cold_run_s"], "warm_s": res["warm_s"],
        **{k: res[k] for k in ("cold_run_cpu_s", "cold_run_jit_s", "warm_cpu_s", "warm_jit_s")
           if k in res},
        "errors": res["errors"][:3],
    }
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("bytes") or last == "bytes_written":
        return "bytes"
    if last in ("straggler_ratio", "verified_per_candidate", "kept_per_scored_pair"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
