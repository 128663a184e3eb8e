"""One fresh benchmark process: start the Spark session, then (unless
``--setup-only``) run one workload and write the timings to a JSON file.

``run.py`` starts this script; it is not meant to be run by hand. It
prints ``READY`` on its standard output once the session has finished a
first trivial job, which is where the launcher's set-up clock stops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import proctree  # noqa: E402

# Nominal length of one warm run on a 4-vCPU machine: a run makes
# --seconds / WARM_RUN_S warm runs.
WARM_RUN_S = {"ep1_metadata": 5, "llm_curation": 10}


def _part_files(path: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(path):
        out += [os.path.join(dirpath, f) for f in files if f.startswith("part-")]
    return out


class Runner:
    """Runs the workload's pipeline and checks each output."""

    def __init__(self, spark, workload: str, manifest: dict, expected: dict, work: str):
        from perfbench.pipelines import WORKLOADS
        from perfbench.trace import Tracer

        self.spark = spark
        self.run_fn, self.check_fn, self.attribute_fn = WORKLOADS[workload]
        self.m, self.expected, self.work = manifest, expected, work
        self.quiet = Tracer()
        self.attempted = self.failed = 0
        self.out_bytes: list[int] = []
        self.errors: list[str] = []

    def once(self, tracer=None) -> tuple[float, tuple[float, float], str]:
        """One pipeline run; returns (wall seconds, (all, JIT) CPU seconds
        of this process tree, output dir). The output is checked after the
        clocks stop; a failed run counts in ``failed``."""
        out = os.path.join(self.work, f"out{self.attempted}")
        self.attempted += 1
        wall, cpu = float("nan"), (float("nan"), float("nan"))
        try:
            c = proctree.tree_cpu_s(os.getpid())
            t = time.perf_counter()
            info = self.run_fn(self.spark, tracer or self.quiet, self.m, out)
            wall = time.perf_counter() - t
            cpu = tuple(b - a for a, b in zip(c, proctree.tree_cpu_s(os.getpid())))
            bad = self.check_fn(self.expected, out, info)
            self.out_bytes.append(sum(os.path.getsize(f) for f in _part_files(out)))
        except Exception:  # a run that raises is a failed run, not a crash
            bad = [traceback.format_exc(limit=3)]
        finally:
            self.spark.catalog.clearCache()
        if bad:
            self.failed += 1
            self.errors += bad[:3]
        return wall, cpu, out


def run_untraced(runner: Runner, workload: str, seconds: float) -> dict:
    """The cold run, then one warm run per ``WARM_RUN_S`` of ``seconds``
    (at least one). The count is fixed by ``seconds`` rather than by the
    clock: the JIT keeps compiling through the first warm runs, so each
    run's figures depend on its place in the sequence, and a count that
    varied with the machine's speed would move their median."""
    cold, (cold_cpu, cold_jit), out = runner.once()
    shutil.rmtree(out, ignore_errors=True)
    warm, warm_cpu, warm_jit = [], [], []
    for _ in range(max(1, round(seconds / WARM_RUN_S[workload]))):
        w, (c, j), out = runner.once()
        shutil.rmtree(out, ignore_errors=True)
        warm.append(w)
        warm_cpu.append(c)
        warm_jit.append(j)
    return {"cold_run_s": cold, "cold_run_cpu_s": cold_cpu, "cold_run_jit_s": cold_jit,
            "warm_s": warm, "warm_cpu_s": warm_cpu, "warm_jit_s": warm_jit}


def run_traced(runner: Runner, spark, event_dir: str, session_s: float) -> dict:
    from perfbench import trace

    cold, _, out = runner.once()
    shutil.rmtree(out, ignore_errors=True)
    untraced = []
    for _ in range(2):
        w, _, out = runner.once()
        shutil.rmtree(out, ignore_errors=True)
        untraced.append(w)
    tr = trace.Tracer(spark, enabled=True)
    traced, _, out = runner.once(tr)
    files = _part_files(out)
    sink_bytes, sink_files = sum(os.path.getsize(f) for f in files), len(files)
    shutil.rmtree(out, ignore_errors=True)
    scratch = os.path.join(runner.work, "attribution")
    charges, walls, extras = runner.attribute_fn(spark, tr, runner.m, scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()  # flushes the event log

    groups = trace.fold_event_log(event_dir)
    figs = {layer: trace.empty() for layer in trace.LAYERS}
    exec_s = {layer: 0.0 for layer in trace.LAYERS}
    for layer in trace.LAYERS:  # eager jobs started inside the layer's calls
        if layer in groups:
            trace.add(figs[layer], groups[layer])
            exec_s[layer] += groups[layer]["job_wall_s"]
    for layer, group, base in charges:  # lazy work, split by attribution runs
        trace.add(figs[layer], trace.minus(groups.get(group, trace.empty()), groups.get(base)))
        exec_s[layer] += max(walls[group] - (walls[base] if base else 0.0), 0.0)

    call_s = tr.call_s()
    call_s["session"] = session_s
    metrics = {}
    for layer in trace.LAYERS:
        f = figs[layer] | {
            "call_s": call_s[layer],
            "exec_s": exec_s[layer],
            "straggler_ratio": trace.straggler_ratio(figs[layer]["stages"]),
        }
        metrics.update({f"{layer}.{m}": f[m] for m in trace.PER_LAYER})
    sem = runner.expected.get("semdedup", {})
    metrics.update({
        "sources.rows_in": runner.m["rows_in"],
        "sinks.bytes_written": sink_bytes,
        "sinks.files_written": sink_files,
        "operators.dedup.verified_per_candidate": 0.0,
        "operators.similarity.kept_per_scored_pair": (
            sem["kept_pairs"] / sem["scored_pairs"] if sem.get("scored_pairs") else 0.0
        ),
        "trace.overhead_s": traced - statistics.median(untraced),
    })
    metrics.update(extras)
    return {
        "cold_run_s": cold,
        "warm_s": untraced,
        "traced_s": traced,
        "per_layer": metrics,
        "spans": tr.spans,
        "attribution_walls": walls,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--prepared")
    ap.add_argument("--work")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result")
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args()

    extra = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            # compiler threads stay alive, so their CPU can be told apart
            " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    event_dir = os.path.join(a.work, "eventlog") if a.work else None
    if a.trace:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false",
        })
    t = time.perf_counter()
    from anime_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.range(1).count()
    session_s = time.perf_counter() - t
    print("READY", flush=True)
    if a.setup_only:
        spark.stop()
        return 0

    with open(os.path.join(a.prepared, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(a.prepared, "oracle.json")) as f:
        expected = json.load(f)
    runner = Runner(spark, a.workload, manifest, expected, a.work)
    env = {
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
    }
    if a.trace:
        res = run_traced(runner, spark, event_dir, session_s)
    else:
        res = run_untraced(runner, a.workload, a.seconds)
        spark.stop()
    res.update({
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
        "out_bytes": runner.out_bytes,
        "env": env,
    })
    with open(a.result, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
