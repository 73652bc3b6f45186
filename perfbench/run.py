"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Generates the workload's input from the
seed (cached under ``.perfbench_cache/``), computes the expected output
digests with the DuckDB oracles (cached too), then runs the workload in a
fresh Spark session in a child process (``perfbench.child``).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` ends the
schedule with repetitions in alternating untraced and traced sessions
(Spark's event log on, every library call in its own job group) and prints
the per-layer metrics folded from the event log plus ``trace_overhead_s``.
A human-readable summary precedes the result; the last stdout line is the
JSON result.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
PACKAGE = "pagerank_using_mapreduce_spark"
DEADLINE_S = 170.0  # hard limit for the whole run, input and oracle included
# the child's time budget: on a slow host it skips warm-ups to stay within
# it, so that a whole benchmark session keeps to its time
BUDGET_S = {False: 90.0, True: 150.0}

# C1 only: the default C2 tier keeps speeding the pipelines up for ten and
# more repetitions, at a pace set by how much CPU its compiler threads get
# on a shared host; C1 reaches its plateau within a repetition or two.
# C1-only sizes the code cache at 48 MB, which Spark's generated code fills
# (the JVM then stops compiling); the tiered default of 240 MB does not fill.
# -XX:-UsePerfData: no hsperfdata file in the system temp directory, which
# lies outside the checkout.  Passed through JAVA_TOOL_OPTIONS, which
# reaches the spark-submit launcher's JVM too.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:-UsePerfData"
# cluster_pairs' stop test: one aggregate of xxhash64(doc_id, label) before
# the loop and one per round
CLUSTER_STOP_TEST = "xxhash64("

SPAN_METRICS = {
    "s": "s", "jobs": "count", "driver_s": "s", "executor_run_s": "s",
    "gc_s": "s", "shuffle_mb": "MB", "aqe_replans": "count", "task_skew": "ratio",
}
SPANS = (
    "session.get_spark", "sources.load", "pagerank.parse", "pagerank.loop",
    "ranking.global_sort", "inverted_index.build", "sources.write_postings",
    "tf_idf.build", "dedup.shingles", "dedup.near_dup", "dedup.cluster",
)
EXTRA_METRICS = {
    "pagerank.jobs_per_round": "jobs/round",
    "dedup.cluster_rounds": "count",
    "dedup.verify_yield": "ratio",
    "sources.postings_bytes": "bytes",
    "trace_overhead_s": "s",
    "bench.warmup_runs": "count",
    "bench.run_samples": "count",
    # printed in every run's summary; too unsteady on a shared host (GC
    # timing sets the heap's growth) to carry a regression bound
    "peak_rss_mb": "MB",
}


def _sweep_group(pgid: int) -> None:
    """Kill whatever is left of a child's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(cfg: dict, deadline: float) -> dict:
    work = cfg["workdir"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.child", cfg_path],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _sweep_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"workload child {'timed out' if code is None else f'exited {code}'}")
    with open(cfg["out"]) as f:
        return json.load(f)


def layer_metrics(res: dict, workdir: str) -> dict:
    """Per-layer metrics from a traced child's spans and event log:
    medians over the timed repetitions (over the set-ups for the
    session spans); spans the workload does not run read 0."""
    from perfbench.eventlog import count_plans, fold, read_events

    spans = res["spans"]
    events = list(read_events(os.path.join(workdir, "eventlog")))
    per_span = fold(events, spans)
    out = {}
    for name in SPANS:
        phase = "setup" if name in ("session.get_spark", "sources.load") else "measure"
        rows = [per_span[s["id"]] for s in spans if s["name"] == name and s["phase"] == phase]
        for m in SPAN_METRICS:
            out[f"{name}.{m}"] = statistics.median(r[m] for r in rows) if rows else 0
    out.update({k: 0 for k in EXTRA_METRICS})
    if out["pagerank.loop.jobs"]:
        from perfbench.workloads import ITERATIONS

        out["pagerank.jobs_per_round"] = out["pagerank.loop.jobs"] / ITERATIONS
    stop_tests = count_plans(events, CLUSTER_STOP_TEST)
    rounds = [stop_tests.get(s["id"], 0) - 1 for s in spans
              if s["name"] == "dedup.cluster" and s["phase"] == "measure"]
    if rounds:
        out["dedup.cluster_rounds"] = statistics.median(rounds)
    out.update(res.get("extras", {}))
    out["bench.warmup_runs"] = len(res["warmups"])
    out["bench.run_samples"] = len(res["traced"])
    out["peak_rss_mb"] = res["peak_rss_mb"]
    return out


def summary(workload: str, seed: int, res: dict) -> str:
    """One run's figures, every metric named with its unit."""
    frac = res["failed"] / res["attempted"]
    return (
        f"{workload} seed={seed} docs={res['docs']}: "
        f"setup_s={res['setup_s']:.3f} s (median of {len(res['setups'])} session restarts)  "
        f"cold_s={res['cold_s']:.3f} s  "
        f"run_s={res['run_s']:.3f} s (median of {len(res['measured'])}, "
        f"after {len(res['warmups'])} warm-ups)  "
        f"docs_per_s={res['docs'] / res['run_s']:.1f} docs/s  "
        f"peak_rss_mb={res['peak_rss_mb']:.1f} MB  "
        f"failed_frac={frac:.3f} ({res['failed']}/{res['attempted']})"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen, oracle

    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    from perfbench.workloads import COMPANIONS

    data_dir = gen.input_dir(CACHE, args.workload, args.seed)
    expected = oracle.expected_digests(args.workload, data_dir)
    if args.trace and args.workload in COMPANIONS:
        expected.update(oracle.expected_digests(COMPANIONS[args.workload].name, data_dir))

    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_child({
            "workload": args.workload,
            "seconds": args.seconds,
            "budget_s": min(BUDGET_S[bool(args.trace)], deadline - time.monotonic()),
            "trace": bool(args.trace),
            "cpus": len(os.sched_getaffinity(0)),
            "data_dir": data_dir,
            "expected": expected,
            "workdir": work,
            "out": os.path.join(work, "result.json"),
        }, deadline)
        if args.trace:
            metrics = layer_metrics(res, work)
            metrics["trace_overhead_s"] = res["traced_run_s"] - res["run_s"]
            units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
            units.update(EXTRA_METRICS)
            metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            metrics = {
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "cold_s": {"value": res["cold_s"], "unit": "s"},
                "run_s": {"value": res["run_s"], "unit": "s"},
                "docs_per_s": {"value": res["docs"] / res["run_s"], "unit": "docs/s"},
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(summary(args.workload, args.seed, res))
    for err in res["errors"]:
        print("  FAILED " + err.strip().replace("\n", "\n  "))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
