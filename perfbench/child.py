"""One workload in one fresh Spark session: ``python3 -m perfbench.child CONFIG``.

CONFIG is a JSON file written by ``run.py``.  The schedule:

1. set-up 1 in the fresh process: ``session.get_spark`` (launches the
   JVM) plus loading the generated input;
2. the cold repetition, the first one the session runs;
3. untimed warm-ups until the last two agree within ``WARMUP_TOL``, at
   most ``WARMUP_CAP`` (fewer if the time budget is short);
4. untraced: timed repetitions until ``seconds`` have passed, at least
   ``MIN_SAMPLES``, then ``RESTARTS`` more set-ups, each restarting the
   Spark session in the same JVM;
   traced: one repetition in each of four fresh sessions, untraced and
   traced in the order ``TRACE_ORDER``, then the workload's companion
   (if any) twice in a traced session.

``setup_s`` is the median of the same-JVM set-ups (the session restarts);
the first set-up, which launches the JVM, is part of ``cold_s``.

Every repetition's outputs are checked against the oracle digests.  The
result (timings, checks, peak memory and, when traced, the spans) is
written as JSON to the path the config names.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback

from .workloads import COMPANIONS, WORKLOADS, Tracer, load_documents

WARMUP_TOL = 0.05
WARMUP_CAP = 3
MIN_SAMPLES = 2
RESTARTS = 5
TRACE_ORDER = (False, True, True, False)
SHUTDOWN_S = 10.0  # closing set-ups, JVM exit and the caller's folding
COMPANION_S = 40.0  # the companion's cold and traced repetitions
DRIVER_MEMORY = "2g"


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _setup(cfg: dict, tracer: Tracer):
    from pagerank_using_mapreduce_spark.session import get_spark

    start = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{cfg['workload']}",
            cpus=cfg["cpus"],
            warehouse_dir=os.path.join(cfg["workdir"], "warehouse"),
            driver_memory=DRIVER_MEMORY,
        )
    inp = load_documents(spark, cfg["data_dir"], tracer)
    return spark, inp, time.perf_counter() - start


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # the JVM exits when its stdin closes; wait for it
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _trace_next_context(on: bool, log_dir: str) -> None:
    """Switch Spark's event log for the next SparkContext of this JVM:
    SparkConf reads ``spark.*`` JVM system properties at creation."""
    from pyspark import SparkContext

    system = SparkContext._jvm.java.lang.System
    if on:
        system.setProperty("spark.eventLog.enabled", "true")
        system.setProperty("spark.eventLog.dir", f"file://{log_dir}")
        system.setProperty("spark.eventLog.compress", "false")
    else:
        system.clearProperty("spark.eventLog.enabled")


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    wl = WORKLOADS[cfg["workload"]]
    expected = cfg["expected"]
    tracer = Tracer(False)
    res = {"attempted": 0, "failed": 0, "errors": [], "warmups": [], "measured": []}
    deadline = time.monotonic() + cfg["budget_s"]

    def affords(seconds: float) -> bool:
        """Whether ``seconds`` more work, plus closing the run, still fit
        the run's time budget."""
        return time.monotonic() + seconds + SHUTDOWN_S < deadline

    def timed_s(rep_s: float) -> float:
        """Expected duration of the timed phase at ``rep_s`` a repetition."""
        if cfg["trace"]:
            return len(TRACE_ORDER) * (rep_s + 1.0)  # each in a new session
        return max(MIN_SAMPLES * rep_s, cfg["seconds"] + rep_s)

    def rep(workload, spark, inp, phase: str) -> float:
        tracer.phase = phase
        res["attempted"] += 1
        start = time.perf_counter()
        try:
            outputs = workload.run(spark, inp, tracer, cfg["workdir"])
            elapsed = time.perf_counter() - start
            for name, got in outputs.items():
                got = got() if callable(got) else got
                if got != expected[name]:
                    res["failed"] += 1
                    res["errors"].append(f"{phase}: {name} digest {got} != oracle {expected[name]}")
                    break
        except Exception:  # a failing repetition is counted, not fatal
            elapsed = time.perf_counter() - start
            res["failed"] += 1
            res["errors"].append(f"{phase}: {traceback.format_exc(limit=3)}")
        print(f"perfbench: {workload.name} {phase} {elapsed:.3f} s", file=sys.stderr, flush=True)
        return elapsed

    spark, inp, first_setup = _setup(cfg, tracer)
    setups = []
    cold = rep(wl, spark, inp, "cold")
    res["cold_s"] = first_setup + cold

    # on a slow host, warm-ups are cut short rather than the run
    # overrunning its budget: the timed repetitions must still fit (a
    # warm repetition takes well under half the cold one)
    warm = res["warmups"]
    last = cold / 2
    while len(warm) < WARMUP_CAP and affords(last + timed_s(last)):
        warm.append(rep(wl, spark, inp, "warmup"))
        last = warm[-1]
        if len(warm) >= 2 and abs(warm[-1] - warm[-2]) <= WARMUP_TOL * warm[-2]:
            break

    if cfg["trace"]:
        # alternate untraced and traced sessions (U T T U), so JIT drift
        # cancels out of the traced-minus-untraced difference
        res["traced"] = []
        log_dir = os.path.join(cfg["workdir"], "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        for traced in TRACE_ORDER:
            spark.stop()
            _trace_next_context(traced, log_dir)
            tracer.enabled = traced
            tracer.phase = "setup"
            spark, inp, dt = _setup(cfg, tracer)
            setups.append(dt)
            elapsed = rep(wl, spark, inp, "measure")
            (res["traced"] if traced else res["measured"]).append(elapsed)
        res["traced_run_s"] = statistics.median(res["traced"])
        companion = COMPANIONS.get(wl.name)
        if not affords(COMPANION_S):
            companion = None  # its layers read 0 in this run
        if companion is not None:
            # the companion's first run is its cold run: trace the second
            spark.stop()
            _trace_next_context(True, log_dir)
            tracer.enabled = True
            tracer.phase = "setup"
            spark, inp, _ = _setup(cfg, tracer)
            rep(companion, spark, inp, "warmup")
            rep(companion, spark, inp, "measure")
        tracer.phase = "extras"
        res["extras"] = {}
        for w in (wl, companion):
            if w is not None:
                res["extras"].update(w.extras(spark, inp, cfg["workdir"]))
    else:
        window = time.perf_counter()
        while (time.perf_counter() - window < cfg["seconds"]
               or len(res["measured"]) < MIN_SAMPLES):
            res["measured"].append(rep(wl, spark, inp, "measure"))
        tracer.phase = "setup"
        for _ in range(RESTARTS):
            spark.stop()
            spark, inp, dt = _setup(cfg, tracer)
            setups.append(dt)
    res["run_s"] = statistics.median(res["measured"])
    res["setups"] = setups
    res["setup_s"] = statistics.median(setups)
    res["docs"] = inp["n"]

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    res["peak_rss_mb"] = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
    _stop_jvm(spark)
    res["spans"] = tracer.spans
    with open(cfg["out"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1])
