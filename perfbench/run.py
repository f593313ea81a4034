#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 15 --trace 0

Runs the workload on ``local[<cores>]`` with a single client thread:
the inputs generated from the seed, set-up (session start, the indexes
built, warm-up on the real operations), a timed window of ``--seconds``,
and the correctness checks after it. With ``--trace 1`` a
second, traced window follows the untraced one and the record holds the
per-layer metrics instead, including the tracing overhead (traced minus
untraced). The last line of standard output is one JSON record:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

Exit codes: 0 ok, 1 an output was wrong or an operation raised,
2 the engine sources are missing, 3 a measurement was invalid (e.g. a
negative CPU delta) — no record is printed then. Everything generated
lives in a temporary directory inside the checkout, removed at exit;
only the traced run's span file is kept, under ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, "spec.json")


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _env(work: str) -> None:
    """Local mode on every core, and every scratch file of Spark, the
    JVM and Python inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData' "
        "pyspark-shell"
    )


def _host_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, for the log."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


class Tally:
    """The units one tracer ran: latencies, work items, wall, CPU."""

    def __init__(self):
        from probes import CpuSample

        self.lat: list[float] = []
        self.items = 0
        self.wall = 0.0
        self.cpu = CpuSample(0.0, 0.0, 0.0)

    @property
    def cpu_s(self) -> float:
        return self.cpu.driver + self.cpu.jvm + self.cpu.pyworker

    def p50_ms(self) -> float:
        return statistics.median(self.lat) * 1e3

    def drift(self) -> float:
        """Mean latency of the first half over the second half, minus 1:
        near 0 once warm-up has reached steady state."""
        h = len(self.lat) // 2
        if h == 0:
            return 0.0
        return statistics.mean(self.lat[:h]) / statistics.mean(self.lat[-h:]) - 1


def window(wl, tracers: list, meter, seconds: float) -> list[Tally]:
    """A timed closed-loop window: units back to back for ``seconds``,
    ending on a block boundary. The tracer changes at every block
    boundary, round robin, until each has run a block; alternating
    blocks keeps warm-up drift out of a traced-minus-untraced
    comparison."""
    from probes import CpuMeter

    tallies = [Tally() for _ in tracers]
    t0 = time.perf_counter()
    k = 0
    while k < len(tracers) or time.perf_counter() - t0 < seconds:
        tr, tally = tracers[k % len(tracers)], tallies[k % len(tracers)]
        c0 = meter.sample()
        b0 = time.perf_counter()
        while True:
            dt, n = wl.unit(tr)
            tally.lat.append(dt)
            tally.items += n
            if wl.at_boundary():
                break
        tally.wall += time.perf_counter() - b0
        tally.cpu += CpuMeter.delta(c0, meter.sample())
        k += 1
    return tallies


def end_to_end(w: Tally, setup_s: float, mem_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "latency_p50_ms": w.p50_ms(),
        "latency_p90_ms": percentile(w.lat, 0.9) * 1e3,
        "throughput_per_s": w.items / w.wall,
        "cpu_ms_per_item": w.cpu_s / w.items * 1e3,
        "retained_mem_mb": mem_mb,
    }


def per_layer(wl, tr, base: Tally, traced: Tally, paired: Tally, setup: dict,
              failed_frac: float, rows: int, pool_peak_mb: float) -> dict[str, float]:
    """Per traced unit; ``paired`` are the untraced units run between
    the traced ones, the baseline of the tracing overhead."""
    u = len(traced.lat)
    t, st = tr.totals, tr.stats

    def ms(key: str) -> float:
        return t.get(key, 0.0) / u * 1e3

    def call_s(name: str) -> float:
        return sum(
            v for k, v in tr.calls.items() if k == name or k.startswith(name + ":")
        ) / u

    scan_tasks = sum(
        v for k, v in tr.stage_tasks_in.items() if k.startswith("sources.")
    )
    files = traced.items + u if wl.name == "ingest" else 0  # + one decoy each
    out = {
        "session.get_spark_s": setup["get_spark_s"],
        "setup.inputs_s": setup["inputs_s"],
        "setup.build_s": setup["build_s"],
        "setup.warm_s": setup["warm_s"],
        "run.drift": base.drift(),
        "driver.build_ms": ms("driver.build"),
        "driver.eager_self_ms": ms("driver.eager_self"),
        "driver.py4j_calls": tr.py4j_calls / u,
        "spark.plan_ms": ms("spark.plan"),
        "spark.jobs": st.jobs / u,
        "spark.stages": st.stages / u,
        "spark.tasks": st.tasks / u,
        "spark.stage_active_ms": ms("spark.stage_active"),
        "spark.sched_wait_ms": ms("spark.sched_wait"),
        "spark.executor_run_s": st.executor_run_s / u,
        "spark.executor_cpu_s": st.executor_cpu_s / u,
        "spark.gc_s": st.gc_s / u,
        "spark.shuffle_write_mb": st.shuffle_write_mb / u,
        "spark.shuffle_read_mb": st.shuffle_read_mb / u,
        "spark.spill_mb": st.spill_mb / u,
        "spark.input_mb": st.input_mb / u,
        "spark.scan_rows_per_result": st.input_rows / rows if rows else 0.0,
        "operators.components.rounds": 0.0,
        "ingest.tasks_per_file": scan_tasks / files if files else 0.0,
        "ingest.docs_per_file": 0.0,
        "sources.ingest.scan_documents_s": call_s("sources.ingest.scan_documents"),
        "sources.sink.build_vector_index_s": call_s("sources.sink.build_vector_index"),
        "operators.ivf.ivf_write_index_s": call_s("operators.ivf.ivf_write_index"),
        "operators.incremental.minhash_incremental_pairs_s": call_s(
            "operators.incremental.minhash_incremental_pairs"
        ),
        "operators.incremental.minhash_index_build_s": call_s(
            "operators.incremental.minhash_index_build"
        ),
        "cpu.driver_s": base.cpu.driver / len(base.lat),
        "cpu.jvm_s": base.cpu.jvm / len(base.lat),
        "cpu.pyworker_s": base.cpu.pyworker / len(base.lat),
        "mem.jvm_pool_peak_mb": pool_peak_mb,
        "bench.self_ms": ms("bench.self"),
        "trace.coverage": 1 - t.get("bench.self", 0.0) / t["op.wall"],
        "trace.overhead_p50_ms": traced.p50_ms() - paired.p50_ms(),
        "trace.overhead_cpu_ms": (
            traced.cpu_s / traced.items - paired.cpu_s / paired.items
        ) * 1e3,
        "trace.spans": float(len(tr.spans)),
        "run.units": float(len(base.lat)),
        "ops.failed_frac": failed_frac,
    }
    out.update(wl.extra())
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        scale: str = "full") -> tuple[dict, int, int]:
    """Returns (metrics, attempted, failed)."""
    from probes import CpuMeter, jvm_pool_peaks_mb, retained_mem_mb
    from spans import Tracer
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    from conversadocs_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}")
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    meter = CpuMeter(jvm_pid)
    wl = WORKLOADS[workload](spark, seed, scale)
    plain = Tracer(spark, False)

    t = time.perf_counter()
    wl.inputs(os.path.join(work, "inputs"))
    inputs_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.build()
    t1 = time.perf_counter()
    warm = wl.warm(plain)
    setup = {
        "get_spark_s": get_spark_s,
        "build_s": t1 - t,
        "warm_s": time.perf_counter() - t1,
    }
    # the engine's set-up only: generating the inputs is the
    # benchmark's own work
    setup_s = sum(setup.values())
    setup["inputs_s"] = inputs_s
    _log(f"{workload}: setup {setup_s:.2f}s "
         + " ".join(f"{k} {v:.2f}" for k, v in setup.items())
         + f"; warm units {[round(x, 3) for x in warm]}")

    h0 = _host_ticks()
    [base] = window(wl, [plain], meter, seconds)
    h1 = _host_ticks()
    _log(f"{workload}: {len(base.lat)} units in {base.wall:.2f}s "
         f"(host steal {(h1[1] - h0[1]) / max(1, h1[0] - h0[0]):.1%}): "
         f"{[round(x, 3) for x in base.lat]}")
    if trace:
        tr = Tracer(spark, True)
        traced, paired = window(wl, [tr, plain], meter, seconds)
        tr.close()
    peaks = jvm_pool_peaks_mb(spark)
    mem = retained_mem_mb(spark, jvm_pid)
    _log(f"{workload}: retained memory {mem:.1f} MB; JVM pool peaks "
         + ", ".join(f"{k} {v:.1f}" for k, v in peaks.items()))
    t = time.perf_counter()
    attempted, failed = wl.verify()
    _log(f"{workload}: checks {time.perf_counter() - t:.2f}s")
    if not trace:
        return end_to_end(base, setup_s, mem), attempted, failed
    rows = wl.results_in(len(traced.lat), tr.result_rows)
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    tr.dump(os.path.join(out_dir, f"spans-{workload}-{seed}.json"))
    metrics = per_layer(wl, tr, base, traced, paired, setup, failed / attempted,
                        rows, sum(peaks.values()))
    return metrics, attempted, failed


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state != "Z":
        return True
    try:  # a zombie child of ours: reap it
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def _stop_processes() -> None:
    """Stop the Spark session, then end every process this one started
    (the JVM and the Python workers under it) and wait until each has
    exited. Safe at any point, including a signal during start-up."""
    from probes import descendants

    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 - the processes still end below
            _log(f"spark stop failed:\n{traceback.format_exc()}")
    procs = descendants(os.getpid())
    for p in procs:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    for p in procs:
        while _alive(p) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(p):
            os.kill(p, signal.SIGKILL)
            while _alive(p):
                time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "conversadocs_spark", "session.py")):
        _log(f"engine sources not found under {ROOT}")
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        _log(f"unknown workload {args.workload!r}")
        return 2
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    sys.path[:0] = [HERE, ROOT]
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    _env(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from probes import InvalidMeasurement

    try:
        metrics, attempted, failed = run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            args.scale,
        )
    except InvalidMeasurement as e:
        _log(f"invalid measurement, no result: {e}")
        return 3
    finally:
        try:
            _stop_processes()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    missing = sorted(
        m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]
        if m["name"] not in metrics
    )
    if missing:
        _log(f"metrics not produced: {missing}")
        return 3
    for name, v in metrics.items():
        print(f"{name:52s} {v:14.4f} {units[name]}")
    print(f"attempted {attempted}, failed {failed}, "
          f"failed_frac {failed / attempted:.4f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
