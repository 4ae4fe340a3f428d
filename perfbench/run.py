"""Warm-JVM benchmark for the medallion engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run starts a fresh JVM through
``session.get_spark()`` with the repository's default session settings
and ``SPARK_GRAFT_CPUS`` set to the usable core count, generates the
workload's inputs from ``--seed``, runs the workload's cold steps
(counted in ``setup_s``, never in a step metric), then times warm steps
in a closed loop for ``--seconds`` seconds (at least ``MIN_STEPS``).
Every step's wall time and CPU is printed as it ends; the last line of
stdout is one JSON object. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones from a separate run with spans, job groups,
Spark's event log and per-thread /proc counters turned on. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_STEPS = 3
WORK = os.path.join(ROOT, ".perfbench_work")


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for needed in ("data_warehouse_migration_spark/session.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found; run from a checkout of the repository",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    # A terminated run still stops the JVM and removes its work root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "local"))
    os.makedirs(os.path.join(work, "tmp"))
    # The fixed environment of every run: all cores, a private scratch
    # root (Spark's local dirs and every temp file of this process, the
    # JVMs and the Python workers), and the checkout on the Python
    # workers' import path.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no JVM writes its hsperfdata file to /tmp.
    for var, opts in (("SPARK_SUBMIT_OPTS", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"),
                      ("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")):
        os.environ[var] = f"{os.environ.get(var, '')} {opts}".strip()
    os.environ["PYTHONPATH"] = ROOT
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from perfbench.probes import (
        HostRecord, Tracer, jvm_threads, parse_event_log, peak_rss_mb,
        process_tree, self_cpu, thread_cpu_split, tree_cpu,
    )
    from perfbench.workloads import Outcome, make

    host = HostRecord()
    wl = make(args.workload)
    wl.prepare(work, args.seed)

    from data_warehouse_migration_spark.session import get_spark

    conf = {}
    if args.trace:
        os.makedirs(os.path.join(work, "events"))
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        }
    t = time.monotonic()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc.pid
    tracer = Tracer(enabled=bool(args.trace))
    out = Outcome()
    steps: list[dict] = []

    def one_step(step: int, timed: bool) -> None:
        wl.before_step(step)
        threads0 = jvm_threads(jvm) if args.trace else None
        cpu0, drv0, e0, t0 = tree_cpu(jvm), self_cpu(), time.time(), time.monotonic()
        with tracer.span("step", step):
            wl.step(spark, step, tracer, out)
        wall = time.monotonic() - t0
        cpu1, drv1 = tree_cpu(jvm), self_cpu()
        rec = {
            "step": step, "timed": timed, "wall_s": wall, "cpu_s": cpu1.total - cpu0.total,
            "pyworker_cpu_s": cpu1.children - cpu0.children, "driver_py_cpu_s": drv1 - drv0,
            "window": (e0, time.time()),
        }
        if args.trace:
            rec["jvm"] = thread_cpu_split(threads0, jvm_threads(jvm))
        steps.append(rec)
        print(f"step {step:3d} {'warm' if timed else 'cold'} wall_s={wall:.3f} "
              f"cpu_s={rec['cpu_s']:.2f} pyworker_cpu_s={rec['pyworker_cpu_s']:.2f}", flush=True)

    try:
        for step in range(wl.cold_steps):
            one_step(step, timed=False)
        setup_s = time.monotonic() - T_PROCESS
        t_measure, step = time.monotonic(), wl.cold_steps
        while step - wl.cold_steps < MIN_STEPS or time.monotonic() - t_measure < args.seconds:
            one_step(step, timed=True)
            step += 1
        wl.finish(spark, out)
        peak_mb = peak_rss_mb(jvm)
    finally:
        _stop(spark, gateway, process_tree(jvm))
    hostrec = host.finish()

    timed = [s for s in steps if s["timed"]]
    for err in out.errors:
        print(f"FAILED {err}", flush=True)
    print(f"host load_1m_start={hostrec['load_1m_start']:.2f} "
          f"load_1m_end={hostrec['load_1m_end']:.2f} steal_pct={hostrec['steal_pct']:.2f}")
    print(f"error_rate {out.failed}/{out.attempted} = {out.failed / max(out.attempted, 1):.4f}")
    if args.trace:
        spark_steps = parse_event_log(os.path.join(work, "events"),
                                      {s["step"]: s["window"] for s in timed})
        metrics = per_layer(wl, tracer, timed, spark_steps, hostrec, session_start_s, peak_mb)
        os.makedirs(WORK, exist_ok=True)
        span_path = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(span_path)
        print(f"spans written to {os.path.relpath(span_path, ROOT)}")
    else:
        # Wall time is printed, not reported: hypervisor steal on a shared
        # host spreads it past any allowed bound (perfbench/README.md).
        print(f"step_wall_s {_median(s['wall_s'] for s in timed):.3f} s "
              f"(median of {len(timed)} warm steps)")
        metrics = {
            "setup_s": (setup_s, "s"),
            "step_cpu_s": (_median(s["cpu_s"] for s in timed), "s"),
        }
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _stop(spark, gateway, pids: list[int]) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and any
    Python worker it leaves behind, and wait for all of them."""
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 10
        for pid in pids[1:]:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"pyspark" not in fh.read():
                        continue
                os.kill(pid, signal.SIGKILL)
            except (FileNotFoundError, ProcessLookupError):
                continue
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)


def per_layer(wl, tracer, timed, spark_steps, hostrec, session_start_s, peak_mb) -> dict:
    """Every per-layer metric, as the median over warm steps. A traced
    run prints the whole list for either workload, so a metric of a
    layer the workload does not call reads 0."""
    from perfbench.workloads import STAGES, WarehouseNightly

    names = layer_metric_names()
    m = {name: (0.0, unit) for name, unit in names.items()}

    def put(name: str, value: float) -> None:
        m[name] = (value, names[name])

    steps = [s["step"] for s in timed]
    durs = {s: tracer.durations(s) for s in steps}
    selfs = {s: tracer.self_times(s) for s in steps}
    put("session.start_s", session_start_s)
    put("trace.step_wall_s", _median(s["wall_s"] for s in timed))
    put("host.steal_pct", hostrec["steal_pct"])
    put("host.load_1m", hostrec["load_1m_start"])
    for group in ("task", "jit", "gc", "other"):
        put(f"jvm.{group}_cpu_s", _median(s["jvm"][group] for s in timed))
    put("jvm.peak_rss_mb", peak_mb)
    put("pyworker.cpu_s", _median(s["pyworker_cpu_s"] for s in timed))
    put("driver_py.cpu_s", _median(s["driver_py_cpu_s"] for s in timed))
    sp = [spark_steps[s] for s in steps]
    for key in ("tasks", "stages", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "fetch_wait_s", "executor_cpu_s", "jvm_gc_s", "task_skew"):
        put(f"spark.{key}", _median(getattr(r, key) for r in sp))
    if isinstance(wl, WarehouseNightly):
        put("plans.orchestration_s", _median(selfs[s].get("step", 0.0) for s in steps))
        put("sources.ingest_bronze_s", _median(durs[s].get("plans.ingest_bronze", 0.0) for s in steps))
        for stage in STAGES[1:]:
            put(f"plans.{stage}_s", _median(durs[s].get(f"plans.{stage}", 0.0) for s in steps))
        done = [s for s in steps if s in wl.written_bytes]  # nights that completed
        put("sources.rows_ingested", _median(wl.ingested[s] for s in done))
        put("sources.bytes_written_per_input_byte",
            _median(wl.written_bytes[s] / wl.input_bytes[s] for s in done))
        dim = {s: r["counts"]["Dim_Customer"] for s, r in wl.results.items()}
        added = [dim[s] - dim[s - 1] for s in steps if s - 1 in dim]
        put("operators.scd2.versions_added", _median(added))
        put("operators.scd2.rows_rewritten_per_version_added",
            _median(dim[s] / (dim[s] - dim[s - 1]) for s in steps
                    if s - 1 in dim and dim[s] > dim[s - 1]))
    else:
        put("queries.orchestration_s", _median(selfs[s].get("step", 0.0) for s in steps))
        for q in wl.queries:
            for part in ("build", "plan", "exec"):
                put(f"queries.{q}.{part}_s",
                    _median(durs[s].get(f"queries.{q}.{part}", 0.0) for s in steps))
            put(f"queries.{q}.jobs",
                _median(r.jobs_by_group.get(f"s{s}:{q}", 0) for s, r in zip(steps, sp)))
    return m


def layer_metric_names() -> dict[str, str]:
    """Per-layer metric → unit, the same list for every workload."""
    from perfbench.workloads import LLM_QUERIES, STAGES

    names = {
        "session.start_s": "s",
        "trace.step_wall_s": "s",
        "sources.ingest_bronze_s": "s",
        "sources.rows_ingested": "count",
        "sources.bytes_written_per_input_byte": "ratio",
        **{f"plans.{stage}_s": "s" for stage in STAGES[1:]},
        "plans.orchestration_s": "s",
        "operators.scd2.versions_added": "count",
        "operators.scd2.rows_rewritten_per_version_added": "ratio",
        "queries.orchestration_s": "s",
    }
    for q in LLM_QUERIES:
        names.update({f"queries.{q}.build_s": "s", f"queries.{q}.plan_s": "s",
                      f"queries.{q}.exec_s": "s", f"queries.{q}.jobs": "count"})
    names.update({
        "spark.tasks": "count", "spark.stages": "count",
        "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB", "spark.fetch_wait_s": "s", "spark.task_skew": "ratio",
        "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
        "jvm.task_cpu_s": "s", "jvm.jit_cpu_s": "s", "jvm.gc_cpu_s": "s",
        "jvm.other_cpu_s": "s", "jvm.peak_rss_mb": "MB", "pyworker.cpu_s": "s", "driver_py.cpu_s": "s",
        "host.steal_pct": "%", "host.load_1m": "load",
    })
    return names


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
