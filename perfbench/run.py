"""Run one benchmark workload once and print its metrics.

    python3 perfbench/run.py --workload cohort_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The run is a single-process closed loop
with one client: the next operation starts when the previous one has
returned. Phases:

1. inputs: parquet tables made from ``--seed`` in a private run
   directory (not timed);
2. set-up (``setup_s``): session start, ``registry.load_all()``,
   catalog open and the workload's warm-up rounds;
3. measured phase: whole rounds of operations until ``--seconds`` have
   passed and the workload's minimum number of rounds has run;
4. checks: every measured result against an answer computed outside
   the Spark engine (not timed). A wrong answer is a failed op.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of a traced run.
The line before it records the run environment. The run directory
(inputs, Spark temp and local dirs, event log) is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import layers  # noqa: E402
import workloads  # noqa: E402

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("throughput_ops", "1/s"),
    ("cpu_s_per_op", "s"),
]

PER_QUERY = workloads.MEDIA_QUERIES
PER_LAYER = [
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("catalog.open_s", "s"),
    ("warmup_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("wire.parse_s", "s"),
    ("build_s", "s"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec_s", "s"),
    ("jobs_per_op", "count"),
    ("stages_per_op", "count"),
    ("tasks_per_op", "count"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"),
    ("spill.bytes", "bytes"),
    ("executor.peak_mem_bytes", "bytes"),
    ("scan.input_bytes", "bytes"),
    ("scan.input_rows", "rows"),
    ("python.run_s", "s"),
    ("python.start_s", "s"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_returned", "bytes"),
] + [
    (f"{q}.{m}", u)
    for q in PER_QUERY
    for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs_per_op", "count"))
]


def task_slots() -> int:
    """Spark task slots: below the usable cores, so the JVM's JIT and
    GC threads and the Python workers keep a free core."""
    return 2 if len(os.sched_getaffinity(0)) >= 4 else 1


def prepare(run_dir: str, trace: bool, slots: int) -> None:
    """Point every temp and output location of the run at ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Arrow workers import the engine package by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    args += ["--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    os.chdir(run_dir)


class Client:
    """Issues calls through the engine's public surface."""

    def __init__(self, spark, lw, registry, data_dir: str, trace: bool):
        self.spark, self.lw, self.registry = spark, lw, registry
        self.data_dir, self.trace = data_dir, trace
        self.records: list[dict] = []

    def call(self, call: workloads.Call, group: str):
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, call.label)
        t0 = time.perf_counter()
        if call.request is not None:
            query = self.lw.cohort_from_json(json.loads(call.request))
            t1 = time.perf_counter()
            build = self.lw.cohort_count if call.label == "cohort_count" else self.lw.cohort_facets
            df = build(query)
            t2 = time.perf_counter()
            result = df.collect()
        else:
            t1 = t0
            df = self.registry.QUERIES[call.key](self.spark, self.data_dir)
            t2 = time.perf_counter()
            result = df.toPandas()
        t3 = time.perf_counter()
        if self.trace:
            rec = {"group": group, "label": call.label,
                   "wire.parse_s": t1 - t0, "build_s": t2 - t1, "exec_s": t3 - t2}
            for phase, ms in layers.catalyst_ms(df).items():
                rec[f"catalyst.{phase}_ms"] = ms
            self.records.append(rec)
        return result


def run_round(client: Client, wl: workloads.Workload, tag: str, ops: list) -> None:
    """One round; appends (latency_s, [(key, result)], ok) per op."""
    for i, op in enumerate(wl.round):
        results, ok = [], True
        t0 = time.perf_counter()
        for call in op:
            try:
                results.append((call.key, client.call(call, f"{tag}.{i}.{call.key}")))
            except Exception:  # noqa: BLE001 - a failed call fails its op
                traceback.print_exc(file=sys.stderr)
                ok = False
        ops.append((time.perf_counter() - t0, results, ok))


def stop_engine(spark) -> None:
    """Stop Spark and the JVM, and wait until every process the engine
    started has ended."""
    from pyspark import SparkContext

    started = layers.descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def bench(wl: workloads.Workload, seconds: float, trace: bool, run_dir: str) -> tuple[dict, dict]:
    env: dict = {"loadavg_start": layers.loadavg()}
    ticks0 = layers.cpu_ticks()

    # --- set-up (timed) ---------------------------------------------------
    t0 = time.perf_counter()
    from lens_warehouse_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        t1 = time.perf_counter()
        from lens_warehouse_spark import registry

        registry.load_all()
        t2 = time.perf_counter()
        from lens_warehouse_spark.catalog import table_rows
        from lens_warehouse_spark.engine import LensWarehouse

        lw = LensWarehouse(spark, wl.data_dir)
        for t in wl.tables:
            lw.table(t)
            table_rows(wl.data_dir, t)
        t3 = time.perf_counter()
        client = Client(spark, lw, registry, wl.data_dir, trace)
        for r in range(wl.warmup_rounds):
            run_round(client, wl, f"warmup{r}", [])
        t4 = time.perf_counter()
        setup = {"session.start_s": t1 - t0, "registry.load_s": t2 - t1,
                 "catalog.open_s": t3 - t2, "warmup_s": t4 - t3}

        # --- measured phase ---------------------------------------------
        client.records.clear()
        me = os.getpid()
        ops: list = []
        cpu0, m0 = layers.tree_cpu_s(me), time.perf_counter()
        rounds = 0
        while rounds < wl.min_rounds or time.perf_counter() - m0 < seconds:
            run_round(client, wl, f"round{rounds}", ops)
            rounds += 1
        elapsed, cpu1 = time.perf_counter() - m0, layers.tree_cpu_s(me)

        sc = spark.sparkContext
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = layers.vm_mb(jvm_pid)
        env.update({
            "nproc": os.cpu_count(),
            "affinity": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "spark": spark.version,
            "jdk": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "rounds": rounds,
            "measured_s": elapsed,
            "op_latency_s": [round(lat, 4) for lat, _, _ in ops],
            "jvm_peak_rss_mb": peak_rss,
        })
        counts = {}
        if trace:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            counts = {rec["group"]: layers.group_counts(sc, rec["group"]) for rec in client.records}
    finally:
        stop_engine(spark)  # also flushes the event log
    ticks1 = layers.cpu_ticks()
    env.update({
        "loadavg_end": layers.loadavg(),
        "steal_ticks": ticks1["steal"] - ticks0["steal"],
        "total_ticks": ticks1["total"] - ticks0["total"],
    })

    # --- checks (not timed) -------------------------------------------------
    expected = wl.answers()
    failed = 0
    for _, results, ok in ops:
        wrong = [k for k, r in results if not wl.check(k, r, expected)]
        if wrong:
            print(f"wrong answer: {wrong}", file=sys.stderr)
        if wrong or not ok:
            failed += 1
    n = len(ops)
    out = {"correct": failed == 0, "attempted": n, "failed": failed}
    if not trace:
        metrics = {
            "setup_s": t4 - t0,
            "latency_p50_s": statistics.median(lat for lat, _, _ in ops),
            "throughput_ops": n / elapsed,
            "cpu_s_per_op": (cpu1 - cpu0) / n,
        }
        units = dict(END_TO_END)
    else:
        setup["jvm.peak_rss_mb"] = peak_rss
        metrics = per_layer(setup, client.records, counts, os.path.join(run_dir, "events"), n)
        units = dict(PER_LAYER)
    out["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    return out, env


def per_layer(setup: dict, records: list, counts: dict, event_dir: str, n_ops: int) -> dict:
    """Per-op averages of the traced run's measured calls."""
    events = layers.event_log_by_group(event_dir)
    total: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    for rec in records:
        c, ev = counts[rec["group"]], events.get(rec["group"], {})
        for k, v in rec.items():
            if k not in ("group", "label"):
                total[k] += v
        total["jobs_per_op"] += c["jobs"]
        total["stages_per_op"] += c["stages"]
        total["tasks_per_op"] += c["tasks"]
        for k, v in ev.items():
            if k == "executor.peak_mem_bytes":
                total[k] = max(total[k], v)
            else:
                total[k] += v
        q = rec["label"]
        calls[q] += 1
        total[f"{q}.build_s"] += rec["build_s"]
        total[f"{q}.exec_s"] += rec["exec_s"]
        total[f"{q}.jobs_per_op"] += c["jobs"]
    out = dict(setup)
    for name, _ in PER_LAYER:
        if name in out:
            continue
        q = name.rsplit(".", 1)[0]
        if q in PER_QUERY:
            out[name] = total[name] / calls[q] if calls[q] else 0.0
        elif name == "executor.peak_mem_bytes":
            out[name] = total[name]
        else:
            out[name] = total[name] / n_ops
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lens_warehouse_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    slots = task_slots()
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        prepare(run_dir, bool(args.trace), slots)
        wl = workloads.WORKLOADS[args.workload](os.path.join(run_dir, "data"), args.seed)
        out, env = bench(wl, args.seconds, bool(args.trace), run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    env.update({"workload": args.workload, "seed": args.seed, "task_slots": slots,
                "inputs": wl.inputs})
    print(json.dumps({"env": env}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
