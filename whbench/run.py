"""Warehouse benchmark: one workload per invocation, run from the root
of a source checkout.

    python3 whbench/run.py --workload nightly_build --seed 1 --seconds 12 --trace 0
    python3 whbench/run.py --workload all --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything the
run writes stays under ``.bench_work/`` in the checkout; the span file
of a traced run is kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

from data_warehouse_morrocan_banks_spark.plans.stage_metrics import (  # noqa: E402
    executors_storage_mb,
    settled_completed_stages,
)
from data_warehouse_morrocan_banks_spark.session import ENGINE_CONFS  # noqa: E402
from whbench.trace import Tracer, stage_counters  # noqa: E402
from whbench.workloads import (  # noqa: E402
    WORKLOADS,
    Recorder,
    med,
    remove_tree,
    span_counter,
)

#: JVM heap; -Xms pins it so heap resizing cannot differ between runs
HEAP = "2g"
SHUFFLE_PARTITIONS = "32"  # the engine session's default (session.get_spark)

END_TO_END = (("setup_s", "s"), ("latency_p50_ms", "ms"))

_BI = ("bank_perf", "monthly", "branch_topk", "point", "mart")
_CUR = ("exact", "jaccard", "simhash", "prep")
PER_LAYER = (
    *[(f"build.{s}_s", "s") for s in ("preflight", "silver", "dims", "fact",
                                      "marts", "quality", "cpu")],
    *[(f"snapshot.{op}{suffix}", unit)
      for op in ("publish", "append", "overwrite_range", "merge")
      for suffix, unit in (("_s", "s"), ("_cpu_s", "s"), ("_written_mb", "MB"))],
    ("snapshot.compact_s", "s"), ("snapshot.compact_cpu_s", "s"),
    ("snapshot.compact_bytes_rewritten", "B"),
    ("snapshot.post_compact_lookup_ms", "ms"),
    ("snapshot.prune_point_ms", "ms"), ("snapshot.files_per_lookup", "count"),
    ("snapshot.files_per_range_read", "count"),
    ("snapshot.table_files", "count"), ("snapshot.useful_file_ratio", "ratio"),
    ("snapshot.load_publication_ms", "ms"),
    ("snapshot.bytes_written_per_input_byte", "ratio"),
    *[(f"bi.{t}.{k}", "ms") for t in _BI for k in ("plan_ms", "exec_ms")],
    ("bi.tasks_per_query", "count"), ("bi.stages_per_query", "count"),
    ("bi.executor_cpu_ms_per_query", "ms"),
    *[(f"curation.{op}{suffix}", unit) for op in _CUR
      for suffix, unit in (("_s", "s"), ("_cpu_s", "s"), ("_shuffle_mb", "MB"),
                           ("_spill_mb", "MB"), ("_useful_ratio", "ratio"))],
    ("curation.dup_removed_ratio", "ratio"),
    ("jvm.gc_s", "s"), ("shuffle.fetch_wait_s", "s"), ("spill_disk_mb", "MB"),
    ("storage_mem_peak_mb", "MB"),
    ("refresh_s", "s"), ("bi_p50_ms", "ms"), ("bi_tail_ms", "ms"),
    ("bi_tail_pct", "%"), ("bi_n", "count"), ("ingest_s", "s"),
    ("restate_s", "s"), ("merge_s", "s"), ("lookup_p50_ms", "ms"),
    ("lookup_tail_ms", "ms"), ("lookup_tail_pct", "%"), ("lookup_n", "count"),
    ("write_amp", "ratio"), ("curation_s", "s"), ("cpu_s", "s"),
    ("cpu_ms_per_op", "ms"),
    ("failed_ops_ratio", "ratio"), ("trace.overhead_ratio", "ratio"),
    ("setup.jvm_s", "s"), ("setup.inputs_s", "s"), ("setup.base_tables_s", "s"),
    ("setup.warmup_s", "s"),
    ("ops", "count"),
)


def task_threads() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str) -> SparkSession:
    """The engine's session confs on ``local[nproc]``; JVM flags, temp
    and shuffle directories are chosen here, all inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local, TZ="UTC",
                      PYSPARK_PYTHON=sys.executable)
    time.tzset()
    tempfile.tempdir = None
    confs = {
        **ENGINE_CONFS,
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Duser.timezone=UTC",
        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # every stage of a run stays in the status store, so stage
        # snapshot deltas never lose evicted stages
        "spark.ui.retainedStages": "10000",
        "spark.ui.retainedJobs": "10000",
    }
    builder = SparkSession.builder.master(f"local[{task_threads()}]") \
        .appName("whbench")
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0) -> dict:
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    spark = start_spark(work)
    try:
        jvm_s = time.perf_counter() - PROCESS_START
        rec = Recorder()
        tracer = Tracer(spark, f"{workload}-{seed}-{os.getpid()}", False)
        wl = WORKLOADS[workload](spark, seed, work, tracer, rec, scale)
        inputs = []
        for rep in range(wl.input_reps):
            t0 = time.perf_counter()
            wl.inputs(rep)
            inputs.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.base_tables()
        base_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        rec.run_checks()
        if rec.failed:
            raise RuntimeError("warm-up produced wrong outputs")
        warmup_s = time.perf_counter() - t0
        rec.walls.clear()
        rec.attrs.clear()
        # process start to the first timed operation, with the repeated
        # input landing counted once, at its median
        setup_s = jvm_s + med(inputs) + base_s + warmup_s

        before = settled_completed_stages(spark)
        storage_peak = 0.0
        deadline = time.perf_counter() + seconds
        i = 0
        overhead = []  # (tracing seconds, wall) per traced operation
        while time.perf_counter() < deadline and i != wl.max_ops:
            # a traced run traces every second operation, starting with
            # the first, so that single-operation workloads get traced
            tracer.enabled = trace and i % 2 == 0
            spent = tracer.overhead_s
            wl.step()
            if tracer.enabled and rec.walls[wl.headline]:
                overhead.append((tracer.overhead_s - spent,
                                 rec.walls[wl.headline][-1]))
                storage_peak = max(storage_peak,
                                   executors_storage_mb(spark) or 0.0)
            i += 1
        tracer.enabled = False
        window_s = time.perf_counter() - deadline + seconds
        window = stage_counters(before, settled_completed_stages(spark))
        t0 = time.perf_counter()
        wl.verify()
        print(f"[whbench] {workload}: jvm {jvm_s:.1f}s, inputs "
              f"{'/'.join(f'{x:.1f}' for x in inputs)}s, base tables "
              f"{base_s:.1f}s, warm-up {warmup_s:.1f}s, window "
              f"{window_s:.1f}s ({len(rec.walls[wl.headline])} ops), verify "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)

        walls = rec.walls[wl.headline]
        ops = len(walls)
        cpu_s = window["cpu_s"] - wl.background_cpu_s if window else 0.0
        if trace:
            m = {name: 0.0 for name, _ in PER_LAYER}
            wl.layers(m)
            spans = tracer.named(wl.headline)
            for name, counter in (("jvm.gc_s", "gc_s"),
                                  ("shuffle.fetch_wait_s", "fetch_wait_s"),
                                  ("spill_disk_mb", "spill_disk_mb")):
                m[name] = med(span_counter(spans, counter))
            m["storage_mem_peak_mb"] = storage_peak
            m["cpu_s"] = cpu_s
            m["cpu_ms_per_op"] = 1e3 * cpu_s / max(ops, 1)
            m["failed_ops_ratio"] = rec.failed / max(rec.attempted, 1)
            # snapshot time inside a traced operation's wall, over the
            # wall it would have had untraced
            m["trace.overhead_ratio"] = med(o / (w - o) for o, w in overhead
                                            if w > o)
            m["setup.jvm_s"] = jvm_s
            m["setup.inputs_s"] = med(inputs)
            m["setup.base_tables_s"] = base_s
            m["setup.warmup_s"] = warmup_s
            m["ops"] = ops
            units = dict(PER_LAYER)
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, f"{workload}-{seed}.json"))
        else:
            m = {
                "setup_s": setup_s,
                "latency_p50_ms": 1e3 * med(walls),
            }
            units = dict(END_TO_END)
        return {
            "correct": rec.failed == 0 and ops > 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in m.items()},
        }
    finally:
        stop_spark(spark)
        remove_tree(work)


def run_all(args) -> int:
    """Every workload, each in its own process; prints each metric by
    name with its unit, then one combined JSON line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr)
            return 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
            print(f"{name:14s} {k:40s} {v['value']:14.4f} {v['unit']}")
        print(f"{name:14s} {'failed_ops_ratio':40s} "
              f"{res['failed'] / max(res['attempted'], 1):14.4f} ratio")
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input size (the smoke test runs "
                         "tiny inputs)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.scale)
    print(f"[whbench] {args.workload}: done after "
          f"{time.perf_counter() - PROCESS_START:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
