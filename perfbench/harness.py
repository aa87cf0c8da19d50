"""Run one workload end to end and assemble the result line.

Set-up: start Spark sized for the machine, run the workload's warm-up
operation, then generate its fixture ``FIXTURE_REPS`` times. Spark start
and warm-up happen once per process; ``setup_s`` adds their time to the
median fixture time.

Untraced run (``trace=False``): one closed-loop window of ``seconds`` of
operation time; the end-to-end metrics come from it.

Traced run (``trace=True``): the Spark event log is on for the whole
process. In a window of ``seconds`` every second cycle of operations
runs with spans around the engine's public functions, so traced and
untraced operations meet the same warm-up state and the same mix of
operations; then the workload's probes run. The per-layer metrics come
from the traced operations.
``trace.overhead_pct`` compares the two halves, so it prices the spans;
the event log's own cost shows as ``trace.op_p50_ms`` against the
untraced runs' ``op_p50_ms``.

Checks run after each operation, outside its timed region, and once
after the window; every wrong or failed unit counts in ``failed``.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import sys
import time

from .trace import EventLog, RssSampler, Tracer, descendants
from .workloads import SIZES, TRACED_FUNCTIONS, WORKLOADS, spark_layer

FIXTURE_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.spark_start_s": "s",
    "session.warmup_s": "s",
    "fixture.gen_s": "s",
    "ingest.image_s": "s",
    "ingest.voxels": "count",
    "planner.levels": "count",
    "operators.downsample_s": "s",
    "operators.exchanges": "count",
    "operators.sorts": "count",
    "ome_zarr_api.to_ngff_zarr_s": "s",
    "ome_zarr_api.write_image_s": "s",
    "ome_zarr_api.write_image_calls": "count",
    "ome_zarr_api.write_image_batch_s": "s",
    "ome_zarr_api.write_image_batch_calls": "count",
    "ome_zarr_api.read_plan_ms": "ms",
    "reader.partitions_per_read": "count",
    "reader.chunks_needed_per_read": "count",
    "reader.prune_ratio": "ratio",
    "reader.voxels_decoded_per_returned": "ratio",
    "reader.revisit_p50_ms": "ms",
    "reader.fresh_p50_ms": "ms",
    "store.objects_written": "count",
    "store.bytes_written": "bytes",
    "store.bytes_per_voxel": "bytes",
    "store.json_docs_written": "count",
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s",
    "codec.ratio": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_overhead_s": "s",
    "hcs.write_hcs_fields_s": "s",
    "hcs.fields_per_job": "count",
    "hcs.attr_upsert_s": "s",
    "hcs.consolidate_s": "s",
    "streaming.drain_s": "s",
    "streaming.machinery_s": "s",
    "validate.s": "s",
    "driver_api.info_s": "s",
    "trace.op_p50_ms": "ms",
    "trace.ops_per_s": "1/s",
    "trace.overhead_pct": "%",
}


def jvm_opts(work: str) -> str:
    """Keep JVM temp files in the work directory and off /tmp."""
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def spark_conf(work: str, trace: bool) -> dict:
    """Local Spark sized for this machine, with every scratch directory
    inside the run's work directory."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    conf = {
        # far below physical RAM: the engine's own default is 16g
        "spark.driver.memory": f"{max(1024, min(2048, phys_mb // 4))}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": jvm_opts(work),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(work: str, root: str, trace: bool):
    import tempfile

    from ngff_zarr_spark.session import get_spark

    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the launcher JVM spark-submit starts first takes its options here
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # executor-side Python workers import the engine (pickled readers
    # and writers) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cpus=cpus, extra_conf=spark_conf(work, trace))


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    while time.time() < deadline and any(_alive(p) for p in children):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def run_window(wl, seconds: float, tracer: Tracer | None = None) -> list:
    """Closed loop, one client: the next operation starts when the
    previous one (and its untimed check) is done, until the operations'
    own time reaches ``seconds``, the workload's current cycle of
    ``wl.cycle`` operations is complete (so every run holds the same mix
    of operations) and at least ``wl.min_ops`` operations ran. With a
    tracer, odd cycles run with spans on and keep their own ``phases``
    totals; a traced window holds at least two cycles, so both sides see
    the same mix."""
    from ngff_zarr_spark import phases

    records, busy = [], 0.0
    min_ops = max(wl.min_ops, wl.cycle * (1 if tracer is None else 2))
    while busy < seconds or len(records) % wl.cycle or len(records) < min_ops:
        traced = tracer is not None and (len(records) // wl.cycle) % 2 == 1
        if traced:
            for module, attr, name in TRACED_FUNCTIONS:
                tracer.wrap(importlib.import_module(module), attr, name)
            phases.reset()
        try:
            rec = wl.op(len(records))
        finally:
            if traced:
                tracer.restore()
        rec.traced = traced
        if traced:
            rec.info["phases"] = dict(phases.PHASE_TIMES)
        if rec.ok:
            wl.check(rec)
        busy += rec.latency
        records.append(rec)
    return records


def end_to_end(records: list) -> dict:
    """Median latency over operation units (every field of a plate round
    waited for its whole drain) and throughput over busy time."""
    lat = [r.latency * 1e3 for r in records for _ in range(r.units)]
    busy = sum(r.latency for r in records)
    return {
        "op_p50_ms": statistics.median(lat),
        "ops_per_s": sum(r.units for r in records) / busy,
    }


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool, root: str) -> dict:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work, root, trace)
            spark_start = time.perf_counter() - t0
            try:
                wl = WORKLOADS[workload](spark, work, seed, SIZES["smoke" if smoke else "full"][workload])
                warm = 0.0
                if not smoke:
                    t0 = time.perf_counter()
                    wl.warmup()
                    warm = time.perf_counter() - t0
                fixture = []
                for _ in range(1 if smoke else FIXTURE_REPS):
                    t0 = time.perf_counter()
                    wl.fixture()
                    fixture.append(time.perf_counter() - t0)
                tracer = Tracer() if trace else None
                records = run_window(wl, seconds, tracer)
                if trace:
                    probes = wl.probes()
                final_failed = wl.final_check(records)
                print(
                    f"perfbench {workload}: spark {spark_start:.2f}s warm-up {warm:.2f}s"
                    f" fixture {[round(f, 2) for f in fixture]}s"
                    f" ops {[round(r.latency, 2) for r in records]}s"
                    f" errors {[e for r in records for e in r.info.get('errors', [])]}",
                    file=sys.stderr,
                )
            finally:
                stop_spark(spark)
        failed = sum(r.failed for r in records) + final_failed
        setup = spark_start + warm + statistics.median(fixture)
        if trace:
            good = [r for r in records if r.traced and r.ok]
            if not good:
                raise RuntimeError("every traced operation failed")
            ev = EventLog.load(os.path.join(work, "eventlog"))
            base = end_to_end([r for r in records if not r.traced])
            with_spans = end_to_end([r for r in records if r.traced])
            metrics = {
                **dict.fromkeys(PER_LAYER, 0.0),
                "session.spark_start_s": spark_start,
                "session.warmup_s": warm,
                "fixture.gen_s": statistics.median(fixture),
                **spark_layer(good, ev),
                **wl.layer_metrics(good, tracer, ev, probes),
                "trace.op_p50_ms": with_spans["op_p50_ms"],
                "trace.ops_per_s": with_spans["ops_per_s"],
                "trace.overhead_pct": (base["ops_per_s"] / with_spans["ops_per_s"] - 1.0) * 100.0,
            }
            units = PER_LAYER
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{workload}-{seed}.json"))
        else:
            metrics = {**end_to_end(records), "setup_s": setup, "peak_rss_mb": rss.peak / 2**20}
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": sum(r.units for r in records),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
