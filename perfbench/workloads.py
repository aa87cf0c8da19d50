"""The three workloads. Each drives only public entry points of the
engine (``driver_api``, ``ome_zarr_api``, ``hcs``, ``streaming.pipeline``)
and checks every output outside the timed region.

A workload has four parts the harness calls in order:

``warmup``    operations of a different geometry, so the JVM's JIT,
              codegen caches and the Python worker pool are warm
``fixture``   seeded input generation (repeated; set-up time is the median)
``op``        one timed closed-loop operation, returning an ``OpRecord``;
              a window holds whole cycles of ``cycle`` operations and at
              least ``min_ops`` operations
``check``     the record's output checks (untimed); ``final_check`` runs
              once after the window for checks that span operations

In a traced run ``layer_metrics`` turns the traced operations' records, the
spans, the Spark event log and the workload's probes into the per-layer
metrics.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from tools.minizarr import read_v2_array

from . import data
from .trace import EventLog, Tracer, tree_stats

PYRAMID = [{"z": 2, "y": 2, "x": 2}, {"z": 4, "y": 4, "x": 4}]

SIZES = {
    "full": {
        "convert": {"shape": (16, 128, 128), "chunk": 64, "warm_shape": (16, 96, 96), "warm_chunk": 48},
        "roi_read": {"shape": (32, 128, 128), "chunk": 16, "warm_shape": (16, 32, 32), "warm_chunk": 8},
        "plate_ingest": {"field": (1, 64, 64), "per_round": 32, "warm_field": (1, 32, 32)},
    },
    "smoke": {
        "convert": {"shape": (8, 32, 32), "chunk": 16},
        "roi_read": {"shape": (16, 32, 32), "chunk": 8},
        "plate_ingest": {"field": (1, 16, 16), "per_round": 4},
    },
}


@dataclass
class OpRecord:
    start: float  # wall clock (time.time()) at op start
    end: float
    latency: float  # perf_counter seconds
    units: int  # operations this record stands for (fields for a plate round)
    traced: bool = False
    ok: bool = True
    failed: int = 0
    info: dict = field(default_factory=dict)


def arrow_to_dense(table, dims: list[str], lo: tuple, shape: tuple, dtype) -> np.ndarray:
    """Scatter pixel-table rows into a dense array (origin ``lo``)."""
    out = np.zeros(shape, dtype=dtype)
    idx = tuple(table.column(d).to_numpy() - o for d, o in zip(dims, lo))
    out[idx] = table.column("v").to_numpy().astype(dtype)
    return out


def codec_probe(arrays: list[np.ndarray], compressor: str, min_seconds: float = 0.3) -> dict:
    """Encode and decode the workload's own chunks with the store codec,
    repeating until each direction has run ``min_seconds``."""
    from ngff_zarr_spark.sources.zarr_store import decode_chunk, encode_chunk

    raw = sum(a.nbytes for a in arrays)
    encoded: list[bytes] = []
    reps, t0 = 0, time.perf_counter()
    while reps == 0 or time.perf_counter() - t0 < min_seconds:
        encoded = [encode_chunk(a, compressor) for a in arrays]
        reps += 1
    enc_s = (time.perf_counter() - t0) / reps
    reps, t0 = 0, time.perf_counter()
    while reps == 0 or time.perf_counter() - t0 < min_seconds:
        for a, b in zip(arrays, encoded):
            decode_chunk(b, a.dtype, a.shape, compressor)
        reps += 1
    dec_s = (time.perf_counter() - t0) / reps
    return {
        "codec.encode_mb_per_s": raw / 1e6 / enc_s,
        "codec.decode_mb_per_s": raw / 1e6 / dec_s,
        "codec.ratio": raw / sum(len(b) for b in encoded),
    }


def tile(arr: np.ndarray, chunk: tuple[int, ...]) -> list[np.ndarray]:
    return [
        np.ascontiguousarray(arr[tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, chunk))])
        for idx in np.ndindex(*(-(-n // c) for n, c in zip(arr.shape, chunk)))
    ]


def spark_layer(records: list[OpRecord], ev: EventLog) -> dict:
    """Spark work per operation unit, from the event log."""
    units = sum(r.units for r in records)
    tot: dict = {}
    for r in records:
        for k, v in ev.task_totals(r.start, r.end).items():
            tot[k] = tot.get(k, 0) + v
    return {
        "spark.jobs_per_op": tot["jobs"] / units,
        "spark.stages": tot["stages"] / units,
        "spark.tasks": tot["tasks"] / units,
        "spark.shuffle_write_bytes": tot["shuffle_write"] / units,
        "spark.shuffle_read_bytes": tot["shuffle_read"] / units,
        "spark.executor_run_s": tot["run_ms"] / 1e3 / units,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / units,
        "spark.gc_s": tot["gc_ms"] / 1e3 / units,
        "spark.task_overhead_s": tot["overhead_ms"] / 1e3 / units,
    }


def span_per_unit(tracer: Tracer, records: list[OpRecord], name: str) -> tuple[float, float]:
    """(seconds, calls) of ``name`` spans per operation unit."""
    units = sum(r.units for r in records)
    secs = calls = 0
    for r in records:
        s, n = tracer.total(name, r.start, r.end)
        secs += s
        calls += n
    return secs / units, calls / units


# Every public function the benchmark's operations reach, by layer.
TRACED_FUNCTIONS = [
    ("ngff_zarr_spark.ingest.cli", "cli_input_to_ngff_image", "ingest.image"),
    ("ngff_zarr_spark.ome_zarr_api", "to_ngff_zarr", "ome_zarr_api.to_ngff_zarr"),
    ("ngff_zarr_spark.ome_zarr_api", "write_image", "ome_zarr_api.write_image"),
    ("ngff_zarr_spark.ome_zarr_api", "write_image_batch", "ome_zarr_api.write_image_batch"),
    ("ngff_zarr_spark.hcs", "write_hcs_fields", "hcs.write_hcs_fields"),
    ("ngff_zarr_spark.driver_api", "get_ome_zarr_info", "driver_api.info"),
]


class Workload:
    name = ""
    cycle = 1
    min_ops = 1

    def __init__(self, spark, work: str, seed: int, sizes: dict) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes

    def warmup(self) -> None:
        raise NotImplementedError

    def fixture(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> OpRecord:
        raise NotImplementedError

    def check(self, rec: OpRecord) -> None:
        """Mark ``rec`` failed (``ok``/``failed``) if its output is wrong."""

    def final_check(self, records: list[OpRecord]) -> int:
        """Failed units found by checks spanning the whole window."""
        return 0

    def probes(self) -> dict:
        """Per-layer measurements made after the window."""
        return {}

    def layer_metrics(self, records: list[OpRecord], tracer: Tracer, ev: EventLog, probes: dict) -> dict:
        raise NotImplementedError

    def _fail(self, rec: OpRecord, why: str) -> None:
        rec.ok = False
        rec.failed = rec.units
        rec.info.setdefault("errors", []).append(why)


# -- convert ----------------------------------------------------------------


class Convert(Workload):
    """``driver_api.convert_images_to_ome_zarr`` on a seeded multi-page
    uint16 TIFF with the library defaults (ITKWASM_GAUSSIAN, OME-Zarr
    0.4, gzip), explicit 3-level ``scale_factors`` and cubic chunks.

    The scale factors are explicit because the driver API plans levels
    with the planner's default 128-voxel chunks and ignores the
    requested ``chunks``: at these sizes it would silently build a
    one-level "pyramid". ``planner.levels`` checks the result."""

    name = "convert"
    WARMUP_OPS = 1
    min_ops = 2  # so op_p50_ms never rests on the first conversion alone

    def _write_tiff(self, path: str, vol: np.ndarray) -> None:
        from ngff_zarr_spark.ingest.tiff import tiff_encode_pages

        with open(path, "wb") as f:
            f.write(tiff_encode_pages(list(vol)))

    def _convert(self, tiff: str, out: str, chunk: int):
        from ngff_zarr_spark.driver_api import convert_images_to_ome_zarr

        return convert_images_to_ome_zarr(
            self.spark, [tiff], out, chunks=[chunk] * 3, scale_factors=PYRAMID
        )

    def warmup(self) -> None:
        vol = data.smooth_volume(np.random.default_rng([self.seed, 1]), self.sizes["warm_shape"])
        tiff = os.path.join(self.work, "warmup.tif")
        self._write_tiff(tiff, vol)
        for i in range(self.WARMUP_OPS):
            res = self._convert(tiff, os.path.join(self.work, f"warmup-{i}.ome.zarr"), self.sizes["warm_chunk"])
            if not res.success:
                raise RuntimeError(f"warm-up conversion failed: {res.error}")

    def fixture(self) -> None:
        self.volume = data.smooth_volume(np.random.default_rng(self.seed), self.sizes["shape"])
        self.tiff = os.path.join(self.work, "input.tif")
        self._write_tiff(self.tiff, self.volume)

    def op(self, i: int) -> OpRecord:
        out = os.path.join(self.work, f"out-{i}.ome.zarr")
        start, t0 = time.time(), time.perf_counter()
        res = self._convert(self.tiff, out, self.sizes["chunk"])
        latency, end = time.perf_counter() - t0, time.time()
        rec = OpRecord(start, end, latency, 1, info={"out": out, "result": res})
        if not res.success:
            self._fail(rec, f"conversion failed: {res.error}")
        return rec

    def check(self, rec: OpRecord) -> None:
        from ngff_zarr_spark.driver_api import validate_ome_zarr_store

        if not rec.ok:
            return
        out, info = rec.info["out"], rec.info["result"].store_info
        t0 = time.perf_counter()
        valid = validate_ome_zarr_store(out)
        rec.info["validate_s"] = time.perf_counter() - t0
        if not valid.valid:
            self._fail(rec, f"invalid store: {valid.errors}")
            return
        if info["n_scales"] != len(PYRAMID) + 1:
            self._fail(rec, f"{info['n_scales']} levels, expected {len(PYRAMID) + 1}")
            return
        # level i+1 is checked against the reference step applied to the
        # stored level i, which is what the engine derives it from
        ref = self.volume
        for level, scale in enumerate(info["scales"]):
            got = read_v2_array(out, scale["path"])
            if got.dtype != ref.dtype or got.shape != ref.shape:
                self._fail(rec, f"level {level}: {got.dtype}{got.shape} != {ref.dtype}{ref.shape}")
                break
            if level == 0 and not np.array_equal(got, ref):
                self._fail(rec, "level 0 differs from the input")
            elif np.abs(got.astype(np.int32) - ref.astype(np.int32)).max() > 1:
                self._fail(rec, f"level {level} off the numpy reference by more than 1 LSB")
            ref = data.gaussian_level(got)
        rec.info["levels"] = info["n_scales"]
        rec.info["level_paths"] = [s["path"] for s in info["scales"]]
        rec.info["level_shapes"] = [s["shape"] for s in info["scales"]]
        rec.info["tree"] = tree_stats(out)
        rec.info["stored_voxels"] = sum(math.prod(s["shape"]) for s in info["scales"])
        if rec.ok:
            self.last_good = rec

    def probes(self) -> dict:
        """Each level's public downsample operator alone into a noop
        sink: level 1 from the ingested input, level 2 from the stored
        level 1, as ``to_ngff_zarr`` derives them."""
        from ngff_zarr_spark.ingest import cli_input_to_ngff_image, detect_cli_io_backend
        from ngff_zarr_spark.ome_zarr_api import METHODS, read_image

        op = METHODS["ITKWASM_GAUSSIAN"]
        out, rec = self.last_good.info["out"], self.last_good
        img = cli_input_to_ngff_image(self.spark, detect_cli_io_backend([self.tiff]), [self.tiff])
        level1 = read_image(self.spark, out, rec.info["level_paths"][1], 2, dims=img.dims)
        shape1 = dict(zip(img.dims, rec.info["level_shapes"][1]))
        windows = []
        for df, shape in ((img.data, img.shape), (level1, shape1)):
            t0 = time.time()
            op(df, shape, PYRAMID[0]).write.format("noop").mode("overwrite").save()
            windows.append((t0, time.time()))
        chunk = (self.sizes["chunk"],) * 3
        return {"operator_windows": windows, **codec_probe(tile(self.volume, chunk), "gzip")}

    def layer_metrics(self, records, tracer, ev, probes) -> dict:
        n = len(records)
        windows = probes["operator_windows"]
        executions = [e for t0, t1 in windows for e in ev.executions_between(t0, t1)]
        stored = sum(r.info["stored_voxels"] for r in records)
        write_s, write_calls = span_per_unit(tracer, records, "ome_zarr_api.write_image")
        return {
            "ingest.image_s": span_per_unit(tracer, records, "ingest.image")[0],
            "ingest.voxels": self.volume.size,
            "planner.levels": sum(r.info["levels"] for r in records) / n,
            "operators.downsample_s": sum(t1 - t0 for t0, t1 in windows),
            "operators.exchanges": sum(ev.plan_node_count(e, "Exchange") for e in executions),
            "operators.sorts": sum(ev.plan_node_count(e, "Sort") for e in executions),
            "ome_zarr_api.to_ngff_zarr_s": span_per_unit(tracer, records, "ome_zarr_api.to_ngff_zarr")[0],
            "ome_zarr_api.write_image_s": write_s,
            "ome_zarr_api.write_image_calls": write_calls,
            "store.objects_written": sum(r.info["tree"]["objects"] for r in records) / n,
            "store.bytes_written": sum(r.info["tree"]["bytes"] for r in records) / n,
            "store.bytes_per_voxel": sum(r.info["tree"]["chunk_bytes"] for r in records) / stored,
            "store.json_docs_written": sum(r.info["tree"]["json_docs"] for r in records) / n,
            "validate.s": sum(r.info["validate_s"] for r in records) / n,
            "driver_api.info_s": span_per_unit(tracer, records, "driver_api.info")[0],
            **{k: v for k, v in probes.items() if k.startswith("codec.")},
        }


# -- roi_read ---------------------------------------------------------------


class RoiRead(Workload):
    """Fetch one ROI's voxels to the client from a 3-level OME-Zarr 0.5
    store (sharded, zstd) opened once with ``from_ngff_zarr``. ROIs
    cycle through every level and three size classes; half of them pan
    from the previous ROI and revisit its chunks. A cycle visits every
    (level, size class) pair once, fresh and panned, so a window of
    whole cycles has the same mix on every seed."""

    name = "roi_read"
    CHUNKS_PER_SHARD = 2
    CYCLES = 64  # ROI cycles generated; a window that needs more repeats them

    def _build_store(self, path: str, levels: list[np.ndarray], chunk: int) -> None:
        """Write the numpy levels as an OME-Zarr 0.5 store through the
        store layer (sharded, zstd), the layout ``to_ngff_zarr`` gives a
        sharded 0.5 write, without Spark jobs in set-up."""
        from ngff_zarr_spark.metadata import group_attributes
        from ngff_zarr_spark.model import Axis, Dataset, Metadata, ScaleTransform, TranslationTransform
        from ngff_zarr_spark.sources.zarr_store import ZarrArrayMeta, open_store

        dims = ["z", "y", "x"]
        datasets = [
            Dataset(f"scale{i}/image", [ScaleTransform([2.0**i] * 3),
                                        TranslationTransform([0.5 * (2**i - 1)] * 3)])
            for i in range(len(levels))
        ]
        meta = Metadata(axes=[Axis(d, "space") for d in dims], datasets=datasets, type="mean")
        store = open_store(path)
        store.write_group("", group_attributes(meta, "0.5"), 3)
        for ds, arr in zip(datasets, levels):
            store.write_group(ds.path.rsplit("/", 1)[0], {}, 3)
            chunks = tuple(min(chunk, n) for n in arr.shape)
            am = ZarrArrayMeta(
                path=ds.path, shape=arr.shape, chunks=chunks, dtype=arr.dtype,
                compressor="zstd", zarr_format=3, dimension_names=dims,
                chunks_per_shard=tuple(min(self.CHUNKS_PER_SHARD, -(-n // c))
                                       for n, c in zip(arr.shape, chunks)),
            )
            store.write_array_meta(am)
            shards: dict = {}
            for idx in np.ndindex(*am.chunk_grid):
                sidx, inner = am.shard_index_of(idx)
                box = tuple(slice(o, o + e) for o, e in zip(am.chunk_origin(idx), am.chunk_extent(idx)))
                shards.setdefault(sidx, {})[inner] = arr[box]
            for sidx, members in shards.items():
                store.write_shard(am, sidx, members)
        store.consolidate_metadata_v3()

    def _fetch(self, df, roi: data.Roi):
        from pyspark.sql import functions as F

        cond = None
        for d, lo, hi in zip("zyx", roi.lo, roi.hi):
            c = (F.col(d) >= lo) & (F.col(d) < hi)
            cond = c if cond is None else cond & c
        table = df.filter(cond).select("z", "y", "x", "v").toArrow()
        return table, arrow_to_dense(table, list("zyx"), roi.lo, roi.shape, np.uint16)

    def warmup(self) -> None:
        from ngff_zarr_spark.ome_zarr_api import from_ngff_zarr

        rng = np.random.default_rng([self.seed, 1])
        vol = data.smooth_volume(rng, self.sizes["warm_shape"])
        levels = data.mean_pyramid(vol, len(PYRAMID) + 1)
        path = os.path.join(self.work, "warmup.ome.zarr")
        self._build_store(path, levels, self.sizes["warm_chunk"])
        images = from_ngff_zarr(self.spark, path).images
        # every (level, size class) once on this store; the multi-chunk
        # level-0 read spans several shards, so several Python workers start
        for roi in data.roi_sequence(rng, [lv.shape for lv in levels], self.sizes["warm_chunk"], 1):
            if not roi.revisit:
                self._fetch(images[roi.level].data, roi)

    def fixture(self) -> None:
        from ngff_zarr_spark.ome_zarr_api import from_ngff_zarr

        rng = np.random.default_rng(self.seed)
        vol = data.smooth_volume(rng, self.sizes["shape"])
        self.truth = data.mean_pyramid(vol, len(PYRAMID) + 1)
        self.store = os.path.join(self.work, "roi.ome.zarr")
        shutil.rmtree(self.store, ignore_errors=True)
        self._build_store(self.store, self.truth, self.sizes["chunk"])
        self.ms = from_ngff_zarr(self.spark, self.store)
        self.rois = data.roi_sequence(rng, [t.shape for t in self.truth], self.sizes["chunk"], self.CYCLES)
        self.cycle = len(self.rois) // self.CYCLES

    def op(self, i: int) -> OpRecord:
        roi = self.rois[i % len(self.rois)]
        df = self.ms.images[roi.level].data
        start, t0 = time.time(), time.perf_counter()
        try:
            table, dense = self._fetch(df, roi)
        except Exception as exc:  # noqa: BLE001 - a failed read is counted, the loop goes on
            rec = OpRecord(start, time.time(), time.perf_counter() - t0, 1, info={"roi": roi})
            self._fail(rec, f"read failed: {type(exc).__name__}: {exc}")
            return rec
        latency, end = time.perf_counter() - t0, time.time()
        return OpRecord(start, end, latency, 1, info={"roi": roi, "rows": table.num_rows, "dense": dense})

    def check(self, rec: OpRecord) -> None:
        roi, dense = rec.info["roi"], rec.info.pop("dense")
        truth = self.truth[roi.level][tuple(slice(l, h) for l, h in zip(roi.lo, roi.hi))]
        if rec.info["rows"] != roi.voxels or not np.array_equal(dense, truth):
            self._fail(rec, f"ROI {roi} differs from the numpy truth")

    def probes(self) -> dict:
        chunk = (self.sizes["chunk"],) * 3
        return codec_probe(tile(self.truth[0], chunk), "zstd")

    def layer_metrics(self, records, tracer, ev, probes) -> dict:
        n = len(records)
        chunk_shapes = [im.chunks for im in self.ms.images]
        plan_ms, parts, needed, scanned_chunks, decoded, returned = [], 0, 0, 0.0, 0, 0
        for r in records:
            roi = r.info["roi"]
            jobs = ev.jobs_between(r.start, r.end)
            if jobs:
                plan_ms.append(min(j["submit_ms"] for j in jobs) - r.start * 1000.0)
            parts += ev.task_totals(r.start, r.end)["tasks"]
            cshape = tuple(chunk_shapes[roi.level][d] for d in "zyx")
            needed += data.chunks_touched(roi, cshape)
            rows = sum(ev.scan_rows(e) for e in ev.executions_between(r.start, r.end))
            scanned_chunks += rows / math.prod(cshape)
            decoded += rows
            returned += roi.voxels
        lat = {flag: [r.latency * 1e3 for r in records if r.info["roi"].revisit == flag]
               for flag in (True, False)}
        return {
            "ome_zarr_api.read_plan_ms": statistics.median(plan_ms) if plan_ms else 0.0,
            "reader.partitions_per_read": parts / n,
            "reader.chunks_needed_per_read": needed / n,
            "reader.prune_ratio": needed / scanned_chunks if scanned_chunks else 0.0,
            "reader.voxels_decoded_per_returned": decoded / returned,
            "reader.revisit_p50_ms": statistics.median(lat[True]) if lat[True] else 0.0,
            "reader.fresh_p50_ms": statistics.median(lat[False]) if lat[False] else 0.0,
            **probes,
        }


# -- plate_ingest -------------------------------------------------------------

ROWS = "ABCDEFGH"
COLUMNS = [str(c) for c in range(1, 13)]
MAX_FIELDS = 64


class PlateIngest(Workload):
    """Acquisition rounds on a 96-well plate: each round the instrument
    drops one manifest per acquired field, and one availableNow drain of
    ``streaming.pipeline.incremental_well_write_stream`` writes them.
    An operation is one field; its latency is the drain that wrote it.
    Fields are single-level (c, y, x) uint16 images whose pixels are a
    seeded smooth pattern with hashed noise, computed by Spark from
    the field's parameters (the instrument's staging area)."""

    name = "plate_ingest"
    SAMPLE = 8
    WARMUP_ROUNDS = 3

    def _plate(self):
        from ngff_zarr_spark.hcs import Plate, PlateColumn, PlateRow, PlateWell

        return Plate(
            columns=[PlateColumn(c) for c in COLUMNS],
            rows=[PlateRow(r) for r in ROWS],
            wells=[PlateWell(f"{r}/{c}", ri, ci) for ri, r in enumerate(ROWS)
                   for ci, c in enumerate(COLUMNS)],
            name="perfbench plate",
            field_count=MAX_FIELDS,
        )

    def _source(self, shape, row: str, col: str, fi: int):
        """Pixel table of one field: a seeded smooth pattern plus hashed
        noise, clipped to 12 bits."""
        c, y, x = shape
        prm = np.random.default_rng([self.seed, ROWS.index(row), COLUMNS.index(col), fi])
        amp, ph1, ph2 = prm.uniform(600, 1400), prm.uniform(0, 6.28), prm.uniform(0, 6.28)
        fid = (ROWS.index(row) * len(COLUMNS) + COLUMNS.index(col)) * MAX_FIELDS + fi
        yy, xx = f"((id div {x}) % {y})", f"(id % {x})"
        v = (
            f"least(greatest(round(2048 + {amp} * sin({yy} * 0.11 + {ph1}) * cos({xx} * 0.07 + {ph2})"
            f" + pmod(hash(id, {fid}, {self.seed}), 61) - 30), 0), 4095)"
        )
        return self.spark.range(c * y * x).selectExpr(
            "CAST(0 AS BIGINT) AS t", f"id div {y * x} AS c", "CAST(0 AS BIGINT) AS z",
            f"{yy} AS y", f"{xx} AS x", f"CAST({v} AS DOUBLE) AS v",
        )

    def _field_ms(self, shape):
        from ngff_zarr_spark.model import NgffImage
        from ngff_zarr_spark.ome_zarr_api import to_multiscales

        dims = ["c", "y", "x"]

        def build(row: str, col: str, fi: int):
            img = NgffImage(
                data=self._source(shape, row, col, fi),
                dims=dims,
                shape=dict(zip(dims, shape)),
                scale={"c": 1.0, "y": 0.65, "x": 0.65},
                translation={d: 0.0 for d in dims},
                name="image",
                dtype="uint16",
            )
            return to_multiscales(img, scale_factors=[], chunks=dict(zip(dims, shape)))

        return build

    def _drain(self, root: str, slots: list[tuple[str, str, int]], shape) -> tuple:
        """Drop the round's manifests (untimed), then time one drain."""
        from ngff_zarr_spark.streaming.pipeline import incremental_well_write_stream, write_manifest

        manifests = os.path.join(root, "manifests")
        for row, col, fi in slots:
            write_manifest(manifests, row, col, fi)
        start, t0 = time.time(), time.perf_counter()
        q, error = None, None
        try:
            q = incremental_well_write_stream(
                self.spark, manifests, os.path.join(root, "plate.ome.zarr"), self.plate,
                self._field_ms(shape), checkpoint_dir=os.path.join(root, "checkpoint"),
            )
            if not q.awaitTermination(120):
                error = "drain timed out"
        except Exception as exc:  # noqa: BLE001 - a failed drain is counted, the loop goes on
            error = f"drain failed: {type(exc).__name__}: {exc}"
        latency, end = time.perf_counter() - t0, time.time()
        if q is not None and q.isActive:
            q.stop()
        return start, end, latency, error

    def _new_plate(self, root: str) -> None:
        from ngff_zarr_spark.hcs import to_hcs_zarr

        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        to_hcs_zarr(self.plate, os.path.join(root, "plate.ome.zarr"))

    def warmup(self) -> None:
        self.plate = self._plate()
        root = os.path.join(self.work, "warmup")
        self._new_plate(root)
        for fi in range(self.WARMUP_ROUNDS):
            slots = [(r, c, fi) for r in ROWS for c in COLUMNS][: self.sizes["per_round"]]
            *_, error = self._drain(root, slots, self.sizes["warm_field"])
            if error:
                raise RuntimeError(f"warm-up drain failed: {error}")

    def fixture(self) -> None:
        self.plate = self._plate()
        self.root = os.path.join(self.work, "plate")
        self._new_plate(self.root)
        self.store = os.path.join(self.root, "plate.ome.zarr")
        order = np.random.default_rng(self.seed).permutation(len(ROWS) * len(COLUMNS))
        self.wells = [(ROWS[w // len(COLUMNS)], COLUMNS[w % len(COLUMNS)]) for w in order]
        self.written: list[tuple[str, str, int]] = []

    def op(self, i: int) -> OpRecord:
        n, nw = self.sizes["per_round"], len(self.wells)
        slots = [(*self.wells[s % nw], s // nw) for s in range(i * n, (i + 1) * n)]
        start, end, latency, error = self._drain(self.root, slots, self.sizes["field"])
        rec = OpRecord(start, end, latency, n)
        if error:
            self._fail(rec, error)
        else:
            self.written.extend(slots)
        return rec

    def final_check(self, records: list[OpRecord]) -> int:
        from ngff_zarr_spark.driver_api import validate_ome_zarr_store
        from ngff_zarr_spark.hcs import from_hcs_zarr

        t0 = time.perf_counter()
        valid = validate_ome_zarr_store(self.store)
        self.validate_s = time.perf_counter() - t0
        if not valid.valid:
            return len(self.written)
        listed = {r.image_path for r in from_hcs_zarr(self.spark, self.store)["well_images"].collect()}
        failed = sum(1 for r, c, f in self.written if f"{r}/{c}/{f}" not in listed)
        rng = np.random.default_rng([self.seed, 2])
        shape = self.sizes["field"]
        for k in rng.choice(len(self.written), size=min(self.SAMPLE, len(self.written)), replace=False):
            row, col, fi = self.written[k]
            src = self._source(shape, row, col, fi).select("c", "y", "x", "v").toArrow()
            want = arrow_to_dense(src, ["c", "y", "x"], (0, 0, 0), shape, np.uint16)
            got = read_v2_array(self.store, f"{row}/{col}/{fi}/scale0/image")
            if not np.array_equal(got, want):
                failed += 1
        return failed

    def probes(self) -> dict:
        rng = np.random.default_rng([self.seed, 3])
        row, col, fi = self.written[int(rng.integers(len(self.written)))]
        arr = read_v2_array(self.store, f"{row}/{col}/{fi}/scale0/image")
        return codec_probe([arr], "gzip")

    def layer_metrics(self, records, tracer, ev, probes) -> dict:
        units = sum(r.units for r in records)
        batch_s, batch_calls = span_per_unit(tracer, records, "ome_zarr_api.write_image_batch")
        hcs_s, _ = span_per_unit(tracer, records, "hcs.write_hcs_fields")
        hcs_jobs = sum(
            len(ev.jobs_between(s.start, s.end))
            for r in records for s in tracer.between("hcs.write_hcs_fields", r.start, r.end)
        )
        drain_s = sum(r.latency for r in records) / units
        phase_s = {k: sum(r.info["phases"].get(k, 0.0) for r in records) for k in ("attr_upsert", "consolidate")}
        tree = tree_stats(self.store)
        return {
            "ome_zarr_api.write_image_batch_s": batch_s,
            "ome_zarr_api.write_image_batch_calls": batch_calls,
            "store.objects_written": tree["objects"] / len(self.written),
            "store.bytes_written": tree["bytes"] / len(self.written),
            "store.bytes_per_voxel": tree["chunk_bytes"] / (len(self.written) * math.prod(self.sizes["field"])),
            "store.json_docs_written": tree["json_docs"] / len(self.written),
            "hcs.write_hcs_fields_s": hcs_s,
            "hcs.fields_per_job": units / hcs_jobs if hcs_jobs else 0.0,
            "hcs.attr_upsert_s": phase_s["attr_upsert"] / units,
            "hcs.consolidate_s": phase_s["consolidate"] / units,
            "streaming.drain_s": drain_s,
            "streaming.machinery_s": drain_s - hcs_s,
            "validate.s": self.validate_s,
            **probes,
        }


WORKLOADS = {w.name: w for w in (Convert, RoiRead, PlateIngest)}
