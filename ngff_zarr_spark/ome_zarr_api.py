"""High-level OME-Zarr API: the engine's equivalents of the reference's
``to_multiscales`` / ``to_ngff_zarr`` / ``from_ngff_zarr`` entry points
(py/ngff_zarr/to_multiscales.py:251-418, to_ngff_zarr.py:982-1183,
from_ngff_zarr.py:38-307), re-expressed over pixel-table DataFrames and
the ``ome_zarr`` DataSource.

Execution shape (O3, the reference's ``_prepare_next_scale``
checkpointing): each pyramid level is *written, then read back* as the
source for the next level, so each level's job reads only the (8x
smaller) level before it. Level 0 is the pixel-table write
(``write_image``: one shuffle by chunk key). With a Gaussian method,
every later level is ONE map-only Spark job with no exchange
(``write_gaussian_level``, the reference's per-chunk ``map_overlap``):
a task unit per output chunk or shard reads its input box plus the
kernel-radius halo from the stored previous level, edge-pads it at the
image border, blurs and subsamples it in numpy and writes the chunk.
The other methods build each later level as a lazy pixel-table
operator over the stored previous level, written by ``write_image``.
A pyramid with no build recipe (read back by ``from_ngff_zarr``) is
copied through: every level is its own frame, written by
``write_image``. Either way the levels are written in order, one at a
time, on the calling thread.
"""

from __future__ import annotations

import contextlib
import math
import threading
from functools import partial
from typing import Callable, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .metadata import group_attributes, parse_group_attributes, validate_metadata
from .rfc4 import is_rfc4_enabled, validate_rfc4_axes
from .model import (
    Axis,
    Dataset,
    Metadata,
    Multiscales,
    NgffImage,
    ScaleTransform,
    TranslationTransform,
    dim_axis_type,
)
from .operators import bin_shrink, gaussian_downsample, label_downsample, mode_downsample, nearest
from .operators.kernels import SPATIAL, gaussian_block, gaussian_weights
from .plans.planner import (
    next_scale_metadata,
    pyramid_scale_factors,
    relative_dim_factors,
    update_previous_dim_factors,
)
from .sources.ome_zarr import array_docs, register
from .sources.zarr_store import ChunkSink, ZarrArrayMeta, open_store, read_box

# The *_GAUSSIAN methods share one separable convolution but select
# DIFFERENT kernel weights: ITK/ITK-Wasm use the discrete Gaussian
# (modified-Bessel coefficients, operators/itk_gaussian.py), dask-image
# the sampled continuous Gaussian — matching each backend's published
# math.
GAUSSIAN_KERNELS: dict[str, str] = {
    "ITKWASM_GAUSSIAN": "itk_bessel",
    "ITK_GAUSSIAN": "itk_bessel",
    "DASK_IMAGE_GAUSSIAN": "sampled",
}

# Method registry (reference Methods enum dispatch,
# to_multiscales.py:325-359): the lazy pixel-table operator per method.
METHODS: dict[str, Callable] = {
    **{m: partial(gaussian_downsample, kernel=k) for m, k in GAUSSIAN_KERNELS.items()},
    "ITKWASM_BIN_SHRINK": bin_shrink,
    "ITK_BIN_SHRINK": bin_shrink,
    "DASK_IMAGE_NEAREST": nearest,
    "DASK_IMAGE_MODE": mode_downsample,
    "ITKWASM_LABEL_IMAGE": label_downsample,
}

# C10 method provenance (reference methods/_metadata.py:11-90): the
# package+function that produced each level, recorded in the
# multiscales 'metadata' field.
# (package, function, description): description strings are stored-
# metadata parity constants transcribed from the reference's method
# table (methods/_metadata.py:49-90) — they describe the downsampling
# algorithm a reader of the store should expect; the method string
# records OUR implementing function (honest provenance, same
# package.function format the reference uses).
_METHOD_INFO: dict[str, tuple[str, str, str]] = {
    "ITKWASM_GAUSSIAN": (
        "ngff_zarr_spark", "gaussian_downsample[itk_bessel]",
        "Smoothed with a discrete gaussian filter to generate a scale space, ideal for intensity images.",
    ),
    "ITK_GAUSSIAN": (
        "ngff_zarr_spark", "gaussian_downsample[itk_bessel]",
        "Smoothed with a discrete gaussian filter to generate a scale space, ideal for intensity images.",
    ),
    "DASK_IMAGE_GAUSSIAN": (
        "ngff_zarr_spark", "gaussian_downsample[sampled]",
        "Smoothed with a discrete gaussian filter to generate a scale space, ideal for intensity images.",
    ),
    "ITKWASM_BIN_SHRINK": (
        "ngff_zarr_spark", "bin_shrink",
        "Uses the local mean for the output value. Fast but generates more artifacts than gaussian-based methods. Appropriate for intensity images.",
    ),
    "ITK_BIN_SHRINK": (
        "ngff_zarr_spark", "bin_shrink",
        "Uses the local mean for the output value. Fast but generates more artifacts than gaussian-based methods. Appropriate for intensity images.",
    ),
    "DASK_IMAGE_NEAREST": (
        "ngff_zarr_spark", "nearest",
        "Nearest neighbor for label images. Will have many artifacts for high-frequency content and/or multiple scales.",
    ),
    "DASK_IMAGE_MODE": (
        "ngff_zarr_spark", "mode_downsample",
        "Local mode for label images. Fewer artifacts than simple nearest neighbor interpolation. Slower.",
    ),
    "ITKWASM_LABEL_IMAGE": (
        "ngff_zarr_spark", "label_downsample",
        "A sample is the mode of the linearly weighted local labels in the image. Fast and minimal artifacts. For label images.",
    ),
}


def get_method_metadata(method: str) -> dict:
    """C10: provenance dict in the reference's serialized MethodMetadata
    shape {description, method, version} (v04/zarr_metadata.py:200-203,
    methods/_metadata.py:41-45); ``method`` is package.function of the
    implementing operator."""
    package, function, description = _METHOD_INFO[method]
    try:
        from importlib.metadata import version as _pkg_version

        ver = _pkg_version(package)
    except Exception:
        from . import __version__ as ver  # type: ignore
    return {
        "description": description,
        "method": f"{package}.{function}",
        "version": ver,
    }

DEFAULT_CHUNKS_3D = 128
DEFAULT_CHUNKS_2D = 256


class NgffProgress:
    """T2 progress/observability hook (reference NgffProgress /
    NgffProgressCallback over the Dask scheduler,
    rich_dask_progress.py:9-70). The engine's unit of progress is the
    per-level Spark write job; subclass or pass callables for custom
    sinks (a rich bar, a log line, a metrics emitter). Deeper task-level
    telemetry comes from Spark's own listener bus / UI — this hook is
    the pipeline-level reporter the reference exposes."""

    def __init__(self, on_update=None, on_done=None):
        self._on_update = on_update
        self._on_done = on_done
        self.events: list = []

    def update(self, stage: str, index: int, total: int) -> None:
        self.events.append(("update", stage, index, total))
        if self._on_update:
            self._on_update(stage, index, total)

    def done(self, total: int) -> None:
        self.events.append(("done", total))
        if self._on_done:
            self._on_done(total)


def default_chunks(dims: list[str]) -> dict[str, int]:
    """128^3 (3D) / 256^2 (2D), t/c chunk = 1 (reference
    to_multiscales.py:296-300, 'IPFS and visualization friendly')."""
    spatial = [d for d in dims if d in ("z", "y", "x")]
    size = DEFAULT_CHUNKS_3D if len(spatial) >= 3 else DEFAULT_CHUNKS_2D
    return {d: (size if d in ("z", "y", "x") else 1) for d in dims}


def to_multiscales(
    image: NgffImage,
    scale_factors: int | list = 128,
    method: str = "ITKWASM_GAUSSIAN",
    chunks: Optional[dict[str, int]] = None,
) -> Multiscales:
    """Build the (lazy) pyramid: each level's DataFrame derives from the
    previous by one downsample operator; nothing executes until write.
    Integer ``scale_factors`` invokes the A9 planner with it as
    min_length (reference to_multiscales.py:316-317)."""
    if method not in METHODS:
        raise ValueError(f"Unknown method {method!r}; options: {sorted(METHODS)}")
    # merge a partial user dict OVER the defaults: the planner indexes
    # every spatial dim, and a dict that omits one previously died with
    # a bare KeyError inside pyramid_scale_factors (code-review r17)
    chunks = {**default_chunks(image.dims), **(chunks or {})}
    if isinstance(scale_factors, int):
        scale_factors = pyramid_scale_factors(
            image.shape, min_length=scale_factors, out_chunks=chunks
        )

    op = METHODS[method]
    images = [image]
    previous = {d: 1 for d in image.spatial_dims()}
    current = image
    for level in scale_factors:
        rel = relative_dim_factors(current.dims, level, previous)
        data = op(current.data, current.shape, rel)
        scale, translation = next_scale_metadata(current.scale, current.translation, rel)
        shape = {
            d: (current.shape[d] // rel.get(d, 1)) for d in current.shape
        }
        current = NgffImage(
            data=data,
            dims=current.dims,
            shape=shape,
            scale=scale,
            translation=translation,
            name=current.name,
            axes_units=current.axes_units,
            dtype=current.dtype,
        )
        images.append(current)
        previous = update_previous_dim_factors(level, image.spatial_dims(), previous)

    # RFC-4: ingest-derived anatomical orientations ride on the axes in
    # the on-disk {type, value} form; to_ngff_zarr strips them unless
    # enabled_rfcs includes 4 (reference to_ngff_zarr.py:1041 +
    # _pop_metadata_optionals)
    orients = image.axes_orientations or {}
    axes = [
        Axis(
            name=d,
            type=dim_axis_type(d),
            unit=(image.axes_units or {}).get(d),
            orientation=(
                {"type": "anatomical", "value": orients[d]}
                if d in orients
                else None
            ),
        )
        for d in image.dims
    ]
    datasets = []
    for i, img in enumerate(images):
        datasets.append(
            Dataset(
                # reference dataset paths embed the image name
                # (to_ngff_zarr.py: f"scale{index}/{image.name}", name
                # defaults "image" in ngff_image.py:19)
                path=f"scale{i}/{image.name or 'image'}",
                coordinateTransformations=[
                    ScaleTransform(scale=[img.scale.get(d, 1.0) for d in img.dims]),
                    TranslationTransform(
                        translation=[img.translation.get(d, 0.0) for d in img.dims]
                    ),
                ],
            )
        )
    meta = Metadata(
        axes=axes,
        datasets=datasets,
        name=image.name,
        type=method.lower(),
        metadata=get_method_metadata(method),
    )
    return Multiscales(
        images=images, metadata=meta, scale_factors=scale_factors, method=method, chunks=chunks
    )


def write_image(
    df: DataFrame,
    store_path: str,
    array_path: str,
    shape: dict[str, int],
    dims: list[str],
    chunks: dict[str, int],
    dtype: str = "float64",
    compressor: Optional[str] = "gzip",
    zarr_format: int = 2,
    chunks_per_shard: Optional[dict[str, int]] = None,
) -> None:
    """Write one pixel-table DataFrame as one Zarr array. Repartitions by
    chunk key first so every chunk is wholly owned by one task (the
    writer's correctness invariant; also the write-locality optimization
    the reference gets from rechunking, O5). With ``chunks_per_shard``
    (Zarr v3 sharding, S8) the ownership/sort unit is the SHARD — each
    task emits whole shard files (a shard ≈ an output file grouping,
    exactly the reference's shard = rechunk-to-shard-shape semantics,
    to_ngff_zarr.py:1093-1101)."""
    spark = df.sparkSession
    register(spark)
    grid = [-(-shape[d] // chunks.get(d, 1)) for d in dims]
    n_chunks = math.prod(grid)
    # PACKED exchange form (r8): instead of shuffling five coordinate
    # columns plus per-dim key columns, fold the chunk index into ONE
    # flat long (mixed radix over the chunk grid) and the within-chunk
    # position into ONE flat offset (mixed radix over the chunk shape).
    # (ck, off, v) is 24 bytes/row vs ~50+, and the partition sort keys
    # one long instead of five — measured 2.1x faster exchange+sort on
    # the bench volume. The writer decodes both with vectorized divmods.
    # exact integer `div`, never double division + cast: coordinates at
    # a 10^5-per-axis grid exceed nothing, but the fold products can —
    # keep every step in long arithmetic
    if n_chunks >= 2**63 or math.prod(chunks.get(d, 1) for d in dims) >= 2**63:
        # a silent long overflow in the mixed-radix fold would scatter
        # pixels into wrong chunks; no real store approaches this
        # (2^63 chunks), but fail loudly rather than corrupt
        raise ValueError(
            f"chunk grid {grid} / chunk shape too large for packed write keys"
        )
    ck = F.expr(f"{dims[0]} div {chunks.get(dims[0], 1)}")
    for d, g in zip(dims[1:], grid[1:]):
        ck = ck * g + F.expr(f"{d} div {chunks.get(d, 1)}")
    off = F.col(dims[0]) % chunks.get(dims[0], 1)
    for d in dims[1:]:
        c = chunks.get(d, 1)
        off = off * c + F.col(d) % c
    if chunks_per_shard:
        shard_sizes = {
            d: chunks.get(d, 1) * chunks_per_shard.get(d, 1) for d in dims
        }
        sgrid = [-(-shape[d] // shard_sizes[d]) for d in dims]
        sk = F.expr(f"{dims[0]} div {shard_sizes[dims[0]]}")
        for d, g in zip(dims[1:], sgrid[1:]):
            sk = sk * g + F.expr(f"{d} div {shard_sizes[d]}")
        packed = df.select(
            sk.alias("sk"), ck.alias("ck"), off.cast("long").alias("off"), "v"
        )
        n_shards = math.prod(sgrid)
        n_tasks = max(1, min(n_shards, max(32, n_shards // 4)))
        packed = (
            packed.repartition(n_tasks, "sk")
            .sortWithinPartitions("sk", "ck")
            .drop("sk")
        )
    else:
        # task count proportional to chunk count (≤8 chunks/task, floor
        # 32): at a million chunks this fans out instead of buffering
        # thousands of chunks per task; sortWithinPartitions makes chunk
        # rows contiguous so the writer streams one chunk buffer at a
        # time.
        n_tasks = max(1, min(n_chunks, max(32, n_chunks // 8)))
        packed = (
            df.select(ck.alias("ck"), off.cast("long").alias("off"), "v")
            .repartition(n_tasks, "ck")
            .sortWithinPartitions("ck")
        )
    writer = (
        packed
        .write.format("ome_zarr")
        .mode("overwrite")
        .option("path", store_path)
        .option("array_path", array_path)
        .option("zarr_format", str(zarr_format))
        .option("shape", ",".join(str(shape[d]) for d in dims))
        .option("chunks", ",".join(str(chunks.get(d, 1)) for d in dims))
        .option("dims", ",".join(dims))
        .option("dtype", dtype)
        .option("compressor", compressor or "")
    )
    if chunks_per_shard:
        writer = writer.option(
            "chunks_per_shard",
            ",".join(str(chunks_per_shard.get(d, 1)) for d in dims),
        )
    writer.save()


# serializes only the temp-view registration + analysis window of
# write_image_batch; the counter makes every call's view names unique,
# so correctness never depends on WHEN spark.sql() analyzes the union
# (classic PySpark inlines eagerly; Spark Connect may defer — with
# per-call names a deferred analysis still resolves this call's views)
_WIB_VIEW_LOCK = threading.Lock()
_WIB_CALL_SEQ = 0


def _pack_batch_plan(
    spark: SparkSession,
    union_sql: str,
    n_fields: int,
    n_chunks: int,
    dims: list[str],
    chunks: dict[str, int],
    dtype: str,
    compressor: Optional[str],
) -> DataFrame:
    """The packed multi-field write plan (exposed for the plan-contract
    test): parse the one big UNION ALL, size the writer tasks, then
    pick the partitioning.

    Task sizing — volume-aware floor: every write task pays a fixed
    ~50-100 ms (scheduling + Python data-source writer init + Arrow
    hop), so spreading a small batch over the 32-way floor is pure
    overhead — target a fixed payload per task and let tiny plate
    micro-batches collapse to a handful of tasks. The target is
    compressor-aware: CPU-heavy codecs (gzip/zlib/bz2) get 1 MiB per
    task so mid-size batches don't serialize compression on 1-2 cores;
    cheap/absent codecs get 4 MiB. chunk_bytes uses the dense chunk
    shape — it overstates ragged edge chunks, but only toward MORE
    tasks, never fewer. At real volumes the byte bound exceeds every
    other bound and nothing changes.

    Partitioning — zero-shuffle path (r15): every branch is a single
    partition (the per-branch COALESCE(1) hint) and the field id is
    the chunk key's highest radix digit, so no chunk ever spans two
    branches — a partition-count coalesce preserves chunk-locality
    while moving NOTHING. The repartition alternative re-exchanges the
    entire pixel volume per micro-batch; at plate-ingest scale (many
    fields per batch) that shuffle is pure waste. The in-task sort
    still guarantees each chunk flushes once. Few-huge-field batches
    keep the repartition: coalesce could not RAISE parallelism above
    the branch count, so pay the exchange to spread each field's
    chunks over n_tasks writers — and their branches carry NO
    COALESCE(1) hint (write_image_batch decides up front): a
    non-shuffle Repartition(1) collapses each field's ENTIRE upstream
    computation onto one task, which the later repartition only undoes
    for the write, not the compute (code-review r17)."""
    packed = spark.sql(union_sql)
    n_tasks, use_coalesce = _batch_task_sizing(
        n_fields, n_chunks, dims, chunks, dtype, compressor
    )
    if use_coalesce:
        return packed.coalesce(n_tasks).sortWithinPartitions("ck")
    return packed.repartition(n_tasks, "ck").sortWithinPartitions("ck")


def _batch_task_sizing(
    n_fields: int,
    n_chunks: int,
    dims: list[str],
    chunks: dict[str, int],
    dtype: str,
    compressor: Optional[str],
) -> tuple[int, bool]:
    """(writer task count, take-the-coalesce-path?) — shared by the SQL
    builder (hint decision) and the plan packer so they can never
    disagree."""
    total_chunks = n_chunks * n_fields
    n_tasks = max(1, min(total_chunks, max(32, total_chunks // 8)))
    chunk_bytes = (
        math.prod(chunks.get(d, 1) for d in dims) * np.dtype(dtype).itemsize
    )
    per_task = (1 << 20) if compressor in ("gzip", "zlib", "bz2") else (4 << 20)
    n_tasks = min(n_tasks, max(1, -(-total_chunks * chunk_bytes // per_task)))
    return n_tasks, n_fields >= n_tasks


def _has_jvm(spark: SparkSession) -> bool:
    """False on Spark Connect, whose sessions have no JVM handle."""
    return getattr(spark, "_jvm", None) is not None


@contextlib.contextmanager
def _pinned_active_session(spark: SparkSession):
    """Pin the calling thread's JVM active session to ``spark`` for the
    block, then restore the thread's previous one (or clear it if it
    had none). The JVM resolves Python data sources through this
    THREAD-LOCAL session, and a fresh Python thread's JVM thread has
    none, so the ome_zarr lookup dies with DATA_SOURCE_NOT_FOUND. A no-op
    on Spark Connect, which has no per-thread session lookup of this
    form."""
    if not _has_jvm(spark):
        yield
        return
    jcls = spark._jvm.org.apache.spark.sql.classic.SparkSession
    prev = jcls.getActiveSession()
    jcls.setActiveSession(spark._jsparkSession)
    try:
        yield
    finally:
        if prev.isDefined():
            jcls.setActiveSession(prev.get())
        else:
            jcls.clearActiveSession()


def write_image_batch(
    fields: list[tuple[DataFrame, str]],
    store_path: str,
    shape: dict[str, int],
    dims: list[str],
    chunks: dict[str, int],
    dtype: str = "float64",
    compressor: Optional[str] = "gzip",
    zarr_format: int = 2,
) -> None:
    """Write MANY same-shaped arrays in ONE Spark job: ``fields`` is a
    list of (pixel DataFrame, array_path) sharing shape/dims/chunks/
    dtype. The per-field packed plans are unioned with the field index
    folded into the chunk key as its highest radix digit, shuffled once
    on that key, and a single multi-array writer job emits every chunk
    of every field.

    This is the plate-ingestion amortization (HCS T1 at scale): a
    96-well x 4-field micro-batch is ONE job instead of 384, so the
    fixed per-job cost (scheduling + Python-worker round-trip + commit,
    ~0.5 s each on a busy cluster) is paid once per micro-batch. The
    shuffle volume is identical to 384 separate writes."""
    import json as _json

    if not fields:
        return
    spark = fields[0][0].sparkSession
    register(spark)
    # Two callers run this off the main thread: hcs.write_hcs_fields'
    # batch pool and the streaming drain's foreachBatch thread. Pin
    # this thread's active session to the DataFrames' own session for
    # the call (the foreachBatch thread's active session is the
    # micro-batch clone and comes back on exit).
    with _pinned_active_session(spark):
        grid = [-(-shape[d] // chunks.get(d, 1)) for d in dims]
        n_chunks = math.prod(grid)
        if (
            n_chunks * len(fields) >= 2**63
            or math.prod(chunks.get(d, 1) for d in dims) >= 2**63
        ):
            # same loud-failure rule as write_image: a silent long overflow
            # in either mixed-radix fold (ck or off) scatters pixels
            raise ValueError(
                "field count x chunk grid / chunk shape too large for packed write keys"
            )

        # ONE spark.sql call for the WHOLE union, not a per-field
        # DataFrame-method chain: even the selectExpr+coalesce+unionByName
        # form costs 3 py4j round-trips per field (~9 ms each — measured
        # 1.7 s of driver time per 64-field job); registering each source
        # once and parsing a single 64-branch UNION ALL string is 65 calls
        # and the multi-branch analysis happens JVM-side. The per-branch
        # /*+ COALESCE(1) */ hint keeps the physical shape identical (one
        # map task per field — a field is a few KB of rows, not
        # 64 x default-parallelism). View names live in the reserved
        # ``_ngff_wib_*`` namespace and are UNIQUE PER CALL (monotonic
        # counter), so concurrent batches never see each other's views even
        # when analysis is deferred (Spark Connect), and no user view can be
        # clobbered; the finally-block drop leaves the caller's catalog
        # exactly as it was.
        ck_sql = f"({dims[0]} div {chunks.get(dims[0], 1)})"
        for d, g in zip(dims[1:], grid[1:]):
            ck_sql = f"({ck_sql} * {g} + ({d} div {chunks.get(d, 1)}))"
        off_sql = f"({dims[0]} % {chunks.get(dims[0], 1)})"
        for d in dims[1:]:
            c = chunks.get(d, 1)
            off_sql = f"({off_sql} * {c} + ({d} % {c}))"

        global _WIB_CALL_SEQ
        with _WIB_VIEW_LOCK:
            _WIB_CALL_SEQ += 1
            seq = _WIB_CALL_SEQ
        view_names = [f"_ngff_wib_{seq}_{fid}" for fid in range(len(fields))]
        # hint only on the coalesce path: on the few-huge-fields repartition
        # path a per-branch COALESCE(1) would serialize each field's whole
        # upstream compute onto one task (code-review r17)
        _, use_coalesce = _batch_task_sizing(
            len(fields), n_chunks, dims, chunks, dtype, compressor
        )
        hint = "/*+ COALESCE(1) */ " if use_coalesce else ""
        branches = []
        for fid, (df, _) in enumerate(fields):
            df.createOrReplaceTempView(view_names[fid])
            branches.append(
                f"SELECT {hint}"
                f"CAST({ck_sql} + {fid * n_chunks} AS BIGINT) AS ck, "
                f"CAST({off_sql} AS BIGINT) AS off, v FROM {view_names[fid]}"
            )
        try:
            packed = _pack_batch_plan(
                spark, " UNION ALL ".join(branches), len(fields), n_chunks,
                dims, chunks, dtype, compressor,
            )
            (
                packed.write.format("ome_zarr")
                .mode("overwrite")
                .option("path", store_path)
                .option("array_paths", _json.dumps([p for _, p in fields]))
                .option("zarr_format", str(zarr_format))
                .option("shape", ",".join(str(shape[d]) for d in dims))
                .option("chunks", ",".join(str(chunks.get(d, 1)) for d in dims))
                .option("dims", ",".join(dims))
                .option("dtype", dtype)
                .option("compressor", compressor or "")
                .save()
            )
        finally:
            for nm in view_names:
                spark.catalog.dropTempView(nm)


def read_image(
    spark: SparkSession,
    store_path: str,
    array_path: str,
    zarr_format: int = 2,
    dims: Optional[list[str]] = None,
    storage_options: Optional[dict] = None,
) -> DataFrame:
    """Read one Zarr array as the pixel table (chunk-parallel scan with
    predicate-pushdown chunk pruning). ``dims`` overrides the store's
    dimension names (from_ngff_zarr passes the multiscales axes — the
    authoritative order for OME stores); ``storage_options`` are fsspec
    credentials/config for object-store URLs (reference
    from_ngff_zarr.py:69-80), serialized into the DataSource options
    and shipped to every executor's store handle."""
    import json

    register(spark)
    reader = (
        spark.read.format("ome_zarr")
        .option("path", store_path)
        .option("array_path", array_path)
        .option("zarr_format", str(zarr_format))
    )
    if dims:
        reader = reader.option("dims", ",".join(dims))
    if storage_options:
        reader = reader.option("storage_options", json.dumps(storage_options))
    return reader.load()


def read_chunk_table(
    spark: SparkSession,
    store_path: str,
    array_path: str,
    zarr_format: int = 2,
    storage_options: Optional[dict] = None,
) -> DataFrame:
    """Chunk-table scan (SURVEY §1.3): one row per STORED chunk with its
    raw little-endian buffer — itemsize bytes/voxel instead of the
    exploded pixel table's ~40. The representation for I/O-bound ops
    (copy, rechunk, per-chunk kernels) where voxel rows would be pure
    overhead. Never-written chunks are NOT rows (a sparse 10⁶-chunk
    grid with 10³ stored chunks yields 10³ rows — synthesizing fill
    rows would make every copy densify the store 1000×; code-review
    r17); readers of a copied store reconstruct them from fill_value
    exactly as on the source."""
    import json

    register(spark)
    reader = (
        spark.read.format("ome_zarr")
        .option("path", store_path)
        .option("array_path", array_path)
        .option("zarr_format", str(zarr_format))
        .option("mode", "chunk")
    )
    if storage_options:
        reader = reader.option("storage_options", json.dumps(storage_options))
    return reader.load()


def copy_array(
    spark: SparkSession,
    src_store: str,
    dst_store: str,
    array_path: str,
    zarr_format: int = 2,
    src_storage_options: Optional[dict] = None,
    dst_storage_options: Optional[dict] = None,
) -> int:
    """Distributed store→store array copy over the chunk table: each
    task decodes nothing and moves chunk buffers straight to the
    destination (re-encoding with the destination codec). No pixel
    explosion, no shuffle — a pure parallel byte pipeline, the way a
    100 TB store migration must run. Returns the number of chunks
    copied.

    The FULL source layout is preserved (code-review r17): sharding,
    chunk-key encoding, and separator copy through — a sharded v3
    source previously came out unsharded, exploding the object count by
    prod(chunks_per_shard). Shard writes are race-free because the
    chunk-table reader plans one partition RANGE over the shard grid
    and emits each shard's inner chunks contiguously, so a shard is
    always wholly owned by one task (the same ownership invariant as
    write_image). Sparse sources stay sparse (see read_chunk_table)."""
    import dataclasses

    import pandas as pd

    from .sources.zarr_store import open_store

    src = open_store(src_store, src_storage_options)
    meta = src.read_array_meta(array_path, zarr_format)
    dst = open_store(dst_store, dst_storage_options)
    # byte layout normalizes to what this engine writes (payload bytes
    # are already canonical little-endian C from the chunk-table read)
    dst_meta = dataclasses.replace(meta, byte_order="<", order="C")
    dst.write_array_meta(
        dst_meta,
        attributes={"_ARRAY_DIMENSIONS": list(meta.dimension_names)}
        if meta.zarr_format == 2 and meta.dimension_names
        else None,
    )
    chunks_df = read_chunk_table(
        spark, src_store, array_path, zarr_format, src_storage_options
    )
    # same validated mapping as the reader built the ck_/ex_ columns
    # with (foreign axis names fall back to positional — code-review r17)
    from .sources.ome_zarr import _axis_map

    axes = _axis_map(meta.dimension_names, len(meta.shape))
    np_dtype = str(meta.dtype)

    def write_parts(batches):
        # the sink raises if a shard is flushed twice (a broken
        # contiguity invariant above would otherwise silently discard
        # the first flush's chunks; ADVICE r17)
        sink = ChunkSink(open_store(dst_store, dst_storage_options))
        n = 0
        for pdf in batches:
            for _, row in pdf.iterrows():
                # payload is the clipped (valid-extent) buffer
                arr = np.frombuffer(
                    row["payload"], dtype=np.dtype(np_dtype).newbyteorder("<")
                ).reshape(tuple(int(row[f"ex_{d}"]) for d in axes))
                sink.put(dst_meta, tuple(int(row[f"ck_{d}"]) for d in axes), arr)
                n += 1
        sink.close()
        yield pd.DataFrame({"n": [n]})

    counts = chunks_df.mapInPandas(write_parts, "n long")
    return int(counts.agg(F.sum("n")).first()[0] or 0)


def write_gaussian_level(
    spark: SparkSession,
    store_path: str,
    src_path: str,
    dst_path: str,
    shape: dict[str, int],
    dims: list[str],
    chunks: dict[str, int],
    factors: dict[str, int],
    kernel: str,
    dtype: str,
    compressor: Optional[str] = "gzip",
    zarr_format: int = 2,
    chunks_per_shard: Optional[dict[str, int]] = None,
) -> None:
    """Write the array ``dst_path`` (``shape``) as the Gaussian
    downsample by ``factors`` of the stored array ``src_path``, in ONE
    map-only Spark job with no exchange: the reference's per-chunk
    ``map_overlap`` (depth = kernel radius, boundary 'nearest').

    ``spark.range`` enumerates the output chunks, or the output shards
    when ``chunks_per_shard`` is set, and each task, per unit, reads its
    input box plus the kernel-radius halo from the stored source
    (``read_box``), edge-pads the part of the halo outside the image,
    runs ``gaussian_block`` and hands the unit's chunks to a
    ``ChunkSink``. The arithmetic is the window form's
    (``METHODS[m]``) float64 sequence and the store cast is the
    writer's ``astype``, so the bytes equal ``read_image`` → ``METHODS``
    → ``write_image``. Like the DataSource writer, the array prefix is
    cleared first; the array's metadata is published only after the
    job succeeds."""
    store = open_store(store_path)
    src = store.read_array_meta(src_path, zarr_format)
    dst = ZarrArrayMeta(
        path=dst_path,
        shape=tuple(shape[d] for d in dims),
        chunks=tuple(chunks.get(d, 1) for d in dims),
        dtype=np.dtype(dtype),
        compressor=compressor or None,
        zarr_format=zarr_format,
        dimension_names=list(dims) if zarr_format == 3 else None,
        chunks_per_shard=(
            tuple(chunks_per_shard.get(d, 1) for d in dims) if chunks_per_shard else None
        ),
    )
    weights = gaussian_weights(factors, kernel)
    passes = [(dims.index(d), weights[d]) for d in SPATIAL if d in weights]
    fac = [int(factors.get(d, 1)) for d in dims]
    rad = [len(weights[d]) - 1 if d in weights else 0 for d in dims]
    sample = tuple(slice(None, None, f) for f in fac)
    per_unit = dst.chunks_per_shard or (1,) * len(dims)
    unit = tuple(c * n for c, n in zip(dst.chunks, per_unit))
    grid = tuple(-(-s // u) for s, u in zip(dst.shape, unit))
    n_units = math.prod(grid)

    def downsample(st, o_lo, o_hi) -> np.ndarray:
        # output [o_lo, o_hi) samples input o*f, so its support is
        # [o_lo*f - r, (o_hi-1)*f + r]; the part outside the image is
        # edge padding
        lo, hi, pad = [], [], []
        for a, b, f, r, n in zip(o_lo, o_hi, fac, rad, src.shape):
            want_lo, want_hi = a * f - r, (b - 1) * f + r + 1
            lo.append(max(0, want_lo))
            hi.append(min(n, want_hi))
            pad.append((lo[-1] - want_lo, want_hi - hi[-1]))
        block = read_box(src, st, tuple(lo), tuple(hi)).astype(np.float64)
        return gaussian_block(block, tuple(pad), passes, sample).astype(dst.dtype)

    def write_units(batches):
        st = open_store(store_path)
        sink = ChunkSink(st)
        for batch in batches:
            for u in batch.column("id").to_numpy():
                uidx = tuple(int(i) for i in np.unravel_index(int(u), grid))
                o_lo = tuple(i * s for i, s in zip(uidx, unit))
                o_hi = tuple(min(e, a + s) for a, s, e in zip(o_lo, unit, dst.shape))
                out = downsample(st, o_lo, o_hi)
                # the unit's chunks, in C order; slices past the array
                # edge clip to each chunk's valid extent
                for inner in np.ndindex(*per_unit):
                    cidx = tuple(i * n + j for i, n, j in zip(uidx, per_unit, inner))
                    if all(ci < g for ci, g in zip(cidx, dst.chunk_grid)):
                        sink.put(dst, cidx, out[
                            tuple(slice(j * c, (j + 1) * c) for j, c in zip(inner, dst.chunks))
                        ])
        sink.close()
        return iter(())

    store.delete_prefix(dst_path)
    sc = spark.sparkContext
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"pyramid level {dst_path}")
    try:
        n_parts = max(1, min(n_units, sc.defaultParallelism))
        spark.range(0, n_units, 1, n_parts).mapInArrow(write_units, "id long").collect()
    finally:
        sc.setJobDescription(prev_desc)
    store.put_json_many(array_docs(dst, dims))


def to_ngff_zarr(
    store_path: str,
    multiscales: Multiscales,
    version: str = "0.4",
    compressor: Optional[str] = "gzip",
    dtype: Optional[str] = None,
    validate: bool = False,
    chunks_per_shard: Optional[int | tuple | dict[str, int]] = None,
    progress: Optional["NgffProgress"] = None,
    enabled_rfcs: Optional[list[int]] = None,
) -> None:
    """Write the pyramid to an OME-Zarr store (S4). Every level is
    written in order, one at a time, on the calling thread. With a build
    recipe, level i>0 is recomputed *from the stored level i-1* (O3)
    rather than from the level-0 plan, so each job's lineage is one
    downsample step deep, reads the smaller input, and every stored
    level is the downsample of the stored level before it. Without one
    (a read-back pyramid), each level's own frame is copied through.

    ``dtype`` defaults to the base image's logical dtype (reference
    behavior: the store preserves the input array dtype — a uint16
    volume stays ``<u2`` on disk, not a 4x-larger float64).

    ``enabled_rfcs`` gates RFC application exactly as the reference
    (to_ngff_zarr.py:982-1041): with 4 absent (the default) anatomical
    ``orientation`` entries are STRIPPED from the written axes; with 4
    present they are preserved and validated (rfc4_validation.py's
    structural + consistency rules), raising ValueError on invalid
    metadata."""
    meta = multiscales.metadata
    if validate and meta is not None:
        problems = validate_metadata(meta)
        if problems:
            raise ValueError(f"Invalid OME metadata: {problems}")
    zarr_format = 3 if version == "0.5" else 2
    if chunks_per_shard is not None and zarr_format != 3:
        # reference rejects sharding for zarr v2 (to_ngff_zarr.py:1052-1055)
        raise ValueError("chunks_per_shard requires OME-Zarr version 0.5 (Zarr v3)")
    base = multiscales.images[0]
    if dtype is None:
        dtype = base.dtype or "float64"
    spark = base.data.sparkSession
    store = open_store(store_path)
    if meta is not None:
        attrs = group_attributes(meta, version)
        ms_doc = (attrs["ome"] if version == "0.5" else attrs)["multiscales"][0]
    else:
        # metadata-less Multiscales (the dataclass default) is an
        # intended input shape — the dataset loop already guards it;
        # building group attributes from None crashed before anything
        # was written (code-review r17)
        attrs = {"ome": {"version": version}} if version == "0.5" else {}
        ms_doc = {}
    if is_rfc4_enabled(enabled_rfcs):
        problems = validate_rfc4_axes(ms_doc.get("axes", []))
        if problems:
            raise ValueError(f"Invalid RFC-4 orientation metadata: {problems}")
    else:
        for ax in ms_doc.get("axes", []):
            ax.pop("orientation", None)
    store.write_group("", attrs, zarr_format)

    chunks = multiscales.chunks or default_chunks(base.dims)
    # same default as the reference (to_multiscales.py:325-331)
    method = multiscales.method or "ITKWASM_GAUSSIAN"
    op = METHODS[method]
    previous = {d: 1 for d in base.spatial_dims()}
    prev_img = base
    prev_path = None
    # A pyramid built by to_multiscales carries scale_factors+method and
    # is RECOMPUTED level-by-level from the stored previous level (O3).
    # A read-back pyramid (from_ngff_zarr) has no build recipe — its
    # levels are data, not plans, and are copied through verbatim
    # (version conversion C9 depends on not re-deriving them).
    recompute = bool(multiscales.scale_factors) and multiscales.method is not None
    # Gaussian levels >= 1 are one map-only job each over the stored
    # previous level (write_gaussian_level); the other methods stay
    # lazy pixel-table operators written by write_image
    gaussian_kernel = GAUSSIAN_KERNELS.get(method) if recompute else None

    def _level_path(i: int, img: NgffImage) -> str:
        if meta is not None and i < len(meta.datasets):
            return meta.datasets[i].path
        return f"scale{i}/{img.name or 'image'}"

    def _level_cps(img: NgffImage, lvl_chunks: dict[str, int]):
        """Per-level shard geometry: int → same count per spatial dim,
        t/c stay 1; tuple → positional over the image dims (reference
        _configure_sharding, to_ngff_zarr.py:446-489); clamp so a shard
        never exceeds the level's chunk grid."""
        if chunks_per_shard is None:
            return None
        if isinstance(chunks_per_shard, dict):
            as_dict = chunks_per_shard
        elif isinstance(chunks_per_shard, (tuple, list)):
            if len(chunks_per_shard) != len(img.dims):
                raise ValueError(
                    f"chunks_per_shard tuple needs {len(img.dims)} values"
                    f" for dims {img.dims}, got {len(chunks_per_shard)}"
                )
            as_dict = dict(zip(img.dims, chunks_per_shard))
        else:
            as_dict = {
                d: chunks_per_shard for d in img.dims if d in ("z", "y", "x")
            }
        cps = {}
        for d in img.dims:
            grid_d = -(-img.shape[d] // lvl_chunks[d])
            cps[d] = max(1, min(int(as_dict.get(d, 1)), grid_d))
        return cps

    for i, img in enumerate(multiscales.images):
        path = _level_path(i, img)
        lvl_chunks = {d: min(chunks.get(d, 1), max(1, img.shape[d])) for d in img.dims}
        cps = _level_cps(img, lvl_chunks)
        if progress is not None:
            progress.update(f"scale{i}", i, len(multiscales.images))
        if "/" in path:
            # explicit parent group node, as zarr-python creates for the
            # reference (v2 scale{i}/.zgroup, v3 scale{i}/zarr.json)
            store.write_group(path.rsplit("/", 1)[0], {}, zarr_format)
        rel = None
        if i > 0 and recompute:
            level = multiscales.scale_factors[i - 1]
            rel = relative_dim_factors(prev_img.dims, level, previous)
            previous = update_previous_dim_factors(level, base.spatial_dims(), previous)
        if rel is not None and gaussian_kernel is not None:
            write_gaussian_level(
                spark, store_path, prev_path, path, img.shape, img.dims,
                lvl_chunks, rel, gaussian_kernel, dtype, compressor,
                zarr_format, cps,
            )
        else:
            if rel is None:
                df = img.data
            else:
                source = read_image(spark, store_path, prev_path, zarr_format)
                df = op(source, prev_img.shape, rel)
            write_image(
                df,
                store_path,
                path,
                img.shape,
                img.dims,
                lvl_chunks,
                dtype=dtype,
                compressor=compressor,
                zarr_format=zarr_format,
                chunks_per_shard=cps,
            )
        # T3: the write is the materialization point — fire this level's
        # computed callbacks (reference to_ngff_zarr.py:949-951,1170-1174)
        for cb in list(img.computed_callbacks):
            cb()
        prev_img, prev_path = img, path
    if zarr_format == 2:
        store.consolidate_metadata_v2()
    else:
        store.consolidate_metadata_v3()
    if progress is not None:
        progress.done(len(multiscales.images))


def convert_ome_zarr_version(
    spark: SparkSession,
    src_store: str,
    dst_store: str,
    version: str,
    compressor: Optional[str] = "gzip",
    enabled_rfcs: Optional[list[int]] = None,
) -> None:
    """C9: store→store version conversion (0.4 ↔ 0.5) — read the source
    pyramid, retag the metadata version, write the target layout (zarr
    v2 ↔ v3). Pixel data is copied through level-by-level, never
    re-derived (reference _prepare_metadata + roundtrip test
    test_convert_ome_zarr_version.py:22-42).

    A source store carrying RFC-4 anatomical orientation keeps it only
    when ``enabled_rfcs`` includes 4 (the same write-side gating as
    to_ngff_zarr — converting is a write)."""
    ms = from_ngff_zarr(spark, src_store)
    if ms.metadata is not None:
        ms.metadata.version = version
    to_ngff_zarr(
        dst_store, ms, version=version, compressor=compressor,
        enabled_rfcs=enabled_rfcs,
    )


def from_ngff_zarr(
    spark: SparkSession,
    store_path: str,
    validate: bool = False,
    storage_options: Optional[dict] = None,
) -> Multiscales:
    """Read an OME-Zarr store back as a Multiscales of lazy pixel-table
    DataFrames (S1). ``storage_options`` mirror the reference's fsspec
    passthrough (from_ngff_zarr.py:69-80) for s3/gs/az URLs."""
    store = open_store(store_path, storage_options)
    if store.exists("zarr.json"):
        attrs = store.get_json("zarr.json").get("attributes", {})
        zarr_format = 3
    else:
        attrs = store.get_json(".zattrs")
        zarr_format = 2
    if validate:
        # C7 check runs BEFORE parsing (a store that fails it may not
        # even be parseable): structural requirements plus full
        # OME-NGFF JSON-Schema validation when jsonschema is available
        from .validate import sniff_store_attrs, validate_best_effort

        v, _ = sniff_store_attrs(attrs)
        problems = validate_best_effort(attrs, version=v, model="image")
        if problems:
            raise ValueError(f"Invalid OME-NGFF image metadata: {problems}")
    meta, version = parse_group_attributes(attrs)
    if validate:
        problems = validate_metadata(meta)
        if problems:
            raise ValueError(f"Invalid OME metadata: {problems}")
        # RFC-4 read-side validation when orientation metadata is
        # present (reference from_ngff_zarr.py:185-196)
        ms_doc = (attrs.get("ome", attrs)).get("multiscales")
        axes_doc = ms_doc[0].get("axes", []) if ms_doc else []
        if any(isinstance(a, dict) and "orientation" in a for a in axes_doc):
            rfc4_problems = validate_rfc4_axes(
                [a for a in axes_doc if isinstance(a, dict)]
            )
            if rfc4_problems:
                raise ValueError(
                    f"Invalid RFC-4 orientation metadata: {rfc4_problems}"
                )
    dims = [a.name for a in meta.axes]
    images = []
    for ds in meta.datasets:
        arr_meta = store.read_array_meta(ds.path, zarr_format)
        df = read_image(
            spark, store_path, ds.path, zarr_format, dims=dims,
            storage_options=storage_options,
        )
        # defaults for 0.1-0.3 datasets without transforms (reference
        # from_ngff_zarr.py:133-135)
        scale = {d: 1.0 for d in dims}
        translation = {d: 0.0 for d in dims}
        for t in ds.coordinateTransformations:
            if isinstance(t, ScaleTransform):
                scale = dict(zip(dims, t.scale))
            elif isinstance(t, TranslationTransform):
                translation = dict(zip(dims, t.translation))
        images.append(
            NgffImage(
                data=df,
                dims=dims,
                shape=dict(zip(dims, arr_meta.shape)),
                scale=scale,
                translation=translation,
                name=meta.name,
                chunks=dict(zip(dims, arr_meta.chunks)),
                dtype=np.dtype(arr_meta.dtype).name,
            )
        )
    # carry the SOURCE on-disk chunking (level 0): a read→write
    # passthrough then preserves the chunk grid instead of silently
    # rechunking to default_chunks (each level still clamps to its own
    # shape in to_ngff_zarr)
    return Multiscales(
        images=images, metadata=meta, chunks=images[0].chunks if images else None
    )
