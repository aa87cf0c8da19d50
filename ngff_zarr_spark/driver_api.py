"""Driver API (the reference's MCP tool surface as plain functions).

The reference ships an MCP server exposing five verbs over the engine
(/root/reference mcp/ngff_zarr_mcp/server.py:33-212): convert / info /
read / validate / optimize. This module is that driver API re-expressed
as synchronous Python functions over the Spark engine — the layer an
MCP (or REST, or notebook) wrapper binds to. No MCP dependency: the
protocol adapter is transport, this is the capability.

Every verb returns a small dataclass (mirroring the reference's
pydantic models, mcp/ngff_zarr_mcp/models.py) rather than raising, so a
tool harness can surface failures as structured results.

All heavy work stays distributed: convert/optimize run the engine's
normal ingest → pyramid → store-write jobs; info/validate are
driver-side metadata reads (a few KB of attrs), never pixel scans.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession

__all__ = [
    "ConversionResult",
    "StoreInfo",
    "ValidationResult",
    "convert_images_to_ome_zarr",
    "get_ome_zarr_info",
    "read_ome_zarr_store",
    "validate_ome_zarr_store",
    "optimize_ome_zarr_store",
]


@dataclass
class ConversionResult:
    success: bool
    output_path: str
    store_info: dict = field(default_factory=dict)
    error: Optional[str] = None


@dataclass
class StoreInfo:
    path: str
    version: str
    dims: list[str]
    dtype: str
    n_scales: int
    scales: list[dict]  # per level: {path, shape, chunks}
    size_bytes: Optional[int] = None


@dataclass
class ValidationResult:
    valid: bool
    version: Optional[str] = None
    errors: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)


def convert_images_to_ome_zarr(
    spark: SparkSession,
    input_paths: list[str],
    output_path: str,
    ome_zarr_version: str = "0.4",
    dims: Optional[list[str]] = None,
    scale: Optional[dict[str, float]] = None,
    translation: Optional[dict[str, float]] = None,
    units: Optional[dict[str, str]] = None,
    name: Optional[str] = None,
    chunks: Optional[dict[str, int] | list[int]] = None,
    chunks_per_shard: Optional[int | list[int]] = None,
    method: str = "ITKWASM_GAUSSIAN",
    scale_factors: Optional[list] = None,
    compression_codec: Optional[str] = "gzip",
    input_backend: Optional[str] = None,
    output_scale: int = 0,
) -> ConversionResult:
    """Convert images to an OME-Zarr store (reference
    convert_images_to_ome_zarr, server.py:34-125): auto-detect the
    ingest backend, apply metadata overrides, build the pyramid, write
    the store — all as the engine's distributed jobs."""
    from .ingest.cli import cli_input_to_ngff_image
    from .ingest.detect import ConversionBackend, detect_cli_io_backend
    from .ome_zarr_api import default_chunks, to_multiscales, to_ngff_zarr
    from .plans.planner import pyramid_scale_factors

    if ome_zarr_version not in ("0.4", "0.5"):
        return ConversionResult(
            success=False, output_path="",
            error=f"Invalid OME-Zarr version: {ome_zarr_version}. Must be '0.4' or '0.5'",
        )
    try:
        backend = (
            ConversionBackend(input_backend)
            if input_backend
            else detect_cli_io_backend(input_paths)
        )
        img = cli_input_to_ngff_image(spark, backend, input_paths, output_scale)
        if dims:
            # renames pixel COLUMNS too — metadata-only remapping would
            # silently collapse planes (every consumer selects by name)
            from .model import rename_image_dims

            rename_image_dims(img, list(dims))
        if scale:
            img.scale.update(scale)
        if translation:
            img.translation.update(translation)
        if units:
            img.axes_units = {**(img.axes_units or {}), **units}
        if name:
            img.name = name
        if isinstance(chunks, (list, tuple)):
            chunks = dict(zip(img.dims, chunks))
        if scale_factors is None:
            # plan for the chunks the levels will be written with, as
            # to_multiscales' own integer path does
            scale_factors = pyramid_scale_factors(
                img.shape, out_chunks={**default_chunks(img.dims), **(chunks or {})}
            )
        if isinstance(chunks_per_shard, (list, tuple)):
            chunks_per_shard = dict(zip(img.dims, chunks_per_shard))
        ms = to_multiscales(img, scale_factors=scale_factors, method=method, chunks=chunks)
        to_ngff_zarr(
            output_path, ms, version=ome_zarr_version,
            compressor=compression_codec, chunks_per_shard=chunks_per_shard,
        )
        info = get_ome_zarr_info(spark, output_path)
        return ConversionResult(
            success=True, output_path=output_path, store_info=info.__dict__
        )
    except Exception as exc:  # noqa: BLE001 - structured tool result
        return ConversionResult(
            success=False, output_path=output_path,
            error=f"{type(exc).__name__}: {exc}",
        )


def get_ome_zarr_info(spark: SparkSession, store_path: str) -> StoreInfo:
    """Inspect a store without reading pixels (reference
    get_ome_zarr_info → inspect_ome_zarr): version, dims, per-level
    shapes/chunks, dtype, and on-disk size when the store is local."""
    from .ome_zarr_api import parse_group_attributes
    from .sources.zarr_store import open_store

    store = open_store(store_path)
    if store.exists("zarr.json"):
        attrs = store.get_json("zarr.json").get("attributes", {})
        zarr_format = 3
    else:
        attrs = store.get_json(".zattrs")
        zarr_format = 2
    meta, version = parse_group_attributes(attrs)
    dims = [a.name for a in meta.axes]
    scales = []
    dtype = ""
    for ds in meta.datasets:
        am = store.read_array_meta(ds.path, zarr_format)
        dtype = am.dtype.name
        scales.append(
            {"path": ds.path, "shape": list(am.shape), "chunks": list(am.chunks)}
        )
    size = None
    try:
        import os

        if os.path.isdir(store_path):
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(store_path)
                for f in fs
            )
    except OSError:
        pass
    return StoreInfo(
        path=store_path, version=version, dims=dims, dtype=dtype,
        n_scales=len(meta.datasets), scales=scales, size_bytes=size,
    )


def read_ome_zarr_store(
    spark: SparkSession, store_path: str, validate: bool = False
) -> ConversionResult:
    """Open a store as the engine's Multiscales and report what was
    found (reference read_ome_zarr_store → read_ngff_zarr). Pixels stay
    lazy — this confirms readability and surfaces metadata, it does not
    scan data."""
    from .ome_zarr_api import from_ngff_zarr

    try:
        ms = from_ngff_zarr(spark, store_path, validate=validate)
        info = get_ome_zarr_info(spark, store_path)
        info_d = dict(info.__dict__)
        info_d["n_images"] = len(ms.images)
        return ConversionResult(success=True, output_path=store_path, store_info=info_d)
    except Exception as exc:  # noqa: BLE001
        return ConversionResult(
            success=False, output_path=store_path,
            error=f"{type(exc).__name__}: {exc}",
        )


def validate_ome_zarr_store(store_path: str) -> ValidationResult:
    """Validate store structure + metadata (reference
    validate_ome_zarr_store → validate_ome_zarr): structural checks
    always, full OME-NGFF JSON-Schema validation when jsonschema is
    available (validate.py)."""
    from .sources.zarr_store import open_store
    from .validate import validate_best_effort

    try:
        from .validate import sniff_store_attrs

        store = open_store(store_path)
        if store.exists("zarr.json"):
            attrs = store.get_json("zarr.json").get("attributes", {})
        elif store.exists(".zattrs"):
            attrs = store.get_json(".zattrs")
        else:
            return ValidationResult(
                valid=False, errors=["no zarr.json or .zattrs at store root"]
            )
        version, model = sniff_store_attrs(attrs)
        errors = validate_best_effort(attrs, version=version, model=model)
        return ValidationResult(valid=not errors, version=version, errors=errors)
    except Exception as exc:  # noqa: BLE001
        return ValidationResult(valid=False, errors=[f"{type(exc).__name__}: {exc}"])


def optimize_ome_zarr_store(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    compression_codec: Optional[str] = None,
    chunks: Optional[dict[str, int] | list[int]] = None,
    chunks_per_shard: Optional[int | list[int]] = None,
) -> ConversionResult:
    """Rewrite a store with new compression / chunking (reference
    optimize_ome_zarr_store → optimize_zarr_store): read the pyramid
    lazily, write it back through the distributed chunk writer with the
    new codec/chunk grid. Levels are copied (not recomputed) — the
    pyramid's pixel values are preserved exactly.

    ``compression_codec=None`` means "keep the source codec": the
    level-0 array metadata's compressor is read and reused, so a
    rechunk-only optimize never silently recompresses (e.g. zstd →
    gzip)."""
    from .ome_zarr_api import from_ngff_zarr, to_ngff_zarr
    from .sources.zarr_store import open_store

    try:
        ms = from_ngff_zarr(spark, input_path)
        version = "0.5" if (ms.metadata and ms.metadata.version == "0.5") else "0.4"
        if compression_codec is None:
            src = open_store(input_path)
            src_format = 3 if src.exists("zarr.json") else 2
            # may legitimately still be None (uncompressed source):
            # preserved as-is rather than defaulted to gzip
            compression_codec = src.read_array_meta(
                ms.metadata.datasets[0].path, src_format
            ).compressor
        if isinstance(chunks, (list, tuple)):
            chunks = dict(zip(ms.images[0].dims, chunks))
        if chunks:
            ms.chunks = chunks
        if isinstance(chunks_per_shard, (list, tuple)):
            chunks_per_shard = dict(zip(ms.images[0].dims, chunks_per_shard))
        if chunks_per_shard is not None:
            version = "0.5"  # sharding requires Zarr v3
        to_ngff_zarr(
            output_path, ms, version=version,
            compressor=compression_codec,
            chunks_per_shard=chunks_per_shard,
        )
        info = get_ome_zarr_info(spark, output_path)
        return ConversionResult(
            success=True, output_path=output_path, store_info=info.__dict__
        )
    except Exception as exc:  # noqa: BLE001
        return ConversionResult(
            success=False, output_path=output_path,
            error=f"{type(exc).__name__}: {exc}",
        )
