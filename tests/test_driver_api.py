"""Driver API (driver_api.py) — the reference's MCP tool surface
(convert / info / read / validate / optimize) as plain functions over
the engine. End-to-end: convert a TIFF, inspect, read, validate, and
optimize (recompress + rechunk) the result."""

import numpy as np
import pytest

from ngff_zarr_spark.driver_api import (
    convert_images_to_ome_zarr,
    get_ome_zarr_info,
    optimize_ome_zarr_store,
    read_ome_zarr_store,
    validate_ome_zarr_store,
)
from ngff_zarr_spark.ingest.tiff import tiff_encode


@pytest.fixture()
def tiff_file(tmp_path):
    arr = (np.arange(48 * 40, dtype=np.uint16) % 251).reshape(48, 40)
    p = tmp_path / "img.tif"
    p.write_bytes(tiff_encode(arr))
    return p, arr


def test_convert_info_read_validate(spark, tmp_path, tiff_file):
    p, arr = tiff_file
    out = str(tmp_path / "api.ome.zarr")
    res = convert_images_to_ome_zarr(
        spark, [str(p)], out,
        name="api-test", scale={"y": 2.0, "x": 2.0},
        chunks={"y": 16, "x": 16}, method="ITKWASM_BIN_SHRINK",
        scale_factors=[{"y": 2, "x": 2}],
    )
    assert res.success, res.error
    assert res.store_info["n_scales"] == 2

    info = get_ome_zarr_info(spark, out)
    assert info.version == "0.4"
    assert info.dims == ["y", "x"]
    assert info.dtype == "uint16"
    assert info.scales[0]["shape"] == [48, 40]
    assert info.scales[0]["chunks"] == [16, 16]
    assert info.size_bytes and info.size_bytes > 0

    rd = read_ome_zarr_store(spark, out, validate=True)
    assert rd.success, rd.error
    assert rd.store_info["n_images"] == 2

    v = validate_ome_zarr_store(out)
    assert v.valid, v.errors
    assert v.version == "0.4"


def test_convert_plans_levels_for_the_requested_chunks(spark, tmp_path):
    from ngff_zarr_spark.ingest import cli_input_to_ngff_image, detect_cli_io_backend
    from ngff_zarr_spark.ome_zarr_api import to_multiscales

    arr = (np.arange(300 * 280, dtype=np.uint16) % 997).reshape(300, 280)
    p = tmp_path / "big.tif"
    p.write_bytes(tiff_encode(arr))
    chunks = {"y": 64, "x": 64}
    res = convert_images_to_ome_zarr(
        spark, [str(p)], str(tmp_path / "planned.ome.zarr"), chunks=[64, 64]
    )
    assert res.success, res.error
    img = cli_input_to_ngff_image(spark, detect_cli_io_backend([str(p)]), [str(p)])
    want = len(to_multiscales(img, chunks=chunks).images)
    assert want > 1
    assert res.store_info["n_scales"] == want


def test_validate_reports_broken_store(tmp_path):
    bad = tmp_path / "bad.zarr"
    bad.mkdir()
    (bad / ".zattrs").write_text('{"multiscales": [{"version": "0.4"}]}')
    v = validate_ome_zarr_store(str(bad))
    assert not v.valid
    assert v.errors  # schema/structural problems reported, not raised


def test_optimize_recompress_rechunk(spark, tmp_path, tiff_file):
    p, arr = tiff_file
    src = str(tmp_path / "src.ome.zarr")
    assert convert_images_to_ome_zarr(
        spark, [str(p)], src, chunks={"y": 16, "x": 16},
        method="ITKWASM_BIN_SHRINK", scale_factors=[{"y": 2, "x": 2}],
    ).success

    dst = str(tmp_path / "opt.ome.zarr")
    res = optimize_ome_zarr_store(
        spark, src, dst, compression_codec="zstd", chunks={"y": 32, "x": 32}
    )
    assert res.success, res.error
    info = get_ome_zarr_info(spark, dst)
    assert info.scales[0]["chunks"] == [32, 32]

    # pixel values preserved exactly through the rewrite
    from ngff_zarr_spark.ome_zarr_api import read_image

    df = read_image(spark, dst, info.scales[0]["path"])
    got = {(r.y, r.x): r.v for r in df.collect()}
    assert got[(0, 0)] == float(arr[0, 0])
    assert got[(47, 39)] == float(arr[47, 39])


def test_convert_rejects_bad_version(spark, tmp_path, tiff_file):
    p, _ = tiff_file
    res = convert_images_to_ome_zarr(
        spark, [str(p)], str(tmp_path / "x.zarr"), ome_zarr_version="9.9"
    )
    assert not res.success
    assert "Invalid OME-Zarr version" in (res.error or "")


def test_mcp_server_import_gated():
    """mcp_server is a thin adapter: without the mcp package it raises
    a clear ImportError pointing at driver_api; the catalog constants
    cover the engine's real surface."""
    import ngff_zarr_spark.mcp_server as srv

    assert "ITKWASM_BIN_SHRINK" in srv.DOWNSAMPLING_METHODS
    assert "0.5" in srv.SUPPORTED_OUTPUT_VERSIONS
    try:
        import mcp  # noqa: F401

        has_mcp = True
    except ImportError:
        has_mcp = False
    if not has_mcp:
        with pytest.raises(ImportError, match="driver_api"):
            srv.build_server()


def test_convert_dims_override_renames_pixel_columns(spark, tmp_path, tiff_file):
    """Code-review r6 regression: a dims override must rename the pixel
    COLUMNS, not just metadata — a metadata-only remap silently
    collapses planes (every consumer selects coordinates by name)."""
    p, arr = tiff_file
    out = str(tmp_path / "dims.ome.zarr")
    res = convert_images_to_ome_zarr(
        spark, [str(p)], out, dims=["c", "x"],
        method="ITKWASM_BIN_SHRINK", scale_factors=[],
    )
    assert res.success, res.error
    from ngff_zarr_spark.ome_zarr_api import read_image

    info = get_ome_zarr_info(spark, out)
    assert info.dims == ["c", "x"]
    assert info.scales[0]["shape"] == [48, 40]
    df = read_image(spark, out, info.scales[0]["path"], dims=["c", "x"])
    got = {(r.c, r.x): r.v for r in df.collect()}
    assert got[(0, 0)] == float(arr[0, 0])
    assert got[(47, 39)] == float(arr[47, 39])  # planes NOT collapsed


def test_validate_plate_uses_plate_version(tmp_path):
    """Code-review r6 regression: plate/well stores carry their version
    inside the model payload; a spec-valid 0.2 plate (no
    rowIndex/columnIndex) must not be judged against the 0.4 schema."""
    root = tmp_path / "plate02.zarr"
    root.mkdir()
    import json

    (root / ".zattrs").write_text(json.dumps({
        "plate": {
            "version": "0.2",
            "columns": [{"name": "1"}],
            "rows": [{"name": "A"}],
            "wells": [{"path": "A/1"}],
        }
    }))
    v = validate_ome_zarr_store(str(root))
    assert v.version == "0.2"
    # the 0.2 schema requires only path on wells; structural checks are
    # version-agnostic about indices only when absent from the spec
    assert not any("rowIndex" in e for e in v.errors), v.errors
