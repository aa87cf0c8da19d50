"""Differential test of the store layer's chunk walk against
``tools/minizarr.py`` (an independent spec reader), with no Spark
session.

Random 1-3-D arrays are stored through the engine (v2, v3, and v3 with
``sharding_indexed``; raw or gzip) with random holes: chunks never
written, shards never written, and empty slots inside a written shard.
Then:

- ``read_box`` over random boxes equals the same slice of minizarr's
  array;
- the ``ome_zarr`` DataSource reader in pixel mode, after
  ``pushFilters`` of that box and reading every partition, returns
  minizarr's value for every voxel, covers the whole box, and emits at
  most one chunk per RecordBatch;
- chunk mode returns exactly the stored chunks, with their values.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

from ngff_zarr_spark.sources.ome_zarr import PIXEL_DIMS, OmeZarrReader
from ngff_zarr_spark.sources.zarr_store import ZarrArrayMeta, ZarrStore, read_box
from tools.minizarr import read_v2_array, read_v3_array


def _store_with_holes(root, rng, ndim, layout, compressor, dtype):
    """Write a random array with holes; return (meta, stored chunk
    indices, the full logical array the engine wrote)."""
    shape = tuple(int(s) for s in rng.integers(1, 10, size=ndim))
    chunks = tuple(int(rng.integers(1, s + 1)) for s in shape)
    cps = (
        tuple(int(n) for n in rng.integers(1, 4, size=ndim))
        if layout == "v3_sharded"
        else None
    )
    fill = int(rng.choice([0, 7]))
    meta = ZarrArrayMeta(
        path="a", shape=shape, chunks=chunks, dtype=np.dtype(dtype),
        compressor=compressor, fill_value=fill,
        zarr_format=2 if layout == "v2" else 3, chunks_per_shard=cps,
    )
    if np.dtype(dtype).kind == "f":
        data = rng.normal(size=shape).astype(dtype)
    else:
        data = rng.integers(0, 60000, size=shape).astype(dtype)
    store = ZarrStore(str(root))
    store.write_array_meta(meta)
    expect = np.full(shape, fill, dtype=dtype)
    stored = set()

    def block(cidx):
        o, e = meta.chunk_origin(cidx), meta.chunk_extent(cidx)
        return tuple(slice(a, a + b) for a, b in zip(o, e))

    if cps is None:
        for cidx in np.ndindex(*meta.chunk_grid):
            if rng.random() < 0.3:
                continue  # chunk never written
            store.write_chunk(meta, cidx, data[block(cidx)])
            stored.add(cidx)
    else:
        for sidx in np.ndindex(*meta.shard_grid):
            if rng.random() < 0.25:
                continue  # shard never written
            members = {}
            for inner in np.ndindex(*cps):
                cidx = tuple(s * n + i for s, n, i in zip(sidx, cps, inner))
                if any(c >= g for c, g in zip(cidx, meta.chunk_grid)):
                    continue
                if rng.random() < 0.3:
                    continue  # empty slot inside the shard
                members[inner] = data[block(cidx)]
                stored.add(cidx)
            if members:
                store.write_shard(meta, sidx, members)
    for cidx in stored:
        expect[block(cidx)] = data[block(cidx)]
    return meta, stored, expect


def _random_box(rng, shape):
    lo, hi = [], []
    for s in shape:
        a, b = sorted(int(v) for v in rng.integers(0, s + 1, size=2))
        lo.append(a)
        hi.append(b)
    return tuple(lo), tuple(hi)


def _reader(root, meta, mode="pixel"):
    return OmeZarrReader(
        {
            "path": str(root),
            "array_path": meta.path,
            "zarr_format": str(meta.zarr_format),
            "mode": mode,
        }
    )


@settings(max_examples=60, deadline=None)
@given(
    ndim=st.integers(1, 3),
    layout=st.sampled_from(["v2", "v3", "v3_sharded"]),
    compressor=st.sampled_from([None, "gzip"]),
    dtype=st.sampled_from(["uint16", "float64"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_chunk_walk_matches_minizarr(tmp_path_factory, ndim, layout, compressor, dtype, seed):
    rng = np.random.default_rng(seed)
    root = tmp_path_factory.mktemp("walk")
    meta, stored, expect = _store_with_holes(root, rng, ndim, layout, compressor, dtype)
    ref = (read_v2_array if meta.zarr_format == 2 else read_v3_array)(root, "a")
    np.testing.assert_array_equal(ref, expect)
    store = ZarrStore(str(root))
    meta = store.read_array_meta("a", meta.zarr_format)

    for _ in range(3):
        lo, hi = _random_box(rng, meta.shape)
        box = tuple(slice(a, b) for a, b in zip(lo, hi))
        np.testing.assert_array_equal(read_box(meta, store, lo, hi), ref[box])

    # pixel mode: pushFilters of one box, then every partition
    lo, hi = _random_box(rng, meta.shape)
    r = _reader(root, meta)
    axes = r.axes
    r.pushFilters(
        [GreaterThanOrEqual((ax,), a) for ax, a in zip(axes, lo)]
        + [LessThan((ax,), b) for ax, b in zip(axes, hi)]
    )
    seen = np.zeros(meta.shape, dtype=bool)
    for part in r.partitions():
        for batch in r.read(part):
            assert batch.num_rows <= int(np.prod(meta.chunks))  # one chunk per batch
            coords = tuple(batch.column(ax).to_numpy() for ax in axes)
            for d in PIXEL_DIMS:
                if d not in axes:
                    assert not batch.column(d).to_numpy().any()
            np.testing.assert_array_equal(
                batch.column("v").to_numpy(), ref[coords].astype(np.float64)
            )
            seen[coords] = True
    assert seen[tuple(slice(a, b) for a, b in zip(lo, hi))].all()

    # chunk mode: exactly the stored chunks, with their values
    r = _reader(root, meta, mode="chunk")
    got = set()
    for part in r.partitions():
        for batch in r.read(part):
            row = batch.to_pylist()[0]
            cidx = tuple(row[f"ck_{ax}"] for ax in axes)
            extent = tuple(row[f"ex_{ax}"] for ax in axes)
            assert cidx not in got
            got.add(cidx)
            assert extent == meta.chunk_extent(cidx)
            arr = np.frombuffer(row["payload"], dtype=meta.dtype).reshape(extent)
            o = meta.chunk_origin(cidx)
            np.testing.assert_array_equal(
                arr, ref[tuple(slice(a, a + e) for a, e in zip(o, extent))]
            )
    assert got == stored
