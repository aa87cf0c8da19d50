"""OME-Zarr store layer + DataSource: codec roundtrips, store layout,
pyramid write/read, chunk pruning, metadata versioning.

Mirrors the reference's golden-store strategy (SURVEY §5.1): byte-level
chunk checks and structural metadata checks, with numpy as the
independent decoder."""

import gzip
import json

import numpy as np
import pytest

from ngff_zarr_spark.fixtures import ImageSpec, pixel_df
from ngff_zarr_spark.metadata import (
    convert_version,
    group_attributes,
    parse_group_attributes,
    validate_metadata,
)
from ngff_zarr_spark.model import NgffImage
from ngff_zarr_spark.sources.zarr_store import (
    ZarrArrayMeta,
    ZarrStore,
    decode_chunk,
    encode_chunk,
)


def test_chunk_codec_roundtrip():
    rng = np.random.default_rng(12345)
    arr = rng.integers(0, 255, size=(4, 8, 8)).astype(np.uint16)
    for comp in (None, "gzip", "zlib"):
        data = encode_chunk(arr, comp)
        back = decode_chunk(data, np.dtype("uint16"), (4, 8, 8), comp)
        assert np.array_equal(arr, back)


def test_store_chunk_padding(tmp_path):
    """Edge chunks are stored full-size (fill-padded) and clipped on read."""
    store = ZarrStore(str(tmp_path))
    meta = ZarrArrayMeta(path="a", shape=(5,), chunks=(4,), dtype=np.dtype("float64"))
    store.write_chunk(meta, (1,), np.array([7.0]))
    raw = store.get("a/1")
    assert len(raw) == 4 * 8  # full chunk, uncompressed float64
    back = store.read_chunk(meta, (1,))
    assert back.shape == (1,) and back[0] == 7.0


def test_v2_zarray_layout(tmp_path):
    store = ZarrStore(str(tmp_path))
    meta = ZarrArrayMeta(
        path="scale0/image", shape=(16, 32), chunks=(8, 16),
        dtype=np.dtype("uint16"), compressor="gzip",
    )
    store.write_array_meta(meta, attributes={"_ARRAY_DIMENSIONS": ["y", "x"]})
    doc = json.loads((tmp_path / "scale0/image/.zarray").read_text())
    assert doc["zarr_format"] == 2
    assert doc["dtype"] == "<u2"
    assert doc["compressor"]["id"] == "gzip"
    assert doc["dimension_separator"] == "/"
    back = store.read_array_meta("scale0/image", 2)
    assert back.shape == (16, 32) and back.dtype == np.dtype("uint16")


def test_v3_zarr_json_layout(tmp_path):
    store = ZarrStore(str(tmp_path))
    meta = ZarrArrayMeta(
        path="scale0/image", shape=(16, 32), chunks=(8, 16),
        dtype=np.dtype("float32"), compressor="gzip", zarr_format=3,
        dimension_names=["y", "x"],
    )
    store.write_array_meta(meta)
    doc = json.loads((tmp_path / "scale0/image/zarr.json").read_text())
    assert doc["node_type"] == "array"
    assert doc["data_type"] == "float32"
    assert doc["chunk_grid"]["configuration"]["chunk_shape"] == [8, 16]
    assert [c["name"] for c in doc["codecs"]] == ["bytes", "gzip"]
    assert doc["dimension_names"] == ["y", "x"]
    assert meta.chunk_key((1, 0)) == "scale0/image/c/1/0"


def test_pyramid_write_read_roundtrip(spark, tmp_path):
    from ngff_zarr_spark.ome_zarr_api import from_ngff_zarr, to_multiscales, to_ngff_zarr

    spec = ImageSpec("rt", z=8, y=17, x=19)
    img = NgffImage(
        data=pixel_df(spark, spec).select("t", "c", "z", "y", "x", "v"),
        dims=["z", "y", "x"],
        shape={"z": 8, "y": 17, "x": 19},
        scale={"z": 2.0, "y": 1.0, "x": 1.0},
        translation={"z": 10.0, "y": 0.0, "x": 0.0},
    )
    ms = to_multiscales(img, scale_factors=[{"z": 2, "y": 2, "x": 2}],
                        chunks={"z": 4, "y": 8, "x": 8})
    store = str(tmp_path / "rt.ome.zarr")
    to_ngff_zarr(store, ms, version="0.4")

    back = from_ngff_zarr(spark, store)
    assert len(back.images) == 2
    assert back.images[1].shape == {"z": 4, "y": 8, "x": 9}
    # scale/translation propagation survived serialization
    assert back.images[1].scale["z"] == 4.0
    assert back.images[1].translation["z"] == 11.0  # 10 + 0.5*(2-1)*2
    orig = {(r.z, r.y, r.x): r.v for r in img.data.collect()}
    got = {(r.z, r.y, r.x): r.v for r in back.images[0].data.collect()}
    assert orig == got
    # consolidated metadata exists and indexes every doc (S10)
    zmeta = json.loads((tmp_path / "rt.ome.zarr/.zmetadata").read_text())
    assert ".zattrs" in zmeta["metadata"]
    assert "scale1/image/.zarray" in zmeta["metadata"]


def test_chunk_pruning_counts(spark, tmp_path):
    """O11: comparison filters prune non-intersecting chunk partitions."""
    from ngff_zarr_spark.ome_zarr_api import write_image
    from ngff_zarr_spark.sources.ome_zarr import OmeZarrReader
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    spec = ImageSpec("pr", z=16, y=32, x=32)
    store = str(tmp_path / "pr.ome.zarr")
    write_image(
        pixel_df(spark, spec).select("t", "c", "z", "y", "x", "v"),
        store, "scale0/image",
        {"z": 16, "y": 32, "x": 32}, ["z", "y", "x"],
        {"z": 8, "y": 16, "x": 16},
    )
    r = OmeZarrReader({"path": store, "array_path": "scale0/image"})
    assert len(r.partitions()) == 2 * 2 * 2
    r.pushFilters([LessThan(("z",), 8), GreaterThanOrEqual(("x",), 16)])
    assert len(r.partitions()) == 1 * 2 * 1
    # pruned scan still returns exactly the filtered rows
    from ngff_zarr_spark.ome_zarr_api import read_image

    got = read_image(spark, store, "scale0/image").filter("z < 8 and x >= 16")
    assert got.count() == 8 * 32 * 16


def test_unknown_read_mode_is_rejected(tmp_path):
    """``mode`` is ``pixel`` or ``chunk``; a typo such as ``chunks``
    must fail instead of silently reading the pixel table."""
    from ngff_zarr_spark.sources.ome_zarr import OmeZarrDataSource, OmeZarrReader

    st = ZarrStore(str(tmp_path))
    meta = ZarrArrayMeta(
        path="scale0/image", shape=(4, 4), chunks=(2, 2), dtype=np.dtype("uint8")
    )
    st.write_array_meta(meta)
    opts = {"path": str(tmp_path), "array_path": "scale0/image"}
    for mode in ("pixel", "chunk"):
        OmeZarrReader({**opts, "mode": mode})
    with pytest.raises(ValueError, match="chunks"):
        OmeZarrReader({**opts, "mode": "chunks"})
    with pytest.raises(ValueError, match="chunks"):
        OmeZarrDataSource({**opts, "mode": "chunks"}).schema()


def test_metadata_version_conversion():
    from ngff_zarr_spark.model import Axis, Dataset, Metadata, ScaleTransform, TranslationTransform

    meta = Metadata(
        axes=[Axis("z", "space", unit="micrometer"), Axis("y", "space"), Axis("x", "space")],
        datasets=[
            Dataset(
                path="scale0/image",
                coordinateTransformations=[
                    ScaleTransform([1.0, 1.0, 1.0]),
                    TranslationTransform([0.0, 0.0, 0.0]),
                ],
            )
        ],
        name="m",
    )
    assert validate_metadata(meta) == []
    a04 = group_attributes(meta, "0.4")
    assert a04["multiscales"][0]["version"] == "0.4"
    a05 = group_attributes(convert_version(meta, "0.5"), "0.5")
    assert a05["ome"]["version"] == "0.5"
    # parse both back; round-trips structurally
    m04, v04 = parse_group_attributes(a04)
    m05, v05 = parse_group_attributes(a05)
    assert v04 == "0.4" and v05 == "0.5"
    assert [a.name for a in m04.axes] == ["z", "y", "x"]
    assert m05.datasets[0].path == "scale0/image"


def test_validate_catches_bad_metadata():
    from ngff_zarr_spark.model import Axis, Dataset, Metadata, TranslationTransform

    meta = Metadata(
        axes=[Axis("z", "space"), Axis("y", "space")],
        datasets=[
            Dataset(
                path="s0",
                coordinateTransformations=[TranslationTransform([0.0, 0.0])],
            )
        ],
    )
    problems = validate_metadata(meta)
    assert any("first transform must be scale" in p for p in problems)


def test_dtype_uint16_store_bytes(spark, tmp_path):
    """Dtype fidelity: logical uint16 → stored .zarray dtype '<u2',
    2-byte voxels on disk, exact value round-trip (SURVEY §1.2;
    reference preserves the input array dtype at write time)."""
    import json

    from pyspark.sql import functions as F

    from ngff_zarr_spark.fixtures import ImageSpec, pixel_df
    from ngff_zarr_spark.model import NgffImage
    from ngff_zarr_spark.ome_zarr_api import from_ngff_zarr, to_multiscales, to_ngff_zarr

    spec = ImageSpec("u16", z=4, y=8, x=8)
    store = str(tmp_path / "u16.ome.zarr")
    img = NgffImage(
        data=pixel_df(spark, spec).select("t", "c", "z", "y", "x", "v"),
        dims=["z", "y", "x"],
        shape={"z": 4, "y": 8, "x": 8},
        scale={"z": 1.0, "y": 1.0, "x": 1.0},
        translation={"z": 0.0, "y": 0.0, "x": 0.0},
        dtype="uint16",
    )
    ms = to_multiscales(img, scale_factors=[], chunks={"z": 4, "y": 8, "x": 8})
    to_ngff_zarr(store, ms, version="0.4", compressor=None)
    zarray = json.loads((tmp_path / "u16.ome.zarr/scale0/image/.zarray").read_text())
    assert zarray["dtype"] == "<u2"
    chunk = (tmp_path / "u16.ome.zarr/scale0/image/0/0/0").read_bytes()
    assert len(chunk) == 4 * 8 * 8 * 2  # 2 bytes per voxel, raw
    # read back: values exact, logical dtype recovered
    back = from_ngff_zarr(spark, store)
    assert back.images[0].dtype == "uint16"
    n_bad = (
        back.images[0].data.alias("a")
        .join(img.data.alias("b"), ["t", "c", "z", "y", "x"])
        .filter(F.col("a.v") != F.col("b.v"))
        .count()
    )
    assert n_bad == 0


def test_chunk_table_and_copy_array(spark, tmp_path):
    """Chunk-table scan + distributed byte copy: copied store read back
    pixel-identical; chunk rows carry clipped extents for edge chunks."""
    import numpy as np
    from pyspark.sql import functions as F

    from ngff_zarr_spark.fixtures import ImageSpec, pixel_df
    from ngff_zarr_spark.model import NgffImage
    from ngff_zarr_spark.ome_zarr_api import (
        copy_array,
        read_chunk_table,
        read_image,
        to_multiscales,
        to_ngff_zarr,
    )

    spec = ImageSpec("ct", z=5, y=10, x=9)  # odd extents -> edge chunks
    src = str(tmp_path / "src.ome.zarr")
    dst = str(tmp_path / "dst.ome.zarr")
    img = NgffImage(
        data=pixel_df(spark, spec).select("t", "c", "z", "y", "x", "v"),
        dims=["z", "y", "x"],
        shape={"z": 5, "y": 10, "x": 9},
        scale={"z": 1.0, "y": 1.0, "x": 1.0},
        translation={"z": 0.0, "y": 0.0, "x": 0.0},
    )
    ms = to_multiscales(img, scale_factors=[], chunks={"z": 4, "y": 4, "x": 4})
    to_ngff_zarr(src, ms, version="0.4")

    ct = read_chunk_table(spark, src, "scale0/image")
    rows = {(r.ck_z, r.ck_y, r.ck_x): r for r in ct.collect()}
    assert len(rows) == 2 * 3 * 3
    edge = rows[(1, 2, 2)]
    assert (edge.ex_z, edge.ex_y, edge.ex_x) == (1, 2, 1)
    assert edge.nbytes == 1 * 2 * 1 * 8

    n = copy_array(spark, src, dst, "scale0/image")
    assert n == 18
    a = read_image(spark, src, "scale0/image").withColumnRenamed("v", "va")
    b = read_image(spark, dst, "scale0/image").withColumnRenamed("v", "vb")
    j = a.join(b, ["t", "c", "z", "y", "x"])
    assert j.count() == 5 * 10 * 9
    assert j.filter(F.col("va") != F.col("vb")).count() == 0


def test_progress_and_computed_callbacks(spark, tmp_path):
    """T2/T3: per-level progress events fire in order; computed
    callbacks fire after each level's write materializes."""
    from ngff_zarr_spark.fixtures import ImageSpec, pixel_df
    from ngff_zarr_spark.model import NgffImage
    from ngff_zarr_spark.ome_zarr_api import NgffProgress, to_multiscales, to_ngff_zarr

    spec = ImageSpec("cb", z=4, y=8, x=8)
    fired = []
    img = NgffImage(
        data=pixel_df(spark, spec).select("t", "c", "z", "y", "x", "v"),
        dims=["z", "y", "x"],
        shape={"z": 4, "y": 8, "x": 8},
        scale={"z": 1.0, "y": 1.0, "x": 1.0},
        translation={"z": 0.0, "y": 0.0, "x": 0.0},
        computed_callbacks=[lambda: fired.append("level0")],
    )
    ms = to_multiscales(
        img, scale_factors=[{"z": 2, "y": 2, "x": 2}],
        method="ITKWASM_BIN_SHRINK", chunks={"z": 4, "y": 8, "x": 8},
    )
    ms.images[1].computed_callbacks.append(lambda: fired.append("level1"))
    progress = NgffProgress()
    to_ngff_zarr(str(tmp_path / "cb.ome.zarr"), ms, progress=progress)
    assert fired == ["level0", "level1"]
    assert progress.events == [
        ("update", "scale0", 0, 2),
        ("update", "scale1", 1, 2),
        ("done", 2),
    ]


class _CountingStore:
    """Delegating wrapper that counts byte-level get() calls."""

    def __init__(self, inner):
        self._inner = inner
        self.gets = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def get(self, key):
        self.gets.append(key)
        return self._inner.get(key)

    # re-expose StoreBase helpers so they run against THIS get()
    def get_json(self, key):
        from ngff_zarr_spark.sources.zarr_store import StoreBase

        return StoreBase.get_json(self, key)

    def _consolidated_meta(self):
        from ngff_zarr_spark.sources.zarr_store import StoreBase

        return StoreBase._consolidated_meta(self)


def test_consolidated_metadata_serves_reads_with_one_get(spark, tmp_path):
    """r8: the object-store fast path — after consolidation, opening
    every metadata doc costs ONE .zmetadata read; the per-key
    .zgroup/.zattrs/.zarray fetches disappear."""
    from ngff_zarr_spark.fixtures import ImageSpec, pixel_df
    from ngff_zarr_spark.model import NgffImage
    from ngff_zarr_spark.ome_zarr_api import to_multiscales, to_ngff_zarr
    from ngff_zarr_spark.sources.zarr_store import ZarrStore

    spec = ImageSpec("cons", z=2, y=8, x=8)
    img = NgffImage(
        data=pixel_df(spark, spec).select("t", "c", "z", "y", "x", "v"),
        dims=["z", "y", "x"],
        shape={"z": 2, "y": 8, "x": 8},
        scale={"z": 1.0, "y": 1.0, "x": 1.0},
        translation={"z": 0.0, "y": 0.0, "x": 0.0},
        name="cons",
    )
    ms = to_multiscales(img, scale_factors=[], chunks={"z": 2, "y": 8, "x": 8})
    store_path = str(tmp_path / "cons.ome.zarr")
    to_ngff_zarr(store_path, ms, version="0.4")
    base = ZarrStore(store_path)
    base.consolidate_metadata_v2()

    counting = _CountingStore(ZarrStore(store_path))
    attrs = counting.get_json(".zattrs")
    arr = counting.get_json("scale0/cons/.zarray")
    grp = counting.get_json(".zgroup")
    meta_gets = [k for k in counting.gets if k != ".zmetadata"]
    assert counting.gets.count(".zmetadata") == 1
    assert meta_gets == [], f"per-key reads leaked past .zmetadata: {meta_gets}"
    # and the served docs are the real ones
    assert attrs == ZarrStore(store_path).get_json(".zattrs")
    assert arr["shape"] == [2, 8, 8]
    assert grp == {"zarr_format": 2}


def test_consolidated_v3_inline_serves_child_nodes(tmp_path):
    from ngff_zarr_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "v3.zarr")
    st = ZarrStore(root)
    st.put_json("zarr.json", {"zarr_format": 3, "node_type": "group", "attributes": {"a": 1}})
    st.put_json("lvl/zarr.json", {"zarr_format": 3, "node_type": "array", "shape": [4]})
    st.consolidate_metadata_v3()

    counting = _CountingStore(ZarrStore(root))
    child = counting.get_json("lvl/zarr.json")
    assert child["shape"] == [4]
    assert counting.gets == ["zarr.json"], counting.gets


def test_metadata_write_invalidates_consolidated_cache(tmp_path):
    from ngff_zarr_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "inv.zarr")
    st = ZarrStore(root)
    st.put_json(".zgroup", {"zarr_format": 2})
    st.put_json(".zattrs", {"v": 1})
    st.consolidate_metadata_v2()
    st2 = ZarrStore(root)
    assert st2.get_json(".zattrs") == {"v": 1}
    # a write through the SAME instance must not serve the stale doc
    st2.put_json(".zattrs", {"v": 2})
    assert st2.get_json(".zattrs") == {"v": 2}


def test_packed_write_key_overflow_guard(spark):
    """The mixed-radix packed write key must refuse (not silently wrap)
    a grid whose flat index space exceeds int64."""
    import pytest as _pytest

    from ngff_zarr_spark.ome_zarr_api import write_image

    huge = 2**22
    df = spark.range(1).selectExpr(
        "0L as t", "0L as c", "0L as z", "0L as y", "id as x", "1.0 as v"
    )
    with _pytest.raises(ValueError, match="too large for packed"):
        write_image(
            df, "/tmp/never_written", "a",
            shape={d: huge for d in ["t", "c", "z", "y", "x"]},
            dims=["t", "c", "z", "y", "x"],
            chunks={d: 1 for d in ["t", "c", "z", "y", "x"]},
        )


def test_invalidate_metadata_cache_hook(tmp_path):
    """ADVICE r8: a reader instance whose storage was mutated by a
    DIFFERENT store instance serves its cached consolidated snapshot;
    invalidate_metadata_cache() forces a re-read."""
    from ngff_zarr_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "inv2.zarr")
    writer = ZarrStore(root)
    writer.put_json(".zgroup", {"zarr_format": 2})
    writer.put_json(".zattrs", {"v": 1})
    writer.consolidate_metadata_v2()

    reader = ZarrStore(root)
    assert reader.get_json(".zattrs") == {"v": 1}  # cache now populated

    # out-of-band write through a different instance: reader is stale
    # by design (documented single-writer assumption)...
    writer.put_json(".zattrs", {"v": 2})
    writer.consolidate_metadata_v2()
    assert reader.get_json(".zattrs") == {"v": 1}
    # ...until the caller drops the cache explicitly
    reader.invalidate_metadata_cache()
    assert reader.get_json(".zattrs") == {"v": 2}
