"""Batched metadata commit (r16, VERDICT r15 ask #5).

The multi-array writer commit must publish N arrays' metadata with ONE
consolidated-document sync (and one concurrent wave of doc puts), not
2N serial put_json calls each paying its own consolidated
read-modify-write. Pins: semantic equivalence to the serial path, the
O(1)-sync counting contract, and the live write_image_batch commit.
"""

from __future__ import annotations

import numpy as np
import pytest

from ngff_zarr_spark.sources.zarr_store import StoreBase, ZarrArrayMeta, ZarrStore


class _PutCountingStore:
    """Delegating wrapper counting byte-level put() calls."""

    def __init__(self, inner):
        self._inner = inner
        self.puts = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def put(self, key, data):
        self.puts.append(key)
        return self._inner.put(key, data)

    def put_json(self, key, doc):
        return StoreBase.put_json(self, key, doc)

    def put_json_many(self, docs):
        return StoreBase.put_json_many(self, docs)


def _mk_consolidated_v2(path, n_arrays=0):
    st = ZarrStore(path)
    st.put_json(".zgroup", {"zarr_format": 2})
    st.put_json(".zattrs", {"who": "base"})
    st.consolidate_metadata_v2()
    return st


def _array_docs(n):
    docs = {}
    for i in range(n):
        meta = ZarrArrayMeta(
            path=f"{i}/image", shape=(4, 4), chunks=(2, 2),
            dtype=np.dtype("float64"), zarr_format=2,
        )
        docs[f"{i}/image/.zarray"] = meta.to_v2_json()
        docs[f"{i}/image/.zattrs"] = {"_ARRAY_DIMENSIONS": ["y", "x"]}
    return docs


def test_batch_equals_serial(tmp_path):
    docs = _array_docs(6)
    a = _mk_consolidated_v2(str(tmp_path / "serial"))
    for k, d in docs.items():
        a.put_json(k, d)
    b = _mk_consolidated_v2(str(tmp_path / "batch"))
    b.put_json_many(docs)
    for k in list(docs) + [".zmetadata"]:
        assert ZarrStore(str(tmp_path / "serial")).get_json(k) == ZarrStore(
            str(tmp_path / "batch")
        ).get_json(k), k


def test_one_consolidated_sync_per_batch(tmp_path):
    n = 12
    _mk_consolidated_v2(str(tmp_path / "s"))
    st = _PutCountingStore(ZarrStore(str(tmp_path / "s")))
    st.put_json_many(_array_docs(n))
    # 2N doc puts + exactly ONE .zmetadata sync — never 2N syncs
    assert st.puts.count(".zmetadata") == 1
    assert len(st.puts) == 2 * n + 1
    # and the sync actually carries every doc
    zm = ZarrStore(str(tmp_path / "s")).get_json(".zmetadata")["metadata"]
    for k in _array_docs(n):
        assert k in zm


def test_v3_inline_sync_once(tmp_path):
    st = ZarrStore(str(tmp_path / "v3"))
    st.put_json(
        "zarr.json",
        {
            "zarr_format": 3, "node_type": "group", "attributes": {},
            "consolidated_metadata": {"kind": "inline", "metadata": {}},
        },
    )
    docs = {}
    for i in range(5):
        meta = ZarrArrayMeta(
            path=f"{i}/image", shape=(4, 4), chunks=(2, 2),
            dtype=np.dtype("float64"), zarr_format=3,
        )
        docs[f"{i}/image/zarr.json"] = meta.to_v3_json()
    cs = _PutCountingStore(st)
    cs.put_json_many(docs)
    assert cs.puts.count("zarr.json") == 1
    assert len(cs.puts) == len(docs) + 1
    root = ZarrStore(str(tmp_path / "v3")).get_json("zarr.json")
    md = root["consolidated_metadata"]["metadata"]
    assert set(md) == {f"{i}/image" for i in range(5)}


class _ConsolidatedPutFails(ZarrStore):
    """A store whose put of a consolidated document raises."""

    def put(self, key, data):
        if key in (".zmetadata", "zarr.json"):
            raise OSError(f"injected put failure for {key}")
        super().put(key, data)


def _mk_consolidated_v3(path):
    st = ZarrStore(path)
    st.put_json(
        "zarr.json",
        {
            "zarr_format": 3, "node_type": "group", "attributes": {},
            "consolidated_metadata": {"kind": "inline", "metadata": {}},
        },
    )


def test_consolidated_sync_failure_surfaces(tmp_path):
    """A failed consolidated-document put leaves readers on stale
    attributes, so it must raise rather than be swallowed."""
    v2, v3 = str(tmp_path / "v2"), str(tmp_path / "v3")
    _mk_consolidated_v2(v2)
    _mk_consolidated_v3(v3)
    with pytest.raises(OSError, match="zmetadata"):
        _ConsolidatedPutFails(v2).put_json("0/image/.zattrs", {"a": 1})
    with pytest.raises(OSError, match="zmetadata"):
        _ConsolidatedPutFails(v2).put_json_many(_array_docs(2))
    v3_doc = ZarrArrayMeta(
        path="0/image", shape=(4, 4), chunks=(2, 2),
        dtype=np.dtype("float64"), zarr_format=3,
    ).to_v3_json()
    with pytest.raises(OSError, match="zarr.json"):
        _ConsolidatedPutFails(v3).put_json("0/image/zarr.json", v3_doc)
    with pytest.raises(OSError, match="zarr.json"):
        _ConsolidatedPutFails(v3).put_json_many({"0/image/zarr.json": v3_doc})


def test_unparseable_consolidated_doc_is_left_alone(tmp_path):
    """The one tolerated sync failure: a consolidated document that
    does not parse is not rewritten, and the doc put itself stands."""
    st = _mk_consolidated_v2(str(tmp_path / "s"))
    st.put(".zmetadata", b"{not json")
    st.put_json("0/image/.zattrs", {"a": 1})
    st.put_json_many(_array_docs(2))
    assert st.get(".zmetadata") == b"{not json"
    assert st.get_json("0/image/.zattrs") == {"_ARRAY_DIMENSIONS": ["y", "x"]}


def test_writer_commit_syncs_once(tmp_path, monkeypatch):
    """The multi-array OmeZarrWriter.commit (exercised in-process — the
    live job runs it inside the data-source worker) publishes a 6-array
    job with one consolidated sync and one doc wave."""
    import json

    import ngff_zarr_spark.sources.ome_zarr as oz

    store_path = str(tmp_path / "plate.zarr")
    _mk_consolidated_v2(store_path)
    counting = _PutCountingStore(ZarrStore(store_path))
    monkeypatch.setattr(oz, "open_store", lambda *a, **k: counting)

    w = oz.OmeZarrWriter(
        {
            "path": store_path,
            "zarr_format": "2",
            "array_paths": json.dumps([f"{i}/image" for i in range(6)]),
            "packed": "true",
            "shape": "4,4",
            "chunks": "2,2",
            "dims": "y,x",
            "dtype": "float64",
        },
        overwrite=False,
    )
    w.commit([])
    meta_puts = [k for k in counting.puts]
    assert meta_puts.count(".zmetadata") == 1, meta_puts
    assert len([k for k in meta_puts if k.endswith(".zarray")]) == 6
    assert len(meta_puts) == 13  # 6x(.zarray+.zattrs) + one sync


def test_write_image_batch_roundtrip_consolidated(spark, tmp_path):
    """Live job over a pre-consolidated store: every array readable
    back and the consolidated doc carries every committed array."""
    from pyspark.sql import functions as F

    from ngff_zarr_spark.ome_zarr_api import write_image_batch

    store_path = str(tmp_path / "plate.zarr")
    _mk_consolidated_v2(store_path)
    df = (
        spark.range(16)
        .select(
            F.expr("id div 4").alias("y"), (F.col("id") % 4).alias("x"),
            F.col("id").cast("double").alias("v"),
        )
    )
    fields = [(df, f"{i}/image") for i in range(6)]
    write_image_batch(
        fields, store_path, {"y": 4, "x": 4}, ["y", "x"], {"y": 2, "x": 2}
    )
    st = ZarrStore(store_path)
    zm = st.get_json(".zmetadata")["metadata"]
    for i in range(6):
        assert f"{i}/image/.zarray" in zm
        assert st.read_array_meta(f"{i}/image", 2).shape == (4, 4)
