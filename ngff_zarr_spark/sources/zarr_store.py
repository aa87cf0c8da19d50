"""Minimal pure-Python Zarr v2/v3 store layer (no zarr-python dependency
in this container) — the byte-level substrate of the ome_zarr DataSource.

Implements exactly what OME-Zarr stores need (reference behavior:
/root/reference py/ngff_zarr/to_ngff_zarr.py:982-1183, from_ngff_zarr.py:38-307):

- Zarr v2: ``.zgroup``/``.zattrs``/``.zarray`` JSON, ``/``-separated
  chunk keys, C-order chunks, optional compressor, consolidated
  ``.zmetadata``.
- Zarr v3: ``zarr.json`` group/array documents, ``c/``-prefixed chunk
  keys, ``bytes`` + compressor codecs, dimension_names, and the
  ``sharding_indexed`` codec (S8): shard files of concatenated encoded
  inner chunks + a ["bytes","crc32c"] (offset, nbytes) index at the end
  (reference shard assembly: to_ngff_zarr.py:446-489, 661-703).
- Codecs (S9): raw (None), ``gzip``/``zlib`` (stdlib), ``zstd``
  (pyarrow frame codec), and ``blosc`` containers with lz4/zstd/zlib/
  snappy inner codecs + byte-shuffle (sources/blosc.py — zarr-python's
  DEFAULT v2 compressor is blosc-lz4, so real-world stores need this).
  Compressor spec strings: "gzip" | "zlib" | "zstd" |
  "blosc:<cname>:<clevel>:<shuffle 0|1>".
- Edge chunks are stored full-size and sliced on read (zarr v2 pads;
  v3 regular grid does the same) — matching zarr-python behavior.

Paths are local-filesystem; on a cluster the same byte layout goes
through the Hadoop FS/fsspec path abstraction (S2) — the store layer is
deliberately a thin (key → bytes) mapping to keep that swap trivial.
"""

from __future__ import annotations

import gzip
import json
import struct
import zlib
from dataclasses import dataclass
from pathlib import Path
from typing import Optional

import numpy as np
import pyarrow as pa

from .blosc import SHUFFLE, blosc_compress, blosc_decompress, crc32c

# sharding_indexed index entry (offset and nbytes) of an empty slot
_NO_CHUNK = 0xFFFFFFFFFFFFFFFF

# dtype ↔ zarr representations (reference _numpy_to_zarr_dtype,
# to_ngff_zarr.py:89-117)
_V3_DTYPES = {
    "bool": "bool",
    "int8": "int8", "int16": "int16", "int32": "int32", "int64": "int64",
    "uint8": "uint8", "uint16": "uint16", "uint32": "uint32", "uint64": "uint64",
    "float16": "float16", "float32": "float32", "float64": "float64",
    "complex64": "complex64", "complex128": "complex128",
}


def np_to_v2_dtype(dt: np.dtype) -> str:
    dt = np.dtype(dt)
    if dt.kind == "b":
        return "|b1"
    order = "|" if dt.itemsize == 1 else "<"
    return f"{order}{dt.kind}{dt.itemsize}"


def np_to_v3_dtype(dt: np.dtype) -> str:
    name = np.dtype(dt).name
    if name not in _V3_DTYPES:
        raise ValueError(f"dtype {name} not supported by zarr v3 mapping")
    return _V3_DTYPES[name]


def v2_dtype_to_np(s: str) -> np.dtype:
    # normalize endianness on read (reference from_ngff_zarr.py:127-131)
    return np.dtype(s).newbyteorder("=")


def _fill_to_json(v):
    """Spec-conform JSON encoding of a fill value: non-finite floats
    must be the STRINGS "NaN"/"Infinity"/"-Infinity" (zarr v2 §fill
    value, v3 core §fill_value) — json.dumps' bare NaN literal is not
    strict JSON and breaks other ecosystems' parsers (code-review r17)."""
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == float("inf"):
            return "Infinity"
        if v == float("-inf"):
            return "-Infinity"
    return v


def _parse_fill(v):
    """Inverse of :func:`_fill_to_json` on the read side."""
    if isinstance(v, str):
        return {
            "NaN": float("nan"),
            "Infinity": float("inf"),
            "-Infinity": float("-inf"),
        }.get(v, v)
    return v


def parse_blosc_spec(compressor: str) -> tuple[str, int, int]:
    """'blosc:<cname>:<clevel>:<shuffle>' → (cname, clevel, shuffle)."""
    parts = compressor.split(":")
    cname = parts[1] if len(parts) > 1 and parts[1] else "lz4"
    clevel = int(parts[2]) if len(parts) > 2 and parts[2] else 5
    shuffle = int(parts[3]) if len(parts) > 3 and parts[3] else SHUFFLE
    return cname, clevel, shuffle


def encode_chunk(arr: np.ndarray, compressor: Optional[str], typesize: int = 0) -> bytes:
    """C-order little-endian bytes, then the (single) compressor."""
    raw = np.ascontiguousarray(arr).astype(arr.dtype.newbyteorder("<"), copy=False).tobytes()
    ts = typesize or arr.dtype.itemsize
    if compressor is None:
        return raw
    if compressor == "gzip":
        # mtime=0: byte-deterministic output (same data → same chunk
        # bytes across runs — golden-store comparisons depend on it)
        return gzip.compress(raw, compresslevel=5, mtime=0)
    if compressor == "zlib":
        return zlib.compress(raw, 5)
    if compressor == "zstd":
        # explicit level: must match the level recorded in the store
        # metadata (compressor_to_v2_json / _to_v3_codec advertise 3) —
        # pyarrow's default could drift and break byte reproducibility
        return pa.Codec("zstd", compression_level=3).compress(raw, asbytes=True)
    if compressor.startswith("blosc"):
        cname, clevel, shuffle = parse_blosc_spec(compressor)
        return blosc_compress(raw, ts, cname, clevel, shuffle)
    raise ValueError(f"Unknown compressor {compressor!r}")


def decode_chunk_bytes(data: bytes, nbytes: int, compressor: Optional[str]) -> bytes:
    if compressor == "gzip":
        return gzip.decompress(data)
    if compressor == "zlib":
        return zlib.decompress(data)
    if compressor == "zstd":
        return pa.decompress(data, nbytes, codec="zstd", asbytes=True)
    if compressor is not None and compressor.startswith("blosc"):
        return blosc_decompress(data)
    if compressor is not None:
        raise ValueError(f"Unknown compressor {compressor!r}")
    return data


def decode_chunk(
    data: bytes,
    dtype: np.dtype,
    chunk_shape: tuple[int, ...],
    compressor: Optional[str],
    byte_order: str = "<",
    order: str = "C",
) -> np.ndarray:
    """Raw chunk bytes → native-order C-contiguous array.

    ``byte_order`` is the STORED byte order ('<' or '>': v2 dtype
    prefix / v3 bytes-codec endian) — the buffer must be interpreted in
    that order and converted after; interpreting big-endian bytes as
    little-endian silently corrupts every value (code-review r17).
    ``order`` is the v2 memory layout ('C' or 'F')."""
    nbytes = int(np.prod(chunk_shape)) * np.dtype(dtype).itemsize
    data = decode_chunk_bytes(data, nbytes, compressor)
    arr = np.frombuffer(data, dtype=np.dtype(dtype).newbyteorder(byte_order))
    arr = arr.reshape(chunk_shape, order=order)
    return np.ascontiguousarray(arr.astype(dtype, copy=False))


# -- codec spec ↔ store JSON translation (S9; reference
#    create_compression_codec, to_ngff_zarr.py:193-256) -----------------


def compressor_to_v2_json(compressor: Optional[str]) -> Optional[dict]:
    if compressor is None:
        return None
    if compressor == "gzip":
        return {"id": "gzip", "level": 5}
    if compressor == "zlib":
        return {"id": "zlib", "level": 5}
    if compressor == "zstd":
        return {"id": "zstd", "level": 3}
    if compressor.startswith("blosc"):
        cname, clevel, shuffle = parse_blosc_spec(compressor)
        return {"id": "blosc", "cname": cname, "clevel": clevel, "shuffle": shuffle, "blocksize": 0}
    raise ValueError(f"Unknown compressor {compressor!r}")


def compressor_from_v2_json(doc: Optional[dict]) -> Optional[str]:
    if not doc:
        return None
    cid = doc.get("id")
    if cid == "blosc":
        return f"blosc:{doc.get('cname', 'lz4')}:{doc.get('clevel', 5)}:{doc.get('shuffle', 1)}"
    if cid in ("gzip", "zlib", "zstd"):
        return cid
    raise ValueError(f"Unsupported zarr v2 compressor {cid!r}")


def compressor_to_v3_codec(compressor: Optional[str], typesize: int) -> Optional[dict]:
    if compressor is None:
        return None
    if compressor == "gzip":
        return {"name": "gzip", "configuration": {"level": 5}}
    if compressor == "zstd":
        return {"name": "zstd", "configuration": {"level": 3, "checksum": False}}
    if compressor.startswith("blosc"):
        cname, clevel, shuffle = parse_blosc_spec(compressor)
        return {
            "name": "blosc",
            "configuration": {
                "cname": cname,
                "clevel": clevel,
                "shuffle": "shuffle" if shuffle == 1 else ("bitshuffle" if shuffle == 2 else "noshuffle"),
                "typesize": typesize,
                "blocksize": 0,
            },
        }
    raise ValueError(f"Unknown compressor for v3 {compressor!r}")


def compressor_from_v3_codecs(codecs: list[dict]) -> Optional[str]:
    """Compressor spec from a v3 data-codec chain. STRICT (code-review
    r17): an unrecognized codec (e.g. ``transpose``) previously fell
    through silently and the array decoded to wrong data — unknown
    names now raise, matching how unknown compressor strings already
    do. The ``bytes`` codec is layout, not compression (its endian is
    read separately by :func:`v3_byte_order`)."""
    comp = None
    for c in codecs:
        name = c.get("name")
        cfg = c.get("configuration", {}) or {}
        if name == "bytes":
            continue
        if name in ("gzip", "zstd", "zlib"):
            comp = name
        elif name == "blosc":
            shuffle = {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}.get(cfg.get("shuffle", "shuffle"), 1)
            comp = f"blosc:{cfg.get('cname', 'lz4')}:{cfg.get('clevel', 5)}:{shuffle}"
        else:
            raise ValueError(
                f"unsupported zarr v3 codec {name!r} in data chain — "
                "decoding past it would silently corrupt the array"
            )
    return comp


def v3_byte_order(codecs: list[dict]) -> str:
    """Stored byte order from a v3 data-codec chain's ``bytes`` codec
    ('<' default little, '>' for endian:'big' — previously ignored and
    big-endian stores decoded byte-swapped; code-review r17)."""
    for c in codecs:
        if c.get("name") == "bytes":
            endian = (c.get("configuration") or {}).get("endian", "little")
            return ">" if endian == "big" else "<"
    return "<"


@dataclass
class ZarrArrayMeta:
    """One stored array (a pyramid level).

    ``chunks`` is always the INNER chunk shape (the read/compute unit).
    When ``chunks_per_shard`` is set (Zarr v3 only), chunks are grouped
    into shard files of ``chunks * chunks_per_shard`` elements, stored
    under shard-grid keys with a trailing (offset, nbytes) index
    (sharding_indexed codec, S8)."""

    path: str  # store-relative, e.g. "scale0/image"
    shape: tuple[int, ...]
    chunks: tuple[int, ...]
    dtype: np.dtype
    compressor: Optional[str] = None
    fill_value: float = 0
    zarr_format: int = 2
    dimension_names: Optional[list[str]] = None
    chunks_per_shard: Optional[tuple[int, ...]] = None
    # chunk-key separator. The v2 SPEC default is "." (zarr-python's
    # plain ``zarr.save()`` writes dot keys); this engine — like the
    # reference (_zarr_kwargs.py:7-10, asserted by
    # py/test/test_dimension_separator.py:38-40) — always WRITES "/",
    # but READS either, honoring the stored ``dimension_separator`` /
    # ``chunk_key_encoding`` field.
    dimension_separator: str = "/"
    # zarr v3 chunk_key_encoding NAME: "default" prefixes keys with
    # "c<sep>"; "v2" uses bare v2-style keys (separator default "."
    # under that encoding). Read-side tolerance; writes stay "default".
    key_encoding: str = "default"
    # STORED byte order ('<'/'>': v2 dtype prefix / v3 bytes-codec
    # endian) and v2 memory order ('C'/'F') — read-side tolerance for
    # spec-legal stores this engine never writes (writes are always
    # little-endian C-order); code-review r17.
    byte_order: str = "<"
    order: str = "C"

    @property
    def chunk_grid(self) -> tuple[int, ...]:
        return tuple(-(-s // c) for s, c in zip(self.shape, self.chunks))

    @property
    def shard_shape(self) -> tuple[int, ...]:
        assert self.chunks_per_shard is not None
        return tuple(c * n for c, n in zip(self.chunks, self.chunks_per_shard))

    @property
    def shard_grid(self) -> tuple[int, ...]:
        ss = self.shard_shape
        return tuple(-(-s // c) for s, c in zip(self.shape, ss))

    def shard_index_of(self, chunk_idx: tuple[int, ...]) -> tuple[tuple[int, ...], tuple[int, ...]]:
        """chunk idx → (shard idx, inner chunk idx within the shard)."""
        cps = self.chunks_per_shard
        return (
            tuple(i // n for i, n in zip(chunk_idx, cps)),
            tuple(i % n for i, n in zip(chunk_idx, cps)),
        )

    def chunk_key(self, idx: tuple[int, ...]) -> str:
        """Store key holding this chunk: the chunk file itself, or (when
        sharded) the shard file containing it."""
        if self.chunks_per_shard is not None:
            sidx, _ = self.shard_index_of(idx)
            return self.shard_key(sidx)
        sep = self.dimension_separator
        if self.zarr_format == 3 and self.key_encoding != "v2":
            # v3 "default" chunk_key_encoding: c<sep><i0><sep><i1>…
            return f"{self.path}/c{sep}" + sep.join(str(i) for i in idx)
        return f"{self.path}/" + sep.join(str(i) for i in idx)

    def shard_key(self, sidx: tuple[int, ...]) -> str:
        sep = self.dimension_separator
        if self.key_encoding == "v2":
            return f"{self.path}/" + sep.join(str(i) for i in sidx)
        return f"{self.path}/c{sep}" + sep.join(str(i) for i in sidx)

    def chunk_origin(self, idx: tuple[int, ...]) -> tuple[int, ...]:
        return tuple(i * c for i, c in zip(idx, self.chunks))

    def chunk_extent(self, idx: tuple[int, ...]) -> tuple[int, ...]:
        """Valid (unpadded) extent of the chunk — edge chunks are clipped."""
        return tuple(
            min(c, s - i * c) for i, c, s in zip(idx, self.chunks, self.shape)
        )

    def to_v2_json(self) -> dict:
        return {
            "zarr_format": 2,
            "shape": list(self.shape),
            "chunks": list(self.chunks),
            "dtype": np_to_v2_dtype(self.dtype),
            "compressor": compressor_to_v2_json(self.compressor),
            "fill_value": _fill_to_json(self.fill_value),
            "order": "C",
            "filters": None,
            "dimension_separator": self.dimension_separator,
        }

    def _v3_inner_codecs(self) -> list[dict]:
        codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
        comp = compressor_to_v3_codec(self.compressor, np.dtype(self.dtype).itemsize)
        if comp:
            codecs.append(comp)
        return codecs

    def to_v3_json(self) -> dict:
        if self.chunks_per_shard is not None:
            grid_chunks = list(self.shard_shape)
            codecs = [
                {
                    "name": "sharding_indexed",
                    "configuration": {
                        "chunk_shape": list(self.chunks),
                        "codecs": self._v3_inner_codecs(),
                        "index_codecs": [
                            {"name": "bytes", "configuration": {"endian": "little"}},
                            {"name": "crc32c"},
                        ],
                        "index_location": "end",
                    },
                }
            ]
        else:
            grid_chunks = list(self.chunks)
            codecs = self._v3_inner_codecs()
        doc = {
            "zarr_format": 3,
            "node_type": "array",
            "shape": list(self.shape),
            "data_type": np_to_v3_dtype(self.dtype),
            "chunk_grid": {
                "name": "regular",
                "configuration": {"chunk_shape": grid_chunks},
            },
            "chunk_key_encoding": {
                "name": "default",
                "configuration": {"separator": self.dimension_separator},
            },
            "fill_value": _fill_to_json(self.fill_value),
            "codecs": codecs,
        }
        if self.dimension_names:
            doc["dimension_names"] = list(self.dimension_names)
        return doc


def _sync_consolidated(store: "StoreBase", docs: dict[str, dict]) -> None:
    """Copy freshly written metadata ``docs`` into an existing
    consolidated document — v2 ``.zmetadata`` or the inline
    ``consolidated_metadata`` of a v3 root ``zarr.json`` — with one
    read-modify-write per document. Store I/O errors propagate: a
    failed sync leaves readers on stale attributes, so the caller
    must hear of it. Only a consolidated document that does not
    parse is left alone."""
    v2 = {
        k: d
        for k, d in docs.items()
        if k != ".zmetadata"
        and k.rsplit("/", 1)[-1] in (".zgroup", ".zattrs", ".zarray")
    }
    if v2 and store.exists(".zmetadata"):
        zm = _parsed_doc(store, ".zmetadata")
        if zm is not None and zm.get("zarr_consolidated_format") == 1:
            zm.setdefault("metadata", {}).update(v2)
            store.put(
                ".zmetadata",
                json.dumps(zm, indent=1, sort_keys=False).encode(),
            )
    v3 = {
        k[: -len("/zarr.json")]: d
        for k, d in docs.items()
        if k != "zarr.json" and k.rsplit("/", 1)[-1] == "zarr.json"
    }
    if v3 and store.exists("zarr.json"):
        root = _parsed_doc(store, "zarr.json")
        cm = root.get("consolidated_metadata") if root is not None else None
        if isinstance(cm, dict) and cm.get("kind") == "inline":
            cm.setdefault("metadata", {}).update(v3)
            store.put(
                "zarr.json",
                json.dumps(root, indent=1, sort_keys=False).encode(),
            )


def _parsed_doc(store: "StoreBase", key: str) -> Optional[dict]:
    """The JSON object stored at ``key``, or None when its bytes do
    not parse as one. Store I/O errors propagate."""
    try:
        doc = json.loads(store.get(key))
    except ValueError:  # JSONDecodeError, UnicodeDecodeError
        return None
    return doc if isinstance(doc, dict) else None


def open_store(url: str, storage_options: Optional[dict] = None) -> "StoreBase":
    """S2 remote-store entry point (reference from_ngff_zarr.py:69-80):

    - local paths / ``file://`` → :class:`ZarrStore`
    - ``http(s)://`` → :class:`HttpStore` (stdlib urllib; read-only —
      the reference's http case is likewise read-only)
    - ``s3:// gs:// az:// …`` → :class:`FsspecStore` when fsspec (plus
      the filesystem driver) is installed; on a Spark cluster the usual
      deployment instead reads through the executors' Hadoop FS
      credentials (s3a://), which needs no Python-side driver.

    Everything above the byte layer is storage-agnostic
    (:class:`StoreBase`), so a new backend is only the four byte ops.
    """
    scheme = url.split("://", 1)[0] if "://" in url else "file"
    if scheme == "file":
        return ZarrStore(url.removeprefix("file://"))
    if scheme in ("http", "https"):
        return HttpStore(url)
    if scheme in ("s3", "s3a", "gs", "gcs", "az", "abfs"):
        try:
            import fsspec  # type: ignore
        except ImportError as e:
            raise ImportError(
                f"reading {scheme}:// stores requires fsspec (plus the "
                f"filesystem's driver, e.g. s3fs/gcsfs) which is not "
                f"installed in this environment"
            ) from e
        fs, path = fsspec.core.url_to_fs(url, **(storage_options or {}))
        return FsspecStore(fs, path)
    raise ValueError(f"Unsupported store URL scheme {scheme!r}")


class StoreBase:
    """Array-level Zarr logic over an abstract (key → bytes) surface.

    Subclasses provide the four byte ops — ``put / get / exists /
    list_keys`` — plus optionally ranged reads (``get_range`` /
    ``get_suffix``).  Ranged reads matter at scale: a sharded store
    packs thousands of chunks per shard file, and reading one chunk
    must cost two small ranged GETs (trailing index + chunk span), not
    a whole-shard download.  The defaults below fall back to a full
    ``get`` so correctness never depends on range support.
    """

    # put_json_many fans puts over a thread pool ONLY when the store
    # opts in (ADVICE r16): unknown subclasses are not assumed
    # thread-safe and get the serial path. The built-in local and
    # fsspec stores opt in — their puts are independent per-key
    # operations with no shared mutable state.
    THREAD_SAFE_PUTS = False

    # -- byte surface (subclass contract) -----------------------------------

    def put(self, key: str, data: bytes) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def get(self, key: str) -> bytes:  # pragma: no cover - abstract
        raise NotImplementedError

    def exists(self, key: str) -> bool:  # pragma: no cover - abstract
        raise NotImplementedError

    def list_keys(self, prefix: str = "") -> list[str]:  # pragma: no cover
        raise NotImplementedError

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        return self.get(key)[offset : offset + length]

    def get_suffix(self, key: str, length: int) -> bytes:
        data = self.get(key)
        return data[-length:]

    # exceptions a byte op raises for a MISSING key (subclasses whose
    # backend signals differently override the tuple or the methods)
    MISSING_EXC: tuple = (FileNotFoundError, KeyError)

    def get_or_none(self, key: str) -> Optional[bytes]:
        """One-round-trip read: the bytes, or None for a missing key.
        The hot chunk-read path previously issued exists()+get() — two
        remote round trips per chunk on HTTP/object stores, doubling
        request count and throttling pressure at scale (code-review
        r17)."""
        try:
            return self.get(key)
        except self.MISSING_EXC:
            return None

    def get_suffix_or_none(self, key: str, length: int) -> Optional[bytes]:
        """Suffix read (shard index fetch), or None for a missing key."""
        try:
            return self.get_suffix(key, length)
        except self.MISSING_EXC:
            return None

    def delete(self, key: str) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def delete_prefix(self, prefix: str) -> None:
        for k in self.list_keys(prefix):
            self.delete(k)

    # -- JSON helpers --------------------------------------------------------

    def put_json(self, key: str, doc: dict) -> None:
        # any metadata write invalidates the in-memory fast-path cache
        # AND keeps an existing consolidated doc in sync (otherwise a
        # well-upsert on a consolidated plate would leave readers
        # serving the stale pre-write attrs)
        self._cons_cache = None
        self.put(key, json.dumps(doc, indent=1, sort_keys=False).encode())
        _sync_consolidated(self, {key: doc})

    def put_json_many(self, docs: dict[str, dict]) -> None:
        """Batched metadata write (VERDICT r15 ask #5): PUT every doc,
        then sync an existing consolidated document ONCE — one
        read-modify-write covering every key — instead of per-key as
        ``put_json`` does. The raw doc puts fan out over a small thread
        pool, so a multi-array commit (384-field plate → 768 docs) pays
        a handful of concurrent round-trip waves plus ONE consolidated
        sync, not 2N serial puts each with its own sync. Semantically
        identical to calling put_json per key (pytest-pinned).

        Hardening (ADVICE r16): the pooled path is gated on
        ``THREAD_SAFE_PUTS`` (True for the built-in local and fsspec
        stores, whose puts are independent per-key operations;
        HttpStore is read-only and, like any unknown subclass,
        inherits False), and every put is attempted even after a failure —
        the batch then raises ONE aggregate error naming the exact
        failed-key set, so a partially-published commit is explicit
        rather than a silent mid-flight abort."""
        if not docs:
            return
        self._cons_cache = None
        payloads = {
            k: json.dumps(doc, indent=1, sort_keys=False).encode()
            for k, doc in docs.items()
        }
        failures: dict[str, Exception] = {}

        def _put(k: str, b: bytes) -> None:
            try:
                self.put(k, b)
            except Exception as exc:  # noqa: BLE001 - aggregated below
                failures[k] = exc

        if len(payloads) > 1 and self.THREAD_SAFE_PUTS:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(payloads))) as ex:
                list(ex.map(lambda kv: _put(*kv), payloads.items()))
        else:
            for k, b in payloads.items():
                _put(k, b)
        if failures:
            keys = sorted(failures)
            raise RuntimeError(
                f"put_json_many: {len(failures)}/{len(payloads)} metadata "
                f"puts failed (keys: {keys}); the other "
                f"{len(payloads) - len(failures)} puts landed — retry the "
                "batch (puts are idempotent full-document overwrites)"
            ) from failures[keys[0]]
        _sync_consolidated(self, docs)

    def _consolidated_meta(self) -> dict:
        """Lazily-loaded consolidated-metadata map serving ``get_json``
        without per-key store reads: v2 ``.zmetadata`` contributes its
        ``metadata`` entries verbatim; a v3 root ``zarr.json`` with
        inline ``consolidated_metadata`` contributes every child's
        ``<path>/zarr.json`` (and the root doc itself). {} when the
        store is not consolidated.

        This is the object-store fast path: opening an N-level pyramid
        costs ONE metadata GET instead of 2+N (the reason consolidation
        exists — reference to_ngff_zarr.py:1177-1183 writes it; zarr's
        open_consolidated reads it the same way). Stale-consolidation
        semantics match the zarr ecosystem: when present it is
        authoritative; local writers invalidate the cache on every
        metadata put."""
        cached = getattr(self, "_cons_cache", None)
        if cached is not None:
            return cached
        out: dict = {}
        try:
            if self.exists(".zmetadata"):
                doc = json.loads(self.get(".zmetadata"))
                if doc.get("zarr_consolidated_format") == 1:
                    out.update(doc.get("metadata", {}))
        except Exception:  # noqa: BLE001 - fast path only, never fatal
            pass
        try:
            if not out and self.exists("zarr.json"):
                root = json.loads(self.get("zarr.json"))
                cm = root.get("consolidated_metadata") or {}
                if isinstance(cm, dict) and cm.get("kind") == "inline":
                    for p, node in (cm.get("metadata") or {}).items():
                        out[f"{p}/zarr.json"] = node
                    out["zarr.json"] = root
        except Exception:  # noqa: BLE001
            pass
        self._cons_cache = out
        return out

    def invalidate_metadata_cache(self) -> None:
        """Drop this instance's consolidated-metadata fast-path cache.

        The cache is per-StoreBase-instance and invalidated only by
        writes issued THROUGH this instance (put_json above). A
        long-lived reader store object whose underlying storage is
        mutated by a different instance (or a different process) keeps
        serving the snapshot it first loaded — the single-writer
        assumption that object-store consolidation carries everywhere
        in the zarr ecosystem. Call this after a known external write
        to force the next get_json to re-read ``.zmetadata`` /
        ``zarr.json`` from storage."""
        self._cons_cache = None

    def get_json(self, key: str) -> dict:
        cons = self._consolidated_meta()
        if key in cons:
            return cons[key]
        return json.loads(self.get(key))

    # -- array-level helpers -------------------------------------------------

    def write_array_meta(self, meta: ZarrArrayMeta, attributes: Optional[dict] = None) -> None:
        if meta.zarr_format == 3:
            doc = meta.to_v3_json()
            if attributes:
                doc["attributes"] = attributes
            self.put_json(f"{meta.path}/zarr.json", doc)
        else:
            self.put_json(f"{meta.path}/.zarray", meta.to_v2_json())
            if attributes:
                self.put_json(f"{meta.path}/.zattrs", attributes)

    def write_group(self, path: str, attributes: dict, zarr_format: int) -> None:
        if zarr_format == 3:
            doc = {"zarr_format": 3, "node_type": "group", "attributes": attributes}
            if not path and self.exists("zarr.json"):
                # rewriting the ROOT of a consolidated v3 store must
                # carry the inline consolidated_metadata forward — a
                # fresh root doc silently dropped it, and every later
                # open of an N-node store paid 1+N metadata GETs
                # instead of 1 (code-review r17; the v2 path keeps
                # .zmetadata in sync the same way)
                try:
                    cm = json.loads(self.get("zarr.json")).get(
                        "consolidated_metadata"
                    )
                except Exception:  # noqa: BLE001 - unreadable root: fresh doc
                    cm = None
                if isinstance(cm, dict):
                    doc["consolidated_metadata"] = cm
            self.put_json(
                (f"{path}/zarr.json" if path else "zarr.json"), doc
            )
        else:
            prefix = f"{path}/" if path else ""
            self.put_json(f"{prefix}.zgroup", {"zarr_format": 2})
            if attributes:
                self.put_json(f"{prefix}.zattrs", attributes)

    @staticmethod
    def _check_geometry(path: str, shape: tuple, chunks: tuple) -> None:
        """Reject malformed array geometry at parse time (r18 metadata
        probe: a negative shape or chunk size parsed silently and fed
        nonsense into the chunk-grid planner; rank mismatches only
        surfaced as reshape errors deep inside a task)."""
        if len(shape) != len(chunks):
            raise ValueError(
                f"array {path!r}: shape rank {len(shape)} != chunk rank "
                f"{len(chunks)}"
            )
        if any(int(s) < 0 for s in shape):
            raise ValueError(f"array {path!r}: negative shape {shape}")
        if any(int(c) < 1 for c in chunks):
            raise ValueError(f"array {path!r}: non-positive chunks {chunks}")

    def read_array_meta(self, path: str, zarr_format: int) -> ZarrArrayMeta:
        if zarr_format == 3:
            doc = self.get_json(f"{path}/zarr.json")
            codecs = doc.get("codecs", [])
            grid_chunks = tuple(doc["chunk_grid"]["configuration"]["chunk_shape"])
            sharding = next(
                (c for c in codecs if c.get("name") == "sharding_indexed"), None
            )
            if sharding is not None:
                cfg = sharding["configuration"]
                inner = tuple(cfg["chunk_shape"])
                if len(inner) != len(grid_chunks) or any(
                    i < 1 or g < 1 or g % i for g, i in zip(grid_chunks, inner)
                ):
                    # the v3 spec requires the shard shape to be a
                    # whole multiple of the inner chunk shape; the //
                    # below would otherwise truncate silently (r18)
                    raise ValueError(
                        f"array {path!r}: shard shape {grid_chunks} is "
                        f"not a whole multiple of inner chunks {inner}"
                    )
                cps = tuple(g // i for g, i in zip(grid_chunks, inner))
                comp = compressor_from_v3_codecs(cfg.get("codecs", []))
                byte_order = v3_byte_order(cfg.get("codecs", []))
                chunks = inner
            else:
                cps = None
                comp = compressor_from_v3_codecs(codecs)
                byte_order = v3_byte_order(codecs)
                chunks = grid_chunks
            cke = doc.get("chunk_key_encoding", {}) or {}
            encoding = cke.get("name", "default")
            sep = (cke.get("configuration") or {}).get(
                "separator", "." if encoding == "v2" else "/"
            )
            self._check_geometry(path, tuple(doc["shape"]), chunks)
            return ZarrArrayMeta(
                path=path,
                shape=tuple(doc["shape"]),
                chunks=chunks,
                dtype=np.dtype(doc["data_type"]),
                compressor=comp,
                fill_value=_parse_fill(doc.get("fill_value", 0)),
                zarr_format=3,
                dimension_names=doc.get("dimension_names"),
                chunks_per_shard=cps,
                dimension_separator=sep,
                key_encoding=encoding,
                byte_order=byte_order,
            )
        doc = self.get_json(f"{path}/.zarray")
        comp = compressor_from_v2_json(doc.get("compressor"))
        if doc.get("filters"):
            # spec-legal but unimplemented: decoding past a filter
            # chain (delta/quantize/…) returns post-filter bytes as
            # pixel values — refuse loudly instead (code-review r17)
            raise NotImplementedError(
                f"zarr v2 filters are not supported (array {path!r} "
                f"declares {doc['filters']!r})"
            )
        order = doc.get("order", "C")
        if order not in ("C", "F"):
            raise ValueError(f"zarr v2 order {order!r} is not valid")
        # v2 has no in-array dimension names; xarray convention stores
        # them as _ARRAY_DIMENSIONS in the sibling .zattrs (which this
        # engine's writer emits) — read them back so stores whose dim
        # order is not a (t,c,z,y,x) suffix map to the right columns.
        dim_names = None
        try:
            # best-effort sniff: exists() itself may raise on stores
            # that surface auth/HTTP errors for missing keys
            if self.exists(f"{path}/.zattrs"):
                dim_names = self.get_json(f"{path}/.zattrs").get("_ARRAY_DIMENSIONS")
        except Exception:  # noqa: BLE001 - optional sidecar only
            dim_names = None
        self._check_geometry(path, tuple(doc["shape"]), tuple(doc["chunks"]))
        meta = ZarrArrayMeta(
            path=path,
            shape=tuple(doc["shape"]),
            chunks=tuple(doc["chunks"]),
            dtype=v2_dtype_to_np(doc["dtype"]),
            compressor=comp,
            fill_value=_parse_fill(doc.get("fill_value", 0) or 0),
            zarr_format=2,
            # stored byte order from the v2 dtype prefix: '>u2' bytes
            # must be read big-endian THEN converted — normalizing the
            # dtype before frombuffer byte-swapped every value
            # (code-review r17)
            byte_order=">" if np.dtype(doc["dtype"]).byteorder == ">" else "<",
            order=order,
            dimension_names=list(dim_names) if dim_names else None,
            # v2 SPEC default is "." — a store without the field (plain
            # zarr.save()) uses dot keys; reading it with "/" keys would
            # silently return all-fill (the r02 #1 interop bug)
            dimension_separator=doc.get("dimension_separator") or ".",
        )
        return self._probe_separator(meta)

    def _probe_separator(self, meta: ZarrArrayMeta) -> ZarrArrayMeta:
        """Guard against silent all-fill reads on v2 stores whose chunk
        keys disagree with the declared/default ``dimension_separator``
        (pre-2.8 zarr-python never wrote the field and some writers use
        '/' keys without declaring it). Two exists() probes on the
        origin chunk; a sparse store (neither present) keeps the
        declared value."""
        if meta.zarr_format != 2 or meta.chunks_per_shard is not None:
            return meta
        origin = (0,) * len(meta.shape)
        try:
            if self.exists(meta.chunk_key(origin)):
                return meta
            flipped = "." if meta.dimension_separator == "/" else "/"
            alt = ZarrArrayMeta(**{**meta.__dict__, "dimension_separator": flipped})
            if self.exists(alt.chunk_key(origin)):
                return alt
        except Exception:  # noqa: BLE001 - best-effort probe only
            # store cannot probe (no exists(), or exists surfaces auth/
            # HTTP errors for missing keys — e.g. S3 403 without
            # ListBucket): trust the declared metadata rather than
            # turning a readable store into an open error
            pass
        return meta

    def _encode_padded(self, meta: ZarrArrayMeta, arr: np.ndarray) -> bytes:
        if meta.byte_order != "<" or meta.order != "C":
            # this engine writes little-endian C-order only; re-encoding
            # a chunk of a big-endian/F-order store would disagree with
            # its declared metadata (code-review r17)
            raise NotImplementedError(
                "writing to big-endian or F-order stores is not supported"
            )
        if tuple(arr.shape) != tuple(meta.chunks):
            full = np.full(meta.chunks, meta.fill_value, dtype=meta.dtype)
            full[tuple(slice(0, s) for s in arr.shape)] = arr
            arr = full
        return encode_chunk(arr.astype(meta.dtype), meta.compressor)

    def write_chunk(self, meta: ZarrArrayMeta, idx: tuple[int, ...], arr: np.ndarray) -> None:
        """Store one chunk; edge chunks are padded to full chunk shape
        with fill_value (zarr stores full-size chunks). On a sharded
        array this is a read-modify-write of the containing shard file
        (chunks are not individually addressable inside a shard): the
        shard's other stored chunks are read, merged with the new one,
        and the file rewritten. Batch writers use :class:`ChunkSink`."""
        if meta.chunks_per_shard is not None:
            sidx, inner = meta.shard_index_of(idx)
            base = tuple(s * n for s, n in zip(sidx, meta.chunks_per_shard))
            top = tuple(
                min(b + n, g)
                for b, n, g in zip(base, meta.chunks_per_shard, meta.chunk_grid)
            )
            merged = {
                meta.shard_index_of(c)[1]: a
                for c, a in iter_chunks(meta, self, base, top)
                if a is not None and c != tuple(idx)
            }
            merged[inner] = arr
            self.write_shard(meta, sidx, merged)
            return
        self.put(meta.chunk_key(idx), self._encode_padded(meta, arr))

    def write_shard(
        self, meta: ZarrArrayMeta, sidx: tuple[int, ...], chunks: dict[tuple[int, ...], np.ndarray]
    ) -> None:
        """Assemble one shard file (S8, sharding_indexed): concatenated
        encoded inner chunks, then the (offset, nbytes) uint64-LE index
        in C-order of the chunks-per-shard grid, crc32c-terminated,
        index at end. Missing chunks get the 2^64-1 sentinel pair."""
        cps = meta.chunks_per_shard
        index = np.full((int(np.prod(cps)), 2), _NO_CHUNK, dtype=np.uint64)
        body = bytearray()
        for inner, arr in sorted(chunks.items()):
            enc = self._encode_padded(meta, arr)
            index[np.ravel_multi_index(inner, cps)] = (len(body), len(enc))
            body += enc
        index_bytes = index.astype("<u8").tobytes()
        index_bytes += struct.pack("<I", crc32c(index_bytes))
        self.put(meta.shard_key(sidx), bytes(body) + index_bytes)

    def _parse_shard_index(self, raw: bytes, n: int) -> np.ndarray:
        """raw = the trailing n*16+4 bytes of a shard file."""
        stored_crc = struct.unpack("<I", raw[-4:])[0]
        if crc32c(raw[:-4]) != stored_crc:
            raise ValueError("sharding_indexed: index crc32c mismatch")
        return np.frombuffer(raw[:-4], dtype="<u8").reshape(n, 2)

    def _read_shard_index(self, meta: ZarrArrayMeta, data: bytes) -> np.ndarray:
        n = int(np.prod(meta.chunks_per_shard))
        return self._parse_shard_index(data[-(n * 16 + 4) :], n)

    def shard_index(self, meta: ZarrArrayMeta, sidx: tuple[int, ...]) -> Optional[np.ndarray]:
        """Fetch + verify a shard file's trailing (offset, nbytes) index
        once; None when the shard file is absent. Pass it to
        :meth:`stored_chunk` so a shard scan costs ONE index fetch per
        shard instead of exists+index+range per chunk (3 requests per
        chunk on HTTP/object stores)."""
        n = int(np.prod(meta.chunks_per_shard))
        # ONE suffix read (missing shard → None) instead of
        # exists()+get_suffix() — two round trips per shard on object
        # stores (code-review r17)
        tail = self.get_suffix_or_none(meta.shard_key(sidx), n * 16 + 4)
        if tail is None:
            return None
        return self._parse_shard_index(tail, n)

    def stored_chunk(
        self,
        meta: ZarrArrayMeta,
        idx: tuple[int, ...],
        index: Optional[np.ndarray] = None,
    ) -> Optional[np.ndarray]:
        """One stored chunk clipped to its valid extent, or None if it
        was never written. Unsharded: ONE GET (missing → None) instead
        of exists()+get(), which halves the hot path's request count on
        object stores (code-review r17). Sharded: the containing
        shard's ``index`` (from :meth:`shard_index`; fetched here when
        not given) locates the chunk, then one ranged GET reads its byte
        span — never a whole-shard download; an empty slot is None."""
        if meta.chunks_per_shard is None:
            data = self.get_or_none(meta.chunk_key(idx))
        else:
            sidx, inner = meta.shard_index_of(idx)
            if index is None:
                index = self.shard_index(meta, sidx)
                if index is None:
                    return None
            offset, nbytes = (
                int(v) for v in index[np.ravel_multi_index(inner, meta.chunks_per_shard)]
            )
            if offset == _NO_CHUNK:
                return None
            data = self.get_range(meta.shard_key(sidx), offset, nbytes)
        if data is None:
            return None
        arr = decode_chunk(
            data, meta.dtype, meta.chunks, meta.compressor,
            meta.byte_order, meta.order,
        )
        return arr[tuple(slice(0, e) for e in meta.chunk_extent(idx))]

    def read_chunk_via_index(
        self, meta: ZarrArrayMeta, idx: tuple[int, ...], index: Optional[np.ndarray]
    ) -> np.ndarray:
        """Read one inner chunk of a sharded array reusing an already
        fetched shard index (None: the shard is absent); never-written
        chunks read as ``fill_value``."""
        arr = None if index is None else self.stored_chunk(meta, idx, index)
        return _or_fill(meta, idx, arr)

    def read_chunk(self, meta: ZarrArrayMeta, idx: tuple[int, ...]) -> np.ndarray:
        """Read one chunk, clipped to its valid extent (edge chunks);
        never-written chunks read as ``fill_value``."""
        return _or_fill(meta, idx, self.stored_chunk(meta, idx))

    # -- consolidated metadata (S10) ----------------------------------------

    def consolidate_metadata_v2(self) -> None:
        """Parity: zarr.consolidate_metadata (reference
        to_ngff_zarr.py:1177-1183): gather all JSON docs into .zmetadata."""
        meta = {}
        for key in self.list_keys():
            name = key.rsplit("/", 1)[-1]
            if name in (".zgroup", ".zattrs", ".zarray"):
                meta[key] = self.get_json(key)
        self.put_json(".zmetadata", {"zarr_consolidated_format": 1, "metadata": meta})

    def consolidate_metadata_v3(self) -> None:
        """Zarr v3 consolidation (parity: zarr.consolidate_metadata for
        format-3 stores, reference to_ngff_zarr.py:1177-1183): embed
        every non-root node's ``zarr.json`` document into the root
        ``zarr.json`` under ``consolidated_metadata`` — the layout the
        reference's sharding tests read back
        (test_to_ngff_zarr_sharding.py:49-60)."""
        meta = {}
        for key in self.list_keys():
            if key == "zarr.json" or not key.endswith("/zarr.json"):
                continue
            meta[key[: -len("/zarr.json")]] = self.get_json(key)
        root = self.get_json("zarr.json") if self.exists("zarr.json") else {
            "zarr_format": 3, "node_type": "group", "attributes": {},
        }
        root["consolidated_metadata"] = {
            "kind": "inline",
            "must_understand": False,
            "metadata": meta,
        }
        self.put_json("zarr.json", root)


def _or_fill(meta: ZarrArrayMeta, idx: tuple[int, ...], arr: Optional[np.ndarray]) -> np.ndarray:
    if arr is None:
        return np.full(meta.chunk_extent(idx), meta.fill_value, dtype=meta.dtype)
    return arr


def iter_chunks(meta: ZarrArrayMeta, store: StoreBase, c_lo: tuple[int, ...], c_hi: tuple[int, ...]):
    """Walk the chunk-index box ``[c_lo, c_hi)`` in C order, yielding
    ``(chunk idx, stored_chunk)`` — None for a chunk never written. On
    a sharded array each shard's index is fetched once for all of its
    inner chunks in the box."""
    indexes: dict = {}
    for rel in np.ndindex(*(max(0, b - a) for a, b in zip(c_lo, c_hi))):
        cidx = tuple(a + r for a, r in zip(c_lo, rel))
        if meta.chunks_per_shard is None:
            yield cidx, store.stored_chunk(meta, cidx)
            continue
        sidx, _ = meta.shard_index_of(cidx)
        if sidx not in indexes:
            indexes[sidx] = store.shard_index(meta, sidx)
        index = indexes[sidx]
        yield cidx, None if index is None else store.stored_chunk(meta, cidx, index)


def read_box(
    meta: ZarrArrayMeta, store: StoreBase, lo: tuple[int, ...], hi: tuple[int, ...]
) -> np.ndarray:
    """The stored values of the box ``[lo, hi)`` (per axis, in array
    order) as one ndarray of ``meta.dtype``. Each chunk the box touches
    is read once (:func:`iter_chunks`); never-written chunks read as
    ``fill_value``."""
    out = np.empty(tuple(h - l for l, h in zip(lo, hi)), dtype=meta.dtype)
    if out.size == 0:
        return out
    c_lo = tuple(l // c for l, c in zip(lo, meta.chunks))
    c_hi = tuple(-(-h // c) for h, c in zip(hi, meta.chunks))
    for cidx, arr in iter_chunks(meta, store, c_lo, c_hi):
        origin = meta.chunk_origin(cidx)
        src, dst = [], []
        for o, e, l, h in zip(origin, meta.chunk_extent(cidx), lo, hi):
            a, b = max(l, o), min(h, o + e)
            src.append(slice(a - o, b - o))
            dst.append(slice(a - l, b - l))
        out[tuple(dst)] = meta.fill_value if arr is None else arr[tuple(src)]
    return out


class ChunkSink:
    """The one write path for batches of chunks. ``put`` writes an
    unsharded chunk at once; on a sharded array it buffers the chunk in
    its shard and writes the shard file when a chunk of another shard
    arrives (or on ``close``). Callers therefore hand over each shard's
    chunks contiguously: a shard file is written whole, so flushing the
    same shard a second time would discard the first flush's chunks,
    and raises instead. ``close`` returns the keys written."""

    def __init__(self, store: StoreBase):
        self._store = store
        self._keys: list[str] = []
        self._flushed: set[str] = set()
        self._shard: Optional[tuple] = None  # (meta, shard idx, key)
        self._chunks: dict = {}

    def put(self, meta: ZarrArrayMeta, idx: tuple[int, ...], arr: np.ndarray) -> None:
        if meta.chunks_per_shard is None:
            self._store.write_chunk(meta, idx, arr)
            self._keys.append(meta.chunk_key(idx))
            return
        sidx, inner = meta.shard_index_of(idx)
        key = meta.shard_key(sidx)
        if self._shard is None or self._shard[2] != key:
            self._flush()
            self._shard = (meta, sidx, key)
        self._chunks[inner] = arr

    def _flush(self) -> None:
        if not self._chunks:
            return
        meta, sidx, key = self._shard
        if key in self._flushed:
            raise RuntimeError(
                f"shard {key} flushed twice in one task: its chunks did "
                "not arrive contiguously, and a second shard write would "
                "discard the first flush's chunks"
            )
        self._store.write_shard(meta, sidx, self._chunks)
        self._flushed.add(key)
        self._keys.append(key)
        self._chunks = {}

    def close(self) -> list[str]:
        self._flush()
        return self._keys


class ZarrStore(StoreBase):
    """Thin (key → bytes) mapping over a local directory."""

    THREAD_SAFE_PUTS = True  # independent per-key file writes

    def __init__(self, root: str):
        self.root = Path(root)

    def put(self, key: str, data: bytes) -> None:
        p = self.root / key
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)

    def get(self, key: str) -> bytes:
        return (self.root / key).read_bytes()

    def exists(self, key: str) -> bool:
        return (self.root / key).exists()

    def delete(self, key: str) -> None:
        (self.root / key).unlink(missing_ok=True)

    def delete_prefix(self, prefix: str) -> None:
        import shutil

        target = self.root / prefix if prefix else self.root
        if target.exists():
            shutil.rmtree(target)

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        with open(self.root / key, "rb") as f:
            f.seek(offset)
            return f.read(length)

    def get_suffix(self, key: str, length: int) -> bytes:
        with open(self.root / key, "rb") as f:
            f.seek(-length, 2)
            return f.read(length)

    def list_keys(self, prefix: str = "") -> list[str]:
        base = self.root / prefix if prefix else self.root
        if not base.exists():
            return []
        return sorted(
            str(p.relative_to(self.root))
            for p in base.rglob("*")
            if p.is_file()
        )


class FsspecStore(StoreBase):
    """fsspec-backed byte surface (s3/gs/az/… when fsspec + the
    filesystem driver are installed)."""

    # independent object PUTs through the fsspec sync API; flip the
    # INSTANCE attribute for a driver known not to tolerate concurrent
    # independent writes
    THREAD_SAFE_PUTS = True

    def __init__(self, fs, root: str):
        self.fs = fs
        self.root = root.rstrip("/")

    def _k(self, key: str) -> str:
        return f"{self.root}/{key}"

    def put(self, key: str, data: bytes) -> None:
        with self.fs.open(self._k(key), "wb") as f:
            f.write(data)

    def get(self, key: str) -> bytes:
        with self.fs.open(self._k(key), "rb") as f:
            return f.read()

    def exists(self, key: str) -> bool:
        return self.fs.exists(self._k(key))

    def delete(self, key: str) -> None:
        self.fs.rm(self._k(key))

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        # fsspec translates seek+read on object stores into a ranged GET
        with self.fs.open(self._k(key), "rb") as f:
            f.seek(offset)
            return f.read(length)

    def get_suffix(self, key: str, length: int) -> bytes:
        with self.fs.open(self._k(key), "rb") as f:
            f.seek(-length, 2)
            return f.read(length)

    def list_keys(self, prefix: str = "") -> list[str]:
        base = self._k(prefix) if prefix else self.root
        try:
            files = self.fs.find(base)
        except FileNotFoundError:
            return []
        return sorted(f[len(self.root) + 1 :] for f in files)


class HttpStore(StoreBase):
    """Read-only (key → bytes) mapping over http(s) using stdlib urllib
    (S2 — reference from_ngff_zarr.py:69-80 handles http URLs through
    fsspec; this engine needs no extra dependency for them).

    - ``get_range``/``get_suffix`` send RFC-7233 ``Range`` headers so
      sharded reads stay two small GETs; a server that ignores Range
      (responds 200) degrades gracefully to slicing the full body.
    - ``exists`` is a HEAD request (404 → False).
    - HTTP can't list objects, so ``list_keys`` is unsupported — reads
      navigate by metadata documents (``.zattrs``/``zarr.json``/
      ``.zmetadata``), never by listing, exactly like the reference's
      consolidated-metadata fast path.
    - Picklable (just a URL), so Spark executors can each open their
      own connections — no driver-side bottleneck.
    - Transient failures (HTTP 429/5xx, timeouts, connection resets —
      including a reset/short read MID-BODY, the common symptom of
      object-store throttling) are retried with capped exponential
      backoff + jitter, honoring a ``Retry-After`` header (numeric
      seconds or HTTP-date) when the server sends one. Server-specified
      waits get their own, larger cap (``retry_after_cap``) so a store
      asking for a 30 s pause is not re-hit after 8 s. The reference
      inherits the same behavior from fsspec/aiohttp
      (from_ngff_zarr.py:69-80); at 1000 executors hammering an object
      store, un-retried 503s would fail whole stages for routine
      throttling. Non-retryable statuses (403, 404, 416) surface
      immediately — auth failures must never read as "missing key".
    """

    RETRYABLE = frozenset({429, 500, 502, 503, 504})

    def __init__(
        self,
        root: str,
        max_retries: int = 5,
        backoff_base: float = 0.25,
        backoff_cap: float = 8.0,
        retry_after_cap: float = 120.0,
        timeout: float = 60.0,
    ):
        self.root = root.rstrip("/")
        self.max_retries = max_retries
        self.backoff_base = backoff_base
        self.backoff_cap = backoff_cap
        self.retry_after_cap = retry_after_cap
        self.timeout = timeout

    def _url(self, key: str) -> str:
        return f"{self.root}/{key}"

    def _parse_retry_after(self, value: str) -> Optional[float]:
        """Retry-After is either delta-seconds or an HTTP-date (RFC 9110
        §10.2.3); both forms are honored. Returns None if unparseable."""
        try:
            return float(value)
        except ValueError:
            pass
        try:
            import datetime as _datetime
            import time as _time
            from email.utils import parsedate_to_datetime

            dt = parsedate_to_datetime(value)
            if dt.tzinfo is None:
                # parsedate_to_datetime returns naive for '-0000' zones;
                # .timestamp() would interpret that in HOST local time,
                # skewing the wait by the UTC offset. HTTP-dates are UTC.
                dt = dt.replace(tzinfo=_datetime.timezone.utc)
            return dt.timestamp() - _time.time()
        except (TypeError, ValueError):
            return None

    def _backoff(self, attempt: int, retry_after: Optional[str]) -> float:
        # full jitter keeps a 1000-executor fleet from re-spiking the
        # server in lockstep after a throttle event
        import random

        jitter = random.uniform(0, min(self.backoff_cap, self.backoff_base * 2**attempt))
        if retry_after is not None:
            wait = self._parse_retry_after(retry_after)
            if wait is not None:
                # server-specified waits get their own (larger) cap:
                # clamping a requested 30 s pause to the 8 s jitter cap
                # would re-hit a throttling store early. Jitter rides on
                # TOP of the server wait — a fleet throttled at the same
                # instant and honoring the same exact Retry-After would
                # otherwise retry in lockstep and re-spike the store.
                return min(max(wait, 0.0) + jitter, self.retry_after_cap)
        return jitter

    def _request(
        self, key: str, method: str = "GET", headers: Optional[dict] = None
    ) -> tuple[int, bytes]:
        """One retried HTTP exchange; returns ``(status, body)``.

        The body read happens INSIDE the try so a connection reset or
        short read mid-body — the common symptom of object-store
        throttling — is retried exactly like a failed connect, instead
        of failing the Spark task on the first un-retried read().
        """
        import http.client
        import socket
        import time
        import urllib.error
        import urllib.request

        last_exc: Exception = RuntimeError("unreachable")
        for attempt in range(self.max_retries + 1):
            req = urllib.request.Request(
                self._url(key), method=method, headers=headers or {}
            )
            retry_after: Optional[str] = None
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return resp.status, resp.read()
            except urllib.error.HTTPError as e:
                if e.code not in self.RETRYABLE:
                    raise
                last_exc = e
                retry_after = e.headers.get("Retry-After") if e.headers else None
            except (
                urllib.error.URLError,
                http.client.HTTPException,  # IncompleteRead et al.
                socket.timeout,
                ConnectionError,
                TimeoutError,
            ) as e:
                last_exc = e
            if attempt < self.max_retries:
                time.sleep(self._backoff(attempt, retry_after))
        raise last_exc

    def put(self, key: str, data: bytes) -> None:
        raise NotImplementedError("HttpStore is read-only")

    def get(self, key: str) -> bytes:
        _, body = self._request(key)
        return body

    def exists(self, key: str) -> bool:
        import urllib.error

        try:
            self._request(key, method="HEAD")
            return True
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return False
            if e.code == 405:
                # server without HEAD support — retry as GET
                try:
                    self._request(key)
                    return True
                except urllib.error.HTTPError as e2:
                    if e2.code == 404:
                        return False
                    raise
            # 403 etc. must SURFACE: mapping auth failures to "missing"
            # silently reads an all-fill array from a misconfigured store
            raise

    def _ranged(self, key: str, range_header: str, offset: int, length: int) -> bytes:
        status, body = self._request(key, headers={"Range": range_header})
        if status == 206:
            return body
        # server ignored Range: slice the full body
        if range_header.startswith("bytes=-"):
            return body[-length:]
        return body[offset : offset + length]

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        return self._ranged(key, f"bytes={offset}-{offset + length - 1}", offset, length)

    def get_suffix(self, key: str, length: int) -> bytes:
        return self._ranged(key, f"bytes=-{length}", 0, length)

    def get_or_none(self, key: str) -> Optional[bytes]:
        # one GET: 404 → None; everything else (403, throttling after
        # retries) surfaces — auth failures must never read as missing
        import urllib.error

        try:
            return self.get(key)
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def get_suffix_or_none(self, key: str, length: int) -> Optional[bytes]:
        import urllib.error

        try:
            return self.get_suffix(key, length)
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def list_keys(self, prefix: str = "") -> list[str]:
        raise NotImplementedError(
            "HTTP stores cannot list keys; read through metadata documents"
        )
