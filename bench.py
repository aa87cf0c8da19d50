"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes end-to-end through a noop sink (full plan runs, no
driver collect). Pixel-operator benchmarks use a bench-scale synthetic
volume (~6.3M voxels) exercising the same plans as the gate queries.

Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3); ``queries``
reports the BEST run (the plan's steady-state cost, insensitive to
one-off JIT/contention spikes) and ``first_run`` the cold first
execution (compile + first-shuffle cost) separately.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ngff_zarr_spark import gate
from ngff_zarr_spark.fixtures import ImageSpec, pixel_df
from ngff_zarr_spark.operators import bin_shrink
from ngff_zarr_spark.session import get_spark

BENCH_IMG = ImageSpec("bench3d", z=96, y=256, x=257)  # ~6.3M voxels, odd x


def bench_bin_shrink(spark, sf_dir):
    return bin_shrink(pixel_df(spark, BENCH_IMG), BENCH_IMG.shape, {"z": 2, "y": 2, "x": 2})


def bench_gaussian(spark, sf_dir):
    """Chunk-local kernel path (the production plan; the window form is
    the oracle-semantics twin and is ~3 shuffles slower)."""
    from ngff_zarr_spark.operators.kernels import gaussian_downsample_chunked

    return gaussian_downsample_chunked(
        pixel_df(spark, BENCH_IMG), BENCH_IMG.shape, {"z": 2, "y": 2, "x": 2}
    )


def _bench_pyramid_write(spark, sf_dir, compressor):
    """VERDICT r4 ask #8 — the reference's PRIMARY workload is
    conversion (cli.py:164-440): build a 2-level pyramid over the bench
    volume and write it as an OME-Zarr 0.4 store (to_multiscales →
    to_ngff_zarr), end-to-end including chunk encode + compression.
    Executes its own write job; returns None so the harness skips the
    noop sink. Shuffle audit in PLANS.md §pyramid_write."""
    import shutil
    import tempfile

    from ngff_zarr_spark.model import NgffImage
    from ngff_zarr_spark.ome_zarr_api import to_multiscales, to_ngff_zarr

    img = NgffImage(
        data=pixel_df(spark, BENCH_IMG).select("t", "c", "z", "y", "x", "v"),
        dims=["z", "y", "x"],
        shape={"z": BENCH_IMG.z, "y": BENCH_IMG.y, "x": BENCH_IMG.x},
        scale={"z": 1.0, "y": 1.0, "x": 1.0},
        translation={"z": 0.0, "y": 0.0, "x": 0.0},
        name="image",
    )
    ms = to_multiscales(
        img,
        scale_factors=[{"z": 2, "y": 2, "x": 2}],
        method="ITKWASM_BIN_SHRINK",
        chunks={"z": 32, "y": 64, "x": 64},
    )
    out = tempfile.mkdtemp(prefix="bench_pyr_")
    try:
        to_ngff_zarr(
            os.path.join(out, "bench.ome.zarr"), ms, version="0.4",
            compressor=compressor,
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return None


def bench_pyramid_write(spark, sf_dir):
    """gzip entry — comparable across rounds (the historical default)."""
    return _bench_pyramid_write(spark, sf_dir, "gzip")


def bench_pyramid_write_zstd(spark, sf_dir):
    """Same pyramid, zstd codec — the production choice (zarr v3
    default): per-chunk encode is ~15x cheaper than gzip at
    equal-or-better ratio (3.9 ms vs 0.26 ms per 2 MB chunk). At bench
    scale (~54 chunks) both entries are shuffle/assembly-bound so the
    wall-clock gap is small; at 100 TB (~10^7-10^8 chunks) codec cost
    dominates the write and this is the first lever a conversion job
    pulls — the pair of entries documents it."""
    return _bench_pyramid_write(spark, sf_dir, "zstd")


_IVF_QUANTIZER = {}  # per-process cache: sf_dir -> (C, Cn)


def bench_ivf_build(spark, sf_dir):
    """IVF quantizer training (KMEANS_ITERS Lloyd iterations) — the
    BUILD step of the IVF index, measured on its own. At corpus scale
    this runs once when the index is (re)built; folding it into every
    probe (as the oracle-checked gate query must, so DuckDB can unroll
    the identical iterations) misstates the serving cost — that was the
    whole ann_ivf_topk r3→r4 'regression'."""
    from ngff_zarr_spark.functions import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _IVF_QUANTIZER[sf_dir] = S.kmeans_centroids(
        emb, gate.EMB_DIM, gate.IVF_CELLS, gate.KMEANS_ITERS
    )
    return None


def bench_ivf_topk(spark, sf_dir):
    """IVF probe with the pre-trained quantizer (serving shape): probe
    n_probe cells per query, exact re-rank of probed cells only. Uses
    the centroids bench_ivf_build cached; trains them here (untimed
    from this query's perspective is impossible, so build runs first in
    QUERIES order) only if the build entry errored."""
    from ngff_zarr_spark.functions import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cen = _IVF_QUANTIZER.get(sf_dir)
    if cen is None:
        cen = _IVF_QUANTIZER[sf_dir] = S.kmeans_centroids(
            emb, gate.EMB_DIM, gate.IVF_CELLS, gate.KMEANS_ITERS
        )
    return S.ivf_topk(
        emb, list(range(10)), k=gate.ANN_K, dim=gate.EMB_DIM,
        n_cells=gate.IVF_CELLS, n_probe=gate.IVF_PROBE, centroids=cen,
    )


def bench_dedup_clusters(spark, sf_dir):
    """Connected components with the interactive checkpoint mode pinned
    (reliable=False → localCheckpoint). The gate default picks reliable
    checkpointing only when a checkpoint dir is configured; the bench
    session never sets one, but pin it explicitly so a future session
    change can't silently flip the bench onto the per-round-disk-write
    path (reliable mode is the multi-hour-job posture, not a per-query
    cost)."""
    from ngff_zarr_spark.functions import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.duplicate_clusters(D.minhash_candidates(docs), reliable=False)


def bench_dedup_skew(spark, sf_dir):
    """Adversarial-skew dedup (VERDICT r8 ask #5 at bench scale): the
    corpus plus a 100k-member byte-identical boilerplate cluster. The
    bucket-occupancy cap keeps candidate generation at O(k) star edges
    — this entry is the round-over-round proof the pipeline stays
    LINEAR on the exact input the cap exists for (uncapped, the band
    join alone would enumerate ~5e9 pairs)."""
    from ngff_zarr_spark.functions import dedup as D

    docs = gate._skew_docs(spark, sf_dir, n=100_000)
    return D.duplicate_clusters(D.minhash_candidates(docs), reliable=False)


def bench_sessionize_plain(spark, sf_dir):
    """The explicit ``skew_safe=False`` single-window escape. The
    default-named gate (events_sessionize) now measures the segmented
    production plan; this entry keeps the plain plan's cost visible so
    the twin premium is a measured number round-over-round."""
    from pyspark.sql import functions as F

    from ngff_zarr_spark.functions.events import sessionize_counts

    ev = gate._events(spark, sf_dir).select("user_id", F.col("ts").alias("ns"))
    return sessionize_counts(
        ev, int(gate.SESSION_GAP_S) * 1_000_000_000, skew_safe=False
    )


def bench_asof_plain(spark, sf_dir):
    """The explicit ``skew_safe=False`` union-window escape (see
    bench_sessionize_plain — same role for the as-of join)."""
    from pyspark.sql import functions as F

    from ngff_zarr_spark.functions.events import asof_join

    ev = gate._events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    return asof_join(
        purchases, clicks, key="user_id", ts_col="ts",
        value_cols=("event_id",), suffix="_click", skew_safe=False,
    )


def bench_hcs_stream_write(spark, sf_dir):
    """Plate-scale incremental HCS write (VERDICT r8 ask #6): a 96-well
    (8x12) x 4-field acquisition manifest stream drained availableNow
    through incremental_well_write_stream — 384 field writes, each a
    small distributed store-write job plus a well-attr upsert. The cost
    is DOMINATED by per-field job scheduling + metadata churn, which is
    precisely the regression this entry watches (pixel volume is kept
    small on purpose). Executes its own jobs; returns None."""
    import shutil
    import tempfile

    from ngff_zarr_spark.hcs import Plate, PlateColumn, PlateRow, PlateWell, to_hcs_zarr
    from ngff_zarr_spark.model import NgffImage
    from ngff_zarr_spark.ome_zarr_api import to_multiscales
    from ngff_zarr_spark.streaming.pipeline import (
        incremental_well_write_stream,
        write_manifest,
    )

    rows = [chr(ord("A") + i) for i in range(8)]
    cols = [str(i + 1) for i in range(12)]
    plate = Plate(
        columns=[PlateColumn(c) for c in cols],
        rows=[PlateRow(r) for r in rows],
        wells=[
            PlateWell(f"{r}/{c}", ri, ci)
            for ri, r in enumerate(rows)
            for ci, c in enumerate(cols)
        ],
        name="Bench Plate",
        field_count=4,
    )
    base = tempfile.mkdtemp(prefix="bench_hcs_")
    store = os.path.join(base, "plate.ome.zarr")
    manifests = os.path.join(base, "manifests")
    ckpt = os.path.join(base, "ckpt")
    to_hcs_zarr(plate, store)

    spec = ImageSpec("hcsf", z=2, y=16, x=16)
    field_pixels = pixel_df(spark, spec).select("t", "c", "z", "y", "x", "v")

    def field_ms(row, col, fi):
        img = NgffImage(
            data=field_pixels,
            dims=["z", "y", "x"],
            shape={"z": 2, "y": 16, "x": 16},
            scale={"z": 1.0, "y": 1.0, "x": 1.0},
            translation={"z": 0.0, "y": 0.0, "x": 0.0},
        )
        return to_multiscales(img, scale_factors=[], chunks={"z": 2, "y": 16, "x": 16})

    for r in rows:
        for c in cols:
            for fi in range(4):
                write_manifest(manifests, r, c, fi)
    from ngff_zarr_spark import phases

    phases.reset()
    t0 = time.time()
    try:
        q = incremental_well_write_stream(
            spark, manifests, store, plate, field_ms, checkpoint_dir=ckpt
        )
        t_start = time.time() - t0
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("hcs stream drain exceeded 600s")
        drain = time.time() - t0
        # per-phase attribution (VERDICT r10 ask #1): write_fields NESTS
        # attr_upsert/pixel_jobs/consolidate; "unattributed" is stream
        # machinery (micro-batch planning, file-source listing, commit
        # log) = drain - (collect + build + write_fields)
        snap = phases.snapshot()
        top = {k: v["sec"] for k, v in snap.items()}
        unattr = round(
            drain
            - top.get("manifest_collect", 0.0)
            - top.get("build_multiscales", 0.0)
            - top.get("write_fields", 0.0),
            3,
        )
        print(
            "# hcs_stream_write phases: "
            + json.dumps(
                {
                    "stream_start": round(t_start, 3),
                    "drain_total": round(drain, 3),
                    "unattributed_stream_machinery": unattr,
                    **snap,
                }
            ),
            file=sys.stderr,
        )
        # fold the phase tripwires into the graded artifact (VERDICT
        # r14 ask #3): BASELINE.md bars `hcs_stream_write.pixel_jobs`
        # and `hcs_stream_write.unattributed_stream_machinery` grade
        # from bench_out.json's queries dict like every other bar —
        # main() merges these in WITHOUT adding them to the headline
        # total (they are sub-phases of the hcs_stream_write entry,
        # not extra work)
        _PHASE_ENTRIES["hcs_stream_write.pixel_jobs"] = round(
            top.get("pixel_jobs", 0.0), 3
        )
        _PHASE_ENTRIES["hcs_stream_write.unattributed_stream_machinery"] = unattr
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return None


_BENCH_STORE = {}  # per-process cache: sf_dir -> written store path

# sub-phase entries folded into the output queries dict (VERDICT r14
# ask #3) — populated by bench_hcs_stream_write, merged by main()
# after the timing loop, EXCLUDED from the headline total
_PHASE_ENTRIES: dict[str, float] = {}


def bench_pyramid_read_roi(spark, sf_dir):
    """The scan half of the conversion workload: read a z-slab ROI back
    from the bench pyramid store through the ome_zarr DataSource. The
    z-range predicate reaches the reader's pushFilters and prunes to
    1/3 of the chunk grid — this benches pruned-scan + decode, the
    access pattern of every downstream viewer/analysis read. The store
    is written once per process (setup, not part of the read cost)."""
    import tempfile

    from ngff_zarr_spark.model import NgffImage
    from ngff_zarr_spark.ome_zarr_api import (
        read_image, to_multiscales, to_ngff_zarr,
    )
    from pyspark.sql import functions as F

    store = _BENCH_STORE.get(sf_dir)
    if store is None:
        img = NgffImage(
            data=pixel_df(spark, BENCH_IMG).select("t", "c", "z", "y", "x", "v"),
            dims=["z", "y", "x"],
            shape={"z": BENCH_IMG.z, "y": BENCH_IMG.y, "x": BENCH_IMG.x},
            scale={"z": 1.0, "y": 1.0, "x": 1.0},
            translation={"z": 0.0, "y": 0.0, "x": 0.0},
            name="image",
        )
        ms = to_multiscales(
            img, scale_factors=[{"z": 2, "y": 2, "x": 2}],
            method="ITKWASM_BIN_SHRINK", chunks={"z": 32, "y": 64, "x": 64},
        )
        store = os.path.join(tempfile.mkdtemp(prefix="bench_read_"), "r.ome.zarr")
        to_ngff_zarr(store, ms, version="0.4")
        _BENCH_STORE[sf_dir] = store
    return (
        read_image(spark, store, "scale0/image")
        .filter((F.col("z") >= 32) & (F.col("z") < 64))
        .groupBy("z")
        .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
    )


def bench_percentiles(spark, sf_dir):
    """Production percentile path (skew-safe bucketed dispatch) on the
    natural value column."""
    from ngff_zarr_spark.functions.events import exact_percentiles

    return exact_percentiles(gate._events(spark, sf_dir))


def bench_percentiles_skew(spark, sf_dir):
    """Heavy-tailed values via a deterministic hash-seeded transform:
    v = exp(20·u), u = h64(event_id)%10⁶/10⁶ — spans e⁰..e²⁰, so the
    top-level uniform histogram concentrates ~every row of a type in
    ONE bucket and the sf0.1 group sizes (~10⁵) exceed the default
    occupancy bound: the descent path runs with production knobs."""
    from pyspark.sql import functions as F

    from ngff_zarr_spark.functions.events import exact_percentiles

    ev = gate._events(spark, sf_dir).select(
        "event_type",
        F.exp(
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                    16, 10,
                ).cast("long"),
                F.lit(1_000_000),
            )
            / F.lit(50_000.0)
        ).alias("value"),
    )
    return exact_percentiles(ev, occupancy_bound=1 << 14)


QUERIES = {
    "tpch_q1": gate.q_tpch_q1,
    "tpch_q4": gate.q_tpch_q4,
    "tpch_q14": gate.q_tpch_q14,
    "tpch_q19": gate.q_tpch_q19,
    "tpch_q3": gate.q_tpch_q3,
    "tpch_q5": gate.q_tpch_q5,
    "tpch_q6": gate.q_tpch_q6,
    "tpch_q10": gate.q_tpch_q10,
    # r11: correlated-subquery family (decorrelated scalar-per-group,
    # multi-EXISTS self-joins, scalar aggregate + anti join)
    "tpch_q17": gate.q_tpch_q17,
    "tpch_q21": gate.q_tpch_q21,
    "tpch_q22": gate.q_tpch_q22,
    "a2_bin_shrink": bench_bin_shrink,
    "a1_gaussian": bench_gaussian,
    "pyramid_write": bench_pyramid_write,
    "pyramid_write_zstd": bench_pyramid_write_zstd,
    "pyramid_read_roi": bench_pyramid_read_roi,
    "dedup_minhash": gate.q_dedup_minhash,
    "dedup_clusters": bench_dedup_clusters,
    "dedup_exact": gate.q_dedup_exact,
    "text_quality": gate.q_text_quality,
    "text_lang_id": gate.q_text_lang_id,
    "ann_cosine_topk": gate.q_ann_cosine_topk,
    "ann_lsh_topk": gate.q_ann_lsh_topk,
    "ann_ivf_build": bench_ivf_build,
    "ann_ivf_topk": bench_ivf_topk,
    "ann_pq_topk": gate.q_ann_pq_topk,
    "emb_near_dup_lsh": gate.q_emb_near_dup_lsh,
    "multimodal_features": gate.q_multimodal_features,
    "multimodal_resize": gate.q_multimodal_resize,
    "sketch_count_min": gate.q_sketch_count_min,
    "events_sessionize": gate.q_events_sessionize,
    "events_hourly": gate.q_events_hourly,
    "text_gopher": gate.q_text_gopher,
    "dedup_shingle_frac": gate.q_dedup_shingle_frac,
    "events_asof": gate.q_events_asof_attribution,
    # r8 additions: regex-heavy PII scrub (pure codegen, no shuffle),
    # duplicated-substring spans (the shuffle-heaviest new op: explode
    # + count-join + per-doc windows), and the composed filter pipeline
    "text_pii": gate.q_text_pii,
    "dedup_spans": gate.q_dedup_dup_spans,
    "corpus_filter": gate.q_corpus_filter_pipeline,
    # r9 additions: the cap's design-case input at 100k cluster size,
    # and the plate-scale incremental write (both VERDICT r8 asks)
    "dedup_skew": bench_dedup_skew,
    "hcs_stream_write": bench_hcs_stream_write,
    # r10: the skew-safe twins are now the PRODUCTION DEFAULTS —
    # events_sessionize / events_asof above measure the segmented
    # plans (what a user of the default API gets); the *_plain entries
    # keep the single-window escape's cost visible round-over-round so
    # the twin premium stays a measured number, not a claim
    "events_sessionize_plain": bench_sessionize_plain,
    "events_asof_plain": bench_asof_plain,
    # r10: capacity-bounded IVF quantizer build on the adversarially
    # clustered corpus (hub-collapsed; the gate's exact shape) — the
    # cost of the hard cap at build time
    "ann_ivf_balanced": gate.q_ann_ivf_balanced,
    # r10: SemDeDup over the bounded lists at the same adversarial
    # corpus — per-task pair work capped at IVF_CAP² by construction
    "semantic_dedup": gate.q_semantic_dedup,
    # r10: keep-one substring-dedup deletion budget — one fingerprint
    # aggregate + one cardinality-preserving join; text never shuffles
    "dedup_substring_cut": gate.q_dedup_substring_cut,
    # r10: temperature mixture — tiny plan broadcast + per-row hash
    # compare + bounded epoch explode; text never shuffles
    "corpus_temperature_mix": gate.q_corpus_temperature_mix,
    # r10: exact global shuffle rank via hash-range buckets + prefix sum
    "corpus_seeded_shuffle": gate.q_corpus_seeded_shuffle,
    # r10: hashed-bigram LM scoring — two hash aggregates + two
    # cardinality-preserving joins; text never shuffles
    "text_lm_perplexity": gate.q_text_lm_perplexity,
    "corpus_dsir_weights": gate.q_corpus_dsir_weights,
    # r10: perceptual image hashing + capped near-dup pairs
    "multimodal_ahash": gate.q_multimodal_ahash,
    "multimodal_image_dedup": gate.q_multimodal_image_dedup,
    # r10: trailing-24h distinct users via max-merged hourly HLL regs
    # r10: audio-fingerprint exact dedup groups
    # r10: shared-clip detection via frame-token shingling
    # r10: cross-modal keep/drop composition
    "multimodal_dedup_verdict": gate.q_multimodal_dedup_verdict,
    "multimodal_video_clips": gate.q_multimodal_video_clips,
    "multimodal_audio_dedup": gate.q_multimodal_audio_dedup,
    "events_sliding_distinct": gate.q_events_sliding_distinct,
    # r10: exact percentiles — production (bucketed) plan on natural
    # values, and a deterministic heavy-tail transform (exp over a
    # hashed uniform: ~every row in one value bucket) that drives the
    # sf0.1 group sizes over the descent bound, so the value-skew
    # descent path's cost is a measured number
    "events_percentiles": bench_percentiles,
    "events_percentiles_skew": bench_percentiles_skew,
    # r12: TF-IDF shingle weights + term-partitioned sparse top-k
    # cosine (df-capped self-join, two-phase top-k)
    "ir_tfidf_topk": gate.q_ir_tfidf_topk,
    # r12: hashed linear quality scorer + calibrated keep threshold
    "text_quality_classifier": gate.q_text_quality_classifier,
    # r12: distributed BPE merge learning (8 vocab-sized argmax jobs)
    # and the trained tokenizer applied back via one vocab join
    "text_bpe_merges": gate.q_text_bpe_merges,
    "text_bpe_subwords": gate.q_text_bpe_subwords,
    # r12: Levenshtein re-rank of capped LSH candidates (threshold DP)
    "dedup_edit_distance": gate.q_dedup_edit_distance,
    # r12: Okapi BM25 doc-as-query retrieval over the shingle space
    "ir_bm25_topk": gate.q_ir_bm25_topk,
    # r12: the remaining slim-schema TPC-H plan families
    "tpch_q7": gate.q_tpch_q7,
    "tpch_q8": gate.q_tpch_q8,
    "tpch_q9": gate.q_tpch_q9,
    "tpch_q13": gate.q_tpch_q13,
    "tpch_q15": gate.q_tpch_q15,
    "tpch_q18": gate.q_tpch_q18,
    "tpch_q2": gate.q_tpch_q2,
    "tpch_q11": gate.q_tpch_q11,
    "tpch_q12": gate.q_tpch_q12,
    "tpch_q16": gate.q_tpch_q16,
    "tpch_q20": gate.q_tpch_q20,
    # r12: integer-exact PageRank over the capped candidate graph
    "graph_pagerank": gate.q_graph_pagerank,
    # r12: trained-tokenizer encode (positional words x vocab join)
    "text_bpe_encode": gate.q_text_bpe_encode,
    # r12: Z-order layout keys (1-row stats broadcast + shift/mask)
    "events_zorder_key": gate.q_events_zorder_key,
    # r12: hybrid retrieval — integer RRF of the BM25 + cosine runs
    "ir_rrf_fusion": gate.q_ir_rrf_fusion,
    # r13: free-text BM25 serving path (broadcast query terms onto tf)
    "ir_bm25_query": gate.q_ir_bm25_query,
    # r13: star-contraction CC on ~diameter-511 chains (O(log n) rounds)
    "dedup_clusters_chain": gate.q_dedup_clusters_chain,
    # r13: 3-dim Morton keys (user, value, time)
    "events_zorder_nd": gate.q_events_zorder_nd,
    # r13: recall/MRR/nDCG of the BM25 run vs the Jaccard relevance set
    "ir_eval_metrics": gate.q_ir_eval_metrics,
    # r13: free-vector ANN serving path (broadcast queries, one pass)
    "ann_cosine_query": gate.q_ann_cosine_query,
    # r13: C4-style line-level dedup (cut corpus-repeated line-blocks)
    "dedup_lines": gate.q_dedup_lines,
    # r13: degree-ordered triangle counting over the candidate graph
    "graph_triangles": gate.q_graph_triangles,
    # r13: weighted sampling without replacement (priority sampling)
    "corpus_priority_sample": gate.q_corpus_priority_sample,
    # r13: int8 scalar-quantized ANN serving path (integer dot scorer)
    "ann_sq8_topk": gate.q_ann_sq8_topk,
    # r13: MMR diversity re-rank over the SQ8 pool (all-integer greedy)
    "ann_mmr_rerank": gate.q_ann_mmr_rerank,
    # r13: streaming twin of priority sampling (bounded top-(k+1) state)
    "corpus_priority_sample_stream": gate.q_corpus_priority_sample_stream,
    # r13: label-centroid separation diagnostic (integer SQ8 sums)
    "emb_label_centroids": gate.q_emb_label_centroids,
    # r13: vocabulary coverage curve (bounded frequency-summary math)
    "text_vocab_coverage": gate.q_text_vocab_coverage,
    # r13: native multi-level ROLLUP report over events
    "events_rollup": gate.q_events_rollup,
    # r13: free-vector MMR serving path (literal queries, SQ8 greedy)
    "ann_mmr_query": gate.q_ann_mmr_query,
    # r14: newline-mode C4 line dedup over the synthesized nl corpus
    "dedup_lines_nl": gate.q_dedup_lines_nl,
    # r14: 13-gram benchmark decontamination (broadcast gram set)
    "dedup_contamination": gate.q_dedup_contamination,
    # r14: end-to-end chunk-pruned ROI read (write + pruned scan)
    "s1_roi_pruned_read": gate.q_s1_roi_pruned_read,
    # r14: cross-batch streaming twin of the decontamination scan
    "dedup_contamination_stream": gate.q_dedup_contamination_stream,
    # r14: incremental new-crawl-vs-corpus dedup verdicts (cross-set
    # banded minhash, ref-side witness cap, corpus never self-paired)
    "dedup_incremental": gate.q_dedup_incremental,
    # r14: the foreachBatch streaming ingest gatekeeper over the
    # offline corpus signature index
    "dedup_incremental_stream": gate.q_dedup_incremental_stream,
    # r15: persisted-index lifecycle (write + append-refresh + probe
    # over the stored index — parquet I/O is part of the measured cost)
    "dedup_index_refresh": gate.q_dedup_index_refresh,
    # r15: the composed 6-stage corpus pipeline (filter → line dedup →
    # near-dup keep → decontaminate → mixture → pack, digest output)
    "corpus_pipeline": gate.q_corpus_pipeline_battery,
    # r15: the composed 5-stage events pipeline (sessionize → engaged
    # cut → as-of attribution → funnel/retention → percentiles)
    "events_pipeline": gate.q_events_pipeline_battery,
    # r15: exact two-pass heavy hitters (Misra-Gries candidates +
    # broadcast recount — never a distinct-key-sized shuffle)
    "sketch_heavy_hitters": gate.q_sketch_heavy_hitters,
    # r15: URL canonicalization dedup + per-host crawl profile (pure
    # JVM expression canonicalizer, one hash aggregate each)
    "web_url_dedup": gate.q_web_url_dedup,
    "web_host_stats": gate.q_web_host_stats,
    # r15: streaming heavy hitters (two-micro-batch candidate ledger +
    # drain-time exact recount over the accumulated files)
    "sketch_heavy_hitters_stream": gate.q_sketch_heavy_hitters_stream,
    # r15: the composed 5-stage multimodal pipeline (decode -> size cut
    # -> aHash pairs -> cross-modal verdict -> resize of the kept docs)
    "multimodal_pipeline": gate.q_multimodal_pipeline_battery,
    # r15: streaming URL dedup (stateless canonical ledger + drain-time
    # clustering aggregate)
    "web_url_dedup_stream": gate.q_web_url_dedup_stream,
    # r16: the composed 6-stage imaging pipeline (TIFF ingest -> A1
    # Gaussian pyramid -> sharded v3 write -> pruned ROI read ->
    # 0.5->0.4 conversion -> metadata/schema validation) — the
    # reference CLI journey end-to-end
    "imaging_pipeline": gate.q_imaging_pipeline_battery,
    # r16: the composed crawl pipeline (canonicalize+cluster -> host
    # profile -> per-host budget cap -> Gopher quality on survivors)
    "web_pipeline": gate.q_web_pipeline_battery,
}


# end-to-end pipeline entries (hundreds of scheduled jobs per run):
# one timed run — best-of-3 would triple bench wall-clock for entries
# whose variance is dominated by job-scheduling, not plan choice
SINGLE_RUN = {
    "hcs_stream_write",
    "dedup_skew",
    # r15: stage-checkpointed pipelines — dozens of scheduled jobs per
    # run, same rationale as hcs_stream_write
    "dedup_index_refresh",
    "corpus_pipeline",
    "events_pipeline",
    "multimodal_pipeline",
    # r16: store writes + conversion + validation per run
    "imaging_pipeline",
    # r16: stage-checkpointed crawl chain
    "web_pipeline",
}


def run_query(df) -> None:
    if df is None:  # the query executed its own job (write-path benches)
        return
    df.write.format("noop").mode("overwrite").save()


# one constant for both the idle-wait and the contended stamp — a
# re-band of the bar can never desync the two (ADVICE r14).
# r17 (VERDICT r16 ask #2): 4.0 stamped a load-3.43, ~25%-drifted sweep
# as uncontended; solo captures start near load ≤1.6 on this box, so
# the bar is now 2.0 and the wait budget is long enough for a pytest
# battery's loadavg tail to decay.
LOAD_BAR = 2.0
# mid-run contention bar: average FOREIGN cpu-seconds/second across the
# whole run (system busy minus this process tree's own CPU — the bench
# saturating local[32] never trips it, a concurrent pytest battery
# does; measured 4.07 foreign CPUs while the 230-entry correctness gate
# ran alongside). Calibration floor: Python workers whose pyspark
# daemon exits first get reparented to init, so their teardown CPU
# leaks out of the tree — a VERIFIED-solo full sweep reads ~1.7
# "foreign" CPUs from this (single-entry runs read 0.0). The bar sits
# at floor + ~1.3 margin: above two observed solo-sweep floors
# (1.65/1.70), low enough to catch sub-battery contenders (a 3-CPU
# concurrent job drifts timings and must stamp contended=true; only
# the full 32-thread battery was measured at 4.07).
FOREIGN_CPU_BAR = 3.0


def _await_idle_box(max_wait_s: float = 600.0, load_bar: float = LOAD_BAR) -> float:
    """Bench integrity (VERDICT r13 ask #2): the r13 official capture
    drifted 1.19× because it shared the box with a pytest battery.
    Wait (bounded) for the 1-min load average to fall under
    ``load_bar``, then return the load at start-of-run — main() stamps
    it into the output JSON so a contended capture is self-evident to
    any reader instead of silently poisoning the round's numbers."""
    deadline = time.time() + max_wait_s
    load = os.getloadavg()[0]
    while load > load_bar and time.time() < deadline:
        print(
            f"# box not idle (load {load:.1f} > {load_bar}) — waiting",
            file=sys.stderr,
        )
        time.sleep(10)
        load = os.getloadavg()[0]
    if load > load_bar:
        print(
            f"# WARNING: benching on a contended box (load {load:.1f}); "
            "numbers will be stamped contended=true",
            file=sys.stderr,
        )
    return load


_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _system_busy_s() -> float | None:
    """System-wide busy cpu-seconds since boot (/proc/stat cpu line):
    user+nice+system+irq+softirq+steal. guest/guest_nice (fields 9-10)
    are EXCLUDED — the kernel already folds guest time into user/nice,
    so summing every field would double-count VM guests and inflate
    the foreign measure on a VM-hosting box (code-review r17). None
    off-Linux."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:9]]  # through steal, no guest
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return (sum(vals) - idle) / _CLK_TCK
    except (OSError, ValueError, IndexError):
        return None


def _proc_tree_cpu_s(pid: int | None = None) -> float | None:
    """cpu-seconds consumed by ``pid`` and its live descendants (the
    bench python driver + the Spark JVM + Arrow workers), including
    already-reaped children via cutime/cstime. None off-Linux."""
    pid = pid or os.getpid()
    try:
        total = 0.0
        stack = [pid]
        seen = set()
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            try:
                with open(f"/proc/{p}/stat") as fh:
                    # field 2 (comm) may contain spaces — split after ')'
                    rest = fh.read().rsplit(")", 1)[1].split()
                # rest[11..14] = utime stime cutime cstime (1-indexed 14-17)
                total += sum(int(v) for v in rest[11:15]) / _CLK_TCK
                # children must be gathered from EVERY task (thread) of
                # the process: the Spark JVM forks Python workers from
                # non-main threads, and a main-thread-only walk counts
                # their CPU as foreign
                for tid in os.listdir(f"/proc/{p}/task"):
                    try:
                        with open(f"/proc/{p}/task/{tid}/children") as fh:
                            stack.extend(int(c) for c in fh.read().split())
                    except (OSError, ValueError):
                        continue
            except (OSError, ValueError, IndexError):
                continue
        return total
    except Exception:  # noqa: BLE001 - diagnostics only, never fail a bench
        return None


def _foreign_cpu_raw(sys0, tree0, wall0) -> float | None:
    """Average non-bench CPUs busy over the window, UNCLAMPED:
    (system busy Δ − this process tree's Δ) / wall. None when the
    /proc sources are unavailable."""
    sys1, tree1 = _system_busy_s(), _proc_tree_cpu_s()
    wall = time.time() - wall0
    if None in (sys0, tree0, sys1, tree1) or wall <= 0:
        return None
    return max(0.0, (sys1 - sys0) - (tree1 - tree0)) / wall


def _foreign_cpu_avg(sys0, tree0, wall0) -> float | None:
    """Average non-bench CPUs busy over the run (r16 drift finding:
    this measures contention DURING the run with the bench's own
    full-box load excluded). A reading above the box's CPU count is
    physically impossible as an average concurrency — it's an
    accounting artifact (steal-time catch-up dumping accumulated ticks
    into a short window, or a /proc tree-walk race under-counting the
    bench's own delta). The r18 subset capture stamped one 0.3s entry
    at 395 "foreign CPUs" on a 32-CPU box; report such readings as
    unmeasurable, not as data. NOTE (ADVICE r18): the whole-run
    contended flag must NOT be computed from this clamped value —
    main() uses _foreign_cpu_raw so a steal-time spike still marks the
    run contended."""
    fca = _foreign_cpu_raw(sys0, tree0, wall0)
    ncpu = os.cpu_count() or 32
    return None if fca is not None and fca > ncpu else fca


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    load_start = _await_idle_box()
    sys0, tree0, wall0 = _system_busy_s(), _proc_tree_cpu_s(), time.time()
    spark = get_spark("bench")
    try:
        # warm the JVM + parquet reader so per-query numbers reflect the plans
        spark.read.parquet(f"{sf_dir}/region.parquet").count()
        # warm the Python UDF workers too (spawn cost ~100ms x 32 workers is
        # a fixed cluster-lifetime cost, not a per-query plan property)
        import pyarrow as _pa
        from pyspark.sql import functions as _F

        (
            spark.range(64)
            .withColumn("g", _F.col("id") % 8)
            .groupBy("g")
            .applyInArrow(lambda t: t, "id long, g long")
            .write.format("noop").mode("overwrite").save()
        )
        # warm the packed ome_zarr write path too (Python data-source
        # writer init + commit protocol + union/exchange codegen are
        # one-time cluster-lifetime costs, not per-query plan
        # properties; r10's judge-vs-driver hcs_stream_write spread was
        # attributed via the phase timers to exactly this first-use
        # premium). Deliberately a DIFFERENT small geometry than any
        # bench entry — machinery warmup, not plan priming.
        import shutil as _sh
        import tempfile as _tf

        from ngff_zarr_spark.ome_zarr_api import write_image_batch as _wib

        _wspec = ImageSpec("warm", z=2, y=8, x=8)
        _wdf = pixel_df(spark, _wspec).select("z", "y", "x", "v")
        _wbase = _tf.mkdtemp(prefix="bench_warm_")
        try:
            _wib(
                [(_wdf, f"{i}/image") for i in range(4)],
                _wbase,
                {"z": 2, "y": 8, "x": 8},
                ["z", "y", "x"],
                {"z": 2, "y": 8, "x": 8},
            )
        finally:
            _sh.rmtree(_wbase, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001 - warmup is best-effort
        print(f"# warmup failed (continuing): {exc}", file=sys.stderr)

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # SPARK_GRAFT_BENCH_ONLY=a,b,c — time a subset (bar-setting for new
    # entries without a full sweep); the official capture leaves it unset
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    selected = (
        {k: v for k, v in QUERIES.items() if k in set(only.split(","))}
        if only
        else QUERIES
    )
    timings = {}
    first_run = {}
    errors = {}
    entry_stamps = {}
    total = 0.0
    for name, fn in selected.items():
        # per-query isolation: one broken query must never zero the
        # whole bench file (round-5 post-mortem — a single regression
        # crashed main() and the round recorded no numbers at all)
        runs = []
        # per-entry contention stamp (VERDICT r17 ask #2): the r17
        # driver sweep passed the whole-run guard by 2% and still
        # tripped one bar — a per-entry timestamp + rolling foreign-CPU
        # reading lets a near-bar sweep's violations be attributed to a
        # contention WINDOW post-hoc instead of requiring a full re-run
        e_sys0, e_tree0, e_wall0 = (
            _system_busy_s(), _proc_tree_cpu_s(), time.time(),
        )
        try:
            for i in range(1 if name in SINGLE_RUN else n_runs):
                # each run re-executes the FULL plan: some queries .cache()
                # intermediates, and Spark's plan-matching CacheManager would
                # otherwise serve runs 2..n from run 1's cache (intra-run
                # caching is part of the plan and still measured)
                spark.catalog.clearCache()
                t0 = time.time()
                run_query(fn(spark, sf_dir))
                runs.append(round(time.time() - t0, 3))
        except Exception as exc:  # noqa: BLE001 - record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
        finally:
            e_fca = _foreign_cpu_avg(e_sys0, e_tree0, e_wall0)
            entry_stamps[name] = {
                "t_start": round(e_wall0 - wall0, 1),
                "wall": round(time.time() - e_wall0, 3),
                "foreign_cpu": round(e_fca, 2) if e_fca is not None else None,
            }
        if name in errors:
            continue
        best = min(runs)
        timings[name] = best
        first_run[name] = runs[0]
        total += best
        print(
            f"# {name}: best {best:.3f}s  runs {runs}", file=sys.stderr
        )

    # run tag = current git HEAD — lets a reader detect a stale
    # bench_out.json left by a previous round (ADVICE r11)
    try:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        head = None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    out = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "first_run": first_run,
        "runs": n_runs,
        "sf": sf,
        # core count the run executed at (local[cpus]) — lets a reader
        # of a stamped bench_out_<cpus>.json verify which scaling run
        # produced it (VERDICT r19 ask #2)
        "cpus": cpus,
        "git_head": head,
        # load average when the run started — a solo capture on this
        # 32-cpu box starts near 0; anything above the bar means the
        # numbers shared the machine with other work (r13 post-mortem)
        "load_avg_start": round(load_start, 2),
        # end-of-run loadavg is informational (it includes the bench's
        # own full-box load); the mid-run contention VERDICT is
        # foreign_cpu_avg, which excludes this process tree (r17)
        "load_avg_end": round(os.getloadavg()[0], 2),
        "foreign_cpu_avg": (
            round(fca, 2)
            if (fca := _foreign_cpu_avg(sys0, tree0, wall0)) is not None
            else None
        ),
        # contended grades from the RAW reading (ADVICE r18): a
        # steal-time spike above ncpu is itself evidence the box was
        # contended — clamping it to None must not let the run pass
        # the contention guard
        "contended": bool(
            load_start > LOAD_BAR
            or (
                (fraw := _foreign_cpu_raw(sys0, tree0, wall0)) is not None
                and fraw > FOREIGN_CPU_BAR
            )
        ),
        # per-entry {t_start (s into the run), wall, foreign_cpu} —
        # check_bars.py prints these next to any violation so a
        # contention window is attributable post-hoc (r17 ask #2)
        "entry_stamps": entry_stamps,
    }
    if errors:
        out["errors"] = errors
    # the phase tripwires grade from the same artifact as every other
    # bar (VERDICT r14 ask #3); they are sub-phases of entries already
    # summed into `total`, so they join `queries` but not the metric
    timings.update(_PHASE_ENTRIES)
    line = json.dumps(out)
    # persist the FULL record to a file first: the graded artifact must
    # not depend on stdout capture (BENCH_r10.json lost its best-of-3
    # dict to a driver-side tail truncation — VERDICT r10 ask #7).
    # ALSO stamp bench_out_<cpus>.json (VERDICT r19 ask #2): the driver
    # runs the bench twice (main + low-core scaling); each run
    # overwrites bench_out.json, so the r19 8-core run clobbered the
    # 32-core per-query detail and PERF_r19's per_query/scaling tables
    # came up empty. The per-cpus stamp preserves BOTH runs' per-query
    # maps. (The map cannot ride the stdout one-line JSON: the driver
    # keeps a 2000-char stdout tail — measured exactly 2000 in
    # BENCH_r19.json — and the 112-entry map alone is 2681 chars
    # compact, so inlining it would truncate the line and null the
    # whole artifact, the r10 failure mode again.)
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    for fname in ("bench_out.json", f"bench_out_{cpus}.json"):
        try:
            with open(os.path.join(bench_dir, fname), "w") as fh:
                fh.write(line + "\n")
        except OSError as exc:
            print(f"# {fname} write failed: {exc}", file=sys.stderr)
    # stdout gets a TOTALS-ONLY line (VERDICT r15 ask #1): the driver
    # keeps only a 2000-char TAIL of stdout, so a line carrying the
    # 110-entry per-query dict loses its opening brace and parses null.
    # The full record (queries, first_run, phase tripwires) lives in
    # bench_out.json, which is what check_bars.py and the judge read.
    slim = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "runs": out["runs"],
        "sf": out["sf"],
        "git_head": out["git_head"],
        "n_queries": len(timings),
        "n_errors": len(errors),
        "load_avg_start": out["load_avg_start"],
        "load_avg_end": out["load_avg_end"],
        "foreign_cpu_avg": out["foreign_cpu_avg"],
        "contended": out["contended"],
        "cpus": out["cpus"],
        "detail": "bench_out.json",
        # per-core-count stamp that SURVIVES the driver's second
        # (low-core) run — the per-query map for THIS run lives here
        # (VERDICT r19 ask #2; additions-only, every existing key is
        # byte-compatible)
        "detail_per_cpus": f"bench_out_{cpus}.json",
    }
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
