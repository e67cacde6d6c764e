"""FaissSparkEngine — the Spark-native re-expression of the reference's
function surface (SURVEY.md §2.1, /root/reference/src/faiss_extension.cpp).

| reference function        | engine method       |
|---------------------------|---------------------|
| faiss_create (:96-164)    | create              |
| faiss_create_params       | create (params=...) |
| faiss_destroy (:246-265)  | destroy             |
| faiss_add (:423-615)      | add                 |
| faiss_manual_train        | manual_train        |
| faiss_search (:903-925)   | search / search_flat|
| faiss_search_filter       | search_filter       |
| faiss_search_filter_set   | search_filter_set   |
| faiss_save / faiss_load   | save / load         |
| faiss_to_gpu              | unsupported (no GPU)|

Indexes are immutable lineages (registry.py); searches are distributed
numpy-over-Arrow (operators/topk.py); IVF training is MLlib KMeans.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import tempfile
import threading
import warnings
from contextlib import contextmanager
from typing import Optional

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from duckdb_faiss_ext_spark.errors import (
    FaissSparkError,
    ImmutableIndex,
    LabelModeMismatch,
    NonIDMapLabels,
    TrainingError,
)
from duckdb_faiss_ext_spark.factory import parse_factory
from duckdb_faiss_ext_spark.metrics import (
    is_descending,
    pairwise,
    resolve_metric,
    topk_indices,
)
from duckdb_faiss_ext_spark import vectors
from duckdb_faiss_ext_spark.operators import topk as topk_ops
from duckdb_faiss_ext_spark.registry import (
    LABEL_FALSE,
    LABEL_TRUE,
    LABEL_UNDECIDED,
    FaissIndex,
    IndexRegistry,
)


logger = logging.getLogger(__name__)


class FaissSparkEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.registry = IndexRegistry()
        # analyzed-plan semanticHash -> probed query-side row estimate
        # (see _query_rows_estimate)
        self._route_cache: dict = {}

    # ------------------------------------------------------------- lifecycle

    def create(
        self,
        name: str,
        dim: int,
        factory: str = "Flat",
        metric_type: Optional[str] = None,
        params: Optional[dict[str, str]] = None,
    ) -> None:
        """faiss_create / faiss_create_params (faiss_extension.cpp:96-164,
        :1035-1040).  `params` mirrors the MAP(VARCHAR,VARCHAR) argument
        (src/maputils.cpp:10-31); recognized: nprobe/efSearch search defaults,
        efConstruction (graph candidate-list width analog),
        graph_partition_rows (rows per NSW graph segment, default 16384)."""
        metric = resolve_metric(metric_type)
        spec = parse_factory(factory)
        if dim <= 0:
            raise FaissSparkError(f"Index dimension must be positive, got {dim}")
        if spec.pq_m and spec.kind == "hnsw":
            raise FaissSparkError(
                "HNSW over PQ codes is not supported; use IVFn,PQm for "
                "compressed storage or HNSWm for graph search"
            )
        if spec.pq_m and dim % spec.pq_m != 0:
            raise FaissSparkError(
                f"PQ{spec.pq_m} requires dim divisible by {spec.pq_m}, got {dim}"
            )
        if spec.sq and spec.pq_m:
            raise FaissSparkError(
                "SQ8 and PQ are both storage tiers and cannot compose; "
                "pick one of ...,SQ8 or ...,PQm"
            )
        if spec.sq and spec.hnsw_m:
            raise FaissSparkError(
                "SQ8 storage under graph factories is not supported; use "
                "IVFn,SQ8 or Flat,SQ8 for compressed storage, or HNSWm "
                "for graph search"
            )
        if spec.pq_m and metric not in ("L2", "INNER_PRODUCT"):
            # ADC lookup tables decompose over subspaces only for L2/IP —
            # same restriction as faiss IndexPQ
            raise FaissSparkError(
                f"PQ indexes support L2 and INNER_PRODUCT metrics, got {metric}"
            )
        idx = FaissIndex(
            name=name,
            dim=dim,
            spec=spec,
            metric=metric,
            metric_arg=float((params or {}).get("metric_arg", 0.0)),
            params=dict(params or {}),
            trained=not spec.needs_training,
            storage_path=(params or {}).get("storage_path"),
        )
        self.registry.put_new(idx)

    def destroy(self, name: str) -> None:
        """faiss_destroy (:246-265) — error if absent."""
        idx = self.registry.drop(name)
        self._unpersist_slices(idx)
        if idx.data is not None:
            try:
                idx.data.unpersist()
            except Exception:
                pass

    def to_gpu(self, name: str, device: int = 0) -> None:
        """faiss_to_gpu (faiss_extension.cpp:1044; gpu/gpu.cpp:48) — the one
        reference function with no Spark analog: it swaps the in-process
        index for a faiss::gpu copy, and this engine's 'index' is a
        distributed DataFrame scored by CPU BLAS/numpy on executors.  The
        reference's error ORDER is preserved (unknown index raises its own
        error before any GPU work, gpu.cpp:40), then a clear unsupported
        error — never a silent no-op a caller could mistake for an
        accelerated index."""
        self.registry.get(name)  # error-if-absent first, reference parity
        raise FaissSparkError(
            f"faiss_to_gpu is not supported: index {name!r} is a distributed "
            "DataFrame, not an in-process FAISS index (the reference's GPU "
            "path is CUDA-only, src/gpu/gpu.cpp). Searches already "
            "parallelize across executor cores."
        )

    @staticmethod
    def _unpersist_slices(idx: FaissIndex) -> None:
        # unpersist the cache HANDLES (slice itself, or the raw parent cache
        # a lazy labeled projection reads through — unlabeled-add fast path)
        for s in idx.slice_caches if idx.slice_caches else idx.slices:
            try:
                s.unpersist()
            except Exception:
                pass
        for s in idx.pending_graph:
            try:
                s.unpersist()
            except Exception:
                pass
        idx.slices = []
        idx.slice_rows = []
        idx.slice_caches = []
        idx.pending_graph = []
        idx.pending_graph_rows = 0

    def list_indexes(self) -> list[str]:
        return self.registry.names()

    # ------------------------------------------------------------- ingestion

    def _normalize_add_df(self, idx: FaissIndex, df: DataFrame) -> tuple[DataFrame, bool]:
        """Arity sniffing: 1 column => vectors only (auto ids), 2 columns =>
        (label, vector) — AddBind (:423-456)."""
        cols = df.columns
        if len(cols) == 1:
            labeled = False
            out = df.select(F.col(cols[0]).cast("array<float>").alias("vector"))
        elif len(cols) == 2:
            labeled = True
            out = df.select(
                F.col(cols[0]).cast("bigint").alias("label"),
                F.col(cols[1]).cast("array<float>").alias("vector"),
            )
        else:
            raise FaissSparkError(
                f"add expects 1 (vector) or 2 (label, vector) columns, got {len(cols)}"
            )
        return out, labeled

    def _latch_label_mode(self, idx: FaissIndex, labeled: bool) -> None:
        if labeled and not idx.spec.idmap:
            raise NonIDMapLabels(idx.name)
        want = LABEL_TRUE if labeled else LABEL_FALSE
        if idx.label_mode == LABEL_UNDECIDED:
            idx.label_mode = want
        elif idx.label_mode != want:
            raise LabelModeMismatch(idx.name, labeled)

    def _validate_dim(self, idx: FaissIndex, df: DataFrame) -> None:
        """Add-time check of every row: dimension, null row, null element
        and NaN/±Inf (vectors.invalid_code), one bounded scan."""
        bad = (
            df.select(vectors.invalid_code(F.col("vector"), idx.dim).alias("bad"))
            .filter(F.col("bad").isNotNull())
            .limit(1)
            .collect()
        )
        if bad:
            vectors.raise_invalid(bad[0]["bad"], idx.dim)

    # above this partition count the per-partition offsets go through a
    # broadcast join instead of a literal map expression (a 100k-entry
    # literal would bloat the plan/codegen)
    MAX_LITERAL_OFFSET_PARTS = 4096

    def _with_auto_ids(
        self, df: DataFrame, offset: int, validate_dim: Optional[int] = None
    ) -> tuple[DataFrame, int]:
        """Sequential 0..n-1 ids in add order (FAISS auto-id parity,
        SURVEY.md §7 known-hard #3) — entirely JVM-side, zero extra
        materializations.

        ``monotonically_increasing_id()`` encodes ``partition_id << 33 |
        row_counter`` in partition-iteration order; per-partition row
        counts (one tiny collect — the same single extra job the old
        ``.rdd.zipWithIndex()`` ran, without its per-row Python pickle)
        rank-compact it to dense sequential labels.  The offsets reach the
        rows as a LITERAL MAP expression, keeping the projection inside
        whole-stage codegen — a broadcast join here broke the columnar
        cache build and cost 7x at the 1M probe; the join remains only as
        the >4096-partition fallback.  Determinism contract (same as
        zipWithIndex): the count job and the downstream add must observe
        the same partition iteration order — true for the engine's
        sources (parquet scans, cached frames, received micro-batches).

        Returns (labeled_df, batch_row_count) — the count falls out of the
        offsets job for free, so the caller can skip its own count pass.
        ``validate_dim``, if given, folds the add-time row check
        (vectors.invalid_code) into the SAME scan as a per-partition
        aggregate — the separate validate pass was the residual 0.8x of the
        unlabeled ingest path."""
        mid = F.monotonically_increasing_id()
        bad = (
            vectors.invalid_code(F.col("vector"), validate_dim)
            if validate_dim is not None
            else F.lit(None).cast("int")
        )
        agg = (
            df.select(F.shiftright(mid, 33).alias("_pid"), bad.alias("_bad"))
            .groupBy("_pid")
            .agg(F.count("*").alias("cnt"), F.max("_bad").alias("bad"))
            .collect()
        )
        for r in agg:
            vectors.raise_invalid(r["bad"], validate_dim)
        counts = {r["_pid"]: r["cnt"] for r in agg}
        base, pairs = offset, []
        for pid in sorted(counts):
            pairs.append((int(pid), int(base)))
            base += counts[pid]
        local = mid.bitwiseAND(F.lit((1 << 33) - 1))
        if len(pairs) <= self.MAX_LITERAL_OFFSET_PARTS:
            omap = F.create_map(*[F.lit(v) for p in pairs for v in p])
            mapped = F.element_at(omap, F.shiftright(mid, 33))
            # fail LOUDLY if the add-time pass observes a partition id the
            # offsets job never saw (the determinism contract above was
            # violated — e.g. AQE re-coalesced a non-deterministic source
            # between the two jobs).  Without this the lookup yields null
            # labels silently in non-ANSI mode and corrupts the id space.
            guarded = F.when(
                mapped.isNull(),
                F.raise_error(
                    F.lit(
                        "faiss auto-id: partition offsets out of sync with the "
                        "add pass (non-deterministic source between jobs?)"
                    )
                ).cast("bigint"),
            ).otherwise(mapped)
            out = df.select((guarded + local).alias("label"), F.col("vector"))
            return out, base - offset
        off_df = self.spark.createDataFrame(pairs, "_pid bigint, _base bigint")
        # LEFT join + loud failure on unmatched partition ids: the inner
        # join this replaces silently DROPPED rows whose pid the offsets
        # job never saw (the same contract violation the literal-map path
        # guards against above — r4 review)
        guarded_base = F.when(
            F.col("_base").isNull(),
            F.raise_error(
                F.lit(
                    "faiss auto-id: partition offsets out of sync with the "
                    "add pass (non-deterministic source between jobs?)"
                )
            ).cast("bigint"),
        ).otherwise(F.col("_base"))
        out = (
            df.select(F.col("vector"), mid.alias("_mid"))
            .withColumn("_pid", F.shiftright("_mid", 33))
            .join(F.broadcast(off_df), "_pid", "left")
            .select(
                (
                    guarded_base
                    + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
                ).alias("label"),
                "vector",
            )
        )
        return out, base - offset

    # memory-mode slice compaction threshold: bounds union-lineage depth (and
    # per-search planning cost) without giving up O(batch) amortized adds
    MAX_SLICES = 32

    def add(self, name: str, df: DataFrame, validate: bool = True) -> None:
        """faiss_add (:423-615).  Untrained IVF: train-then-bulk-add in one
        call (AddFinalise trains in finalize, :583).  Trained: direct append
        (zero-retrain fast path, :505-532).

        Per-add cost is O(batch), not O(index): only the NEW slice is
        persisted and counted; the index is the lazy union of slices (memory
        mode) or a parquet directory the slice is appended to (disk mode,
        ``storage_path``).  r1 persisted+counted the whole union every add —
        O(n) per micro-batch, O(n^2) cumulative under streaming ingest
        (VERDICT r1 #4; the reference's trained fast path :505-532 is
        O(batch) for the same reason).

        Durability (disk-graph mode): micro-batches below the write-buffer
        threshold are acknowledged from executor cache and only become
        durable under ``storage_path`` at the next flush (threshold
        crossing, ``compact()``, ``save()``, or a big-batch arrival) — a
        process crash loses at most one buffer of rows.  Set
        ``params={'disk_graph_buffer_rows': '0'}`` for strict
        write-through (every add durable on return)."""
        idx = self.registry.get(name)
        if not idx.mutable:
            raise ImmutableIndex(name)
        # any index mutation drops memoized routing estimates: a query
        # frame whose source has grown since its first probe gets a fresh
        # estimate on the next search (ADVICE r6 — coarse but free; the
        # memo exists to bound PER-SEARCH probe jobs, not to persist
        # across ingest events)
        self._route_cache.clear()
        vecs, labeled = self._normalize_add_df(idx, df)
        self._latch_label_mode(idx, labeled)
        cache_parent = None
        pre_count = None
        drop_parent = True
        layout_parent = None
        if not labeled:
            # persist the RAW slice first so the dim-validate and auto-id
            # offsets jobs materialize ONE cache that every downstream pass
            # reads — r3's unlabeled path re-scanned the source for the
            # offsets job and ran at 0.52x the labeled path (VERDICT r3
            # wrong #3)
            cache_parent = vecs = vecs.persist()
        try:
            if validate and labeled:
                self._validate_dim(idx, vecs)
            if not labeled:
                # dim validation folds into the offsets scan (one pass)
                vecs, pre_count = self._with_auto_ids(
                    vecs, idx.count, validate_dim=idx.dim if validate else None
                )
            rebuild = False
            transformed = False
            if idx.needs_training:
                # retrain resets the running histogram: assignments are
                # about to be recomputed against fresh centroids
                idx.cluster_counts = None
                idx.skew_warned = False
                # first add of an untrained index retrains on everything seen so
                # far and rebuilds storage (cluster ids exist only after training)
                combined = (
                    vecs
                    if idx.data is None
                    else self._decoded_view(idx, idx.data)
                    .select("label", "vector")
                    .unionByName(vecs)
                )
                self._train(idx, combined.select("vector"))
                vecs = combined
                rebuild = True
                transformed = True
            # r14 shuffle-bytes fix (VERDICT r13 task 2c — the 8.8M x 1536
            # raw add ENOSPC'd on a 54 GB f32 range shuffle): cluster
            # ASSIGNMENT (a narrow mapInArrow pass) is split from the
            # cluster LAYOUT (the repartitionByRange exchange), and for the
            # PQ/SQ8 storage tiers the layout shuffle runs AFTER the encode
            # — the exchange moves m-byte / int8 codes (32x / 4x fewer
            # bytes), not raw float32.  At 100 TB this is the difference
            # between shuffling 100 TB and shuffling 25 TB per index build.
            # Graph builds still lay out first (per-cluster NSW segments
            # need co-located clusters to build over).
            needs_layout = idx.spec.kind == "ivf" and idx.trained
            # repartitionByRange computes its range bounds by SAMPLING its
            # input with a full pass, then shuffles with a second full pass
            # — without a cache the scan + assignment (+ encode) lineage
            # executes TWICE per layout (guide §2.4: the r14 session-2
            # phase timer put the duplicated pass at roughly half the
            # slice-materialization cost of the 1M bench build).  Persist
            # the assigned/encoded frame once; both passes read it; the
            # add() finally drops it after the laid-out slice materializes.
            def _laid_out(frame):
                nonlocal layout_parent
                # ADVICE r14 (medium): on the raw-f32 tier this frame is the
                # whole corpus in float32 (8.8M x 1536 ~ 54 GB) — persisting
                # it ON TOP of the range shuffle's files roughly doubles the
                # transient local-disk footprint and risks re-introducing
                # the r13 ENOSPC the encode-before-shuffle fix addressed.
                # Above a size threshold (Catalyst plan-stat estimate;
                # params 'layout_cache_max_bytes') skip the cache and accept
                # the double lineage pass — at that scale the second pass is
                # cheaper than running out of disk.  Estimates >= 2^62 mean
                # "unknown" (Catalyst's defaultSizeInBytes sentinel) and keep
                # the cache.
                try:
                    est = int(
                        frame._jdf.queryExecution()
                        .optimizedPlan()
                        .stats()
                        .sizeInBytes()
                    )
                except Exception:
                    est = -1
                cap = float(
                    idx.params.get(
                        "layout_cache_max_bytes", self.LAYOUT_CACHE_MAX_BYTES
                    )
                )
                if 0 <= est < 2**62 and est > cap:
                    return self._cluster_layout(frame)
                layout_parent = frame.persist()
                return self._cluster_layout(layout_parent)

            if needs_layout:
                vecs = self._assign_only(idx, vecs)
                transformed = True
            if idx.codebooks is not None:
                # PQ factory component: store m-byte codes, not float32 vectors —
                # 32x smaller scan at m=8/dim=64 (the 100 TB I/O lever).  Encoding
                # is a narrow mapInArrow; cluster_id rides through so IVF pruning
                # and partitioned layouts are unchanged.
                from duckdb_faiss_ext_spark.operators.pq import pq_encode

                keep = ("cluster_id",) if "cluster_id" in vecs.columns else ()
                vecs = pq_encode(
                    vecs,
                    idx.codebooks,
                    keep_cols=keep,
                    # IVF composite: quantize residuals against the assigned
                    # coarse cell (cluster_id already rides the frame)
                    centroids=idx.centroids if keep else None,
                )
                transformed = True
                if needs_layout:
                    vecs = _laid_out(vecs)
            elif idx.spec.hnsw_m > 0:
                if needs_layout:
                    vecs = _laid_out(vecs)
                vecs = self._build_graph_slice(idx, vecs)
                transformed = True
            elif idx.sq_vdiff is not None:
                # SQ8 storage tier: store array<tinyint> codes, not float32
                # vectors — 4x smaller scan/cache/at-rest (create() rejects
                # PQ/HNSW composites, so this branch is exclusive).  Encode
                # is pure zip_with codegen; cluster_id (assigned above, on
                # the raw vectors) rides through so IVF pruning and the
                # partitioned save layout are unchanged.
                from duckdb_faiss_ext_spark.functions.quantize import sq8_encode

                vecs = sq8_encode(
                    vecs, idx.sq_vmin, idx.sq_vdiff, vec_col="vector"
                )
                transformed = True
                if needs_layout:
                    vecs = _laid_out(vecs)
            elif needs_layout:
                vecs = _laid_out(vecs)
            if idx.storage_path:
                self._add_disk(idx, vecs, rebuild)
            elif cache_parent is not None and not transformed:
                # fast path: the labeled frame is a narrow codegen projection
                # over the already-materialized parent cache — store it LAZY
                # (recompute-from-cache is a literal-map projection) and keep
                # the parent as the slice's cache, skipping a second persist
                # and count pass entirely
                self._add_memory(
                    idx, vecs, rebuild, pre_count=pre_count, cache_frame=cache_parent
                )
                drop_parent = False
            else:
                self._add_memory(idx, vecs, rebuild)
            if rebuild:
                # train-time adds see the whole corpus: enforce the skew cap
                # on the FULL assignment histogram, not just the training
                # sample (no-op + one cheap groupBy when already under cap;
                # self-guards on index kind/storage)
                self._rebalance_corpus(idx)
                if int(idx.params.get("warm_on_build", 0)):
                    self.warm(idx.name)
            else:
                # trained append: the running histogram (maintained by the
                # slice-materialization job) flags drift past the cap once
                self._warn_if_corpus_drifted(idx)
            if (
                idx.spec.hnsw_m > 0
                and idx.spec.kind == "ivf"
                # PQ composites never build graphs (codes replace vectors;
                # the encode branch takes precedence over the graph branch),
                # so there is no `neighbors` column to inspect — without
                # this guard the check crashed the first add on any
                # IVFn_HNSWm,PQk factory (r4 review finding)
                and idx.codebooks is None
                and not getattr(idx, "_edgeless_checked", False)
            ):
                # user asked for the IVF_HNSW composite: surface it loudly if
                # the min_graph_rows default built ZERO graphs (the composite
                # silently degrades to plain IVF and efSearch is inert —
                # ADVICE r3).  One take(1) job on the materialized slice, first
                # add only.
                idx._edgeless_checked = True
                if not idx.data.filter(F.size("neighbors") > 0).take(1):
                    warnings.warn(
                        f"Index {idx.name} ({idx.spec.factory!r}): every cluster "
                        f"is below min_graph_rows="
                        f"{idx.params.get('min_graph_rows', self.MIN_GRAPH_ROWS)}; "
                        "no graphs built — search is plan-identical to plain IVF "
                        "and efSearch has no effect.  Pass "
                        "params={'min_graph_rows': 0} to force per-cluster "
                        "graphs (measured trade in SCALE.md)."
                    )
        finally:
            if layout_parent is not None:
                # safe for the same reason as cache_parent below: the stored
                # slice materialized from it before this point
                layout_parent.unpersist()
            if cache_parent is not None and drop_parent:
                # safe: _add_memory/_add_disk have materialized the stored
                # slice before this point, so nothing recomputes through here
                cache_parent.unpersist()

    def _add_memory(
        self,
        idx: FaissIndex,
        vecs: DataFrame,
        rebuild: bool,
        pre_count: Optional[int] = None,
        cache_frame: Optional[DataFrame] = None,
    ) -> None:
        """``cache_frame``: an already-materialized parent cache that ``vecs``
        is a narrow projection over — registered as the slice's UNPERSIST
        HANDLE so no second persist+count pass runs (the unlabeled-add fast
        path).  The slice stored in ``idx.slices`` is always the LABELED
        frame: compaction rebuilds ``idx.data`` from the slice union, and a
        raw label-less store there silently dropped every auto-assigned
        label at the MAX_SLICES-th unlabeled add (ADVICE r6 high)."""
        if cache_frame is not None:
            batch_n = int(pre_count)
            cache = cache_frame
        else:
            vecs = vecs.persist()
            # O(batch): only the new slice materializes (histogram rides
            # the same job when cluster ids are present)
            batch_n = self._count_batch(idx, vecs)
            cache = vecs
        if rebuild:
            self._unpersist_slices(idx)
            idx.data = vecs
            idx.count = batch_n
            idx.slices = [vecs]
            idx.slice_rows = [batch_n]
            idx.slice_caches = [cache]
            return
        idx.data = vecs if idx.data is None else idx.data.unionByName(vecs)
        idx.count += batch_n
        idx.slices.append(vecs)
        idx.slice_rows.append(batch_n)
        idx.slice_caches.append(cache)
        if len(idx.slices) >= self.MAX_SLICES:
            self._compact_index(idx)

    # concat-merge full graph slices once this many accumulate: keeps the
    # union lineage shallow without re-running any O(rows²) graph build
    FULL_SLICE_FANOUT = 8

    def compact(self, name: str, full: bool = False) -> None:
        """Explicitly compact an index's add-slices.

        Default is the TIERED (LSM-style) policy: only geometrically-similar
        small slices merge — graph factories rebuild NSW adjacency over just
        the merged micro-slices, and slices that already hold full-size
        segments (>= ``graph_partition_rows`` rows) are left untouched.  A
        row's slice at least ~doubles every time it is rebuilt, so total
        graph-build work over a long micro-batch stream is O(n log n), not
        the O(n²) a whole-corpus rebuild per compaction costs (VERDICT r5
        wrong #2).  The reference contrast: faiss inserts into ONE growing
        graph in O(batch·log n) (``index->add``, faiss_extension.cpp:
        505-532) — tiered segment merging is the Spark-native equivalent
        amortization.

        ``full=True`` forces the old whole-corpus behavior: ONE cached
        slice, graphs rebuilt over the entire merged, repartitioned corpus
        (useful before save() or after deletes-by-rebuild).  Runs
        automatically (tiered) every MAX_SLICES adds; call it directly
        after a burst of micro-batch adds.

        Disk mode (``storage_path``): graph indexes apply the SAME tiered
        policy to their parquet slice DIRECTORIES (merge-rewrite on disk,
        ``_compact_disk_graph`` — r7); non-graph disk indexes append into
        one directory (already a flat single-scan lineage) and raise
        here."""
        idx = self.registry.get(name)
        self._route_cache.clear()  # same staleness rule as add()
        if idx.storage_path:
            # detect graph disk mode from the FACTORY SPEC plus the on-disk
            # manifest, not from idx.data: a fresh engine pointed at an
            # existing storage_path has slices on disk but idx.data is None
            # until hydrated (ADVICE r7)
            is_graph = idx.spec.hnsw_m > 0 and idx.codebooks is None
            if is_graph and idx.data is None:
                man = self._graph_manifest_load(idx)
                if man["slices"]:
                    self._refresh_disk_graph_data(idx, man)
                    idx.count = sum(int(e["rows"]) for e in man["slices"])
                elif not idx.pending_graph:
                    # fresh disk-graph index: empty manifest, no buffered
                    # rows — compaction is a no-op, not the misleading
                    # "append parquet slices" error below (ADVICE r8)
                    return
            if is_graph and idx.data is not None:
                # graph disk mode: tiered merge-rewrite of small parquet
                # slice directories (VERDICT r6 task 1)
                return self._compact_disk_graph(idx, full=full)
            raise FaissSparkError(
                f"compact({name!r}): disk-mode indexes append parquet slices "
                "(already a flat single-scan lineage); graph re-segmentation "
                "for disk mode is not supported"
            )
        if idx.data is None:
            return
        self._compact_index(idx, full=full)

    @staticmethod
    def _pick_merge_set(sizes: list, eligible: list) -> list:
        """Geometric merge policy: scanning eligible slices smallest-first,
        accumulate while the next slice is at most 2x the accumulated total.
        The merged result is then >= 1.5x its largest member, so any row's
        slice grows geometrically across the rebuilds it participates in —
        the O(n log n) total-work invariant.  Returns the chosen indexes
        (possibly empty; a single slice never merges with itself)."""
        order = sorted(eligible, key=lambda i: sizes[i])
        picked: list = []
        total = 0
        for i in order:
            if picked and sizes[i] > 2 * total:
                break
            picked.append(i)
            total += sizes[i]
        return picked if len(picked) >= 2 else []

    def _union_slices(self, frames: list) -> DataFrame:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _is_graph_index(self, idx: FaissIndex) -> bool:
        return (
            idx.spec.hnsw_m > 0
            and idx.codebooks is None
            and "neighbors" in idx.data.columns
        )

    def _rebuild_graph_frame(self, idx: FaissIndex, df: DataFrame, n_rows: int) -> DataFrame:
        """Rebuild full-size NSW segments over ``df`` (a slice union):
        strip adjacency down to (label, vector[, cluster_id]) and run the
        same per-slice build add() uses, re-co-locating clusters first.
        Returns the built frame WITHOUT forcing a persist — the memory
        path caches it (``_rebuild_graph_over``), the disk path writes it
        to a parquet slice directory (``_compact_disk_graph``)."""
        cols = ["label", "vector"] + (
            ["cluster_id"] if "cluster_id" in df.columns else []
        )
        base = df.select(*cols)
        if "cluster_id" in cols:
            # re-co-locate each cluster before the grouped rebuild — the
            # union spreads a cluster across every slice's partitions, and
            # per-partition builds there would still produce micro-graphs
            # (range, not hash: KMeans clusters are skewed, _cluster_layout)
            rows = int(idx.params.get("graph_partition_rows", self.GRAPH_ROWS))
            n_parts = max(1, -(-max(int(n_rows), 1) // rows))
            base = base.repartitionByRange(n_parts, "cluster_id", "label")
        built = self._build_graph_slice(idx, base)
        idx._edgeless_checked = False  # segment layout changed
        return built

    def _rebuild_graph_over(self, idx: FaissIndex, df: DataFrame, n_rows: int) -> DataFrame:
        built = self._rebuild_graph_frame(idx, df, n_rows)
        if not built.is_cached:
            # grouped (IVF) builds return unpersisted — materialize BEFORE
            # dropping the slice caches the build reads from
            built = built.persist()
            built.count()
        return built

    def _replace_slices(self, idx: FaissIndex, picked: list, merged, merged_rows: int) -> None:
        """Swap the picked slices for their merged result (unpersisting the
        old caches) and rebuild idx.data as the flat slice union."""
        drop = set(picked)
        keep = [s for i, s in enumerate(idx.slices) if i not in drop]
        keep_rows = [r for i, r in enumerate(idx.slice_rows) if i not in drop]
        caches = idx.slice_caches or list(idx.slices)
        keep_caches = [c for i, c in enumerate(caches) if i not in drop]
        for i in drop:
            try:
                caches[i].unpersist()
            except Exception:
                pass
        idx.slices = [merged] + keep
        idx.slice_rows = [merged_rows] + keep_rows
        idx.slice_caches = [merged] + keep_caches
        idx.data = self._union_slices(idx.slices)

    def _compact_index(self, idx: FaissIndex, full: bool = False) -> None:
        """Tiered slice compaction (see compact()).  ``full=True``: one
        materialized union replaces the whole slice list, graphs rebuilt
        over the entire corpus."""
        is_graph = self._is_graph_index(idx)
        if full:
            if is_graph:
                compacted = self._rebuild_graph_over(idx, idx.data, idx.count)
            else:
                compacted = idx.data.persist()
                compacted.count()
            self._unpersist_slices(idx)
            idx.data = compacted
            idx.slices = [compacted]
            idx.slice_rows = [int(idx.count)]
            idx.slice_caches = [compacted]
            return
        sizes = list(idx.slice_rows)
        if (
            not idx.slices
            or len(sizes) != len(idx.slices)
            or len(idx.slice_caches) != len(idx.slices)
        ):
            # no slice bookkeeping (loaded index) or counts out of step:
            # fall back to the safe whole-index compaction once; counts are
            # tracked from then on
            return self._compact_index(idx, full=True)
        if is_graph:
            full_rows = int(idx.params.get("graph_partition_rows", self.GRAPH_ROWS))
            micro = [i for i, r in enumerate(sizes) if r < full_rows]
            picked = self._pick_merge_set(sizes, micro)
            if not picked and len(idx.slices) >= self.MAX_SLICES and len(micro) >= 2:
                # pathological size spread (exponentially growing batches):
                # still bound the lineage by merging the two smallest micros
                picked = sorted(micro, key=lambda i: sizes[i])[:2]
            if picked:
                merged_rows = sum(sizes[i] for i in picked)
                merged = self._rebuild_graph_over(
                    idx,
                    self._union_slices([idx.slices[i] for i in picked]),
                    merged_rows,
                )
                self._replace_slices(idx, picked, merged, merged_rows)
                sizes = list(idx.slice_rows)
            # full slices never rebuild — but keep the union lineage
            # shallow with a cheap concat-merge (graph rows are
            # self-contained: graph_seg survives any physical re-layout)
            fulls = [i for i, r in enumerate(sizes) if r >= full_rows]
            if len(fulls) > self.FULL_SLICE_FANOUT:
                picked = self._pick_merge_set(sizes, fulls)
                if picked:
                    merged_rows = sum(sizes[i] for i in picked)
                    merged = self._union_slices(
                        [idx.slices[i] for i in picked]
                    ).persist()
                    merged.count()
                    self._replace_slices(idx, picked, merged, merged_rows)
        else:
            # non-graph slices carry no adjacency: every merge is a cheap
            # re-cache, but still tiered so a long stream re-caches each row
            # O(log n) times instead of O(n/MAX_SLICES)
            picked = self._pick_merge_set(sizes, list(range(len(sizes))))
            if not picked and len(idx.slices) >= self.MAX_SLICES and len(sizes) >= 2:
                picked = sorted(range(len(sizes)), key=lambda i: sizes[i])[:2]
            if picked:
                merged_rows = sum(sizes[i] for i in picked)
                merged = self._union_slices(
                    [idx.slices[i] for i in picked]
                ).persist()
                merged.count()
                self._replace_slices(idx, picked, merged, merged_rows)

    def _count_batch(self, idx: FaissIndex, vecs: DataFrame) -> int:
        """Materialize the persisted slice and return its row count.  When
        the slice carries cluster ids, the SAME materialization job emits
        the per-cluster histogram (map-side combined to O(nlist) rows
        before the collect), which keeps ``idx.cluster_counts`` current —
        the append-drift warning costs zero extra jobs and never scans the
        corpus."""
        if "cluster_id" not in vecs.columns or idx.centroids is None:
            return vecs.count()
        rows = vecs.groupBy("cluster_id").count().collect()
        nlive = len(idx.centroids)
        if idx.cluster_counts is None or len(idx.cluster_counts) < nlive:
            old = idx.cluster_counts
            idx.cluster_counts = np.zeros(nlive, dtype=np.int64)
            if old is not None:
                idx.cluster_counts[: len(old)] = old
        for r in rows:
            c = int(r["cluster_id"])
            if 0 <= c < nlive:
                idx.cluster_counts[c] += int(r["count"])
        return int(sum(int(r["count"]) for r in rows))

    def _warn_if_corpus_drifted(self, idx: FaissIndex) -> None:
        """Append-only ingest drifts the corpus histogram without any
        retrain to catch it.  Default (``rebalance_on_append`` unset or 1):
        when the running counts cross the rebalance cap, re-run the corpus
        rebalance pass so the cap invariant is RESTORED on the add that
        broke it — the reference's add path keeps its index invariants on
        every add (:505-532); at 100x scale a long append stream would
        otherwise quietly re-create the 89x-even pathology the build-time
        pass killed (VERDICT r10 task 5).  Frequency is bounded two ways:
        the trigger is the cap-crossing itself (a pass that restores the
        cap cannot re-fire until a cap's worth of drift re-accumulates),
        and a pass that could NOT restore the cap (growth budget spent /
        non-separating data) latches the corpus size and is not retried
        until the corpus grows 25% past it.  With
        ``rebalance_on_append=0``, warn ONCE instead (rebalance() resets
        the latch).  Trained-append calls only — the train-time add runs
        the corpus pass itself."""
        if (
            idx.spec.kind != "ivf"
            or idx.cluster_counts is None
            or idx.codebooks is not None
            or idx.spec.hnsw_m > 0
            or not int(idx.params.get("rebalance_clusters", 1))
        ):
            return
        counts = idx.cluster_counts
        n = int(counts.sum())
        if n < int(idx.count):
            # the running histogram doesn't cover the whole corpus (e.g. a
            # disk index re-attached mid-life) — a share computed over a
            # partial window would be spurious (r10 review finding); the
            # ground-truth pass in rebalance() re-seeds it
            return
        nlist0 = max(int(idx.spec.nlist), 1)
        cap = max(self.REBALANCE_CAP_SHARE * n / nlist0, 32.0)
        if not n or counts.max() <= cap:
            return
        if int(idx.params.get("rebalance_on_append", 1)):
            floor = idx.append_rebalance_floor
            if floor is not None and n < 1.25 * floor:
                return  # retry latch: warned when it was set
            out = self._rebalance_corpus(idx)
            # success = the OPERATIVE cap (the same max(share, 32-row
            # floor) rule the trigger above applies) holds on the
            # refreshed ground-truth histogram — judging the raw share
            # ratio alone misfires in the small-n floor regime, where
            # the pass stops at 32-row clusters whose share can still
            # exceed CAP_SHARE (r11 review finding)
            if out is not None and idx.cluster_counts is not None:
                n2 = int(idx.cluster_counts.sum())
                cap2 = max(self.REBALANCE_CAP_SHARE * n2 / nlist0, 32.0)
                if n2 and idx.cluster_counts.max() <= cap2:
                    idx.append_rebalance_floor = None
                    return
            idx.append_rebalance_floor = n
            # fall through: the pass could not restore the cap — say so
        if idx.skew_warned:
            return  # already said so; only suppresses the duplicate warning
        idx.skew_warned = True
        warnings.warn(
            f"Index {idx.name}: appended rows drifted the corpus "
            f"histogram over the skew cap — max cluster "
            f"{int(idx.cluster_counts.max())} rows = "
            f"{idx.cluster_counts.max() * nlist0 / int(idx.cluster_counts.sum()):.1f}x "
            f"the even share (cap {self.REBALANCE_CAP_SHARE}x).  "
            "Wide-nprobe searches and bulk grouped joins are bounded "
            f"below by that cluster; call engine.rebalance({idx.name!r}) "
            "to split it."
        )

    def _add_disk(self, idx: FaissIndex, vecs: DataFrame, rebuild: bool) -> None:
        """Append the slice to the index's parquet directory: flat lineage
        (a single scan node no matter how many adds), cluster-partitioned
        layout for IVF pruning, corpora bigger than the executor cache.
        Graph slices (carrying NSW adjacency) go to their own per-slice
        directories instead so tiered compaction can merge-rewrite them
        (``_add_disk_graph``)."""
        if "neighbors" in vecs.columns:
            return self._add_disk_graph(idx, vecs, rebuild)
        data_path = os.path.join(idx.storage_path, "data.parquet")
        vecs = vecs.persist()
        batch_n = self._count_batch(idx, vecs)
        # rebuild only happens on the FIRST add of an untrained index (any add
        # triggers training), so overwrite never races a read of the same path
        writer = vecs.write.mode("overwrite" if rebuild else "append")
        if "cluster_id" in vecs.columns:
            writer = writer.partitionBy("cluster_id")
        writer.parquet(data_path)
        vecs.unpersist()
        idx.data = self.spark.read.parquet(data_path)
        idx.count = batch_n if rebuild else idx.count + batch_n

    # ------------------------------------------- disk-backed graph segments
    # VERDICT r6 task 1: the reference's headline factories are HNSW-family
    # (Makefile:105) with file persistence independent of RAM
    # (faiss_extension.cpp:188-241).  Disk mode for graph indexes stores one
    # parquet DIRECTORY PER ADD-SLICE under <storage_path>/graph_slices/
    # with row counts in graph_manifest.json; the index frame is the
    # unionByName of the per-slice reads (depth bounded by tiered
    # compaction, which merge-REWRITES small slice directories instead of
    # re-caching — nothing ever needs to fit executor cache).  NSW graph
    # rows are self-contained (neighbors reference co-segment LABELS,
    # nsw.py), so any physical re-layout keeps every graph valid.

    def _graph_manifest_path(self, idx: FaissIndex) -> str:
        return os.path.join(idx.storage_path, "graph_manifest.json")

    def _graph_manifest_load(self, idx: FaissIndex) -> dict:
        path = self._graph_manifest_path(idx)
        if not os.path.exists(path):
            return {"seq": 0, "slices": []}
        with open(path) as f:
            return json.load(f)

    def _graph_manifest_save(self, idx: FaissIndex, man: dict) -> None:
        os.makedirs(idx.storage_path, exist_ok=True)
        tmp = self._graph_manifest_path(idx) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._graph_manifest_path(idx))

    def _graph_slice_root(self, idx: FaissIndex) -> str:
        return os.path.join(idx.storage_path, "graph_slices")

    def _write_graph_slice(self, idx: FaissIndex, man: dict, df: DataFrame) -> str:
        """Write ``df`` as a new slice directory, returning its name."""
        man["seq"] = int(man["seq"]) + 1
        d = f"s{man['seq']:06d}"
        writer = df.write.mode("overwrite")
        if "cluster_id" in df.columns:
            # cluster-partitioned layout: nprobe pruning becomes directory
            # pruning on every slice scan (same as the non-graph disk path)
            writer = writer.partitionBy("cluster_id")
        writer.parquet(os.path.join(self._graph_slice_root(idx), d))
        return d

    @staticmethod
    def _slice_dir_has_parquet(path: str) -> bool:
        for _dirpath, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _refresh_disk_graph_data(self, idx: FaissIndex, man: dict) -> None:
        root = self._graph_slice_root(idx)
        # prune entries whose directory holds no part-files: the only way
        # that happens is a crash inside _concat_disk_slices AFTER the
        # files were moved into the destination slice but BEFORE the
        # manifest save — the rows already live in the destination, so the
        # stale entry is dropped (and persisted dropped) rather than
        # failing every subsequent read (ADVICE r7 crash-safety).  The
        # os.walk over every slice dir is O(dirs) filesystem listings, so
        # it runs ONLY on the full-rebuild path (first hydration, post-
        # compaction) — never per buffered add, where the union cache
        # exists precisely to avoid per-add O(dirs) work (ADVICE r8); a
        # pure append writes its one new dir itself, and a concat crash can
        # only be observed after a compaction (a non-append key change)
        prev = getattr(idx, "_disk_union_key", None)
        cur = tuple(e["dir"] for e in man["slices"])
        is_pure_append = (
            prev is not None
            and len(cur) == len(prev) + 1
            and cur[: len(prev)] == prev
        )
        if cur != prev and not is_pure_append:
            live = [
                e for e in man["slices"]
                if self._slice_dir_has_parquet(os.path.join(root, e["dir"]))
            ]
            if len(live) != len(man["slices"]):
                man["slices"] = live
                self._graph_manifest_save(idx, man)
        order = ["label", "vector", "neighbors", "graph_seg"]

        def canon(frames):
            cols = order + [c for c in frames[0].columns if c not in order]
            return self._union_slices([f.select(*cols) for f in frames])

        # cache the union-of-slice-dirs frame keyed by the manifest's dir
        # list: a BUFFERED add changes no directory, so rebuilding the read
        # plan (schema inference per dir, per add) was the dominant cost of
        # buffered ingest — the buffer probe measured disk ingest 2.7x
        # memory mode with the reads rebuilt every add (SCALE.md r8).
        # A pure APPEND (one new dir at the end) extends the cached union
        # incrementally — O(1) reads per add instead of O(dirs); the union
        # depth is bounded by MAX_SLICES because compaction rewrites the
        # dir list (key mismatch -> full flat rebuild)
        key = tuple(e["dir"] for e in man["slices"])
        prev_key = getattr(idx, "_disk_union_key", None)
        if prev_key != key:
            prev_union = getattr(idx, "_disk_union", None)
            if (
                prev_union is not None
                and prev_key
                and len(key) == len(prev_key) + 1
                and key[: len(prev_key)] == prev_key
            ):
                new = self.spark.read.parquet(os.path.join(root, key[-1]))
                idx._disk_union = canon([prev_union, new])
            else:
                disk_frames = [
                    self.spark.read.parquet(os.path.join(root, e["dir"]))
                    for e in man["slices"]
                ]
                idx._disk_union = canon(disk_frames) if disk_frames else None
            idx._disk_union_key = key
        frames = ([idx._disk_union] if idx._disk_union is not None else []) + list(
            idx.pending_graph  # buffered micro-batches are part of the index
        )
        if not frames:
            idx.data = None
            return
        idx.data = canon(frames)

    def _graph_buffer_rows(self, idx: FaissIndex) -> int:
        """Micro-batch write-buffer threshold for disk-graph adds.  Batches
        below this row count accumulate in a small bounded cache instead of
        paying a parquet dir + manifest write + re-read EACH (~1.5 s/batch
        at the 1M x 100 probe — SCALE.md r7, VERDICT r7 stretch); the
        buffer flushes as ONE slice dir when it crosses the threshold, on
        compact(), or when a big batch arrives.  Default: a quarter
        segment.  Set params={'disk_graph_buffer_rows': '0'} for strict
        write-through (every add durable on return)."""
        dflt = int(idx.params.get("graph_partition_rows", self.GRAPH_ROWS)) // 4
        return int(idx.params.get("disk_graph_buffer_rows", dflt))

    def _flush_graph_buffer(
        self, idx: FaissIndex, man: dict | None = None, compact_after: bool = True
    ) -> None:
        """Write the buffered micro-batches as ONE slice directory."""
        if not idx.pending_graph:
            return
        man = self._graph_manifest_load(idx) if man is None else man
        union = self._union_slices(idx.pending_graph)
        rows = idx.pending_graph_rows
        d = self._write_graph_slice(idx, man, union)
        man["slices"].append({"dir": d, "rows": int(rows)})
        self._graph_manifest_save(idx, man)
        for f in idx.pending_graph:
            try:
                f.unpersist()
            except Exception:
                pass
        idx.pending_graph = []
        idx.pending_graph_rows = 0
        self._refresh_disk_graph_data(idx, man)
        if compact_after and len(man["slices"]) >= self.MAX_SLICES:
            self._compact_disk_graph(idx)

    def _add_disk_graph(self, idx: FaissIndex, vecs: DataFrame, rebuild: bool) -> None:
        old_slices = []
        man = self._graph_manifest_load(idx)
        if rebuild:
            old_slices, man["slices"] = man["slices"], []
        vecs = vecs.persist()
        batch_n = vecs.count()
        buf_max = self._graph_buffer_rows(idx)
        if not rebuild and 0 < batch_n < buf_max:
            # micro-batch: buffer (already graph-built + persisted), defer
            # the parquet write until a quarter-segment accumulates
            idx.pending_graph.append(vecs)
            idx.pending_graph_rows += batch_n
            idx.count += batch_n
            if idx.pending_graph_rows >= buf_max:
                self._flush_graph_buffer(idx, man)
            else:
                self._refresh_disk_graph_data(idx, man)
            return
        # big batch: flush any buffered rows first (keeps add order in the
        # slice sequence), then write this batch as its own slice dir
        self._flush_graph_buffer(idx, man, compact_after=False)
        d = self._write_graph_slice(idx, man, vecs)
        vecs.unpersist()
        man["slices"].append({"dir": d, "rows": int(batch_n)})
        # persist the manifest BEFORE deleting superseded slice dirs: a
        # crash here leaves only unreferenced orphan directories (garbage-
        # collected by a later compaction), never a manifest pointing at
        # missing data (ADVICE r7)
        self._graph_manifest_save(idx, man)
        for e in old_slices:
            shutil.rmtree(
                os.path.join(self._graph_slice_root(idx), e["dir"]),
                ignore_errors=True,
            )
        self._refresh_disk_graph_data(idx, man)
        idx.count = batch_n if rebuild else idx.count + batch_n
        if len(man["slices"]) >= self.MAX_SLICES:
            self._compact_disk_graph(idx)

    def _compact_disk_graph(self, idx: FaissIndex, full: bool = False) -> None:
        """Tiered compaction for disk-backed graph indexes: same merge
        policy as memory mode (``_pick_merge_set``), but the merged result
        is WRITTEN to a new slice directory and the picked directories are
        deleted — per-compaction work is O(picked rows), never O(corpus),
        and no step requires the corpus in executor cache.  Full slice
        directories are never graph-rebuilt; past FULL_SLICE_FANOUT their
        parquet part-files are concat-merged by FILE MOVE (no Spark job)."""
        # buffered micro-batches join the compaction as a written slice
        self._flush_graph_buffer(idx, compact_after=False)
        man = self._graph_manifest_load(idx)
        sizes = [e["rows"] for e in man["slices"]]
        if not sizes:
            return
        root = self._graph_slice_root(idx)
        # GC orphan slice dirs (manifest saved, deletion crashed — the
        # harmless leftover of the manifest-first crash-safety ordering)
        referenced = {e["dir"] for e in man["slices"]}
        if os.path.isdir(root):
            for d_name in os.listdir(root):
                if d_name not in referenced:
                    shutil.rmtree(os.path.join(root, d_name), ignore_errors=True)
        full_rows = int(idx.params.get("graph_partition_rows", self.GRAPH_ROWS))
        if full:
            picked = list(range(len(sizes)))
        else:
            micro = [i for i, r in enumerate(sizes) if r < full_rows]
            picked = self._pick_merge_set(sizes, micro)
            if not picked and len(sizes) >= self.MAX_SLICES and len(micro) >= 2:
                # pathological size spread: still bound the directory count
                picked = sorted(micro, key=lambda i: sizes[i])[:2]
        if picked and (full or len(picked) >= 2):
            merged_rows = sum(sizes[i] for i in picked)
            union = self._union_slices(
                [
                    self.spark.read.parquet(
                        os.path.join(root, man["slices"][i]["dir"])
                    )
                    for i in picked
                ]
            )
            built = self._rebuild_graph_frame(idx, union, merged_rows)
            d = self._write_graph_slice(idx, man, built)
            try:
                built.unpersist()  # plain-HNSW builds self-persist
            except Exception:
                pass
            drop = set(picked)
            kept = [e for i, e in enumerate(man["slices"]) if i not in drop]
            drop_dirs = [man["slices"][i]["dir"] for i in drop]
            # manifest first, deletion second (crash-safe — ADVICE r7)
            man["slices"] = [{"dir": d, "rows": int(merged_rows)}] + kept
            self._graph_manifest_save(idx, man)
            for old_d in drop_dirs:
                shutil.rmtree(os.path.join(root, old_d), ignore_errors=True)
            sizes = [e["rows"] for e in man["slices"]]
        fulls = [i for i, r in enumerate(sizes) if r >= full_rows]
        if len(fulls) > self.FULL_SLICE_FANOUT:
            picked = self._pick_merge_set(sizes, fulls)
            if len(picked) >= 2:
                self._concat_disk_slices(idx, man, picked)
        self._refresh_disk_graph_data(idx, man)

    def _concat_disk_slices(self, idx: FaissIndex, man: dict, picked: list) -> None:
        """Merge full slice directories by MOVING parquet part-files into
        the first picked directory (graph rows are self-contained, so a
        physical re-layout never invalidates a graph; cluster_id=N
        partition subdirs merge by matching relative path).  Pure
        filesystem renames — no graph rebuild, no Spark job."""
        root = self._graph_slice_root(idx)
        dst_e = man["slices"][picked[0]]
        dst = os.path.join(root, dst_e["dir"])
        # one source at a time: move its part-files, persist the updated
        # manifest, THEN delete the emptied directory.  os.replace moves
        # (never copies) so every part-file exists in exactly one place at
        # all times; a crash before a manifest save leaves at worst a
        # registered-but-parquet-empty src dir, which
        # _refresh_disk_graph_data prunes (ADVICE r7)
        for e in [man["slices"][i] for i in picked[1:]]:
            src = os.path.join(root, e["dir"])
            for dirpath, _dirs, files in os.walk(src):
                rel = os.path.relpath(dirpath, src)
                out_dir = dst if rel == "." else os.path.join(dst, rel)
                for fname in files:
                    if not fname.endswith(".parquet"):
                        continue  # _SUCCESS / CRC markers
                    os.makedirs(out_dir, exist_ok=True)
                    os.replace(
                        os.path.join(dirpath, fname),
                        # prefix with the source slice name: part-file UUIDs
                        # are already unique, this makes collisions impossible
                        os.path.join(out_dir, f"{e['dir']}-{fname}"),
                    )
            dst_e["rows"] = int(dst_e["rows"]) + int(e["rows"])
            man["slices"] = [x for x in man["slices"] if x is not e]
            self._graph_manifest_save(idx, man)
            shutil.rmtree(src, ignore_errors=True)

    # rows per NSW graph segment: bounds the O(rows^2) per-partition build
    # while keeping the beam's touched fraction small (beam evals are ~constant
    # in segment size, so BIGGER segments touch a SMALLER corpus fraction —
    # raise via params["graph_partition_rows"] when build time allows)
    GRAPH_ROWS = 16384

    # IVF_HNSW only: clusters below this row count skip the O(rows²) graph
    # build and are exact-scanned at search (= plain-IVF behavior); override
    # with params["min_graph_rows"].  Default set ABOVE every locally
    # measurable scale — the 1M and 4M A/B probes (SCALE.md r3) show
    # per-cluster beams LOSING to the one-matmul probed-cluster scan at
    # every measured size (31k clusters: 3.1s vs 1.9s; 125k clusters split
    # into 16k pieces: 6.1s vs 2.1s, identical recall both times): beam
    # evals are paid per (query, piece), so pieces of a probed cluster
    # touch ~7x the rows of the single BLAS scan that covers all queries
    # at once.  Graph search earns its keep on UNPARTITIONED corpora
    # (plain HNSW: 3.1s vs 6.3s exact @ 1M) where each query faces the
    # whole corpus, not a pruned slice.  The per-cluster graph path stays
    # available (params={'min_graph_rows': 0}) and tested.
    MIN_GRAPH_ROWS = 1 << 20

    def _build_graph_slice(self, idx: FaissIndex, vecs: DataFrame) -> DataFrame:
        """Attach NSW adjacency to the new slice (segment-per-partition model,
        operators/nsw.py).  Plain HNSW: bound segment sizes first.  IVF_HNSW:
        one graph per cluster (group_col), so nprobe pruning drops whole
        graphs and never severs edges — the Spark-native reading of the
        reference's IVF2048_HNSW128 headline index (Makefile:105)."""
        from duckdb_faiss_ext_spark.operators.nsw import build_slice_graphs

        ef_c = int(idx.params.get("efConstruction", 0) or 0)
        cand = max(2 * idx.spec.hnsw_m, ef_c // 2) if ef_c else 0
        group = None
        raw = None
        min_rows = 0
        rows = int(idx.params.get("graph_partition_rows", self.GRAPH_ROWS))
        if idx.spec.kind == "ivf" and "cluster_id" in vecs.columns:
            group = "cluster_id"
            # clusters below this size are stored edgeless and exact-scanned
            # at search (identical to plain IVF) — beams only pay off on
            # segments big enough to amortize their overhead (r2 VERDICT
            # wrong #3: tiny per-cluster graphs lost to plain IVF)
            min_rows = int(idx.params.get("min_graph_rows", self.MIN_GRAPH_ROWS))
        else:
            raw = vecs.persist()
            n_parts = max(1, -(-raw.count() // rows))
            vecs = raw.repartition(n_parts)
        out = build_slice_graphs(
            vecs,
            m=idx.spec.hnsw_m,
            metric=idx.metric,
            metric_arg=idx.metric_arg,
            group_col=group,
            cand_width=cand,
            min_graph_rows=min_rows,
            # a popular cluster occupying a whole partition would otherwise
            # pay one O(cluster²) build — bound every graph at GRAPH_ROWS
            # and let several pieces beam independently (same segment model
            # as plain HNSW; nprobe pruning still sees the cluster id)
            max_graph_rows=rows,
        )
        if raw is not None:
            # materialize the graphs before dropping the raw slice's cache so
            # the (expensive) build never recomputes from a cold lineage
            out = out.persist()
            out.count()
            raw.unpersist()
        return out

    def manual_train(self, name: str, df: DataFrame) -> None:
        """faiss_manual_train (:314-415): train once; later adds skip
        retraining (needs_training flips false)."""
        idx = self.registry.get(name)
        if not idx.mutable:
            raise ImmutableIndex(name)
        vecs, _ = self._normalize_add_df(idx, df.select(df.columns[-1]))
        self._validate_dim(idx, vecs)
        if idx.spec.needs_training:
            self._train(idx, vecs.select("vector"))
        else:
            idx.trained = True  # Flat/HNSW: training is a no-op

    def _train(self, idx: FaissIndex, vec_df: DataFrame) -> None:
        """Fit every trainable component of the factory spec: the IVF coarse
        quantizer (MLlib KMeans) and/or the PQ codebooks (sampled per-subspace
        k-means, operators/pq.py) — faiss trains both inside one
        Index::train call; same here.  Order matters for the composite: the
        coarse quantizer trains FIRST so PQ codebooks fit RESIDUALS
        ``x − centroid[assign(x)]`` (faiss IndexIVFPQ semantics — residual
        magnitudes are a fraction of vector magnitudes, so the same 256
        codes/subspace quantize much finer)."""
        if idx.spec.kind == "ivf":
            self._train_kmeans(idx, vec_df)
        else:
            idx.trained = True
        if idx.spec.pq_m:
            from duckdb_faiss_ext_spark.operators.pq import pq_train

            idx.codebooks = pq_train(
                vec_df,
                idx.dim,
                m=idx.spec.pq_m,
                nbits=idx.spec.pq_nbits,
                centroids=idx.centroids if idx.spec.kind == "ivf" else None,
                metric=idx.metric,
                metric_arg=idx.metric_arg,
            )
        if idx.spec.sq:
            from duckdb_faiss_ext_spark.functions.quantize import sq8_train

            # per-dim [vmin, vmax] over the FULL training frame — one
            # map-side-combinable scan (the min/max explode combines down to
            # O(dim) rows before the shuffle), so at 100 TB this is one
            # cheap extra pass over data the add already scans.  Training on
            # everything (not a sample) keeps the range exact: a sampled
            # range would CLIP out-of-range outliers at encode time.
            idx.sq_vmin, idx.sq_vdiff = sq8_train(vec_df, vec_col="vector")
            self._warn_if_sq8_margin_bound(idx, vec_df)

    # SQ8 build-time margin check: sample size for the driver-side k-NN
    # gap estimate (512^2 pairwise = trivial driver work at any dim)
    SQ_MARGIN_SAMPLE = 512
    SQ_MARGIN_K = 10

    def _warn_if_sq8_margin_bound(self, idx: FaissIndex, vec_df: DataFrame) -> None:
        """Loud build-time warning when SQ8's half-bin decode error exceeds
        the corpus's inter-neighbor margin (VERDICT r10 task 3).  The
        hazard is SILENT and flat in nprobe: on tie-dense data (e.g.
        unit-normalized cluster members differing in IP by ~1e-4) the true
        top-k ordering sits below the codec's resolution (~vdiff/510 per
        dim), so recall@10 parks at ~0.39 no matter how wide the probe —
        measured on the 1M mog corpus where the raw index scores 1.0
        (SCALE.md r10 'QUANTIZATION-bound').  FAISS's own SQ guidance is
        data-dependent; say so at the moment the user picks the tier.

        Estimate, driver-side on a bounded sample (one limit() job,
        O(sample^2 * dim) numpy): median gap between consecutive true
        top-k distances (the ordering margin recall@k depends on) vs the
        median distance perturbation from one-sided quantization
        (raw query x decoded corpus — exactly the engine's search shape).
        Warn when the perturbation reaches the margin.  Supported for the
        metrics SQ8 search actually optimizes (L2 / IP / COSINE); exotic
        metrics skip the check."""
        from duckdb_faiss_ext_spark.functions.quantize import (
            sq8_decode_np,
            sq8_encode_np,
        )
        metric = resolve_metric(idx.metric)
        if metric not in ("L2", "INNER_PRODUCT", "COSINE"):
            return
        k = self.SQ_MARGIN_K
        # seeded random sample, NOT limit(): limit takes the first rows in
        # partition order, and on a clustered/sorted corpus (the engine's
        # own cluster-partitioned layout) the first 512 rows can be one
        # tight cluster — biasing the margin estimate both ways (r11
        # review finding).  One count job prices the fraction; build-time
        # only.
        n = vec_df.count()
        if n < k + 2:
            return
        samp = vec_df.select("vector")
        if n > self.SQ_MARGIN_SAMPLE:
            samp = samp.filter(
                F.rand(11) < min(1.0, 1.3 * self.SQ_MARGIN_SAMPLE / n)
            )
        x, _ = vectors.fetch(samp.limit(self.SQ_MARGIN_SAMPLE), dim=idx.dim)
        if len(x) < k + 2:
            return
        # one-sided quantization through THE canonical numpy codec pair
        # (bit-identical to every kernel path) — a hand-copied formula
        # here would drift if the codec convention ever changes again
        # (the r9 round-vs-floor fix; r11 review finding)
        xq = sq8_decode_np(
            sq8_encode_np(x, idx.sq_vmin, idx.sq_vdiff).astype(np.float64),
            idx.sq_vmin,
            idx.sq_vdiff,
        )
        d_true = pairwise(x, x, metric, idx.metric_arg, dtype=np.float64)
        d_quant = pairwise(x, xq, metric, idx.metric_arg, dtype=np.float64)
        np.fill_diagonal(d_true, np.nan)  # self never competes for top-k
        sign = -1.0 if is_descending(metric) else 1.0
        order = np.argsort(sign * d_true, axis=1)[:, : k + 1]
        rows_ix = np.arange(len(x))[:, None]
        top = d_true[rows_ix, order]  # (n, k+1) best-first true distances
        gaps = np.abs(np.diff(top, axis=1))  # k ordering margins per query
        margin = float(np.median(gaps))
        pert = float(
            np.median(np.abs(d_quant[rows_ix, order] - top))
        )
        # pert == 0 means decode is EXACT on the sample (constant dims or
        # duplicate-heavy corpora where vdiff = 0): no quantization effect
        # exists, so 0 >= 0 must not warn (r11 review finding)
        if pert > 0 and pert >= margin:
            warnings.warn(
                f"Index {idx.name} ({idx.spec.factory!r}, metric {metric}): "
                "SQ8 decode error reaches the corpus's inter-neighbor "
                f"margin — sampled median top-{k} ordering gap "
                f"{margin:.2e} vs median quantization perturbation "
                f"{pert:.2e}.  Recall will be QUANTIZATION-bound (flat in "
                "nprobe/efSearch; measured 0.39 on tie-dense normalized "
                "data where the raw index scores 1.0, SCALE.md r10).  "
                "Use the raw float32 tier, or re-scale/center the "
                "embeddings so neighbor gaps exceed ~vdiff/510 per dim "
                "(README 'Sizing the knobs at scale')."
            )

    def _train_kmeans(self, idx: FaissIndex, vec_df: DataFrame) -> None:
        """IVF coarse quantizer via MLlib KMeans (SURVEY.md §7 M3).
        Reproduces the too-few-points error (faiss_extension.cpp:400-404)."""
        nlist = idx.spec.nlist
        n = vec_df.count()
        if n < nlist:
            raise TrainingError(
                f"Index {idx.name}: cannot train {nlist} clusters with only {n} "
                f"vectors; provide at least as many training points as clusters"
            )
        if nlist == 1:
            # single cluster: centroid = per-dimension mean, one distributed agg
            sums = (
                vec_df.select(F.posexplode("vector").alias("i", "v"))
                .groupBy("i")
                .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
                .orderBy("i")
                .collect()
            )
            centroid = np.array([r["s"] / r["c"] for r in sums], dtype=np.float32)
            idx.centroids = centroid.reshape(1, -1)
        else:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            # FAISS subsamples training to ~256 points per centroid
            # (Clustering::max_points_per_centroid); mirror that so training
            # cost is O(nlist), not O(corpus) — at the 4M probe this cut the
            # IVF32 build from ~80 s of KMeans to a constant ~8k-point fit.
            # Both knobs are user-tunable (VERDICT r7 task 5: recall at
            # high nlist may want a deeper fit): params
            # 'train_points_per_centroid' (default 256) and 'train_max_iter'
            # (default 20, MLlib's own default).
            ppc = int(idx.params.get("train_points_per_centroid", 256))
            max_iter = int(idx.params.get("train_max_iter", 20))
            cap = ppc * nlist
            sample = vec_df
            if n > cap:
                sample = vec_df.sample(fraction=min(1.0, cap * 1.2 / n), seed=42).limit(cap)
            # GlobalLimit collapses the sample to ONE partition, which ran
            # the whole k=nlist fit single-core: the r7 breakdown probe
            # measured the in-engine 1M/2048 fit at 2273 s vs ~85 s for the
            # same problem fit in parallel (SCALE.md r7 — THE dominant cost
            # of every high-nlist build since r1, hiding as "ambient load").
            # One bounded repartition (<= cap rows) restores parallelism.
            sample = sample.repartition(
                max(2, self.spark.sparkContext.defaultParallelism)
            )
            # one cache serves both the KMeans fit and the degeneracy check
            # below — O(nlist) rows, never the corpus
            sample = sample.persist()
            try:
                # small capped samples (bytes-bounded both ways) fit DRIVER-
                # SIDE in milliseconds: a 4096-row k=16 problem through
                # MLlib pays ~seconds of per-iteration job overhead plus a
                # one-time ~6.5 s first-KMeans JIT penalty (SCALE.md r9
                # build-gap table) — pure fixed cost at bench scale.  Large
                # fits (high nlist: the 100 TB regime) keep the parallel
                # MLlib path, where that overhead amortizes into real work.
                small = (
                    min(n, cap) * idx.dim * 8 <= self.SMALL_FIT_BYTES
                    and min(n, cap) * nlist * 8 <= self.SMALL_FIT_BYTES
                    and not int(idx.params.get("force_distributed_fit", 0))
                )
                # r14 medium regime (guide §1.2 step 1 — the distributed
                # algorithm): the 524k x 2048 x 64 bench fit spent ~100 s in
                # MLlib's per-point aggregation loop; the sample is only
                # ~134 MB of float32, far under driver memory, and a
                # thread-parallel chunked-BLAS Lloyd on the driver measures
                # ~2 s/iteration on local[32] (numpy releases the GIL in
                # gemm/argmax).  Truly large fits (sample f32 matrix above
                # MEDIUM_FIT_BYTES — the 100 TB regime with nlist in the
                # hundreds of thousands) keep the parallel MLlib path.
                medium = (
                    min(n, cap) * idx.dim * 4 <= self.MEDIUM_FIT_BYTES
                    and not int(idx.params.get("force_distributed_fit", 0))
                )
                driver_pts = None
                if small or medium:
                    if small:
                        cents, l2_counts = self._fit_kmeans_local(
                            sample, nlist, max_iter
                        )
                    else:
                        cents, l2_counts, samp_x, samp_lab = (
                            self._fit_kmeans_medium(sample, nlist, max_iter)
                        )
                    idx.centroids = cents
                    if resolve_metric(idx.metric) == "L2":
                        hist = l2_counts  # same reuse rule as the MLlib path
                        if not small:
                            # the fit's final L2 labels ARE the index
                            # assignment — the rebalance can slice its
                            # per-cluster point sets from the driver-side
                            # sample instead of re-running assignment as a
                            # distributed job + toPandas (guide §4: the
                            # second full sample round-trip was ~31 s of a
                            # 69 s quiet train, r14 profile)
                            driver_pts = (samp_x, samp_lab)
                    else:
                        hist = self._sample_metric_histogram(idx, sample, None)
                else:
                    ml_df = sample.select(
                        array_to_vector(F.col("vector").cast("array<double>")).alias("features")
                    )
                    km = KMeans(k=nlist, seed=42, maxIter=max_iter, featuresCol="features")
                    model = km.fit(ml_df)
                    idx.centroids = np.array(
                        [np.asarray(c) for c in model.clusterCenters()], dtype=np.float32
                    )
                    hist = self._sample_metric_histogram(idx, sample, model)
                hist = self._rebalance_oversize_clusters(
                    idx, sample, hist, driver_pts=driver_pts
                )
                self._warn_if_degenerate_assignment(idx, hist)
            finally:
                sample.unpersist()
        idx.trained = True

    # layout-cache ceiling (ADVICE r14): the add-path persist that lets the
    # range shuffle's bounds sampling reuse the assigned/encoded frame is
    # skipped when the frame's plan-stat estimate exceeds this — the double
    # lineage pass is cheaper than doubling transient disk at 50 GB+ adds.
    # Local/bench adds (<= a few GB) keep the r14 single-pass behavior.
    LAYOUT_CACHE_MAX_BYTES = 16e9

    # driver-side fit ceiling: sample_rows x dim and sample_rows x nlist f64
    # temps must both stay under this (128 MB) — above it the MLlib parallel
    # fit wins anyway (its job overhead amortizes into real work)
    SMALL_FIT_BYTES = 128e6

    def _fit_kmeans_local(
        self, sample: DataFrame, nlist: int, max_iter: int
    ) -> tuple:
        """Seeded driver-side Lloyd with k-means++ (D²) init over the CAPPED
        training sample; returns (float32 centroids, int64 L2 counts).
        Numerics in f64.  Empty clusters re-seed to the farthest point from
        its assigned center (the standard Lloyd repair, also what keeps
        nlist constant).  Convergence at max center shift < 1e-4 mirrors
        MLlib's default tol."""
        x, _ = vectors.fetch(sample.select("vector"), dtype=np.float64)
        rng = np.random.default_rng(42)
        cents = np.empty((nlist, x.shape[1]), dtype=np.float64)
        cents[0] = x[rng.integers(len(x))]
        d2 = ((x - cents[0]) ** 2).sum(1)
        for j in range(1, nlist):
            # D² sampling via cumulative-sum inversion (rng.choice(p=...)
            # can trip numpy's sum-to-1 check on large fp arrays)
            c = np.cumsum(d2)
            pick = (
                int(np.searchsorted(c, rng.random() * c[-1]))
                if c[-1] > 0
                else int(rng.integers(len(x)))
            )
            cents[j] = x[min(pick, len(x) - 1)]
            d2 = np.minimum(d2, ((x - cents[j]) ** 2).sum(1))
        xn = (x**2).sum(1, keepdims=True)

        def assign(c):
            d2m = xn - 2.0 * (x @ c.T) + (c**2).sum(1)[None, :]
            lab = d2m.argmin(1)
            return lab, d2m[np.arange(len(x)), lab]

        for _it in range(max(1, max_iter)):
            lab, mind = assign(cents)
            new = np.empty_like(cents)
            far = np.argsort(-mind)
            fi = 0
            for j in range(nlist):
                sel = lab == j
                if sel.any():
                    new[j] = x[sel].mean(0)
                else:
                    new[j] = x[far[fi]]
                    fi += 1
            shift = np.sqrt(((new - cents) ** 2).sum(1)).max()
            cents = new
            if shift < 1e-4:
                break
        lab, _ = assign(cents)
        counts = np.bincount(lab, minlength=nlist).astype(np.int64)
        return cents.astype(np.float32), counts

    # driver-side THREADED fit ceiling: the capped sample's float32 matrix
    # must fit comfortably on the driver (600 MB ~ 2.4M rows at dim 64,
    # 100k rows at dim 1536 — covers every high-nlist fit a single host
    # would run).  Above it the MLlib parallel path takes over.
    MEDIUM_FIT_BYTES = 600e6

    # serialize entries to the process-global OpenBLAS knob (ADVICE r14):
    # depth counter restores only at the outermost exit
    _BLAS_GUARD_LOCK = threading.Lock()
    _BLAS_GUARD_DEPTH = 0
    _BLAS_GUARD_PREV = 0

    @staticmethod
    @contextmanager
    def _openblas_single_thread():
        """Pin the process-wide OpenBLAS pool to 1 thread for the duration
        of a driver-side FAN-OUT region, restoring the previous size on
        exit (r14 session 2).  Why: this numpy's OpenBLAS is built
        MAX_THREADS=2 with ONE shared worker pool per process — 32
        concurrent gemm calls from the fit's thread pool all contend for
        that single extra worker, and the loser threads sit in the
        kernel's yield path: the host trail recorded 60-92% SYSTEM time
        across all 32 CPUs during fits (steal ~0), and the isolated gemm
        pass measured 35.8 GFLOPS / 74% sys contended vs 290 GFLOPS /
        0.2% sys with the pool pinned to 1 (tools/out_r14/
        host_trail_session2.log, gemm microbench in OPTIMIZATION_r14.md).
        Process-wide, hence scoped: serial driver-side BLAS paths (the
        small-fit solver the declared queries build through, the SQ8
        margin check) keep the default pool and their exact current
        behavior.  No-op when the OpenBLAS control symbols are absent
        (non-OpenBLAS numpy builds).

        The knob is a process GLOBAL, so entries are serialized on a
        module lock with a depth counter: overlapping fits from two driver
        threads would otherwise race the restore and could leave a stale
        pool size behind (ADVICE r14).  The pool size is only restored
        when the outermost guard exits; any OTHER driver-thread BLAS user
        running concurrently with a fit runs single-threaded for that
        window — acceptable, since the fit saturates the host anyway."""
        import ctypes as _ct
        import glob as _glob
        import os as _os

        lib = None
        for pat in ("*openblas*",):
            for p in _glob.glob(
                _os.path.join(
                    _os.path.dirname(np.__file__), "..", "numpy.libs", pat
                )
            ):
                try:
                    lib = _ct.CDLL(p, mode=_ct.RTLD_GLOBAL)
                    break
                except OSError:
                    continue
        get_ = set_ = None
        if lib is not None:
            for suffix in ("64_", ""):
                g = getattr(lib, f"openblas_get_num_threads{suffix}", None)
                s = getattr(lib, f"openblas_set_num_threads{suffix}", None)
                if g is not None and s is not None:
                    get_, set_ = g, s
                    break
        if set_ is None:
            yield
            return
        cls = FaissSparkEngine
        with cls._BLAS_GUARD_LOCK:
            if cls._BLAS_GUARD_DEPTH == 0:
                cls._BLAS_GUARD_PREV = int(get_())
                set_(1)
            cls._BLAS_GUARD_DEPTH += 1
        try:
            yield
        finally:
            with cls._BLAS_GUARD_LOCK:
                cls._BLAS_GUARD_DEPTH -= 1
                if cls._BLAS_GUARD_DEPTH == 0:
                    set_(cls._BLAS_GUARD_PREV)

    def _fit_kmeans_medium(
        self, sample: DataFrame, nlist: int, max_iter: int
    ) -> tuple:
        """Seeded driver-side Lloyd for the mid-size regime (sample too big
        for the f64 small-fit temps, small enough to hold as one float32
        matrix): chunked f32 BLAS scoring fanned over a thread pool (numpy
        releases the GIL in gemm/argmax/reduceat), f64 mean accumulation in
        fixed chunk order (deterministic).  Replaces the MLlib path for
        these fits — the 524k x 2048 x 64 bench fit dropped from ~100 s of
        MLlib per-point aggregation to ~2 s/iteration (guide §1.2: fix the
        algorithm before the configuration).

        Init is k-means|| (Bahmani et al., VLDB 2012 — the same D²-weighted
        seeding family MLlib's default init uses): 2 oversampling rounds at
        l = 2*nlist, candidate weights from the nearest-candidate histogram,
        then weighted k-means++ over the (small) candidate set driver-side.
        r14 used FAISS-style random-subset init here, and on corpora whose
        natural clusters are far apart Lloyd cannot migrate a centroid
        across the gap — natural clusters that drew no seed ended up owned
        by a neighbor's centroid, leaving the corpus histogram AT the 4.0
        rebalance cap (vec1m_corpus_max_share 2.0 -> 4.0, the r14 verdict's
        top regression: the fat clusters straggle every grouped-join bulk
        search and trip a 16-split corpus-rebalance pass inside the timed
        build).  D² seeding lands one seed per separated natural cluster
        with near-certainty (guide §2.5 — fix skew at the source).
        Empty clusters re-seed to the farthest point from its assigned
        center, exactly like ``_fit_kmeans_local``; convergence at max
        center shift < 1e-4."""
        import os as _os
        from concurrent.futures import ThreadPoolExecutor

        # zero-copy Arrow fetch: a per-row decode was ~15 s of a 30 s fit
        # at 524k x 64 (r14 session 2)
        x, _ = vectors.fetch(sample.select("vector"))
        n, d = x.shape
        rng = np.random.default_rng(42)
        xn = np.einsum("ij,ij->i", x, x, dtype=np.float64)
        # per-thread (chunk, nlist) f32 score temp stays ~<=32 MB
        chunk = max(1024, int(32e6 // max(nlist * 4, 1)))
        spans = [(s, min(n, s + chunk)) for s in range(0, n, chunk)]
        # pool width follows the SESSION's parallelism (local[N] -> N), not
        # the host's core count: the driver contract re-runs the bench at a
        # lower core count to measure scaling, and a host-sized pool would
        # make this driver-side fit immune to that dial (guide §2: keep
        # scale-dependent settings derived, not tuned to one machine).
        # Chunk-order f64 accumulation keeps results identical at any width.
        dp = max(1, self.spark.sparkContext.defaultParallelism)
        workers = max(1, min(dp, _os.cpu_count() or 8, len(spans)))
        mind = np.empty(n, dtype=np.float64)
        # final per-point labels, refreshed by every assign_all pass — after
        # the closing pass these are the sample's L2 assignment under the
        # returned centroids, handed to the oversize rebalance so it never
        # re-assigns the sample through a second distributed job (the r14
        # profile put that redundant pass at ~31 s of a 69 s train)
        labels = np.empty(n, dtype=np.int32)
        # Per-thread reusable gemm output buffers (r14 session-2 fix): a
        # fresh (chunk, nlist) f32 score allocation per span call is a
        # ~32 MB mmap + page-zero + munmap/TLB-shootdown per ~10 ms of
        # compute, serialized on the process mmap lock across the pool —
        # the host trail recorded 60-92% SYSTEM time across all 32 CPUs
        # during a fit (tools/out_r14/host_trail_session2.log 02:49-02:51,
        # steal ~0) and the same fit has run 27.7 s and 118.6 s on equally
        # quiet hosts.  One buffer per worker thread, gemm writes into it
        # with out= (BLAS beta=0 full overwrite).  Buffer reuse IN ISOLATION
        # is bit-identical (tools/fit_buffer_ab.py, fit_buffer_ab1.log); the
        # 1-thread OpenBLAS pin shifts sgemm results at the last ulp and can
        # flip argmax ties, so the COMBINED r14 change is validated by the
        # A/B's label-agreement (>0.99) + inertia-parity contract instead
        # (ADVICE r14).
        import threading as _threading

        score_bufs: dict = {}

        def assign_span(span, c, cn):
            s, e = span
            buf = score_bufs.get(_threading.get_ident())
            if buf is None:
                buf = np.empty((chunk, nlist), dtype=np.float32)
                score_bufs[_threading.get_ident()] = buf
            sc = buf[: e - s]
            np.matmul(x[s:e], c.T, out=sc)  # f32 gemm, GIL released
            sc -= 0.5 * cn[None, :]
            lab = sc.argmax(1)
            labels[s:e] = lab
            # squared L2 to the assigned center (for empty-cluster repair):
            # d2 = xn - 2*x.c + cn = xn - 2*(sc_lab + cn/2) + cn
            #    = xn - 2*sc_lab  (the cn terms cancel)
            mind[s:e] = xn[s:e] - 2.0 * sc[
                np.arange(e - s), lab
            ].astype(np.float64)
            # per-chunk partial sums via sort + reduceat (one pass, all dims)
            order = np.argsort(lab, kind="stable")
            sl = lab[order]
            starts = np.concatenate(
                ([0], np.flatnonzero(np.diff(sl)) + 1)
            )
            psum = np.add.reduceat(
                x[s:e][order].astype(np.float64), starts, axis=0
            )
            return sl[starts], psum, np.bincount(lab, minlength=nlist)

        # ONE pool for the whole fit (not one per pass): worker threads —
        # and their reusable score buffers above — survive across passes,
        # so the fit allocates `workers` gemm buffers total instead of
        # spans-per-pass x passes mmap round-trips
        pool = ThreadPoolExecutor(workers)

        def assign_all(c):
            cn = np.einsum("ij,ij->i", c, c, dtype=np.float32)
            sums = np.zeros((nlist, d), dtype=np.float64)
            counts = np.zeros(nlist, dtype=np.int64)
            for ids, psum, cnt in pool.map(
                lambda sp: assign_span(sp, c, cn), spans
            ):
                sums[ids] += psum
                counts += cnt
            return sums, counts

        def kmeans_parallel_init():
            """k-means|| seeding over the in-memory sample (see docstring).
            All heavy passes (min-distance updates against new candidate
            batches) fan over the SAME span pool and per-thread gemm
            buffers as the Lloyd iterations; rng draws are sequential and
            seeded, and span writes land in disjoint slices, so the result
            is deterministic at any pool width."""
            dmin = np.full(n, np.inf)
            near = np.zeros(n, dtype=np.int64)

            def scatter(newc, base):
                # fold a batch of new candidates into (dmin, near), in
                # <= nlist column blocks so the per-thread (chunk, nlist)
                # score buffers are reused (BLAS ldc handles the strided
                # out= view; no per-span allocation)
                for cs in range(0, len(newc), nlist):
                    cb = np.ascontiguousarray(newc[cs : cs + nlist])
                    cn = np.einsum("ij,ij->i", cb, cb, dtype=np.float32)
                    m = len(cb)

                    def upd(span, cb=cb, cn=cn, m=m, base=base + cs):
                        s, e = span
                        buf = score_bufs.get(_threading.get_ident())
                        if buf is None:
                            buf = np.empty((chunk, nlist), dtype=np.float32)
                            score_bufs[_threading.get_ident()] = buf
                        sc = buf[: e - s, :m]
                        np.matmul(x[s:e], cb.T, out=sc)
                        sc -= 0.5 * cn[None, :]
                        j = sc.argmax(1)
                        d2 = xn[s:e] - 2.0 * sc[
                            np.arange(e - s), j
                        ].astype(np.float64)
                        better = d2 < dmin[s:e]
                        dmin[s:e][better] = d2[better]
                        near[s:e][better] = base + j[better]

                    list(pool.map(upd, spans))

            first = x[int(rng.integers(n))][None, :].copy()
            cand = [first]
            ncand = 1
            scatter(first, 0)
            for _r in range(2):  # MLlib's default 2 oversampling rounds
                tot = float(dmin.sum())
                if tot <= 0.0:
                    break
                pick = np.flatnonzero(
                    rng.random(n) < np.minimum(1.0, 2.0 * nlist * dmin / tot)
                )
                if not len(pick):
                    break
                newc = np.ascontiguousarray(x[pick])
                scatter(newc, ncand)
                cand.append(newc)
                ncand += len(pick)
            if ncand <= nlist:
                # degenerate draw (tiny or duplicate-heavy samples): the
                # r14 seeded random-subset init
                perm = rng.permutation(n)
                return x[perm[np.arange(nlist) % n]].astype(np.float32)
            cmat = np.vstack(cand).astype(np.float64)
            w = np.bincount(near, minlength=ncand).astype(np.float64)
            # weighted k-means++ (D² cumsum inversion, like
            # _fit_kmeans_local) over the ~4*nlist candidates — driver-side
            # and cheap: the candidate set is O(nlist), not O(n)
            seed = np.empty((nlist, d), dtype=np.float64)
            cw = np.cumsum(w)
            i0 = int(np.searchsorted(cw, rng.random() * cw[-1]))
            seed[0] = cmat[min(i0, ncand - 1)]
            cd2 = ((cmat - seed[0]) ** 2).sum(1)
            for jj in range(1, nlist):
                probs = np.cumsum(cd2 * w)
                p = (
                    int(np.searchsorted(probs, rng.random() * probs[-1]))
                    if probs[-1] > 0
                    else int(rng.integers(ncand))
                )
                seed[jj] = cmat[min(p, ncand - 1)]
                cd2 = np.minimum(cd2, ((cmat - seed[jj]) ** 2).sum(1))
            # a few weighted Lloyd passes polish the seed set (MLlib does
            # the same local refinement over its candidate set)
            cmn = (cmat**2).sum(1, keepdims=True)
            for _it in range(5):
                d2m = cmn - 2.0 * (cmat @ seed.T) + (seed**2).sum(1)[None, :]
                lab = d2m.argmin(1)
                order = np.argsort(lab, kind="stable")
                sl = lab[order]
                starts = np.concatenate(([0], np.flatnonzero(np.diff(sl)) + 1))
                sums = np.add.reduceat(cmat[order] * w[order, None], starts, axis=0)
                cnts = np.add.reduceat(w[order], starts)
                ids = sl[starts]
                ok = cnts > 0
                seed[ids[ok]] = sums[ok] / cnts[ok][:, None]
            return seed.astype(np.float32)

        try:
            # pin the shared OpenBLAS pool to 1 thread for the fan-out: 32
            # concurrent span gemms contending for its ONE extra worker ran
            # at 35.8 GFLOPS / 74% sys vs 290 GFLOPS / 0.2% sys pinned
            # (measured on this fit's exact gemm shape; scoped so serial
            # driver BLAS paths keep default behavior)
            with self._openblas_single_thread():
                cents = kmeans_parallel_init()
                for _it in range(max(1, max_iter)):
                    sums, counts = assign_all(cents)
                    new = np.empty_like(cents, dtype=np.float64)
                    nz = counts > 0
                    new[nz] = sums[nz] / counts[nz][:, None]
                    n_empty = int((~nz).sum())
                    if n_empty:
                        far = np.argsort(-mind)
                        new[~nz] = x[far[:n_empty]]
                    shift = np.sqrt(((new - cents) ** 2).sum(1)).max()
                    cents = new.astype(np.float32)
                    if shift < 1e-4:
                        break
                _, counts = assign_all(cents)
        finally:
            pool.shutdown(wait=True)
        return cents, counts.astype(np.int64), x, labels

    def _sample_metric_histogram(
        self, idx: FaissIndex, sample: DataFrame, model=None
    ) -> "np.ndarray":
        """Histogram of the training sample's coarse assignment under the
        INDEX metric, as an int64 array of length nlist.  Sourcing (VERDICT
        r7 task 3 — don't pay a second distributed pass when the fit
        already produced the answer):

        - L2 index metric: REUSE the KMeans fit's own ``summary.clusterSizes``
          (MLlib assigns by L2, squared-L2 argmin is the same assignment) —
          zero extra jobs.
        - other metrics (where the fit's L2 assignment is NOT the index
          assignment — e.g. IP collapse onto large-norm centroids): compute
          under the INDEX metric on the cached TRAINING SAMPLE — one
          O(nlist)-row job, never a corpus scan."""
        nlist = idx.spec.nlist
        metric = idx.metric
        if model is not None and resolve_metric(metric) == "L2":
            counts = np.zeros(nlist, dtype=np.int64)
            sizes = list(model.summary.clusterSizes)
            counts[: len(sizes)] = np.asarray(sizes, dtype=np.int64)
            return counts

        rows = (
            self._assign_only(idx, sample.select("vector"))
            .groupBy("cluster_id")
            .count()
            .collect()
        )
        counts = np.zeros(nlist, dtype=np.int64)
        for r in rows:
            counts[int(r["cluster_id"])] = int(r["count"])
        return counts

    def _warn_if_degenerate_assignment(
        self, idx: FaissIndex, counts: "np.ndarray"
    ) -> None:
        """Loud train-time warning when the coarse assignment histogram is
        degenerate (VERDICT r6 task 4).  The hazard is SILENT: IP coarse
        assignment maximizes <x,c>, so unnormalized embeddings collapse onto
        the largest-norm centroids — at nlist=2048 on unnormalized synth,
        1941/2048 clusters were empty and nprobe pruning bought nothing
        (SCALE.md r6)."""
        nlist = idx.spec.nlist
        if nlist < 2:
            return
        n = int(counts.sum())
        if not n:
            return
        empty = int((counts == 0).sum())
        biggest = int(counts.max())
        metric = idx.metric
        # max-cluster trip point: 20% of rows, relaxed to 5x the even share
        # for small nlist (at nlist=4 a 25% cluster is the EXPECTED size)
        if empty > nlist // 2 or biggest > max(0.2 * n, 5.0 * n / nlist):
            # the root-cause hint is metric-specific (VERDICT r11 #3): the
            # norm-collapse mechanism only exists for IP-family metrics;
            # for L2-family the usual culprit is a degenerate/clustered
            # training sample or nlist far above sqrt(N).
            if metric in ("INNER_PRODUCT", "COSINE"):
                hint = (
                    "  With INNER_PRODUCT at high nlist this usually means "
                    "UNNORMALIZED embeddings collapsing onto the "
                    "largest-norm centroids — unit-normalize the vectors "
                    "or use COSINE/L2 (README 'Sizing the knobs at scale', "
                    "SCALE.md r6)."
                )
            else:
                hint = (
                    "  This usually means the training sample is too small "
                    "or too clustered for this nlist — enlarge the sample "
                    "or lower nlist toward sqrt(N) (README 'Sizing the "
                    "knobs at scale')."
                )
            warnings.warn(
                f"Index {idx.name} ({idx.spec.factory!r}, metric {metric}): "
                f"degenerate coarse assignment on the training sample — "
                f"{empty}/{nlist} clusters empty, largest cluster holds "
                f"{biggest / n:.0%} of sampled rows.  nprobe pruning will "
                f"buy little or nothing at search time.{hint}"
            )

    # rebalance trip point: a cluster above this multiple of the even share
    # (on the training sample) gets recursively split into donor slots.
    # FAISS's Clustering::post-iteration split does the same job for empty
    # clusters (split the biggest, perturb); 4x matches the r7 verdict's
    # suggested cap.  The 4M/2048 probe measured max cluster = 132x the even
    # share (258k rows = 6.5% of corpus) — a single straggler partition that
    # bounds every probed search from below (SCALE.md r7, VERDICT r7 task 4).
    REBALANCE_CAP_SHARE = 4.0

    def _rebalance_oversize_clusters(
        self,
        idx: FaissIndex,
        sample: DataFrame,
        counts: "np.ndarray",
        driver_pts: tuple = None,
    ) -> "np.ndarray":
        """Split training-sample-oversize clusters into empty/tiny donor
        slots, keeping nlist constant (VERDICT r7 task 4).

        All numeric work happens DRIVER-SIDE on the bounded training sample
        (<= train_points_per_centroid * nlist rows): one distributed job
        collects the points of the affected clusters, then a local loop
        repeatedly 2-means-splits the current biggest cluster into a donor
        slot until every cluster is under ``REBALANCE_CAP_SHARE`` x the even
        share or donors run out.  Donor slots are empty clusters first, then
        clusters under cap/3 (their points are reassigned to their nearest
        UNDER-CAP centroid, so absorbing one never creates a new violation —
        ADVICE r8).
        Disable with params={'rebalance_clusters': '0'}.  Returns the
        updated histogram (idx.centroids is modified in place when any
        split runs)."""
        nlist = idx.spec.nlist
        if nlist < 8 or not int(idx.params.get("rebalance_clusters", 1)):
            return counts
        n = int(counts.sum())
        if not n:
            return counts
        cap = max(self.REBALANCE_CAP_SHARE * n / nlist, 32.0)
        over = [int(c) for c in np.argsort(-counts) if counts[c] > cap]
        if not over:
            return counts
        metric = idx.metric
        marg = idx.metric_arg
        desc = is_descending(metric)
        dim = idx.dim
        # donors: empty slots cost nothing; small slots are folded into
        # their next-nearest cluster when consumed.  Threshold cap/3: when
        # the histogram is "uniform except one giant" there are NO tiny
        # clusters (the r8 deepfit probe hit this — donors ran dry and an
        # 87k cluster survived, SCALE.md r8), but average clusters sit at
        # cap/4 < cap/3, and folding one spreads ~a mean across its
        # neighbors by proximity.  Fold targets are capped explicitly
        # below (ADVICE r8: a near-cap cluster absorbing a donor could
        # otherwise exceed the cap and, if its points were never
        # collected, survive as an unsplittable argmax)
        empties = [int(c) for c in np.where(counts == 0)[0]]
        tiny = [
            int(c)
            for c in np.argsort(counts)
            if 0 < counts[c] < cap / 3 and int(c) not in over
        ]
        splits_wanted = int(sum(int(np.ceil(counts[c] / cap)) - 1 for c in over))
        if not splits_wanted or not (empties or tiny):
            return counts
        tiny = tiny[: max(0, splits_wanted - len(empties))]
        # one filtered collect, byte-budgeted (biggest offenders first):
        # 256 MB of f32 vectors caps driver memory even at dim 1536
        budget_rows = max(int(256e6 / (4 * dim)), 4096)
        wanted: list = []
        rows_planned = 0
        for c in over + tiny:
            if rows_planned + counts[c] > budget_rows and wanted:
                break
            wanted.append(c)
            rows_planned += int(counts[c])
        over = [c for c in over if c in set(wanted)]
        tiny = [c for c in tiny if c in set(wanted)]
        if not over:
            return counts
        pts: dict = {}
        if driver_pts is not None:
            # the caller's fit already holds the sample matrix and its
            # index-metric labels driver-side (medium L2 fit): slice the
            # affected clusters locally instead of re-assigning the whole
            # sample through a second distributed job + toPandas
            samp_x, samp_lab = driver_pts
            order = np.argsort(samp_lab, kind="stable")
            sl = samp_lab[order]
            for c in wanted:
                lo = np.searchsorted(sl, c, side="left")
                hi = np.searchsorted(sl, c, side="right")
                pts[c] = np.ascontiguousarray(samp_x[order[lo:hi]])
            mat = samp_x[:0]
            if not any(len(p) for p in pts.values()):
                return counts
        else:
            mat, rest = vectors.fetch(
                self._assign_only(idx, sample.select("vector"))
                .filter(F.col("cluster_id").isin([int(c) for c in wanted]))
                .select("cluster_id", "vector"),
                dim=dim,
            )
            if not len(mat):
                return counts
            cids = rest["cluster_id"]
            for c in wanted:
                pts[c] = mat[cids == c]
        cents = idx.centroids.astype(np.float32).copy()
        counts = counts.copy()
        rng = np.random.default_rng(42)
        donors = empties + tiny  # empties first
        changed = False
        for _ in range(2 * nlist):  # hard bound; each split halves a cluster
            b = int(np.argmax(counts))
            if counts[b] <= cap or b not in pts or len(pts[b]) < 4 or not donors:
                break
            d = donors.pop(0)
            if counts[d] > 0 and d in pts and len(pts[d]):
                # fold each donor point into its nearest UNDER-CAP centroid
                # (preference order over the 8 nearest, then the global
                # nearest as a bounded-overshoot fallback): a near-cap
                # target absorbing donors must not cross the cap (ADVICE r8)
                scores = pairwise(pts[d], cents, metric, marg)
                scores[:, d] = -np.inf if desc else np.inf
                pref = (-scores).argsort(1)[:, :8] if desc else scores.argsort(1)[:, :8]
                tgt = np.empty(len(pts[d]), dtype=np.int64)
                for i in range(len(pts[d])):
                    t = next(
                        (int(c) for c in pref[i] if counts[c] + 1 <= cap),
                        None,
                    )
                    if t is None:
                        # all 8 nearest at cap: fold into the globally
                        # LEAST-LOADED cluster, never the nearest-at-cap
                        # (ADVICE r9: a nearest-at-cap target whose points
                        # were never collected into `pts` would survive as
                        # an unsplittable over-cap argmax)
                        masked = counts.astype(np.float64)
                        masked[d] = np.inf
                        t = int(np.argmin(masked))
                    tgt[i] = t
                    counts[t] += 1
                for t in np.unique(tgt):
                    if int(t) in pts:
                        pts[int(t)] = np.vstack([pts[int(t)], pts[d][tgt == t]])
                counts[d] = 0
                pts[d] = mat[:0]
            # seeded local 2-means (Lloyd, L2) over the oversize cluster;
            # the FIT runs on a bounded subsample (the split boundary needs
            # ~thousands of points, not the whole slab — a 258k-share
            # cluster costs hundreds of sequential splits otherwise);
            # expansion form keeps the temp at O(N*2), not O(N*2*dim)
            p = pts[b]
            fit = (
                p
                if len(p) <= 4096
                else p[rng.choice(len(p), 4096, replace=False)]
            )
            sub = fit[rng.choice(len(fit), 2, replace=False)].astype(np.float64)
            fn = (fit.astype(np.float64) ** 2).sum(1, keepdims=True)
            for _it in range(6):
                d2 = fn - 2.0 * (fit @ sub.T) + (sub**2).sum(1)[None, :]
                lab = d2.argmin(1)
                for j in (0, 1):
                    sel = fit[lab == j]
                    if len(sel):
                        sub[j] = sel.mean(0)
            cents[b] = sub[0].astype(np.float32)
            cents[d] = sub[1].astype(np.float32)
            # re-partition under the INDEX metric against the two new cents
            two = np.vstack([cents[b], cents[d]])
            s2 = pairwise(p, two, metric, marg)
            lab = s2.argmax(1) if desc else s2.argmin(1)
            pts[b], pts[d] = p[lab == 0], p[lab == 1]
            counts[b], counts[d] = len(pts[b]), len(pts[d])
            changed = True
        if changed:
            idx.centroids = cents
        return counts

    # corpus-level skew control (VERDICT r9 task 1 — the one r9 `weak`):
    # the sample-level cap above binds only the TRAINING sample, and the
    # full-corpus histogram drifts by the sample ratio when centroids meet
    # all the data — measured 11x-even max clusters on the hash 1M/2048 and
    # grouped-simjoin corpora with sample rebalance ON (SCALE.md r9).  At
    # 100x one such cluster lower-bounds every wide-nprobe search and every
    # grouped-simjoin stage.  After the corpus is assigned, clusters whose
    # CORPUS count exceeds the cap are split k-ways (seeded numpy k-means on
    # a bounded per-cluster sample, driver-side; nlist grows, bounded at 2x
    # the factory's) and ONLY the offenders' rows are reassigned among their
    # own children — a narrow map over the range-partitioned layout (non-
    # offender batches never even deserialize vectors) plus one range
    # shuffle to restore cluster co-location.
    REBALANCE_CORPUS_SAMPLE = 4096

    @staticmethod
    def _lloyd_np(
        x: np.ndarray,
        k: int,
        seed: int = 42,
        iters: int = 8,
        spherical: bool = False,
    ) -> np.ndarray:
        """Seeded k-means++ (D² cumsum inversion) + Lloyd over a small numpy
        sample, f64 under L2 — the split-boundary fitter for corpus
        rebalance (same numerics as ``_fit_kmeans_local`` without the
        DataFrame plumbing or empty-cluster repair: children that collapse
        empty simply attract no rows).

        ``spherical``: unit-normalize the children after every mean update
        (faiss Clustering's spherical option) — REQUIRED when rows will be
        reassigned under INNER_PRODUCT/COSINE: L2-mean children have
        unequal norms, and an IP argmax then routes (nearly) every row to
        the largest-norm child, burning the split without reducing the max
        cluster (r10 review finding).  Unit-norm children make the IP
        argmax a pure direction choice."""
        rng = np.random.default_rng(seed)
        x = x.astype(np.float64)
        k = min(k, len(x))
        cents = np.empty((k, x.shape[1]))
        cents[0] = x[rng.integers(len(x))]
        d2 = ((x - cents[0]) ** 2).sum(1)
        for j in range(1, k):
            c = np.cumsum(d2)
            pick = (
                int(np.searchsorted(c, rng.random() * c[-1]))
                if c[-1] > 0
                else int(rng.integers(len(x)))
            )
            cents[j] = x[min(pick, len(x) - 1)]
            d2 = np.minimum(d2, ((x - cents[j]) ** 2).sum(1))
        xn = (x**2).sum(1, keepdims=True)
        for _ in range(max(1, iters)):
            d2m = xn - 2.0 * (x @ cents.T) + (cents**2).sum(1)[None, :]
            lab = d2m.argmin(1)
            for j in range(k):
                sel = x[lab == j]
                if len(sel):
                    cents[j] = sel.mean(0)
            if spherical:
                nrm = np.sqrt((cents**2).sum(1, keepdims=True))
                np.divide(cents, nrm, out=cents, where=nrm > 0)
        return cents.astype(np.float32)

    def rebalance(self, name: str) -> dict:
        """Public corpus-rebalance entry: enforce the ``REBALANCE_CAP_SHARE``
        cap on the FULL-CORPUS cluster histogram of a trained IVF index
        (build-time adds run this automatically; call it after heavy
        append-only ingest has drifted the histogram).  Returns
        ``{"passes", "splits", "max_share"}`` where max_share is the final
        max-cluster / even-share ratio against the factory nlist."""
        idx = self.registry.get(name)
        if idx.spec.kind != "ivf" or not idx.trained or idx.data is None:
            raise FaissSparkError(
                f"rebalance: index {name!r} is not a trained, non-empty IVF index"
            )
        if idx.codebooks is not None or idx.spec.hnsw_m > 0:
            raise FaissSparkError(
                "rebalance: IVF,PQ and IVF_HNSW indexes store centroid-"
                "dependent artifacts (residual codes / per-cluster graphs) "
                "that a split would invalidate; corpus rebalance supports "
                "plain IVF and IVF,SQ8"
            )
        out = self._rebalance_corpus(idx)
        if out is None:
            raise FaissSparkError(
                f"rebalance: disabled on index {name!r} "
                "(params rebalance_clusters=0)"
            )
        return out

    def _rebalance_corpus(self, idx: FaissIndex, max_passes: int = 2):
        """See ``rebalance``.  Silently no-ops (returns None) when the index
        is ineligible — the automatic build-time call site must not fail a
        plain add.  Cost when the histogram is already under cap: ONE
        groupBy-count job over the cached corpus."""
        if (
            idx.spec.kind != "ivf"
            or not idx.trained
            or idx.centroids is None
            or idx.data is None
            or idx.codebooks is not None
            or idx.spec.hnsw_m > 0
            or not int(idx.params.get("rebalance_clusters", 1))
        ):
            return None
        desc = is_descending(idx.metric)
        metric, marg = idx.metric, idx.metric_arg
        nlist0 = max(int(idx.spec.nlist), 1)
        # grown nlist never exceeds 2x the factory's: probe cost scales
        # with live nlist, and a cap violation needing more than nlist0
        # extra lists means the training data misrepresented the corpus —
        # retrain is the honest fix there, not unbounded growth
        growth_budget = nlist0 - (len(idx.centroids) - nlist0)
        stats = {"passes": 0, "splits": 0, "max_share": None}
        samp = self.REBALANCE_CORPUS_SAMPLE
        prev_max = None
        for _pass in range(max_passes + 1):
            nlive = len(idx.centroids)
            if (
                _pass == 0
                and idx.cluster_counts is not None
                and len(idx.cluster_counts) == nlive
                and int(idx.cluster_counts.sum()) == int(idx.count)
            ):
                # the incrementally-maintained histogram covers the whole
                # corpus (build-time adds populate it from the SAME job
                # that materialized the slice) — skip the duplicate
                # full-corpus groupBy on pass 0 (r10 review finding)
                counts = idx.cluster_counts.astype(np.int64)
            else:
                # NULL cluster ids (e.g. rows under a hive default
                # partition from a hand-repaired layout) are orphans too —
                # int(None) one line down would be the unhelpful crash
                # this guard exists to prevent (r11 review finding)
                hist = {
                    (int(r["cluster_id"]) if r["cluster_id"] is not None else None):
                        int(r["cnt"])
                    for r in idx.data.groupBy("cluster_id")
                    .agg(F.count("*").alias("cnt"))
                    .collect()
                }
                orphans = sorted(
                    (c for c in hist if c is None or not 0 <= c < nlive),
                    key=lambda c: (c is None, c),
                )
                if orphans:
                    # disk data.parquet can hold child partitions from an
                    # interrupted earlier rebalance (data write landed,
                    # meta/centroids never re-saved) — crash with the ids
                    # instead of an IndexError so the user can repair or
                    # retrain (ADVICE r10)
                    raise FaissSparkError(
                        f"rebalance: index {idx.name!r} stores rows for "
                        f"cluster ids {orphans[:8]} outside the live "
                        f"centroid set (0..{nlive - 1}) — likely an "
                        "interrupted rebalance left orphan partition "
                        "directories; retrain the index or remove the "
                        "orphan cluster_id= directories"
                    )
                counts = np.zeros(nlive, dtype=np.int64)
                for c, v in hist.items():
                    counts[c] = v
            n = int(counts.sum())
            idx.cluster_counts = counts.copy()  # ground-truth refresh
            idx.skew_warned = False
            if not n:
                break
            # even share stays pinned to the FACTORY nlist — growth must
            # not move the goalposts it is chasing
            cap = max(self.REBALANCE_CAP_SHARE * n / nlist0, 32.0)
            stats["max_share"] = round(float(counts.max() * nlist0 / n), 2)
            over = [int(c) for c in np.argsort(-counts) if counts[c] > cap]
            if not over or growth_budget <= 0 or _pass == max_passes:
                break
            if prev_max is not None and counts.max() >= prev_max:
                # a pass that didn't shrink the max cluster will not start
                # shrinking it on identical inputs — stop instead of
                # burning the growth budget (degenerate metric/data
                # regimes; r10 review finding)
                logger.warning(
                    "rebalance(%s): pass %d left max cluster at %d rows — "
                    "splits are not separating this data under metric %s; "
                    "stopping",
                    idx.name, _pass, int(counts.max()), idx.metric,
                )
                break
            prev_max = int(counts.max())
            # bounded driver copy of the offenders' rows: biggest first,
            # ~samp rows per cluster via seeded per-cluster sampling, and a
            # 256 MB f32 byte budget overall (same rule as the sample-level
            # rebalance)
            budget_rows = max(int(256e6 / (4 * idx.dim)), 4096)
            take, planned = [], 0
            for c in over:
                rows = int(min(counts[c], samp))
                if planned + rows > budget_rows and take:
                    break
                take.append(c)
                planned += rows
            over = take
            frac_pairs = []
            for c in over:
                frac_pairs += [
                    F.lit(int(c)),
                    F.lit(float(min(1.0, 1.3 * samp / counts[c]))),
                ]
            frac = F.element_at(F.create_map(*frac_pairs), F.col("cluster_id"))
            mat, rest = vectors.fetch(
                self._decoded_view(idx, idx.data)
                .select("cluster_id", "vector")
                .filter(F.col("cluster_id").isin(over))
                .filter(F.rand(4242 + _pass) < frac),
                dim=idx.dim,
            )
            if not len(mat):
                break
            cids = rest["cluster_id"]
            cents = idx.centroids.astype(np.float32).copy()
            fams: dict = {}
            extras: list = []
            for c in over:
                p = mat[cids == c][:samp]
                if len(p) < 8 or growth_budget <= 0:
                    continue
                # children land near cap/2 when balanced, so one pass
                # usually suffices; k is clamped by the growth budget and
                # a 16-way ceiling (a >8x-cap cluster splits again next
                # pass rather than fanning out on a thin sample)
                k_c = int(np.ceil(counts[c] / (0.5 * cap)))
                k_c = max(2, min(k_c, 16, growth_budget + 1, len(p)))
                sub = self._lloyd_np(
                    p, k_c, seed=9000 + c,
                    # dot-selection metrics need unit-norm children (see
                    # _lloyd_np docstring); L2-family keeps plain means
                    spherical=resolve_metric(metric)
                    in ("INNER_PRODUCT", "COSINE"),
                )
                k_c = len(sub)
                if k_c < 2:
                    continue
                base_id = nlive + len(extras)
                child_ids = np.array(
                    [c] + list(range(base_id, base_id + k_c - 1)), dtype=np.int64
                )
                cents[c] = sub[0]
                extras.extend(sub[1:])
                fams[int(c)] = (child_ids, sub)
                growth_budget -= k_c - 1
                stats["splits"] += k_c - 1
            if not fams:
                break
            new_cents = (
                np.vstack([cents, np.asarray(extras, dtype=np.float32)])
                if extras
                else cents
            )
            # rewrite: offenders' rows re-pick among their OWN children
            # under the index metric (f64-then-round selection, the same
            # rule every probe path uses); all other rows pass through
            # without deserializing a single vector
            bc = self.spark.sparkContext.broadcast(fams)
            sq = idx.sq_vdiff is not None
            split_ids = [int(c) for c in fams]
            vmin, vdiff = (idx.sq_vmin, idx.sq_vdiff) if sq else (None, None)
            dim = idx.dim

            def reassigned(frame: DataFrame) -> DataFrame:
                """Offenders' rows re-pick among their own children — a
                zero-copy mapInArrow kernel (guide §4.1/§4.2, VERDICT r14
                task 3): the r14 pandas_udf decoded one Python list PER ROW,
                and on SQ8 indexes additionally paid a JVM decode of EVERY
                row's vector; the r14 layout
                tripped 16 splits on the 1M bench corpus, putting this
                kernel inside the timed build.  Numerics are unchanged:
                batch boundaries are the same arrow.maxRecordsPerBatch
                cuts, the masked rows reach the SAME _coarse_scores /
                topk_indices calls as C-contiguous float32, and the SQ8
                numpy decode is the bit-compatible twin of the JVM
                expression (sq8_decode_np contract).  Batches with no
                offender rows pass through without touching a vector
                buffer."""
                cols = frame.columns
                cid_pos = cols.index("cluster_id")
                vec_pos = cols.index("codes" if sq else "vector")

                def batches(it):
                    from duckdb_faiss_ext_spark.functions.quantize import (
                        sq8_decode_np,
                    )

                    fams_v = bc.value
                    split = np.fromiter(fams_v.keys(), dtype=np.int64)
                    for rb in it:
                        nrows = rb.num_rows
                        if nrows == 0:
                            continue
                        cid = (
                            rb.column(cid_pos)
                            .to_numpy(zero_copy_only=False)
                            .astype(np.int64, copy=True)
                        )
                        if not np.isin(cid, split).any():
                            yield rb
                            continue
                        xmat = vectors.decode(
                            rb.column(vec_pos), dim, dtype=None
                        )
                        for c, (ids, sub) in fams_v.items():
                            m = cid == c
                            if not m.any():
                                continue
                            xm = np.ascontiguousarray(xmat[m])
                            if sq:
                                xm = sq8_decode_np(xm, vmin, vdiff)
                            else:
                                xm = xm.astype(np.float32, copy=False)
                            scores = FaissSparkEngine._coarse_scores(
                                xm, sub, metric, marg
                            )
                            best, _ = topk_indices(scores, 1, desc)
                            cid[m] = ids[best[:, 0]]
                        yield rb.set_column(
                            cid_pos,
                            rb.schema.field(cid_pos),
                            pa.array(cid.astype(np.int32), pa.int32()),
                        )

                return frame.mapInArrow(batches, schema=frame.schema)

            if idx.storage_path:
                # disk mode (the 100 TB shape): rewrite ONLY the offenders'
                # partition directories.  The cluster-partitioned layout
                # prunes the read to the offenders' bytes, and DYNAMIC
                # partition overwrite replaces exactly the directories the
                # rewrite emits (child 0 keeps the original id, so the
                # offender's dir is among them) — I/O is bounded by the
                # offenders' share of the corpus, never the whole index.
                # localCheckpoint materializes the rewrite first: Spark
                # refuses to overwrite a path a query is reading from.
                data_path = os.path.join(idx.storage_path, "data.parquet")
                rewrite = reassigned(
                    idx.data.filter(F.col("cluster_id").isin(split_ids))
                ).localCheckpoint(eager=True)
                emitted = {
                    int(r["cluster_id"])
                    for r in rewrite.select("cluster_id").distinct().collect()
                }
                (
                    rewrite.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("cluster_id")
                    .parquet(data_path)
                )
                rewrite.unpersist()
                # dynamic overwrite only replaces directories the rewrite
                # EMITS: an offender whose rows all re-picked non-first
                # children would leave its stale directory behind and
                # duplicate the whole cluster (r10 review finding) — drop
                # any offender dir the rewrite did not re-emit.  (Local
                # filesystem delete; on an object store this is the same
                # per-prefix delete the overwrite itself performs.)
                for c in split_ids:
                    if c not in emitted:
                        shutil.rmtree(
                            os.path.join(data_path, f"cluster_id={c}"),
                            ignore_errors=True,
                        )
                idx.centroids = new_cents
                idx.data = self.spark.read.parquet(data_path)
            else:
                frame = reassigned(idx.data)
                n_parts = max(idx.data.rdd.getNumPartitions(), 1)
                frame = frame.repartitionByRange(
                    n_parts, "cluster_id", "label"
                ).persist()
                frame.count()
                self._unpersist_slices(idx)
                idx.centroids = new_cents
                idx.data = frame
                idx.slices = [frame]
                idx.slice_rows = [n]
                idx.slice_caches = [frame]
            stats["passes"] = _pass + 1
        return stats

    def _decoded_view(self, idx: FaissIndex, corpus: DataFrame) -> DataFrame:
        """SQ8 indexes store ``codes array<tinyint>``; every reader of the
        corpus frame goes through this lazy bin-center decode back to a
        float32 ``vector`` column (FAISS Codec8bit).  Pure zip_with codegen
        BELOW the kernels: only batches a search actually scans pay the
        decode, and Catalyst pushes label semi-joins/cluster pruning under
        the projection.  Non-SQ indexes pass through untouched."""
        if idx.sq_vdiff is None or "codes" not in corpus.columns:
            return corpus
        from duckdb_faiss_ext_spark.functions.quantize import sq8_decode

        return sq8_decode(
            corpus, idx.sq_vmin, idx.sq_vdiff, codes_col="codes", out_col="vector"
        )

    def _assign_only(self, idx: FaissIndex, vecs: DataFrame) -> DataFrame:
        """Cluster assignment alone — a narrow mapInArrow projection, no
        exchange.  add() encodes PQ/SQ8 storage between this and
        `_cluster_layout` so the range shuffle moves codes, not f32 (r14).

        Zero-copy decode (vectors.decode): a per-row Python decode
        dominated the 1M-corpus assignment (~45 s for ~3 s of BLAS).
        Scoring is chunked so the (rows, nlist) score temp stays ~<=64 MB
        per worker (SCALE.md r9: full 64k batches at nlist=4096 tripped
        the host OOM); only the per-row argmax is kept, so chunking
        changes nothing numerically."""
        cents = idx.centroids
        metric = idx.metric
        marg = idx.metric_arg
        dim = idx.dim
        bc = self.spark.sparkContext.broadcast(cents)
        desc = is_descending(metric)
        vec_pos = vecs.columns.index("vector")
        label_pos = vecs.columns.index("label") if "label" in vecs.columns else None

        def assign_batches(batches):
            c = bc.value
            step = max(256, int(64e6 // (max(len(c), 1) * 4)))
            for rb in batches:
                nrows = rb.num_rows
                if nrows == 0:
                    continue
                x = vectors.decode(
                    rb.column(vec_pos),
                    dim,
                    ids=None if label_pos is None else rb.column(label_pos),
                )
                out = np.empty(nrows, dtype=np.int32)
                for s in range(0, nrows, step):
                    scores = pairwise(x[s : s + step], c, metric, marg)
                    ids, _ = topk_indices(scores, 1, desc)
                    out[s : s + step] = ids[:, 0]
                yield rb.append_column(
                    "cluster_id", pa.array(out, pa.int32())
                )

        schema_str = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in vecs.schema.fields
        )
        return vecs.mapInArrow(
            assign_batches, schema=f"{schema_str}, cluster_id int"
        )

    @staticmethod
    def _cluster_layout(assigned: DataFrame) -> DataFrame:
        # co-locate clusters with RANGE partitioning on (cluster_id, label):
        # cluster runs stay contiguous (so the nprobe pre-filter skips cheap,
        # and save()'s cluster-partitioned parquet prunes on load) while a
        # big cluster splits across several partitions.  Hash-partitioning on
        # cluster_id alone skewed catastrophically at the 4M probe — KMeans
        # clusters are unequal and 32 ids hashed into 32 partitions collided,
        # leaving ONE partition with 53% of all rows (search time = that
        # partition's single-threaded scan).
        n_parts = max(assigned.rdd.getNumPartitions(), 1)
        return assigned.repartitionByRange(n_parts, "cluster_id", "label")

    # ---------------------------------------------------------------- search

    # query-side row count above which searches auto-route onto the
    # executor-side bulk plans (block equi-joins / packed query streaming)
    # instead of the driver's block iterator.  Measured crossovers on
    # local[32] at dim 64 (SCALE.md r4): the IVF block equi-join wins 2.1x
    # at 300k queries and is roughly break-even near 100k; the packed graph
    # stream crosses ~300k.  Below the threshold the driver stream's lower
    # fixed cost wins; above it the driver becomes a serialization floor
    # that no number of executors can lift.
    BULK_QUERY_THRESHOLD = 100_000

    # routing-estimate memo: analyzed-plan semanticHash -> last probed
    # estimate (clamped at cap+1).  Bounds the per-search cost of routing to
    # ONE bounded job per DISTINCT query plan per session instead of one per
    # search call (VERDICT r5 wrong #3).  A plan whose underlying files grow
    # between searches keeps its cached decision — routing is a performance
    # heuristic, both plans are correct (result-identity pytest-pinned).
    _ROUTE_CACHE_MAX = 4096

    def _query_rows_estimate(self, queries_df: DataFrame, cap: int) -> int:
        """Bounded estimate of the query-side row count for bulk routing.

        Free path first: Catalyst's statically-known figures — but ONLY as
        proofs of smallness (<= cap).  Both ``stats().rowCount()`` (for a
        GlobalLimit over an unknown-count child it is the limit itself) and
        ``maxRows()`` are UPPER bounds: ``queries.limit(200k)`` over a
        50-row frame must NOT route a tiny batch onto the bulk plan
        (ADVICE r5).  When the static figure can't prove smallness, ONE
        bounded job, memoized on the analyzed plan's semanticHash:
        ``limit(cap+1).count()`` — never a full count of a corpus-scale
        query side; cap+1 means "bigger than cap" and that is all routing
        needs to know."""
        plan_key = None
        try:
            qe = queries_df._jdf.queryExecution()
            op = qe.optimizedPlan()
            rc = op.stats().rowCount()
            if rc.isDefined() and int(str(rc.get())) <= cap:
                return int(str(rc.get()))
            if rc.isDefined() and op.getClass().getSimpleName() in (
                "LocalRelation",
                "InMemoryRelation",
            ):
                # ROOT local/cached relations carry an EXACT rowCount — a
                # big one proves bigness for free (ADVICE r6).  Anything
                # else (notably GlobalLimit, whose rowCount is the limit
                # itself over an uncounted child) stays an upper bound and
                # must not route a small batch onto the bulk plan (ADVICE
                # r5), so > cap falls through to the bounded probe.
                return int(str(rc.get()))
            mr = op.maxRows()
            if mr.isDefined() and int(mr.get()) <= cap:
                return int(mr.get())  # upper bound proves smallness
            plan_key = (int(qe.analyzed().semanticHash()), cap)
        except Exception:  # non-classic sessions / plan API drift: probe
            pass
        if plan_key is not None and plan_key in self._route_cache:
            return self._route_cache[plan_key]
        n = queries_df.limit(cap + 1).count()
        if plan_key is not None:
            if len(self._route_cache) >= self._ROUTE_CACHE_MAX:
                self._route_cache.clear()
            self._route_cache[plan_key] = n
        return n

    def _resolve_bulk_routing(self, queries_df: DataFrame, params: dict) -> None:
        """Decide (once per search) whether this search takes the
        executor-side bulk-query plan, writing the decision into
        ``params['bulk_queries']`` for every downstream path.

        The reference never serializes the query side through a
        coordinator — queries arrive as DataChunks inside the host pipeline
        (faiss_extension.cpp:913-916); before r5 a user had to KNOW the
        ``bulk_queries`` knob to get the equivalent executor-side plan
        (VERDICT r4 wrong #1).  An explicit ``bulk_queries`` value (0 or 1)
        still overrides the estimate."""
        if params.get("bulk_queries") is not None:
            params["bulk_queries"] = int(params["bulk_queries"])
            return
        thr = int(params.get("bulk_query_threshold", self.BULK_QUERY_THRESHOLD))
        n_est = self._query_rows_estimate(queries_df, thr)
        params["bulk_queries"] = 1 if n_est > thr else 0
        logger.info(
            "bulk routing: query side ~%s rows (threshold %d) -> %s",
            f">{thr}" if n_est > thr else n_est,
            thr,
            "executor-side bulk plan" if params["bulk_queries"] else "driver block stream",
        )

    @staticmethod
    def _coarse_scores(q: np.ndarray, cents: np.ndarray, metric: str, marg: float) -> np.ndarray:
        """Query-to-centroid scores for PROBE SELECTION, float64-computed
        then rounded to float32.  Selection must be identical across every
        execution path (driver mask, executor explode-udf, PQ LUT path) for
        the auto-router's result-identity contract — but float32 BLAS
        results differ in the last ulp with matrix SHAPE, and a 1-ulp flip
        at the nprobe boundary admits a DIFFERENT CLUSTER on one path (the
        r7 quiet 300k probe caught 108 mismatched result rows from exactly
        this).  f64 accumulation rounded to f32 is shape-independent for
        all practical purposes (a flip now needs the true score within
        ~1e-16 of an f32 rounding boundary)."""
        return pairwise(q, cents, metric, marg, dtype=np.float64).astype(np.float32)

    @staticmethod
    def _coarse_topk(
        q: np.ndarray, cents: np.ndarray, metric: str, marg: float, k: int,
        desc: bool,
    ) -> np.ndarray:
        """(nq, k) probed-cluster ids, CHUNKED so the (rows, nlist) f64
        score temp stays ~<=64 MB — a 64k query block (or Arrow batch, in
        the executor-side probe UDF) at nlist=4096 is a 2.1 GB f64 matrix
        per process, the same memory cliff the assignment UDF hit at the
        16M/4096 probe (SCALE.md r9).  Chunking cannot change selection:
        the f64-then-round rule exists precisely because f64 accumulation
        is shape-independent (docstring above)."""
        k = min(k, cents.shape[0])
        step = max(256, int(64e6 // (max(cents.shape[0], 1) * 8)))
        out = np.empty((q.shape[0], k), dtype=np.int64)
        for s in range(0, q.shape[0], step):
            scores = FaissSparkEngine._coarse_scores(
                q[s : s + step], cents, metric, marg
            )
            ids, _ = topk_indices(scores, k, desc)
            out[s : s + step] = ids
        return out

    def _probe_mask_fn(self, idx: FaissIndex, nprobe: int):
        """(qids, q) -> (nq, nlist) boolean mask of probed clusters."""
        ids_fn, nlist = self._probe_ids_fn(idx, nprobe), len(idx.centroids)

        def fn(qids: np.ndarray, q: np.ndarray) -> np.ndarray:
            mask = np.zeros((q.shape[0], nlist), dtype=bool)
            mask[np.arange(q.shape[0])[:, None], ids_fn(qids, q)] = True
            return mask

        return fn

    def search_flat(
        self,
        name: str,
        k: int,
        queries_df: DataFrame,
        params: Optional[dict] = None,
        qid_col: str = "qid",
        vec_col: str = "vector",
        allowed_df: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Flattened search result (qid, rank, label, distance) — the engine's
        native shape; `search` wraps it into the reference's LIST(STRUCT)."""
        idx = self.registry.get(name)
        if idx.data is None:
            raise FaissSparkError(f"Index {name} is empty; add vectors first")
        if idx.needs_training:
            raise FaissSparkError(f"Index {name} is not trained")
        params = {**idx.params, **(params or {})}
        # validate graph_filter on EVERY search (not only filtered ones): a
        # typo baked into create-time params must surface on first use, not
        # only once a filter happens to be added
        if str(params.get("graph_filter", "auto")) not in ("auto", "beam", "scan"):
            raise FaissSparkError(
                "graph_filter must be 'auto', 'beam' or 'scan'; got "
                f"{params.get('graph_filter')!r}"
            )
        # SQ8 corpora stay as CODES here: the driver-path kernel decodes
        # per Arrow batch in numpy (4x smaller transfer, no interpreted
        # JVM projection — bench'd 3.2x faster than the zip_with decode);
        # only the bulk executor-join path below takes the JVM decode view
        corpus = idx.data
        sq8_params = (
            (idx.sq_vmin, idx.sq_vdiff) if idx.sq_vdiff is not None else None
        )
        has_graph = "neighbors" in corpus.columns
        # beam-on-graphless is rejected HERE, with the value validation —
        # not only once a filter is present: 'beam' baked into create-time
        # params on a Flat/IVF index must fail on first use like any other
        # invalid mode, instead of silently running the other plan on every
        # unfiltered search (ADVICE r4)
        if str(params.get("graph_filter", "auto")) == "beam" and not has_graph:
            raise FaissSparkError(
                f"graph_filter='beam' on index {idx.name!r}: no graphs "
                "to beam (Flat/IVF index, or graphs not built). Use "
                "'auto'/'scan', or a graph factory."
            )
        self._resolve_bulk_routing(queries_df, params)
        allowed_col = None
        if allowed_df is not None:
            # filter-during-search semantics: semi-join BEFORE top-k
            # (faiss_search_filter, README.md:245).  NO broadcast hint: at the
            # reference's own p=90% selectivity the allowed set is ~90% of all
            # ids — forcing it broadcast OOMs at scale (VERDICT r1 #2).  AQE
            # picks broadcast at runtime when the built side is actually small
            # (the set-vs-bitmap trade the reference manages by hand,
            # faiss_extension.cpp:729-820, delegated to Catalyst for real).
            acol = allowed_df.columns[0]
            allowed = allowed_df.select(F.col(acol).cast("bigint").alias("label"))
            if has_graph:
                # the broadcast-marker LEFT join below emits one corpus row
                # per matching marker row — duplicate ids in the allowed set
                # would duplicate corpus rows and corrupt the graph search
                # (the semi-join paths are dedup-safe by construction)
                allowed = allowed.distinct()
            # branch-decision count: one id-only scan of the allowed set per
            # filtered search — the same cost class as the reference, which
            # re-runs the filter SELECT on every faiss_search_filter call
            # (faiss_extension.cpp:988-996)
            mode = str(params.get("graph_filter", "auto"))
            use_beam = False
            if has_graph and mode != "scan":
                # bounded: stops at cap+1 rows, and when the set is within
                # the cap the bounded count IS the exact size — one job
                # serves both the cap check and the cost model
                n_allowed = allowed.limit(
                    self.GRAPH_FILTER_BROADCAST_CAP + 1
                ).count()
                within_cap = n_allowed <= self.GRAPH_FILTER_BROADCAST_CAP
                if mode == "beam" and not within_cap:
                    # same fail-loud contract: a forced beam must never be
                    # silently downgraded to the scan plan
                    raise FaissSparkError(
                        "graph_filter='beam': allowed set exceeds the "
                        f"broadcast cap ({self.GRAPH_FILTER_BROADCAST_CAP} "
                        "ids) — a beam mask cannot be stamped without "
                        "shuffling the graph corpus. Use 'auto'/'scan' or "
                        "shrink the filter."
                    )
                use_beam = within_cap and (
                    mode == "beam"
                    or self._graph_filter_beam_wins(idx, params, k, n_allowed)
                )
            if use_beam:
                # graph indexes keep their graphs under a filter: a BROADCAST
                # left join stamps an `_allowed` marker onto the corpus
                # without shuffling it (partition-aligned graph segments stay
                # intact), and the beam kernel applies the mask to RESULT
                # ADMISSION only — the reference's IDSelectorBitmap-on-HNSW
                # semantics (faiss_extension.cpp:959).  Broadcast is forced
                # (not AQE-decided) because a shuffle join here would sever
                # the graphs; the cap bounds the driver/executor copy.
                marker = allowed.withColumn("_allowed", F.lit(1))
                corpus = corpus.join(F.broadcast(marker), "label", "left")
                allowed_col = "_allowed"
            else:
                corpus = corpus.join(allowed, "label", "left_semi")
                if has_graph:
                    # exact scan of the survivors (recall 1.0): taken when
                    # the allowed set exceeds the broadcast cap, when the
                    # caller forces graph_filter='scan', or when the cost
                    # model says widened beams would evaluate more vectors
                    # than the scan (low selectivity — the 50k-row probe
                    # measured masked beams 35x slower than the survivor
                    # scan at p=1%)
                    corpus = corpus.drop("neighbors")
                    has_graph = False
        if idx.codebooks is not None:
            return self._pq_search_flat(
                idx, k, queries_df, params, qid_col, vec_col, corpus
            )
        if has_graph:
            return self._nsw_search_flat(
                idx, k, queries_df, params, qid_col, vec_col, corpus,
                allowed_col=allowed_col,
            )
        cluster_col = None
        probe_fn = None
        if idx.spec.kind == "ivf" and "cluster_id" in corpus.columns:
            nprobe = int(params.get("nprobe", 1))
            if nprobe < idx.spec.nlist:
                cluster_col = "cluster_id"
                probe_fn = self._probe_mask_fn(idx, nprobe)
        if params.get("bulk_queries"):
            # bulk-query path: a corpus-scale QUERY side would serialize
            # through the driver's block iterator — route the search through
            # the executor-side block joins instead (operators/simjoin.py;
            # same pairwise/top-k kernels and (score, label) tie-break, so
            # results are identical).  Flat: block-nested-loop over the
            # whole corpus.  IVF: queries explode to one row per probed
            # cluster (narrow arrow_udf) and blocks EQUI-join on the
            # cluster id — the probe pruning survives, nothing is cartesian.
            # Opt-in: the pack/join stages cost more than one broadcast for
            # ordinary query batches.
            from duckdb_faiss_ext_spark.operators.simjoin import (
                similarity_join,
                similarity_join_grouped,
            )

            q = queries_df.select(
                F.col(qid_col).alias("qid"), F.col(vec_col).alias("vector")
            )
            # SQ8 corpora pack CODES into the executor-side blocks and
            # decode inside the pack kernel (same janino rule as the
            # driver path) — the right_vec column is just named "codes"
            corp_vec = "codes" if sq8_params is not None else "vector"
            if probe_fn is None:
                return similarity_join(
                    q,
                    corpus.select("label", corp_vec),
                    k,
                    metric=idx.metric,
                    left_id="qid",
                    right_id="label",
                    right_vec=corp_vec,
                    metric_arg=idx.metric_arg,
                    bulk=True,  # bulk_queries = caller says it's big
                    right_sq8=sq8_params,
                    dim=idx.dim,
                ).select("qid", "rank", F.col("label"), F.col("distance"))
            probes = self._probe_clusters_arrow(idx, int(params.get("nprobe", 1)))
            q = q.withColumn("cluster_id", F.explode(probes("qid", "vector")))
            return similarity_join_grouped(
                q,
                corpus.select("label", corp_vec, "cluster_id"),
                k,
                metric=idx.metric,
                left_id="qid",
                right_id="label",
                right_vec=corp_vec,
                group_col="cluster_id",
                metric_arg=idx.metric_arg,
                right_sq8=sq8_params,
                dim=idx.dim,
            ).select("qid", "rank", F.col("label"), F.col("distance"))
        return topk_ops.exact_knn_flat(
            corpus,
            queries_df,
            k,
            metric=idx.metric,
            metric_arg=idx.metric_arg,
            vec_col="codes" if sq8_params is not None else "vector",
            qid_col=qid_col,
            q_vec_col=vec_col,
            cluster_col=cluster_col,
            probe_mask_for=probe_fn,
            sq8=sq8_params,
            dim=idx.dim,
        )

    # broadcast cap for the residual-ADC per-(query, probed cluster) lookup
    # tables; the query block sub-chunks to stay under it
    PQ_LUT_BUDGET_BYTES = 128 << 20

    def _pq_search_flat(
        self,
        idx: FaissIndex,
        k: int,
        queries_df: DataFrame,
        params: dict,
        qid_col: str,
        vec_col: str,
        corpus: DataFrame,
    ) -> DataFrame:
        """ADC search over PQ codes, composed with IVF cluster pruning.

        Query side streams in bounded blocks (same contract as the exact
        kernel); per chunk the probed-cluster union becomes a JVM IN-filter on
        ``cluster_id`` — on cluster-partitioned storage that is directory/
        row-group pruning, so a chunk only scans the codes its queries probe.
        SCORING is per-query (r4): each query's lookup tables cover exactly
        ITS nprobe probed clusters, and rows outside them score worst — a
        query does NOT receive candidates from clusters only its chunk-mates
        probed (faiss IndexIVFPQ nprobe semantics; r3's union-scored variant
        could only add candidates but scaled the LUT broadcast as nq·nlist).
        Distances are residual-ADC approximations (faiss IndexIVFPQ)."""
        from duckdb_faiss_ext_spark.operators.pq import pq_search_arrays

        nprobe = int(params.get("nprobe", 1))
        if params.get("bulk_queries"):
            # corpus-scale query side: executor-side ADC via the cluster-
            # keyed code-block equi-join (operators/pq.py pq_search_grouped).
            # LUTs build IN the tasks from broadcast codebooks, so no
            # driver-side LUT materialization exists on this path at all.
            from duckdb_faiss_ext_spark.operators.pq import pq_search_grouped

            q = queries_df.select(
                F.col(qid_col).alias("qid"), F.col(vec_col).alias("vector")
            )
            has_clusters = (
                idx.spec.kind == "ivf" and "cluster_id" in corpus.columns
            )
            if has_clusters:
                probes = self._probe_clusters_arrow(
                    idx, min(nprobe, idx.spec.nlist)
                )
                q = q.withColumn("cluster_id", F.explode(probes("qid", "vector")))
            return pq_search_grouped(
                corpus,
                q,
                idx.codebooks,
                k,
                metric=idx.metric,
                centroids=idx.centroids if has_clusters else None,
                cluster_col="cluster_id" if has_clusters else None,
            )
        probe_ids_fn = None
        if (
            idx.spec.kind == "ivf"
            and "cluster_id" in corpus.columns
            and nprobe < idx.spec.nlist
        ):
            probe_ids_fn = self._probe_ids_fn(idx, nprobe)
        residual_cents = (
            idx.centroids
            if idx.spec.kind == "ivf" and "cluster_id" in corpus.columns
            else None
        )
        # residual-path LUTs broadcast nq*nprobe*m*nk float32 — cap the query
        # sub-chunk so that product stays under a fixed byte budget (at 8192
        # queries x nprobe 4 x m 8 x 256 codes that is already 268 MB; a
        # dense union layout reached 17 GB — ADVICE r3)
        chunk = topk_ops.MAX_QUERY_BATCH
        if residual_cents is not None:
            m_, nk_, _ = idx.codebooks.shape
            per_q = max(1, min(nprobe, idx.spec.nlist)) * m_ * nk_ * 4
            chunk = max(1, min(chunk, self.PQ_LUT_BUDGET_BYTES // per_q))
        partials = []
        for qids, q in topk_ops.iter_query_blocks(
            queries_df, qid_col, vec_col, dim=idx.dim
        ):
            for lo in range(0, len(qids), chunk):
                cqids = qids[lo : lo + chunk]
                cq = q[lo : lo + chunk]
                codes = corpus
                probes = None
                if probe_ids_fn is not None:
                    probes = probe_ids_fn(cqids, cq)
                    probed = [int(c) for c in np.unique(probes)]
                    codes = corpus.filter(F.col("cluster_id").isin(probed))
                partials.append(
                    pq_search_arrays(
                        codes,
                        cqids,
                        cq,
                        idx.codebooks,
                        k,
                        metric=idx.metric,
                        centroids=residual_cents,
                        probe_ids=probes,
                    )
                )
        if not partials:
            return self.spark.createDataFrame(
                [], "qid bigint, rank int, label bigint, distance float"
            )
        out = partials[0]
        for p in partials[1:]:
            out = out.unionByName(p)
        return out

    # default beam width: ef=128 holds recall@10 >= 0.9 on the 16k-row default
    # segments (tests/test_nsw.py); FAISS's efSearch=16 default assumes one
    # monolithic million-node graph where beams converge in a deeper hierarchy
    DEFAULT_EF_SEARCH = 128

    # max allowed-set size stamped onto a graph corpus via broadcast left
    # join (ids only: 4M x ~16 B ≈ 64 MB broadcast); beyond it filtered
    # graph search falls back to the exact survivor scan
    GRAPH_FILTER_BROADCAST_CAP = 1 << 22

    # masked-beam node evaluations cost ~2x a BLAS scan row (gather-based
    # neighbor expansion vs one matmul pass) — the handicap the filtered
    # cost model applies before preferring beams over the survivor scan
    BEAM_EVAL_PENALTY = 2.0

    def _graph_filter_beam_wins(
        self, idx: FaissIndex, params: dict, k: int, n_allowed: int
    ) -> bool:
        """Cost model for filtered graph search (graph_filter='auto'): keep
        the graphs only when masked beams are expected to evaluate fewer
        vectors than the exact scan of the allowed survivors.

        Beams widen ef to ~max(ef, 2k/sel) per segment, capped at the
        segment size (nsw.py ef_run), and every segment walks once per
        query: beam_evals ≈ n_segments * ef_run.  The survivor scan
        evaluates exactly n_allowed rows in one BLAS pass.  At p=1% on a
        50k corpus the widened beams measured 35x slower than the scan;
        at p=90% the scan approaches the full corpus while beams stay at
        base ef — the model picks each end correctly and crosses over
        around sel ≈ n_segments*ef/n."""
        n = max(int(idx.count), 1)
        if n_allowed <= 0:
            return False  # zero survivors: the semi-join path is free
        seg_rows = int(idx.params.get("graph_partition_rows", self.GRAPH_ROWS))
        ef = int(params.get("efSearch", self.DEFAULT_EF_SEARCH))
        sel = n_allowed / n
        if idx.spec.kind == "ivf":
            # composite IVF_HNSW beams only the PROBED clusters' segments —
            # pricing all ceil(n/seg) segments overestimated beams ~n/(probed
            # rows) and pushed moderate-selectivity composite searches onto
            # the slower scan (r4 review); the scan side shrinks the same
            # way, since it too only reads the probed clusters
            nlist = max(int(idx.spec.nlist), 1)
            nprobe = min(int(params.get("nprobe", 1)), nlist)
            cluster_rows = max(1, -(-n // nlist))
            n_segments = nprobe * max(1, -(-cluster_rows // seg_rows))
            n_allowed = max(1, int(n_allowed * nprobe / nlist))
        else:
            n_segments = max(1, -(-n // seg_rows))
        ef_run = min(seg_rows, max(ef, 2.0 * k / max(sel, 1e-9)))
        return self.BEAM_EVAL_PENALTY * n_segments * ef_run < n_allowed

    def _nsw_search_flat(
        self,
        idx: FaissIndex,
        k: int,
        queries_df: DataFrame,
        params: dict,
        qid_col: str,
        vec_col: str,
        corpus: DataFrame,
        allowed_col: Optional[str] = None,
    ) -> DataFrame:
        """Graph-ANN search (operators/nsw.py): beam per graph segment,
        honoring ``efSearch``; merge is the same bounded nq*k window rank as
        the exact kernel.  IVF_HNSW composes coarse routing with beams: per
        query block the probed-cluster union becomes a JVM IN-filter (same
        pruning as _pq_search_flat) and each query beams ONLY its own probed
        clusters (probe_groups)."""
        from duckdb_faiss_ext_spark.operators.nsw import nsw_topk

        ef = int(params.get("efSearch", self.DEFAULT_EF_SEARCH))
        nprobe = int(params.get("nprobe", 1))
        probe_col = None
        probe_ids_fn = None
        if (
            idx.spec.kind == "ivf"
            and "cluster_id" in corpus.columns
            and nprobe < idx.spec.nlist
        ):
            probe_col = "cluster_id"
            probe_ids_fn = self._probe_ids_fn(idx, nprobe)
        partials = []
        # graph indexes have no executor-side block-join bulk path (segment
        # replication would cost the BNL's full shuffle while beams only
        # save compute) — bulk_queries instead upgrades the driver stream to
        # executor-packed binary blocks (2.3x at 1M query rows, topk.py)
        for qids, q in topk_ops.iter_query_blocks(
            queries_df, qid_col, vec_col,
            packed=bool(params.get("bulk_queries")), dim=idx.dim,
        ):
            for lo in range(0, len(qids), topk_ops.MAX_QUERY_BATCH):
                cqids = qids[lo : lo + topk_ops.MAX_QUERY_BATCH]
                cq = q[lo : lo + topk_ops.MAX_QUERY_BATCH]
                data = corpus
                probes = None
                if probe_ids_fn is not None:
                    probes = probe_ids_fn(cqids, cq)
                    probed = [int(c) for c in np.unique(probes)]
                    data = corpus.filter(F.col("cluster_id").isin(probed))
                partials.append(
                    nsw_topk(
                        data,
                        cqids,
                        cq,
                        k,
                        ef,
                        metric=idx.metric,
                        metric_arg=idx.metric_arg,
                        probe_col=probe_col,
                        probe_groups=probes,
                        allowed_col=allowed_col,
                    )
                )
        if not partials:
            return self.spark.createDataFrame(
                [], "qid bigint, rank int, label bigint, distance float"
            )
        out = partials[0]
        for p in partials[1:]:
            out = out.unionByName(p)
        return out

    def _probe_clusters_arrow(self, idx: FaissIndex, nprobe: int):
        """arrow_udf: (qid, vector) -> array<int> of the query's nprobe
        nearest coarse cells — the executor-side twin of ``_probe_ids_fn``
        for the bulk-query path (probe assignment must not run on the
        driver when the query side is corpus-scale)."""
        cents = idx.centroids
        metric = idx.metric
        marg = idx.metric_arg
        dim = idx.dim
        bc = self.spark.sparkContext.broadcast(cents)
        desc = is_descending(metric)
        np_ = min(nprobe, len(cents))

        def fn(qid, v):
            x = vectors.decode(v, dim, ids=qid, what="query vectors", finite=True)
            ids = FaissSparkEngine._coarse_topk(x, bc.value, metric, marg, np_, desc)
            return pa.ListArray.from_arrays(
                pa.array(np.arange(len(ids) + 1, dtype=np.int32) * ids.shape[1]),
                pa.array(ids.astype(np.int32).ravel()),
            )

        return F.arrow_udf(fn, "array<int>")

    def _probe_ids_fn(self, idx: FaissIndex, nprobe: int):
        """(qids, q) -> (nq, nprobe) int64 ids of each query's probed clusters."""
        cents, metric, marg = idx.centroids, idx.metric, idx.metric_arg
        desc = is_descending(metric)
        return lambda qids, q: self._coarse_topk(q, cents, metric, marg, nprobe, desc)

    def _pad_no_hit_queries(
        self, queries_df: DataFrame, lists: DataFrame, k: int, metric: str, qid_col: str
    ) -> DataFrame:
        """Left-join results back to the query set and pad queries with ZERO
        hits to a full k-length list of label=-1 entries — the reference
        contract is that the result list length is always k (README.md:220,
        :243/:269), including when a filter eliminated every row."""
        out = queries_df.select(qid_col).join(
            lists.withColumnRenamed("qid", qid_col), qid_col, "left"
        )
        pad_dist = float("-inf") if topk_ops.is_descending(metric) else float("inf")
        empty = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.struct(
                i.cast("int").alias("rank"),
                F.lit(-1).cast("bigint").alias("label"),
                F.lit(pad_dist).cast("float").alias("distance"),
            ),
        )
        return out.select(qid_col, F.coalesce(F.col("result"), empty).alias("result"))

    def search(
        self,
        name: str,
        k: int,
        queries_df: DataFrame,
        params: Optional[dict] = None,
        qid_col: str = "qid",
        vec_col: str = "vector",
    ) -> DataFrame:
        """faiss_search (:903-925): returns (qid, result LIST(STRUCT(rank,
        label, distance))), list length always k, -1 padded (README.md:220)."""
        idx = self.registry.get(name)
        flat = self.search_flat(name, k, queries_df, params, qid_col, vec_col)
        lists = topk_ops.assemble_lists(flat, k, idx.metric)
        return self._pad_no_hit_queries(queries_df, lists, k, idx.metric, qid_col)

    def warm(self, name: str, k: int = 1) -> float:
        """First-query warm affordance (VERDICT r9 task 4): the first search
        after a build pays 2.3-3.5x steady-state (16M np16 first leg 5.58 s
        vs 1.61 steady, SCALE.md r9) — a cold persisted layout plus the
        per-worker Arrow/pandas/BLAS import+JIT cost.  The reference never
        pays this: its index is resident after create_indices
        (go/Makefile:105).  warm() (a) touches every partition of the
        stored layout, pulling parquet/disk slices into the executor cache,
        and (b) runs one tiny k-NN through the real search path so the
        worker-side Python kernels are imported and JIT-warm before the
        first user query.  Returns the seconds spent (the priced cost of
        the knob).  Opt-in at build: ``params={'warm_on_build': '1'}``."""
        import time as _time

        idx = self.registry.get(name)
        if idx.data is None:
            raise FaissSparkError(f"Index {name} is empty; add vectors first")
        t0 = _time.perf_counter()
        idx.data.count()
        dec = self._decoded_view(idx, idx.data)
        if "vector" in dec.columns:
            x, _ = vectors.fetch(dec.select("vector").limit(1), dim=idx.dim)
            if not len(x):
                raise FaissSparkError(
                    f"Index {name} is empty; add vectors first"
                )
            vec = x[0].tolist()
        else:
            # PQ storage keeps only codes; any in-range query works for a JIT
            # pass — the ADC path decodes against the codebooks regardless
            vec = [1.0] * idx.dim
        q = self.spark.createDataFrame(
            [(0, vec)], "qid bigint, vector array<float>"
        )
        # FULL-probe: an nprobe=1 warm query prunes to 1-2 partitions, so
        # 30 of 32 Python workers (and every other partition's Arrow
        # decode) would still be cold for the first real search (r10 warm
        # probe: the narrow warm left the first leg ABOVE the cold arm's).
        # One full scan pushes every partition through the real kernel
        # once — cost is bounded by one exact search.  LIVE list count,
        # not the factory nlist (ADVICE r10): corpus rebalance can grow
        # the centroid set to 2x the factory's, and the probe UDF clamps
        # to the requested nprobe — a factory-nlist warm would leave every
        # split child's partition cold, exactly what full-probe is for.
        params = (
            {
                "nprobe": max(
                    len(idx.centroids)
                    if idx.centroids is not None
                    else int(idx.spec.nlist),
                    1,
                )
            }
            if idx.spec.kind == "ivf"
            else None
        )
        self.search_flat(name, k, q, params=params).collect()
        # The BULK grouped-join path is a different physical plan with its
        # own worker-side kernel (executor-side packed blocks / grouped
        # equi-join) that the driver-path pass above never touches: the
        # r11 variance probe measured the first bulk search at ~3-5x its
        # steady state (49.8 s vs 9-23 s at 1M/20k queries) AFTER a full
        # warm().  One NARROW forced-bulk query (partitions are already
        # hot from the full-probe pass; this pays only the plan/kernel
        # first-use cost) closes that gap.
        bulk_params = {"bulk_queries": 1}
        if idx.spec.kind == "ivf":
            bulk_params["nprobe"] = 1
        self.search_flat(name, k, q, params=bulk_params).collect()
        return _time.perf_counter() - t0

    def search_filter(
        self,
        name: str,
        k: int,
        queries_df: DataFrame,
        filter_expr: str,
        idsel: str,
        table: str,
        params: Optional[dict] = None,
        qid_col: str = "qid",
        vec_col: str = "vector",
    ) -> DataFrame:
        """faiss_search_filter (:927-972).  The reference generates SQL
        `SELECT {idsel} FROM {table} WHERE {filter}=1` on a fresh connection
        and builds a bitmap selector; Spark needs no reentrancy — the allowed
        set is a DataFrame and the bitmap/set distinction (:974-1022) is a
        physical detail Catalyst's broadcast-semi-join already covers.

        ``filter_expr``/``table`` are interpolated into SQL text and are
        TRUSTED input, exactly like the reference's generated query
        (faiss_extension.cpp:939-944) — pass only application-controlled
        strings, or use ``search_flat(..., allowed_df=...)`` with a
        DataFrame you built yourself."""
        # CAST to BOOLEAN so both boolean predicates and the reference's 0/1
        # UTINYINT filter values (faiss_extension.cpp:857, :940-941) are
        # accepted — Spark's WHERE alone rejects a numeric filter expression
        allowed = self.spark.sql(
            f"SELECT {idsel} FROM {table} WHERE CAST(({filter_expr}) AS BOOLEAN)"
        )
        flat = self.search_flat(
            name, k, queries_df, params, qid_col, vec_col, allowed_df=allowed
        )
        idx = self.registry.get(name)
        lists = topk_ops.assemble_lists(flat, k, idx.metric)
        return self._pad_no_hit_queries(queries_df, lists, k, idx.metric, qid_col)

    # faiss_search_filter_set (:974-1022) — same semantics, same plan.
    search_filter_set = search_filter

    # ----------------------------------------------------------- persistence

    def save(self, name: str, path: str) -> None:
        """faiss_save (:171-200): Parquet data + JSON metadata sidecar.

        Crash-safe: data.parquet, then meta.json, go into a sibling temp
        directory that replaces ``path`` only once both are complete, so a
        failure part-way leaves the previous save at ``path`` loadable.

        Disk-graph indexes: save() is a durability point — any buffered
        micro-batches are flushed to a real slice directory under
        ``storage_path`` first (ADVICE r8: the export alone would include
        the buffered rows via idx.data while storage_path stayed short)."""
        idx = self.registry.get(name)
        if idx.storage_path and idx.pending_graph:
            self._flush_graph_buffer(idx, compact_after=False)
        path = os.path.abspath(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = tempfile.mkdtemp(
            prefix=f".{os.path.basename(path)}.saving-", dir=os.path.dirname(path)
        )
        try:
            self._write_index(idx, tmp)
            # the old save is moved aside only once the new one is complete
            if os.path.exists(path):
                os.rename(path, tmp + ".old")
            os.rename(tmp, path)
        except BaseException:
            if os.path.exists(tmp + ".old") and not os.path.exists(path):
                os.rename(tmp + ".old", path)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(tmp + ".old", ignore_errors=True)

    def _write_index(self, idx: FaissIndex, path: str) -> None:
        if idx.data is not None:
            writer = idx.data.write.mode("overwrite")
            if "cluster_id" in idx.data.columns:
                # cluster-partitioned layout: loads of an IVF index prune
                # non-probed clusters at the directory level
                writer = writer.partitionBy("cluster_id")
            writer.parquet(os.path.join(path, "data.parquet"))
        meta = {
            "name": idx.name,
            "dim": idx.dim,
            "factory": idx.spec.factory,
            "metric": idx.metric,
            "metric_arg": idx.metric_arg,
            "params": idx.params,
            "label_mode": idx.label_mode,
            "trained": idx.trained,
            "count": idx.count,
            "has_data": idx.data is not None,
            "centroids": idx.centroids.tolist() if idx.centroids is not None else None,
            "codebooks": idx.codebooks.tolist() if idx.codebooks is not None else None,
            "sq_vmin": idx.sq_vmin.tolist() if idx.sq_vmin is not None else None,
            "sq_vdiff": idx.sq_vdiff.tolist() if idx.sq_vdiff is not None else None,
        }
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)

    def load(self, name: str, path: str) -> None:
        """faiss_load (:207-241): loaded already-trained indexes are immutable
        (isMutable = needs_training, :238)."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        spec = parse_factory(meta["factory"])
        idx = FaissIndex(
            name=name,
            dim=meta["dim"],
            spec=spec,
            metric=meta["metric"],
            metric_arg=meta.get("metric_arg", 0.0),
            params=meta.get("params", {}),
            label_mode=meta["label_mode"],
            trained=meta["trained"],
            count=meta["count"],
        )
        if meta.get("centroids") is not None:
            idx.centroids = np.array(meta["centroids"], dtype=np.float32)
        if meta.get("codebooks") is not None:
            idx.codebooks = np.array(meta["codebooks"], dtype=np.float32)
        if meta.get("sq_vdiff") is not None:
            idx.sq_vmin = np.array(meta["sq_vmin"], dtype=np.float32)
            idx.sq_vdiff = np.array(meta["sq_vdiff"], dtype=np.float32)
        if meta.get("has_data"):
            idx.data = self.spark.read.parquet(os.path.join(path, "data.parquet")).persist()
        # reference semantics: a loaded index that no longer needs training is
        # immutable; an untrained IVF stays mutable
        idx.mutable = spec.needs_training and not idx.trained
        self.registry.put_new(idx)
