"""Distributed exact k-NN: the Spark re-expression of the reference's batched
FAISS search (searchIntoVector, /root/reference/src/faiss_extension.cpp:621-666).

Physical plan (designed for a huge corpus, small-ish query batch):

1. queries are collected to a float32 numpy block and BROADCAST — the corpus
   (the 100 TB side) is never collected or shuffled whole;
2. ``mapInPandas`` over corpus partitions scores each Arrow batch against ALL
   queries in one numpy matmul (the analogue of the reference's one
   ``index->search`` call per 2048-row chunk, :631) and keeps only the per-
   partition top-k per query — output is ≤ nq*k rows per partition, so the
   single shuffle that follows is tiny regardless of corpus size;
3. a Window per qid merges partial top-k into the global top-k.

For IVF indexes the same kernel takes a (nq, nlist) boolean probe mask and a
``cluster_id`` column: rows outside a query's probed clusters are masked out
before the top-k — cluster pruning replacing FAISS's nprobe traversal.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from duckdb_faiss_ext_spark import vectors
from duckdb_faiss_ext_spark.errors import DimensionMismatch
from duckdb_faiss_ext_spark.metrics import (
    is_descending,
    pairwise,
    resolve_metric,
    topk_indices,
)

PARTIAL_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("label", LongType(), False),
        StructField("distance", FloatType(), False),
    ]
)

PARTIAL_SCHEMA_F64 = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("label", LongType(), False),
        StructField("distance", DoubleType(), False),
    ]
)

RESULT_ELEM = StructType(
    [
        StructField("rank", IntegerType(), False),
        StructField("label", LongType(), False),
        StructField("distance", FloatType(), False),
    ]
)


MAX_QUERY_BATCH = 8192  # queries per broadcast chunk (keeps driver+broadcast bounded)

# probe-mask density above which one full BLAS call + where-mask beats the
# per-cluster sub-matmul loop (sparse probing is where grouped scoring wins:
# MACs track the per-query scan fraction instead of nq x batch-union)
DENSE_MASK_THRESHOLD = 0.5
# queries held on the driver at once: one super-block is the unit of probe-mask
# computation and cluster-grouping; the driver never materializes more than
# this many query vectors regardless of the query-side row count
MAX_QUERY_BLOCK = 65536
# byte budget per query block: a ROW cap alone is dim-dependent (65536 rows
# at the reference's dim 1536 is ~400 MB of float32 on the driver and in
# each executor-packed block row); the effective block is
# min(MAX_QUERY_BLOCK, budget // row_bytes), so dim<=256 keeps the measured
# 65536-row blocks and wide vectors shrink rows to hold bytes constant
QUERY_BLOCK_BYTES = 64 << 20


def _block_rows_for(dim: int, itemsize: int) -> int:
    if dim <= 0:
        return MAX_QUERY_BLOCK
    return max(1, min(MAX_QUERY_BLOCK, QUERY_BLOCK_BYTES // (dim * itemsize)))


def iter_query_blocks(
    queries_df: DataFrame,
    qid_col: str,
    vec_col: str,
    dtype: type = np.float32,
    packed: bool = False,
    dim: Optional[int] = None,
) -> "Iterator[tuple[np.ndarray, np.ndarray]]":
    """Stream the query side to the driver in bounded blocks.

    The reference reads one 2048-row DataChunk of queries at a time
    (faiss_extension.cpp:913-916); the r1 version instead collected the WHOLE
    query side with toPandas(), which made similarity_join a driver OOM for a
    large left side (VERDICT r1 #3).  toLocalIterator pulls one partition at
    a time, so driver memory is bounded by max(partition, MAX_QUERY_BLOCK)
    rows of (id, vector).

    ``packed=False`` (default): per-row toLocalIterator — ~12 µs/row at
    64 dim, the cheapest shape for ordinary query batches.

    ``packed=True``: executors pack their partitions into binary block rows
    (ids + one flattened float matrix as raw buffers) via one narrow
    ``mapInArrow`` pass; the driver pulls those few compact rows and decodes
    with ``np.frombuffer`` — no per-row Python Row objects.  Measured A/B at
    64 dim on local[32]: 2.3x faster at 1M query rows (5.3 s vs 12.4 s) but
    +0.17 s fixed cost (worker spin-up + extra job), so the crossover is
    ~300k rows — callers opt in when they KNOW the query side is
    corpus-scale (the engine wires ``params={'bulk_queries': 1}`` to this
    for graph indexes, which have no executor-side block-join alternative).

    Both decode through vectors.decode with the NaN/±Inf check; ``dim``
    is the expected width (None: the first row's)."""
    import pyarrow as pa

    np_item = np.dtype(dtype).itemsize
    if not packed:
        pa_list = pa.list_(pa.from_numpy_dtype(dtype))

        def block(qids, vecs):
            ids = pa.array(qids, pa.int64())
            x = vectors.decode(
                pa.array(vecs, pa_list), dim, dtype, ids=ids,
                what="query vectors", finite=True,
            )
            return ids.to_numpy(), x

        qids: list[int] = []
        vecs: list = []
        eff_rows = MAX_QUERY_BLOCK
        it = queries_df.select(qid_col, vec_col).toLocalIterator(
            prefetchPartitions=True
        )
        for row in it:
            if not qids:
                eff_rows = _block_rows_for(len(row[1] or ()), np_item)
            qids.append(row[0])
            vecs.append(row[1])
            if len(qids) >= eff_rows:
                yield block(qids, vecs)
                qids, vecs = [], []
        if qids:
            yield block(qids, vecs)
        return

    np_t = np.dtype(dtype)
    sql_vec = "array<double>" if np_t == np.float64 else "array<float>"

    def pack(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        ids_buf: list = []
        vec_buf: list = []
        held = 0

        def flush():
            nonlocal ids_buf, vec_buf, held
            ids = np.concatenate(ids_buf)
            vecs = np.concatenate(vec_buf)
            out = pa.RecordBatch.from_arrays(
                [
                    pa.array([ids.tobytes()], pa.binary()),
                    pa.array([vecs.tobytes()], pa.binary()),
                ],
                names=["ids", "vecs"],
            )
            ids_buf, vec_buf, held = [], [], 0
            return out

        dim_seen = dim
        eff_rows = MAX_QUERY_BLOCK
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            qcol = rb.column(0)
            # the first batch pins the dim for the rest of the partition
            x = vectors.decode(
                rb.column(1), dim_seen, np_t, ids=qcol,
                what="query vectors", finite=True,
            )
            dim_seen = x.shape[1]
            eff_rows = _block_rows_for(dim_seen, np_t.itemsize)
            ids = qcol.to_numpy(zero_copy_only=False).astype(np.int64)
            lo = 0
            while lo < n:
                take = min(n - lo, eff_rows - held)
                ids_buf.append(ids[lo : lo + take])
                vec_buf.append(x[lo : lo + take].reshape(-1))
                held += take
                lo += take
                if held >= eff_rows:
                    yield flush()
        if held:
            yield flush()

    packed_df = queries_df.select(
        F.col(qid_col).cast("bigint"), F.col(vec_col).cast(sql_vec)
    ).mapInArrow(pack, schema="ids binary, vecs binary")

    # driver-side re-accumulation: partitions smaller than the block size
    # arrive as sub-blocks; concatenate up to the byte-budgeted block so
    # the number of corpus passes tracks ceil(nq / block), not the query
    # side's partition count
    acc_ids: list[np.ndarray] = []
    acc_vecs: list[np.ndarray] = []
    held = 0
    width = dim  # without a dim, each task pins its own: hold all to the first
    eff_rows = _block_rows_for(width or 0, np_t.itemsize)
    for row in packed_df.toLocalIterator(prefetchPartitions=True):
        ids = np.frombuffer(row["ids"], dtype=np.int64)
        if not len(ids):
            continue
        vecs = np.frombuffer(row["vecs"], dtype=np_t).reshape(len(ids), -1)
        if width is None:
            width = vecs.shape[1]
            eff_rows = _block_rows_for(width, np_t.itemsize)
        elif vecs.shape[1] != width:
            raise DimensionMismatch(
                width, vecs.shape[1], "dimension-mismatched query vectors across partitions"
            )
        acc_ids.append(ids)
        acc_vecs.append(vecs)
        held += len(ids)
        while held >= eff_rows:
            ids_all = np.concatenate(acc_ids)
            vecs_all = np.concatenate(acc_vecs)
            yield ids_all[:eff_rows], vecs_all[:eff_rows]
            acc_ids, acc_vecs = [ids_all[eff_rows:]], [vecs_all[eff_rows:]]
            held = len(acc_ids[0])
    if held:
        yield np.concatenate(acc_ids), np.concatenate(acc_vecs)


def partial_topk(
    corpus_df: DataFrame,
    qids: np.ndarray,
    q: np.ndarray,
    k: int,
    metric: str,
    metric_arg: float = 0.0,
    label_col: str = "label",
    vec_col: str = "vector",
    cluster_col: Optional[str] = None,
    probe_mask: Optional[np.ndarray] = None,
    dtype: type = np.float32,
    sq8: Optional[tuple] = None,
) -> DataFrame:
    """Per-partition top-k candidates: ≤ nq*k rows per Arrow batch.

    Uses ``mapInArrow`` for zero-copy vector decode (vectors.decode) — no
    per-row Python object materialization (which dominated runtime at the
    1M-row scale probe before this).

    ``sq8``: optional ``(vmin, vdiff)`` float32 arrays — the corpus column
    is then SQ8 ``array<tinyint>`` codes, decoded HERE in one vectorized
    numpy pass per Arrow batch instead of a JVM ``zip_with`` projection:
    the 64-literal-element decode expression blows past janino's method
    budget and falls back to interpreted eval, which benched 3.2x the raw
    float scan (r10 bench_q1); kernel-side decode also shrinks the Arrow
    transfer 4x.  f64 math mirroring the JVM expression exactly
    (``vmin + (code+128.5)/255*vdiff`` then one float32 round) keeps both
    decode paths bit-identical.

    ``dtype`` float32 (default) mirrors FAISS's internal precision; float64
    is for double-precision parity paths (oracle-checked queries)."""
    import pyarrow as pa

    desc = is_descending(metric)
    dim = int(q.shape[1])
    # snapshot: closure vars pickle by VALUE to executors (a module global
    # would re-resolve worker-side, ignoring driver-side test overrides)
    dense_thr = DENSE_MASK_THRESHOLD
    spark = corpus_df.sparkSession
    bq = spark.sparkContext.broadcast((qids, np.asarray(q, dtype=dtype), probe_mask))
    cols = [label_col, vec_col] + ([cluster_col] if cluster_col else [])
    narrow = corpus_df.select(*cols)
    pa_dist = pa.float32() if dtype is np.float32 else pa.float64()
    out_type = pa.schema(
        [("qid", pa.int64()), ("label", pa.int64()), ("distance", pa_dist)]
    )

    def score(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        qids_, q_, mask_ = bq.value
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            # corpus rows: structural checks only (NaN/Inf was the add's job)
            raw = vectors.decode(rb.column(1), dim, dtype=None, ids=rb.column(0))
            # resolve_metric, not raw string compare: a None/aliased metric
            # that resolves to L2 must take the same 4.6-10.3x decode-free
            # kernel simjoin.py:264 gates on (ADVICE r12 consistency fix)
            decode_free = sq8 is not None and resolve_metric(metric) == "L2"
            if decode_free:
                # decode-free L2 (r12, SCALE.md): keep CODES; distances come
                # from the expansion kernel — no (n, d) float decode, no
                # per-batch norm pass beyond the one rownorm precompute.
                # 10.3x the decode path in the sparse-probing regime, 4.6x
                # dense at 1M x 1536 (tools/sq8_decodefree_probe.py).
                from duckdb_faiss_ext_spark.functions.quantize import (
                    sq8_l2_pairwise,
                    sq8_rownorm,
                )

                x = np.ascontiguousarray(raw)  # stored int8 codes
                rnorm = sq8_rownorm(x, sq8[0], sq8[1])
            elif sq8 is not None:
                from duckdb_faiss_ext_spark.functions.quantize import (
                    sq8_decode_np,
                )

                x = sq8_decode_np(raw, sq8[0], sq8[1], dtype)
            else:
                x = np.ascontiguousarray(raw, dtype=dtype)

            def score_rows(qsub, rows=None):
                if decode_free:
                    return sq8_l2_pairwise(
                        qsub,
                        x if rows is None else x[rows],
                        sq8[0],
                        sq8[1],
                        rownorm=rnorm if rows is None else rnorm[rows],
                        dtype=dtype,
                    )
                return pairwise(
                    qsub,
                    x if rows is None else x[rows],
                    metric,
                    metric_arg,
                    dtype=dtype,
                )
            labels = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if mask_ is not None and cluster_col is not None:
                clusters = rb.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
                allowed = mask_[:, clusters]  # (nq, batch)
                fill = np.float32(-np.inf if desc else np.inf)
                density = allowed.mean() if allowed.size else 0.0
                if density > dense_thr:
                    # probing is dense (small nlist / high nprobe): one BLAS
                    # call + where-mask beats per-cluster slicing overhead
                    scores = score_rows(q_)
                    scores = np.where(allowed, scores, fill)
                else:
                    # sparse probing: score ONLY (probing query, cluster-row)
                    # pairs — per-cluster sub-matmuls make the MAC count
                    # track the PER-QUERY scan fraction (sum_c rows_c *
                    # nq_probing_c) instead of nq * batch-union.  The old
                    # full-matmul-then-mask paid the whole nq x batch
                    # product, which is why a 48-query batch at nlist=2048
                    # ran at union coverage (73-98%) even though each query
                    # probed 5% of rows (SCALE.md r6 point 2 / VERDICT r6
                    # task 5).  The scatter writes are ~1/dim of the saved
                    # MACs; cluster runs are contiguous after the engine's
                    # repartitionByRange so the argsort is near-free.
                    scores = np.full((len(q_), n), fill, dtype=dtype)
                    order = np.argsort(clusters, kind="stable")
                    sc = clusters[order]
                    cuts = np.flatnonzero(np.diff(sc)) + 1
                    starts = np.concatenate(([0], cuts))
                    ends = np.concatenate((cuts, [len(sc)]))
                    for s, e in zip(starts, ends):
                        qsel = np.flatnonzero(mask_[:, sc[s]])
                        if not len(qsel):
                            continue
                        rows = order[s:e]
                        scores[np.ix_(qsel, rows)] = score_rows(q_[qsel], rows)
            else:
                scores = score_rows(q_)
            idx, sc = topk_indices(scores, k, desc)
            nq, kk = idx.shape
            out_q = np.repeat(qids_, kk)
            out_l = labels[idx.ravel()]
            out_s = sc.ravel()
            keep = np.isfinite(out_s)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q[keep], pa.int64()),
                    pa.array(out_l[keep], pa.int64()),
                    pa.array(out_s[keep], pa_dist),
                ],
                schema=out_type,
            )

    schema = PARTIAL_SCHEMA if dtype is np.float32 else PARTIAL_SCHEMA_F64
    return narrow.mapInArrow(score, schema=schema)


def merge_topk(partial: DataFrame, k: int, metric: str) -> DataFrame:
    """Global merge: one small shuffle keyed on qid; ties broken by label
    ascending (SURVEY.md §7 known-hard #5)."""
    order = (
        [F.col("distance").desc(), F.col("label").asc()]
        if is_descending(metric)
        else [F.col("distance").asc(), F.col("label").asc()]
    )
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        partial.withColumn("rank", (F.row_number().over(w) - F.lit(1)).cast("int"))
        .filter(F.col("rank") < k)
        .select("qid", "rank", "label", "distance")
    )


def exact_knn_flat(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    metric: str = "INNER_PRODUCT",
    metric_arg: float = 0.0,
    label_col: str = "label",
    vec_col: str = "vector",
    qid_col: str = "qid",
    q_vec_col: str = "vector",
    cluster_col: Optional[str] = None,
    probe_mask_for: Optional[callable] = None,
    dtype: type = np.float32,
    sq8: Optional[tuple] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """Flattened result: (qid BIGINT, rank INT, label BIGINT, distance FLOAT).

    The query side streams to the driver in MAX_QUERY_BLOCK super-blocks
    (bounded driver memory, any query-side size); each block is chunked into
    MAX_QUERY_BATCH broadcasts — one broadcast + one corpus pass per chunk;
    the corpus side only ever streams (never collected, never shuffled whole).
    """
    partials = []
    for qids, q in iter_query_blocks(
        queries_df, qid_col, q_vec_col, dtype=dtype, dim=dim
    ):
        full_mask = None
        if probe_mask_for is not None:
            # (block, nlist) bool mask: ≤ 64k x 2048 ~ 134 MB worst case
            full_mask = probe_mask_for(qids, q)
            if len(qids) > 1:
                # group queries by their first probed cluster so each chunk's
                # cluster-union (the JVM pre-filter's IN-list) stays tight; an
                # unsorted diverse batch probes ~every cluster per chunk and
                # the pre-filter degenerates to a full scan
                order = np.argsort(np.argmax(full_mask, axis=1), kind="stable")
                qids, q, full_mask = qids[order], q[order], full_mask[order]
        for lo in range(0, len(qids), MAX_QUERY_BATCH):
            cq, cqids = q[lo : lo + MAX_QUERY_BATCH], qids[lo : lo + MAX_QUERY_BATCH]
            mask = full_mask[lo : lo + MAX_QUERY_BATCH] if full_mask is not None else None
            chunk_corpus = corpus_df
            if mask is not None and cluster_col is not None:
                # JVM-side scan reduction: rows in clusters no query probes
                # never reach the Python kernel.  On cluster-partitioned
                # storage this IN-filter becomes partition/row-group pruning
                # (the I/O lever); inside the kernel the probe mask drives
                # per-cluster sub-matmuls, so the MACs track the per-query
                # scan fraction even when the chunk's cluster-union covers
                # most of the corpus (the compute lever — SCALE.md r6
                # point 2).
                probed = [int(c) for c in np.where(mask.any(axis=0))[0]]
                chunk_corpus = corpus_df.filter(F.col(cluster_col).isin(probed))
            partials.append(
                partial_topk(
                    chunk_corpus,
                    cqids,
                    cq,
                    k,
                    metric,
                    metric_arg,
                    label_col=label_col,
                    vec_col=vec_col,
                    cluster_col=cluster_col,
                    probe_mask=mask,
                    dtype=dtype,
                    sq8=sq8,
                )
            )
    if not partials:
        spark = corpus_df.sparkSession
        dist_t = "float" if dtype is np.float32 else "double"
        return spark.createDataFrame(
            [], f"qid bigint, rank int, label bigint, distance {dist_t}"
        )
    partial = partials[0]
    for p in partials[1:]:
        partial = partial.unionByName(p)
    return merge_topk(partial, k, metric)


def assemble_lists(flat: DataFrame, k: int, metric: str) -> DataFrame:
    """(qid, result ARRAY<STRUCT<rank,label,distance>>) with the reference's
    -1 padding: list length always == k, missing hits get label = -1
    (README.md:220; searchIntoVector fill loop :640-661)."""
    pad_dist = float("-inf") if is_descending(metric) else float("inf")
    agg = flat.groupBy("qid").agg(
        F.sort_array(
            F.collect_list(F.struct("rank", "label", "distance"))
        ).alias("hits")
    )
    padded = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.coalesce(
            F.try_element_at(F.col("hits"), i + 1),
            F.struct(
                i.cast("int").alias("rank"),
                F.lit(-1).cast("bigint").alias("label"),
                F.lit(pad_dist).cast("float").alias("distance"),
            ),
        ),
    )
    return agg.select("qid", padded.alias("result"))
