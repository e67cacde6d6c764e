"""Per-request Spark job budget of small searches, and result identity
across the routes a small query side can take.

A query side that fits in one query block is read once, by the bounded
Arrow fetch that also routes the search: no count probe, no per-row
stream, and the list APIs pad from the fetched qids instead of scanning
the query side again.  The query side here is what a serving client
sends: a ``where(qid ...)`` slice of a parquet file, whose plan carries no
row count, so nothing about its size is known before it is read.
"""

import uuid

import numpy as np
import pyspark.sql.functions as F
import pytest

from conftest import gen_vectors
from duckdb_faiss_ext_spark import FaissSparkEngine
from duckdb_faiss_ext_spark.operators import topk
from duckdb_faiss_ext_spark.plans import explain_str as _plan

N, D, NQ, K = 600, 16, 40, 5
VIEW = "sj_meta"


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("search_jobs")
    x = gen_vectors(N, D)
    q = gen_vectors(NQ, D, offset=7)
    spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)], "label bigint, vector array<float>"
    ).write.parquet(str(root / "corpus.parquet"))
    spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(q)], "qid bigint, vector array<float>"
    ).write.parquet(str(root / "queries.parquet"))
    spark.createDataFrame([(i, i % 4) for i in range(N)], "label bigint, bucket int").coalesce(1).write.parquet(
        str(root / "meta.parquet")
    )
    spark.read.parquet(str(root / "meta.parquet")).createOrReplaceTempView(VIEW)
    eng = FaissSparkEngine(spark)
    for name, factory in (("sj_flat", "IDMap,Flat"), ("sj_ivf", "IDMap,IVF8")):
        eng.create(name, D, factory, metric_type="L2")
        eng.add(name, spark.read.parquet(str(root / "corpus.parquet")))
    yield eng, x, q, str(root / "queries.parquet")
    for name in eng.list_indexes():
        eng.destroy(name)


def _queries(spark, path, lo, hi):
    df = spark.read.parquet(path)
    return df.where((df.qid >= lo) & (df.qid < hi))


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs it started).  Build the
    query frame before the call: reading a parquet schema is a job of its
    own, paid by the client, not by the search."""
    sc = spark.sparkContext
    group = f"sj-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _numpy(x, q, qids, k, allowed=None):
    """qid -> [(label, distance)] of the k nearest by (distance, label)."""
    labels = np.arange(len(x)) if allowed is None else np.flatnonzero(allowed)
    out = {}
    for qid in qids:
        d = ((x[labels].astype(np.float64) - q[qid].astype(np.float64)) ** 2).sum(1)
        order = np.lexsort((labels, d))[:k]
        out[int(qid)] = [(int(labels[i]), float(d[i])) for i in order]
    return out


def _flat_hits(rows):
    got = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["label"], float(r["distance"])))
    return got


def _list_hits(rows):
    return {r["qid"]: [(h["label"], float(h["distance"])) for h in r["result"]] for r in rows}


def _same(got, want):
    assert sorted(got) == sorted(want)
    for qid, hits in want.items():
        assert [h[0] for h in got[qid]] == [h[0] for h in hits], qid
        assert np.allclose([h[1] for h in got[qid]], [h[1] for h in hits], rtol=1e-4, atol=1e-5), qid


def _key(rows):
    return sorted((r["qid"], r["rank"], r["label"]) for r in rows)


def test_small_request_job_budget(spark, served):
    """Flat and IVF search_flat <= 3 jobs, search <= 4, search_filter <= 5
    (5, 6 and 7 when a count probe and a per-row stream read the side),
    with the numpy answer and the bulk_queries=0 stream's rows."""
    eng, x, q, path = served
    lo, hi = 3, 3 + 17
    qids = np.arange(lo, hi)
    want = _numpy(x, q, qids, K)
    even = _numpy(x, q, qids, K, allowed=np.arange(N) % 4 < 2)

    qdf = _queries(spark, path, lo, hi)
    rows, n = _jobs(spark, lambda: eng.search_flat("sj_flat", K, qdf).collect())
    assert n <= 3, n
    _same(_flat_hits(rows), want)

    ivf = {"nprobe": 3}
    qdf = _queries(spark, path, lo, hi)
    rows, n = _jobs(spark, lambda: eng.search_flat("sj_ivf", K, qdf, params=ivf).collect())
    assert n <= 3, n
    stream = eng.search_flat("sj_ivf", K, _queries(spark, path, lo, hi), params={**ivf, "bulk_queries": 0})
    assert _key(rows) == _key(stream.collect())

    qdf = _queries(spark, path, lo, hi)
    rows, n = _jobs(spark, lambda: eng.search("sj_flat", K, qdf).collect())
    assert n <= 4, n
    _same(_list_hits(rows), want)

    qdf = _queries(spark, path, lo, hi)
    rows, n = _jobs(spark, lambda: eng.search_filter("sj_flat", K, qdf, "bucket < 2", "label", VIEW).collect())
    assert n <= 5, n
    _same(_list_hits(rows), even)


def test_padding_from_fetched_qids(spark, served):
    """A filter that leaves no survivor pads every query to k (-1, inf)
    entries; the qid keeps the query side's type."""
    eng, _, _, path = served
    qdf = _queries(spark, path, 0, 12).select(F.col("qid").cast("int"), "vector")
    out = eng.search_filter("sj_flat", K, qdf, "bucket < 0", "label", VIEW)
    assert out.schema["qid"].dataType.simpleString() == "int"
    rows = out.collect()
    assert sorted(r["qid"] for r in rows) == list(range(12))
    assert all([(h["label"], h["distance"]) for h in r["result"]] == [(-1, float("inf"))] * K for r in rows)


def test_side_between_block_and_threshold_streams_on_driver(spark, served, monkeypatch):
    """With a block smaller than the side but the side under the routing
    threshold, the search stays on the driver route (multi-block stream)
    with the same rows as numpy and as the explicit stream."""
    eng, x, q, path = served
    monkeypatch.setattr(topk, "MAX_QUERY_BLOCK", 8)
    lo, hi = 0, 30
    out = eng.search_flat("sj_flat", K, _queries(spark, path, lo, hi))
    assert "Join" not in _plan(out)
    rows = out.collect()
    _same(_flat_hits(rows), _numpy(x, q, np.arange(lo, hi), K))
    stream = eng.search_flat("sj_flat", K, _queries(spark, path, lo, hi), params={"bulk_queries": 0})
    assert _key(rows) == _key(stream.collect())
    blocks = list(topk.iter_query_blocks(_queries(spark, path, lo, hi), "qid", "vector", dim=D))
    assert [len(b[0]) for b in blocks] == [8, 8, 8, 6]


def test_side_above_threshold_routes_to_bulk(spark, served, monkeypatch):
    """Above the threshold the bounded count still routes to the bulk
    plan, with the driver stream's rows."""
    eng, _, _, path = served
    monkeypatch.setattr(topk, "MAX_QUERY_BLOCK", 8)
    eng.BULK_QUERY_THRESHOLD = 20
    try:
        out = eng.search_flat("sj_ivf", K, _queries(spark, path, 0, 30), params={"nprobe": 3})
        assert "Join" in _plan(out)
        driver = eng.search_flat("sj_ivf", K, _queries(spark, path, 0, 30), params={"nprobe": 3, "bulk_queries": 0})
        assert _key(out.collect()) == _key(driver.collect())
    finally:
        del eng.BULK_QUERY_THRESHOLD
