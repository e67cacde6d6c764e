"""End-to-end engine tests mirroring the reference sqllogictests
(test/sql/faiss.test, faiss2.test, faiss5.test semantics), with goldens
computed independently in numpy float32."""

import numpy as np
import pytest

from duckdb_faiss_ext_spark import (
    FaissSparkEngine,
    ImmutableIndex,
    IndexAlreadyExists,
    IndexNotFound,
)
from duckdb_faiss_ext_spark.errors import (
    DimensionMismatch,
    LabelModeMismatch,
    NonIDMapLabels,
    TrainingError,
)


@pytest.fixture()
def engine(spark):
    return FaissSparkEngine(spark)


def _vec_df(spark, arr, labels=None):
    if labels is None:
        rows = [([float(x) for x in v],) for v in arr]
        return spark.createDataFrame(rows, "vector array<float>")
    rows = [(int(l), [float(x) for x in v]) for l, v in zip(labels, arr)]
    return spark.createDataFrame(rows, "label bigint, vector array<float>")


def _query_df(spark, arr):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(arr)]
    return spark.createDataFrame(rows, "qid bigint, vector array<float>")


def numpy_golden(q, x, k, metric="INNER_PRODUCT"):
    """Independent float32 brute-force oracle."""
    q = q.astype(np.float32)
    x = x.astype(np.float32)
    if metric == "INNER_PRODUCT":
        s = q @ x.T
        order = np.argsort(-s, axis=1, kind="stable")
    else:
        s = ((q[:, None, :] - x[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(s, axis=1, kind="stable")
    return order[:, :k], s


# ---------------------------------------------------------------- lifecycle


def test_create_destroy_recreate(engine):
    # faiss5.test lifecycle
    engine.create("idx5", 8, "Flat")
    with pytest.raises(IndexAlreadyExists):
        engine.create("idx5", 8, "Flat")
    engine.destroy("idx5")
    with pytest.raises(IndexNotFound):
        engine.destroy("idx5")
    engine.create("idx5", 8, "Flat")
    assert "idx5" in engine.list_indexes()
    engine.destroy("idx5")


def test_search_missing_index(engine, spark):
    with pytest.raises(IndexNotFound):
        engine.search_flat("nope", 2, _query_df(spark, np.eye(4, dtype=np.float32)))


# ------------------------------------------------------------------ search


def test_faiss_test_pipeline_ip(engine, spark, vectors8, queries8):
    """create -> add (auto ids) -> search k=2, INNER_PRODUCT descending —
    the faiss.test:8-38 pipeline shape, golden from float32 numpy."""
    engine.create("flat8", 8, "Flat")
    engine.add("flat8", _vec_df(spark, vectors8))
    res = (
        engine.search_flat("flat8", 2, _query_df(spark, queries8))
        .orderBy("qid", "rank")
        .collect()
    )
    gold_idx, scores = numpy_golden(queries8, vectors8, 2, "INNER_PRODUCT")
    assert len(res) == 20
    for r in res:
        expect = gold_idx[r["qid"], r["rank"]]
        assert r["label"] == expect
        assert r["distance"] == pytest.approx(scores[r["qid"], expect], rel=1e-5)


def test_labeled_add_and_l2(engine, spark, vectors8, queries8):
    """faiss2.test shape: IDMap labels + L2 metric (squared, ascending)."""
    labels = np.arange(1000) * 7 + 3
    engine.create("l2idx", 8, "IDMap,Flat", metric_type="L2")
    engine.add("l2idx", _vec_df(spark, vectors8, labels))
    res = (
        engine.search_flat("l2idx", 3, _query_df(spark, queries8[:4]))
        .orderBy("qid", "rank")
        .collect()
    )
    gold_idx, scores = numpy_golden(queries8[:4], vectors8, 3, "L2")
    for r in res:
        expect_row = gold_idx[r["qid"], r["rank"]]
        assert r["label"] == labels[expect_row]
        assert r["distance"] == pytest.approx(scores[r["qid"], expect_row], rel=1e-4)


def test_result_list_padding(engine, spark):
    """k > corpus size: list length stays k, missing labels = -1
    (README.md:220)."""
    vecs = np.eye(4, dtype=np.float32)[:3]
    engine.create("pad", 4, "Flat")
    engine.add("pad", _vec_df(spark, vecs))
    out = engine.search("pad", 5, _query_df(spark, np.eye(4, dtype=np.float32)[:1]))
    row = out.collect()[0]
    assert len(row["result"]) == 5
    labels = [h["label"] for h in row["result"]]
    assert labels[3:] == [-1, -1]
    assert [h["rank"] for h in row["result"]] == [0, 1, 2, 3, 4]


def test_incremental_add_visible(engine, spark):
    """add-after-search visibility (SURVEY.md §7 known-hard #4)."""
    engine.create("inc", 2, "Flat")
    engine.add("inc", _vec_df(spark, np.array([[1.0, 0.0]])))
    q = _query_df(spark, np.array([[1.0, 0.0]]))
    assert engine.search_flat("inc", 1, q).collect()[0]["label"] == 0
    engine.add("inc", _vec_df(spark, np.array([[2.0, 0.0]])))  # higher IP
    assert engine.search_flat("inc", 1, q).collect()[0]["label"] == 1  # auto id 1


# -------------------------------------------------------------- error paths


def test_labels_on_non_idmap(engine, spark, vectors8):
    # faiss4.test:19-22
    engine.create("noid", 8, "Flat")
    with pytest.raises(NonIDMapLabels):
        engine.add("noid", _vec_df(spark, vectors8[:10], np.arange(10)))


def test_label_mode_latch(engine, spark, vectors8):
    # faiss_extension.cpp:444-452
    engine.create("latch", 8, "IDMap,Flat")
    engine.add("latch", _vec_df(spark, vectors8[:5], np.arange(5)))
    with pytest.raises(LabelModeMismatch):
        engine.add("latch", _vec_df(spark, vectors8[5:10]))


def test_dimension_mismatch(engine, spark):
    engine.create("dim4", 4, "Flat")
    with pytest.raises(DimensionMismatch):
        engine.add("dim4", _vec_df(spark, np.ones((3, 6), dtype=np.float32)))


def test_train_too_few_points(engine, spark, vectors8):
    # faiss_extension.cpp:400-404
    engine.create("ivfbig", 8, "IVF64,Flat")
    with pytest.raises(TrainingError):
        engine.manual_train("ivfbig", _vec_df(spark, vectors8[:10]))


# ---------------------------------------------------------- filtered search


def test_search_filter_zero_hit_padding(engine, spark, vectors8, queries8):
    """ADVICE r1: a filter matching NO rows must still return a k-length
    -1-padded list per query (README.md:243/269), exactly like search()."""
    engine.create("ffpad", 8, "IDMap,Flat")
    engine.add("ffpad", _vec_df(spark, vectors8[:50], np.arange(50)))
    spark.createDataFrame(
        [(int(i),) for i in range(50)], "id bigint"
    ).createOrReplaceTempView("ffpad_ids")
    out = engine.search_filter(
        "ffpad", 3, _query_df(spark, queries8[:2]), "id > 9999", "id", "ffpad_ids"
    ).collect()
    assert len(out) == 2
    for row in out:
        assert len(row["result"]) == 3
        assert all(h["label"] == -1 for h in row["result"])
        assert [h["rank"] for h in row["result"]] == [0, 1, 2]


def test_search_filter_numeric_01_filter(engine, spark, vectors8, queries8):
    """ADVICE r1: the reference treats the filter as a 0/1 UTINYINT expression
    (faiss_extension.cpp:940-941); a numeric filter must be accepted too."""
    engine.create("ff01", 8, "IDMap,Flat")
    engine.add("ff01", _vec_df(spark, vectors8[:100], np.arange(100)))
    spark.createDataFrame(
        [(int(i),) for i in range(100)], "id bigint"
    ).createOrReplaceTempView("ff01_ids")
    q = _query_df(spark, queries8[:3])
    num = engine.search_filter("ff01", 5, q, "id % 2", "id", "ff01_ids").collect()
    boolean = engine.search_filter(
        "ff01", 5, q, "id % 2 = 1", "id", "ff01_ids"
    ).collect()
    as_pairs = lambda rows: {
        (r["qid"], h["rank"], h["label"]) for r in rows for h in r["result"]
    }
    assert as_pairs(num) == as_pairs(boolean)
    assert all(h["label"] % 2 == 1 for r in num for h in r["result"] if h["label"] >= 0)


# ------------------------------------------------------------- persistence


def test_save_load_immutable(engine, spark, vectors8, queries8, tmp_path):
    # LoadFunction: loaded trained index is immutable (:238)
    engine.create("persist", 8, "IDMap,Flat")
    engine.add("persist", _vec_df(spark, vectors8[:100], np.arange(100) + 500))
    path = str(tmp_path / "persist_idx")
    engine.save("persist", path)
    engine.destroy("persist")
    engine.load("persist", path)
    res = engine.search_flat("persist", 2, _query_df(spark, queries8[:2])).collect()
    assert len(res) == 4
    with pytest.raises(ImmutableIndex):
        engine.add("persist", _vec_df(spark, vectors8[:5], np.arange(5)))


def test_save_crash_leaves_previous_save_loadable(
    engine, spark, vectors8, queries8, tmp_path, monkeypatch
):
    """A save that dies after writing data but before meta.json must leave
    the earlier save at the same path whole: same count, same answers."""
    import json

    engine.create("crash", 8, "IDMap,Flat")
    engine.add("crash", _vec_df(spark, vectors8[:100], np.arange(100)))
    path = str(tmp_path / "crash_idx")
    engine.save("crash", path)
    q = _query_df(spark, queries8[:3])
    before = sorted(engine.search_flat("crash", 3, q).collect())
    engine.add("crash", _vec_df(spark, vectors8[100:300], np.arange(100, 300)))

    def boom(*args, **kwargs):
        raise OSError("disk full while writing meta.json")

    monkeypatch.setattr(json, "dump", boom)
    with pytest.raises(OSError, match="disk full"):
        engine.save("crash", path)
    monkeypatch.undo()
    assert sorted(p.name for p in tmp_path.iterdir()) == ["crash_idx"]  # no temp dir left
    engine.load("reloaded", path)
    assert engine.registry.get("reloaded").count == 100
    assert sorted(engine.search_flat("reloaded", 3, q).collect()) == before


# -------------------------------------------------------------------- IVF


def test_ivf_train_add_search_full_probe(engine, spark, vectors8, queries8):
    """IVF with nprobe=nlist must equal exact search."""
    engine.create("ivf4", 8, "IDMap,IVF4,Flat")
    engine.add("ivf4", _vec_df(spark, vectors8, np.arange(1000)))
    assert engine.registry.get("ivf4").trained
    res = (
        engine.search_flat("ivf4", 2, _query_df(spark, queries8), params={"nprobe": 4})
        .orderBy("qid", "rank")
        .collect()
    )
    gold_idx, _ = numpy_golden(queries8, vectors8, 2, "INNER_PRODUCT")
    for r in res:
        assert r["label"] == gold_idx[r["qid"], r["rank"]]


def test_ivf_nprobe_pruning_recall(engine, spark, vectors8, queries8):
    """nprobe=2 of 4 clusters: results are a subset drawn only from probed
    clusters; recall vs exact should be high but the plan scans less."""
    engine.create("ivfp", 8, "IDMap,IVF4,Flat")
    engine.add("ivfp", _vec_df(spark, vectors8, np.arange(1000)))
    res = engine.search_flat(
        "ivfp", 5, _query_df(spark, queries8), params={"nprobe": 2}
    ).collect()
    assert len(res) > 0
    gold_idx, _ = numpy_golden(queries8, vectors8, 5, "INNER_PRODUCT")
    hits = sum(1 for r in res if r["label"] in gold_idx[r["qid"]])
    assert hits / len(res) > 0.5  # sanity: pruned search still mostly agrees


# ------------------------------------------------- incremental / disk storage


def test_incremental_add_is_o_batch(engine, spark, vectors8):
    """VERDICT r1 #4: each add persists/counts only the NEW slice; the index
    is a lazy union.  Counts accumulate without recounting old slices."""
    engine.create("slices", 8, "IDMap,Flat")
    for i in range(4):
        engine.add(
            "slices", _vec_df(spark, vectors8[i * 10 : (i + 1) * 10], np.arange(10) + i * 10)
        )
    idx = engine.registry.get("slices")
    assert idx.count == 40
    assert len(idx.slices) == 4  # one cached slice per add, union is lazy
    assert idx.data.count() == 40


def test_memory_slice_compaction(engine, spark, vectors8):
    """Union lineage depth is bounded: at MAX_SLICES the slices collapse into
    one materialized cache."""
    old = engine.MAX_SLICES
    engine.MAX_SLICES = 3
    try:
        engine.create("compact", 8, "IDMap,Flat")
        for i in range(7):
            engine.add("compact", _vec_df(spark, vectors8[i : i + 1], [i]))
        idx = engine.registry.get("compact")
        assert idx.count == 7
        assert len(idx.slices) <= 3
        assert idx.data.count() == 7
    finally:
        engine.MAX_SLICES = old


def test_disk_backed_index_flat_lineage(engine, spark, vectors8, queries8, tmp_path):
    """storage_path indexes append parquet slices: per-add O(batch) and a
    FLAT lineage — the analyzed plan stays one scan node across adds
    (streaming ingest's bounded-work guarantee)."""
    engine.create(
        "disk", 8, "IDMap,Flat", params={"storage_path": str(tmp_path / "disk_idx")}
    )
    plan_sizes = []
    for i in range(3):
        engine.add(
            "disk", _vec_df(spark, vectors8[i * 20 : (i + 1) * 20], np.arange(20) + i * 20)
        )
        idx = engine.registry.get("disk")
        plan = idx.data._jdf.queryExecution().analyzed().toString()
        plan_sizes.append(len(plan.splitlines()))
    assert plan_sizes[0] == plan_sizes[1] == plan_sizes[2]  # no union growth
    idx = engine.registry.get("disk")
    assert idx.count == 60
    assert idx.data.count() == 60
    # search over the disk-backed corpus agrees with the numpy golden
    res = (
        engine.search_flat("disk", 2, _query_df(spark, queries8[:3]))
        .orderBy("qid", "rank")
        .collect()
    )
    gold_idx, _ = numpy_golden(queries8[:3], vectors8[:60], 2, "INNER_PRODUCT")
    for r in res:
        assert r["label"] == gold_idx[r["qid"], r["rank"]]


def test_disk_backed_ivf_cluster_partitioned(engine, spark, vectors8, tmp_path):
    """IVF + storage_path: slices land cluster-partitioned (directory-level
    pruning for probed clusters on every later search)."""
    import os as _os

    path = str(tmp_path / "disk_ivf")
    engine.create(
        "diskivf", 8, "IDMap,IVF4,Flat", params={"storage_path": path}
    )
    engine.add("diskivf", _vec_df(spark, vectors8[:200], np.arange(200)))
    subdirs = [
        d for d in _os.listdir(_os.path.join(path, "data.parquet"))
        if d.startswith("cluster_id=")
    ]
    assert len(subdirs) >= 2  # partitioned layout exists
    res = engine.search_flat(
        "diskivf", 3, _query_df(spark, vectors8[:2]), params={"nprobe": 4}
    ).collect()
    assert len(res) == 6


def test_filtered_search_no_forced_broadcast(engine, spark, vectors8, queries8):
    """VERDICT r1 #2: the allowed set must not carry a broadcast hint — with
    broadcasts disabled entirely the semi-join still plans and results match
    the broadcastable run (the large-allowed-set scale scenario)."""
    engine.create("bigsel", 8, "IDMap,Flat")
    engine.add("bigsel", _vec_df(spark, vectors8, np.arange(1000)))
    allowed = spark.range(0, 1000).filter("id % 100 < 90").select("id")
    q = _query_df(spark, queries8[:4])
    base = engine.search_flat("bigsel", 5, q, allowed_df=allowed).collect()
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nobc = engine.search_flat("bigsel", 5, q, allowed_df=allowed).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    key = lambda rows: sorted((r["qid"], r["rank"], r["label"]) for r in rows)
    assert key(base) == key(nobc)
    assert all(r["label"] % 100 < 90 for r in base)


def test_bulk_queries_path_matches_standard(engine, spark, vectors8, queries8):
    """params={'bulk_queries': 1} routes a Flat exact search through the
    executor-side block-nested-loop join (no driver query streaming) —
    results must be identical to the broadcast-kernel path, tie-break
    included."""
    engine.create("bulkflat", 8, "IDMap,Flat", metric_type="INNER_PRODUCT")
    engine.add("bulkflat", _vec_df(spark, vectors8, np.arange(1000)))
    q = _query_df(spark, queries8)
    base = engine.search_flat("bulkflat", 5, q).collect()
    bulk = engine.search_flat("bulkflat", 5, q, params={"bulk_queries": 1}).collect()
    key = lambda rows: sorted((r["qid"], r["rank"], r["label"]) for r in rows)
    assert key(base) == key(bulk)
    for b, u in zip(
        sorted(base, key=lambda r: (r["qid"], r["rank"])),
        sorted(bulk, key=lambda r: (r["qid"], r["rank"])),
    ):
        assert abs(b["distance"] - u["distance"]) < 1e-5


def test_bulk_queries_ivf_matches_standard(engine, spark, vectors8, queries8):
    """Bulk IVF search (probe-cluster equi-join of vector blocks) must match
    the standard driver-block IVF path at the same nprobe."""
    engine.create("bulkivf", 8, "IDMap,IVF4,Flat", metric_type="L2")
    engine.add("bulkivf", _vec_df(spark, vectors8, np.arange(1000)))
    q = _query_df(spark, queries8)
    base = engine.search_flat("bulkivf", 5, q, params={"nprobe": 2}).collect()
    bulk = engine.search_flat(
        "bulkivf", 5, q, params={"nprobe": 2, "bulk_queries": 1}
    ).collect()
    key = lambda rows: sorted((r["qid"], r["rank"], r["label"]) for r in rows)
    assert key(base) == key(bulk)


def test_bulk_queries_composes_with_filter(engine, spark, vectors8, queries8):
    """bulk_queries and a filter compose on every index family: the allowed
    restriction applies BEFORE the bulk path packs/joins, so results match
    the standard filtered search exactly."""
    import numpy as np
    import pyspark.sql.functions as F

    q = _query_df(spark, queries8)
    allowed = spark.range(1000).filter(F.col("id") % 3 == 0).select("id")
    key = lambda rows: sorted((r["qid"], r["rank"], r["label"]) for r in rows)
    for name, factory, extra in (
        ("cmpflat", "IDMap,Flat", {}),
        ("cmpivf", "IDMap,IVF4,Flat", {"nprobe": 4}),
        ("cmpg", "IDMap,HNSW8", {"efSearch": 64}),
    ):
        engine.create(name, 8, factory, metric_type="INNER_PRODUCT")
        engine.add(name, _vec_df(spark, vectors8, np.arange(1000)))
        base = engine.search_flat(
            name, 5, q, params=dict(extra), allowed_df=allowed
        ).collect()
        bulk = engine.search_flat(
            name, 5, q, params={**extra, "bulk_queries": 1}, allowed_df=allowed
        ).collect()
        assert key(base) == key(bulk), name
        assert all(r["label"] % 3 == 0 for r in bulk), name
        engine.destroy(name)


def test_bulk_queries_graph_matches_standard(engine, spark, vectors8, queries8):
    """On a graph index bulk_queries upgrades the driver stream to
    executor-packed binary blocks (graphs have no block-join bulk path);
    results must be identical to the per-row stream, and the packed
    iterator must emit the same block partitioning as the per-row one."""
    import numpy as np
    from duckdb_faiss_ext_spark.operators import topk as T

    engine.create("bulkg", 8, "IDMap,HNSW8", metric_type="INNER_PRODUCT")
    engine.add("bulkg", _vec_df(spark, vectors8, np.arange(1000)))
    q = _query_df(spark, queries8)
    base = engine.search_flat("bulkg", 5, q, params={"efSearch": 64}).collect()
    bulk = engine.search_flat(
        "bulkg", 5, q, params={"efSearch": 64, "bulk_queries": 1}
    ).collect()
    key = lambda rows: sorted((r["qid"], r["rank"], r["label"]) for r in rows)
    assert key(base) == key(bulk)
    # iterator parity: same ids, same values, same block structure
    pb = list(T.iter_query_blocks(q, "qid", "vector", packed=True))
    pr = list(T.iter_query_blocks(q, "qid", "vector", packed=False))
    assert [len(b[0]) for b in pb] == [len(b[0]) for b in pr]
    ids_p = {int(i) for b in pb for i in b[0]}
    ids_r = {int(i) for b in pr for i in b[0]}
    assert ids_p == ids_r
    mp = {int(i): v for b in pb for i, v in zip(b[0], b[1])}
    mr = {int(i): v for b in pr for i, v in zip(b[0], b[1])}
    for i in ids_p:
        assert np.allclose(mp[i], mr[i])


def test_disk_backed_ivfpq_codes_partitioned(engine, spark, vectors8, tmp_path):
    """IVFPQ + storage_path: the parquet slices hold m-byte CODES (not
    vectors), cluster-partitioned, and search prunes + self-hits."""
    import os as _os

    path = str(tmp_path / "disk_ivfpq")
    engine.create(
        "diskpq", 8, "IDMap,IVF4,PQ4", metric_type="L2",
        params={"storage_path": path},
    )
    engine.add("diskpq", _vec_df(spark, vectors8[:300], np.arange(300)))
    data_dir = _os.path.join(path, "data.parquet")
    subdirs = [d for d in _os.listdir(data_dir) if d.startswith("cluster_id=")]
    assert len(subdirs) >= 2
    stored = spark.read.parquet(data_dir)
    assert "code" in stored.columns and "vector" not in stored.columns
    res = engine.search_flat(
        "diskpq", 3, _query_df(spark, vectors8[:4]), params={"nprobe": 4}
    ).collect()
    assert len(res) == 12
    self_hits = sum(1 for r in res if r["rank"] == 0 and r["qid"] == r["label"])
    assert self_hits >= 3  # ADC approximation: allow one miss


def test_ivf_hnsw_pq_composite_add_and_search(engine, spark, vectors8, queries8):
    """IVFn_HNSWm,PQk factories: codes take precedence over graphs (no
    neighbors column exists) — add must not crash and search works via ADC
    (r4 review: the edgeless-graph check referenced the absent column)."""
    engine.create("hnswpq", 8, "IDMap,IVF4_HNSW4,PQ4", metric_type="L2")
    engine.add("hnswpq", _vec_df(spark, vectors8, np.arange(1000)))
    idx = engine.registry.get("hnswpq")
    assert "code" in idx.data.columns and "neighbors" not in idx.data.columns
    res = engine.search_flat(
        "hnswpq", 3, _query_df(spark, vectors8[:4]), params={"nprobe": 4}
    ).collect()
    assert len(res) == 12


def test_coarse_topk_chunking_is_shape_independent():
    """r9 OOM fix: _coarse_topk chunks the (rows, nlist) f64 temp; chunking
    must not change selection (the f64-then-round rule is shape-independent
    by design).  Pure numpy — compares against an unchunked reference at
    several nlist values and both metric directions."""
    import numpy as np

    from duckdb_faiss_ext_spark.engine import FaissSparkEngine
    from duckdb_faiss_ext_spark.metrics import is_descending, pairwise
    from duckdb_faiss_ext_spark.operators.topk import topk_indices

    rng = np.random.default_rng(9)
    for metric in ("INNER_PRODUCT", "L2", "COSINE"):
        desc = is_descending(metric)
        for nlist in (5, 300, 4096):
            cents = rng.standard_normal((nlist, 16)).astype(np.float32)
            # at nlist=4096 the chunk step is 64e6/(4096*8) = 1953 rows, so
            # 5000 query rows force THREE chunks (the boundary under test)
            q = rng.standard_normal(
                (5000 if nlist == 4096 else 700, 16)
            ).astype(np.float32)
            k = min(8, nlist)
            ref, _ = topk_indices(
                pairwise(q, cents, metric, 0.0, dtype=np.float64).astype(
                    np.float32
                ),
                k,
                desc,
            )
            got = FaissSparkEngine._coarse_topk(q, cents, metric, 0.0, k, desc)
            assert (got == ref).all(), (metric, nlist)


def test_warm_affordance(spark):
    """warm(): touches the layout + JITs the kernels, returns seconds;
    empty index raises like search would."""
    import numpy as np
    import pytest as _pytest
    from conftest import gen_vectors

    from duckdb_faiss_ext_spark.engine import FaissSparkEngine
    from duckdb_faiss_ext_spark.errors import FaissSparkError

    eng = FaissSparkEngine(spark)
    x = gen_vectors(300, 8)
    eng.create("warm_ix", 8, "IDMap,IVF4", metric_type="L2")
    with _pytest.raises(FaissSparkError, match="empty"):
        eng.warm("warm_ix")
    df = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)],
        "label bigint, vector array<float>",
    )
    eng.add("warm_ix", df)
    sec = eng.warm("warm_ix")
    assert sec > 0.0
    q = spark.createDataFrame(
        [(0, [float(v) for v in x[0]])], "qid bigint, vector array<float>"
    )
    hit = eng.search_flat("warm_ix", 1, q, params={"nprobe": 4}).collect()
    assert hit and hit[0]["label"] == 0

    # warm_on_build param: the build itself runs the warm pass
    eng.create(
        "warm_ix2", 8, "IDMap,IVF4", metric_type="L2",
        params={"warm_on_build": "1"},
    )
    eng.add("warm_ix2", df)
    hit2 = eng.search_flat("warm_ix2", 1, q, params={"nprobe": 4}).collect()
    assert hit2 and hit2[0]["label"] == 0


def test_warm_on_zero_row_index_raises_cleanly(spark):
    """idx.data non-None but EMPTY: warm() must raise the same clear
    'empty' error as the data-is-None case, not a NoneType subscript
    (r10 review fix)."""
    import pytest as _pytest

    from duckdb_faiss_ext_spark.engine import FaissSparkEngine
    from duckdb_faiss_ext_spark.errors import FaissSparkError

    eng = FaissSparkEngine(spark)
    eng.create("warm_zero", 4, "IDMap,Flat")
    empty = spark.createDataFrame([], "label bigint, vector array<float>")
    eng.add("warm_zero", empty)
    with _pytest.raises(FaissSparkError, match="empty"):
        eng.warm("warm_zero")
