"""Differential fuzz test of the vector input contract (vectors.py).

The same malformed, tied and edge inputs go through the search routes:

- malformed vectors (null row, null element, ragged, wrong dimension,
  NaN/±Inf), on the query side and on the corpus side, raise
  ``InvalidVector`` — by type when the decode runs on the driver, by
  message (with the bad row's id) when the error comes back from an
  executor;
- the exact routes (Flat driver/list/filtered/bulk, IVF at nprobe = nlist
  driver and bulk) match a numpy brute force on tied scores (duplicate
  vectors, tie-break on (score, label)) and on k > n, where ``search_flat``
  returns n rows and the list APIs pad with (-1, inf).

Every Spark job costs a fixed ~0.5 s on a small machine, so the Spark
tests spend jobs carefully: each example sends every route one malformed
query, drawn so that every case appears on some route, and the add-time
check sees every case once.  The decoder itself is checked case by case,
without Spark, in the ``test_decode_*`` tests.  Vectors hold small
integers, so every L2 distance is exact in float32 and ties are real ties
on every kernel shape.  Routes run on a small thread pool (Spark accepts
jobs from several driver threads).
"""

import re
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from duckdb_faiss_ext_spark import DimensionMismatch, FaissSparkEngine, InvalidVector
from duckdb_faiss_ext_spark import vectors

# tie-dense integer data is exactly what the SQ8 margin warning is about
pytestmark = pytest.mark.filterwarnings("ignore:Index sq8:UserWarning")

D = 8
N = 24  # small enough that k > n is cheap to reach
NLIST = 4
VIEW = "vc_labels"
SCHEMA = "qid bigint, vector array<float>"
FACTORIES = {
    "flat": "IDMap,Flat",
    "ivf": f"IDMap,IVF{NLIST},Flat",
    "sq8": f"IDMap,IVF{NLIST},SQ8",
    "pq": "IDMap,PQ4",
    "hnsw": "IDMap,HNSW8",
}
FULL = {"nprobe": NLIST}
BULK = {"bulk_queries": 1}

# name -> (call, decodes on an executor, exact)
ROUTES = {
    "flat.search_flat": (lambda e, q, k: e.search_flat("flat", k, q), False, True),
    "flat.search": (lambda e, q, k: e.search("flat", k, q), False, True),
    "flat.search_filter": (
        lambda e, q, k: e.search_filter("flat", k, q, "label % 2 = 0", "label", VIEW),
        False,
        True,
    ),
    "flat.bulk": (lambda e, q, k: e.search_flat("flat", k, q, params=BULK), True, True),
    "ivf.np1": (lambda e, q, k: e.search_flat("ivf", k, q, params={"nprobe": 1}), False, False),
    "ivf.nlist": (lambda e, q, k: e.search_flat("ivf", k, q, params=FULL), False, True),
    "ivf.bulk.np1": (
        lambda e, q, k: e.search_flat("ivf", k, q, params={"nprobe": 1, **BULK}),
        True,
        False,
    ),
    "ivf.bulk.nlist": (
        lambda e, q, k: e.search_flat("ivf", k, q, params={**FULL, **BULK}),
        True,
        True,
    ),
    "sq8": (lambda e, q, k: e.search_flat("sq8", k, q, params=FULL), False, False),
    "pq": (lambda e, q, k: e.search_flat("pq", k, q), False, False),
    "hnsw": (lambda e, q, k: e.search_flat("hnsw", k, q), False, False),
    "hnsw.packed": (lambda e, q, k: e.search_flat("hnsw", k, q, params=BULK), True, False),
}
CASES = ("null_row", "null_elem", "ragged", "wrong_dim", "nan", "+inf", "-inf")
# the query-side decode runs one isfinite() for all three non-finite
# values, so a non-finite query draws one of them; the add-time test
# takes each separately (three different Spark expressions)
QUERY_CASES = ("null_row", "null_elem", "ragged", "wrong_dim", "non_finite")
POOL = 4
SLOW = dict(deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])


def _corpus_matrix() -> np.ndarray:
    """N rows of small integers, 8 distinct rows each stored 3 times, so
    every query ties across duplicates."""
    rng = np.random.default_rng(7)
    base = rng.integers(-3, 4, (N // 3, D))
    return np.repeat(base, 3, axis=0)[rng.permutation(N)].astype(np.float32)


@pytest.fixture(scope="module")
def built(spark):
    eng = FaissSparkEngine(spark)
    x = _corpus_matrix()
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(x)]
    # the union adds an empty partition to the corpus
    corpus = spark.createDataFrame(rows, "label bigint, vector array<float>").union(
        spark.createDataFrame([], "label bigint, vector array<float>")
    )
    spark.createDataFrame([(i,) for i in range(N)], "label bigint").createOrReplaceTempView(VIEW)
    for name, factory in FACTORIES.items():
        eng.create(name, D, factory, metric_type="L2")
    _run_all({name: (lambda name=name: eng.add(name, corpus)) for name in FACTORIES})
    assert len(eng.registry.get("ivf").centroids) == NLIST  # nprobe=NLIST is exhaustive
    yield eng, x
    for name in eng.list_indexes():
        eng.destroy(name)


def _bad_vector(case: str, data) -> list:
    v = [float(t) for t in data.draw(st.lists(st.integers(-3, 3), min_size=D, max_size=D))]
    at = data.draw(st.integers(0, D - 1))
    if case == "null_row":
        return None
    if case == "null_elem":
        v[at] = None
    elif case == "ragged":
        v = v[: data.draw(st.sampled_from([D - 1, 1]))] if data.draw(st.booleans()) else v + [0.0]
    else:
        if case == "non_finite":
            case = data.draw(st.sampled_from(["nan", "+inf", "-inf"]))
        v[at] = {"nan": float("nan"), "+inf": float("inf"), "-inf": float("-inf")}[case]
    return v


def _check_invalid(fn, executor: bool, bad_ids) -> str | None:
    """None when ``fn`` fails the contract's way, else what went wrong."""
    try:
        fn()
    except InvalidVector as e:
        msg = str(e)
    except Exception as e:  # noqa: BLE001 - executor errors arrive wrapped
        if not executor:
            return f"driver route raised {type(e).__name__}, not InvalidVector: {str(e)[:300]}"
        msg = str(e)
        if "InvalidVector" not in msg:
            return f"no InvalidVector in the error text: {msg[-400:]}"
    else:
        return "no error"
    if bad_ids is not None and not any(re.search(rf"\bid {i}\b", msg) for i in bad_ids):
        return f"bad row id {sorted(bad_ids)} missing from: {msg[-400:]}"
    return None


def _run_all(jobs: dict) -> dict:
    """name -> result of the zero-argument callable, run on the pool."""
    with ThreadPoolExecutor(POOL) as pool:
        futures = {name: pool.submit(fn) for name, fn in jobs.items()}
        return {name: f.result() for name, f in futures.items()}


def _spread(data, cases, n: int, label: str) -> list:
    """``n`` cases in a drawn order, each of ``cases`` at least once."""
    extra = data.draw(st.lists(st.sampled_from(cases), min_size=n - len(cases), max_size=n - len(cases)), label=f"{label}.extra")
    return data.draw(st.permutations(list(cases) + extra), label=label)


@settings(max_examples=1, **SLOW)
@given(data=st.data())
def test_malformed_queries_raise_invalid_vector_on_every_route(spark, built, data):
    eng, _ = built
    jobs = {}
    for case, (route, (call, executor, _)) in zip(
        _spread(data, QUERY_CASES, len(ROUTES), "cases"), ROUTES.items()
    ):
        n_good = data.draw(st.integers(0, 3), label=f"{route}.n_good")
        bad_at = data.draw(st.integers(0, n_good), label=f"{route}.bad_at")
        good = [[float(t) for t in r] for r in np.random.default_rng(n_good).integers(-3, 4, (n_good, D))]
        if case == "wrong_dim":
            width = data.draw(st.sampled_from([D - 1, D + 1]), label=f"{route}.width")
            rows = [(i, [0.0] * width) for i in range(n_good + 1)]
            bad_ids = {i for i, _ in rows}
        else:
            vecs = good[:bad_at] + [_bad_vector(case, data)] + good[bad_at:]
            rows = list(enumerate(vecs))
            bad_ids = {bad_at}
        # one partition: the driver routes then fetch with one job
        q = spark.createDataFrame(rows, SCHEMA).coalesce(1)
        jobs[(case, route)] = lambda call=call, q=q, executor=executor, bad_ids=bad_ids: _check_invalid(
            lambda: call(eng, q, 3).collect(), executor, bad_ids
        )
    failures = {key: why for key, why in _run_all(jobs).items() if why}
    assert not failures, failures


@settings(max_examples=1, **SLOW)
@given(data=st.data())
def test_malformed_corpus_rows_fail_the_add(spark, built, data):
    """Add-time check: the labeled add of a drawn factory or the unlabeled
    (auto-id) add rejects the row before anything is stored; each of the
    seven cases once (NaN, +Inf and -Inf are three different Spark
    expressions there)."""
    eng, x = built
    factories = list(FACTORIES.values()) + ["Flat"]
    jobs, names = {}, []
    for i, case in enumerate(CASES):
        factory = data.draw(st.sampled_from(factories), label=f"{case}.factory")
        at = data.draw(st.integers(0, 11), label=f"{case}.at")
        vecs = [[float(t) for t in r] for r in x[:12]]
        vecs[at] = [0.0] * (D + 1) if case == "wrong_dim" else _bad_vector(case, data)
        df = spark.createDataFrame(list(enumerate(vecs)), "label bigint, vector array<float>")
        if not factory.startswith("IDMap"):
            df = df.select("vector")
        names.append(f"bad_add_{i}")
        eng.create(names[-1], D, factory, metric_type="L2")
        jobs[(case, factory)] = lambda name=names[-1], df=df: _check_invalid(
            lambda: eng.add(name, df), False, None
        )
    try:
        results = _run_all(jobs)
        for name in names:
            assert eng.registry.get(name).data is None, name  # nothing stored
    finally:
        for name in names:
            eng.destroy(name)
    failures = {key: why for key, why in results.items() if why}
    assert not failures, failures


@settings(max_examples=1, **SLOW)
@given(data=st.data())
def test_unvalidated_corpus_fails_structurally_at_search(spark, data):
    """``add(validate=False)`` skips the add-time check; the structural
    decode checks still stop the scan of the bad row (id 5) on the
    driver-stream plan or the bulk plan."""
    eng = FaissSparkEngine(spark)
    bad = {
        "null_row": None,
        "null_elem": [1.0, None] + [0.0] * (D - 2),
        "ragged": [0.0] * (D - 1),
        "wrong_dim": [0.0] * (D + 1),
    }
    q = spark.createDataFrame([(0, [0.0] * D)], SCHEMA)
    jobs = {}
    for case, v in bad.items():
        vecs = [[float(t) for t in r] for r in _corpus_matrix()[:12]]
        vecs[5] = v
        name = f"unval_{case}"
        eng.create(name, D, "IDMap,Flat", metric_type="L2")
        df = spark.createDataFrame(list(enumerate(vecs)), "label bigint, vector array<float>")
        eng.add(name, df, validate=False)
        params = data.draw(st.sampled_from([None, BULK]), label=f"{case}.route")
        jobs[(case, str(params))] = lambda name=name, params=params: _check_invalid(
            lambda: eng.search_flat(name, 3, q, params=params).collect(), True, {5}
        )
    try:
        failures = {key: why for key, why in _run_all(jobs).items() if why}
    finally:
        for case in bad:
            eng.destroy(f"unval_{case}")
    assert not failures, failures


def _reference(x: np.ndarray, q: np.ndarray, k: int, allowed=None) -> list:
    """Per query: [(label, distance)] of the k nearest by (distance, label)."""
    labels = np.arange(len(x)) if allowed is None else np.flatnonzero(allowed)
    out = []
    for v in q.astype(np.float64):
        d = ((x[labels].astype(np.float64) - v) ** 2).sum(1)
        order = np.lexsort((labels, d))[:k]
        out.append([(int(labels[i]), float(d[i])) for i in order])
    return out


def _hits(route_rows, is_list: bool) -> dict:
    """qid -> [(label, distance)] in rank order, from either result shape."""
    got: dict = {}
    if is_list:
        for r in route_rows:
            got[r["qid"]] = [(h["label"], float(h["distance"])) for h in r["result"]]
        return got
    for r in sorted(route_rows, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["label"], float(r["distance"])))
    return got


@settings(max_examples=2, **SLOW)
@given(
    picks=st.lists(st.integers(-1, N - 1), min_size=1, max_size=5),
    k=st.integers(1, N + 4),
    seed=st.integers(0, 2**16),
)
def test_exact_routes_match_numpy_on_ties_and_k_over_n(spark, built, picks, k, seed):
    """Queries are corpus rows (distance-0 ties across their duplicates) or
    fresh integer vectors (-1 picks); k reaches past n and past the
    filtered survivor count.  1-5 query rows over the session's default
    slices leave empty query partitions; the corpus carries one too."""
    eng, x = built
    rng = np.random.default_rng(seed)
    q = np.stack([x[p] if p >= 0 else rng.integers(-3, 4, D).astype(np.float32) for p in picks])
    qdf = spark.createDataFrame([(i, [float(t) for t in v]) for i, v in enumerate(q)], SCHEMA)
    want = _reference(x, q, k)
    want_even = _reference(x, q, k, allowed=np.arange(N) % 2 == 0)
    exact = {name: r for name, r in ROUTES.items() if r[2]}
    results = _run_all({name: (lambda c=call: c(eng, qdf, k).collect()) for name, (call, _, _) in exact.items()})
    for name, rows in results.items():
        is_list = name in ("flat.search", "flat.search_filter")
        ref = want_even if name == "flat.search_filter" else want
        got = _hits(rows, is_list)
        assert sorted(got) == list(range(len(q))), name
        for qid, hits in got.items():
            exp = ref[qid]
            if is_list:  # k-length lists, padded with (-1, inf)
                exp = exp + [(-1, float("inf"))] * (k - len(exp))
            assert hits == exp, (name, qid, hits, exp)


# ------------------------------------------- the decoder, case by case


def _list(rows, t=pa.float32()):
    return pa.array(rows, pa.list_(t))


def test_decode_zero_copy_and_sliced():
    col = _list([[1, 2], None, [3, 4], [5, 6], [7, None]])
    x = vectors.decode(col.slice(2, 2), 2)
    assert x.tolist() == [[3, 4], [5, 6]] and x.dtype == np.float32
    assert not x.flags.writeable  # a view of the Arrow buffer, not a copy
    chunked = pa.chunked_array([col.slice(2, 1), col.slice(3, 1)])
    assert vectors.decode(chunked).tolist() == [[3, 4], [5, 6]]
    codes = vectors.decode(_list([[1, -2]], pa.int8()), 2, dtype=None)
    assert codes.dtype == np.int8
    assert vectors.decode(_list([]), 4).shape == (0, 4)


@pytest.mark.parametrize(
    "rows, kwargs, err, text",
    [
        ([[1.0, 2.0], None], {}, InvalidVector, "null qid or vector in vectors at id 11 (null vector)"),
        ([[1.0, 2.0], [3.0, None]], {}, InvalidVector, "null element in vectors at id 11"),
        ([[1.0, 2.0], [3.0]], {}, InvalidVector, "ragged vectors at id 11: length 1, expected 2"),
        ([[1.0, 2.0], [3.0]], {"dim": 2}, DimensionMismatch, "expected 2, got 1"),
        ([[1.0, 2.0, 3.0]] * 2, {"dim": 2}, DimensionMismatch, "dimension-mismatched vectors at id 10"),
        ([[1.0, 2.0], [float("nan"), 0.0]], {"finite": True}, InvalidVector, "non-finite (NaN/Inf) value in vectors at id 11"),
        ([[1.0, 2.0], [0.0, float("-inf")]], {"finite": True}, InvalidVector, "non-finite"),
    ],
)
def test_decode_rejects(rows, kwargs, err, text):
    with pytest.raises(err) as e:
        vectors.decode(_list(rows), ids=pa.array([10, 11]), **kwargs)
    assert text in str(e.value) and str(e.value).startswith("InvalidVector: ")


def test_decode_null_id_and_unchecked_values():
    with pytest.raises(InvalidVector, match="null qid or vector in vectors at row 1 \\(null id\\)"):
        vectors.decode(_list([[1.0], [2.0]]), ids=pa.array([1, None]))
    # corpus scans run only the structural checks
    assert np.isnan(vectors.decode(_list([[float("nan")]]))).all()
