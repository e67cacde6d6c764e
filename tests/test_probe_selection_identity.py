"""Probe-selection identity across execution paths (r7).

The auto-router's contract is that driver-stream and bulk plans admit the
SAME clusters per query.  f32 BLAS centroid scores differ in the last ulp
with matrix shape, and a 1-ulp flip at the nprobe boundary admits a
different cluster on one path (caught live by the quiet 300k probe: 108
mismatched result rows).  engine._coarse_scores computes selection scores
in f64 rounded to f32, making the choice shape-independent; these tests
pin that the three probe implementations agree under adversarial
chunkings and near-tie centroids."""

import numpy as np
import pyarrow as pa
import pytest

from duckdb_faiss_ext_spark import FaissSparkEngine


@pytest.fixture()
def eng(spark):
    e = FaissSparkEngine(spark)
    yield e
    for name in e.list_indexes():
        e.destroy(name)


def _mk_index(spark, eng, n=4000, dim=16, nlist=32, seed=5):
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)],
        "label bigint, vector array<float>",
    )
    eng.create("psel", dim, f"IDMap,IVF{nlist},Flat", metric_type="INNER_PRODUCT")
    eng.add("psel", df)
    return eng.registry.get("psel"), x


def test_three_probe_paths_agree_under_chunking(spark, eng):
    idx, x = _mk_index(spark, eng)
    rng = np.random.default_rng(11)
    q = rng.standard_normal((256, 16)).astype(np.float32)
    nprobe = 4
    mask_fn = eng._probe_mask_fn(idx, nprobe)
    ids_fn = eng._probe_ids_fn(idx, nprobe)
    full_mask = mask_fn(np.arange(len(q)), q)
    full_ids = ids_fn(np.arange(len(q)), q)
    # chunked driver calls (different BLAS shapes) must agree with full
    for lo, hi in [(0, 1), (1, 7), (7, 256), (100, 101)]:
        np.testing.assert_array_equal(
            mask_fn(np.arange(hi - lo), q[lo:hi]), full_mask[lo:hi]
        )
        np.testing.assert_array_equal(
            ids_fn(np.arange(hi - lo), q[lo:hi]), full_ids[lo:hi]
        )
    # executor-side explode udf (Arrow path) must agree with the driver fns
    inner = eng._probe_clusters_arrow(idx, nprobe).func
    udf_ids = inner(
        pa.array(np.arange(len(q))), pa.array([r.tolist() for r in q], pa.list_(pa.float32()))
    ).to_pylist()
    for i in range(len(q)):
        assert sorted(udf_ids[i]) == sorted(full_ids[i].tolist())


def test_probe_choice_stable_on_near_tie_centroids(spark, eng):
    """Centroids engineered so many queries sit near the nprobe boundary:
    selection must still be chunking-independent."""
    idx, _ = _mk_index(spark, eng, seed=7)
    # queries ON the perpendicular bisector region of centroid pairs:
    # midpoints of all centroid pairs are maximal near-tie stress
    c = idx.centroids
    mids = ((c[:16] + c[16:32]) / 2.0).astype(np.float32)
    jitter = np.float32(1e-7) * np.arange(len(mids), dtype=np.float32)[:, None]
    q = mids + jitter
    ids_fn = eng._probe_ids_fn(idx, 3)
    full = ids_fn(np.arange(len(q)), q)
    for lo, hi in [(0, 1), (3, 5), (5, 16)]:
        np.testing.assert_array_equal(
            ids_fn(np.arange(hi - lo), q[lo:hi]), full[lo:hi]
        )
