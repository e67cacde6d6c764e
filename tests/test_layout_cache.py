"""The IVF add's layout cache is skipped above ``layout_cache_max_bytes``
(the persist would sit on top of the range shuffle's files).  Where the
add knows its row count, the size it gates on is exact: rows x (payload +
label and cluster id), not Catalyst's plan estimate, which for a frame
built from local rows is "unknown" and would always keep the cache."""

from conftest import gen_vectors
from duckdb_faiss_ext_spark.engine import FaissSparkEngine

N, D = 400, 8


def test_unlabeled_add_gates_the_layout_cache_on_its_exact_size(spark, monkeypatch):
    x = gen_vectors(N, D)
    df = spark.createDataFrame([([float(v) for v in r],) for r in x], "vector array<float>")
    size = N * (4 * D + 12)  # float32 payload, bigint label, int cluster id
    cached = []
    layout = FaissSparkEngine._cluster_layout

    def spy(frame):
        cached.append(frame.is_cached)
        return layout(frame)

    monkeypatch.setattr(FaissSparkEngine, "_cluster_layout", staticmethod(spy))
    eng = FaissSparkEngine(spark)
    for cap in (size - 1, size):
        eng.create("lc", D, "IVF4,Flat", metric_type="L2", params={"layout_cache_max_bytes": cap})
        cached.append("add")
        eng.add("lc", df)
        assert eng.registry.get("lc").count == N
        eng.destroy("lc")
    # the first layout of each add: skipped one byte over the cap, kept at it
    firsts = [cached[i + 1] for i, v in enumerate(cached) if v == "add"]
    assert firsts == [False, True]
