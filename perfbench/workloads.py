"""The benchmark's workloads, driven through the package's public API.

Each workload generates its inputs from the run's seed, writes them to
parquet, and then calls ``FaissSparkEngine`` or ``operators.dedup`` on the
files only.  Every call runs under a ``Tracer`` span named after the layer
it exercises, and every result is checked against numpy ground truth; a call
that raises or fails its check counts as failed.

Sizes are set so that one run (session start, set-up and the timed loop)
takes about a minute on a 4-core box: per-call Spark overhead, not
data volume, dominates every call at these sizes, as it does for the
interactive uses the workloads stand for.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from gen import corpus_and_queries, docs, l2_topk, write_docs, write_vectors
from tracing import descendants, tree_cpu_s

from duckdb_faiss_ext_spark.errors import IndexNotFound

K = 10


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, or None
    when that percentile would not lie above the median (fewer than 21
    samples)."""
    n = len(values)
    if n <= 20:
        return {"value": None, "percentile": None, "samples": n}
    v = sorted(values)
    return {"value": v[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


class Ctx:
    """One run's session, engine, tracer and failure count."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, jvm_pid: int):
        from duckdb_faiss_ext_spark import FaissSparkEngine

        self.spark = spark
        self.jvm_pid = jvm_pid
        self.eng = FaissSparkEngine(spark)
        self.tracer = tracer
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_calls = 0  # calls made before the timed loop
        self.last_wall = 0.0
        self.last_cpu = 0.0

    def tree_cpu(self) -> float:
        return tree_cpu_s([os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)])

    def call(self, span: str, fn, check=None):
        """Run ``fn`` under ``span``; count it attempted, and failed if it
        raises or ``check(result)`` returns a complaint.  The check runs
        after the span closes, so ``last_wall`` and ``last_cpu`` (CPU
        seconds of this Python process, the JVM and its workers) cover the call
        alone."""
        self.attempted += 1
        cpu0 = self.tree_cpu()
        try:
            with self.tracer.span(span):
                res = fn()
        except Exception as e:  # any failure of the program under test
            self.failed += 1
            self.problems.append(f"{span}: {type(e).__name__}: {e}"[:400])
            return None
        finally:
            self.last_wall = self.tracer.spans[-1]["wall_s"]
            self.last_cpu = self.tree_cpu() - cpu0
        bad = check(res) if check is not None else None
        if bad:
            self.failed += 1
            self.problems.append(f"{span}: {bad}"[:400])
        return res

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


# ------------------------------------------------------------ checks


class Truth:
    """Ground truth for one corpus: label -> row, and exact top-k."""

    def __init__(self, labels: np.ndarray, x: np.ndarray):
        self.labels = labels
        self.x = x
        self.row = {int(l): i for i, l in enumerate(labels)}

    def exact(self, q: np.ndarray, mask: np.ndarray | None = None):
        rows = np.arange(len(self.x)) if mask is None else np.flatnonzero(mask)
        idx, dist = l2_topk(q, self.x[rows], K)
        return self.labels[rows[idx]], dist


def hits_by_qid(rows) -> dict:
    """(qid, rank, label, distance) rows -> {qid: [(rank, label, dist)]}."""
    out: dict = {}
    for qid, rank, label, dist in rows:
        out.setdefault(int(qid), []).append((int(rank), int(label), float(dist)))
    return {q: sorted(v) for q, v in out.items()}


def check_hits(
    rows,
    qids: np.ndarray,
    q: np.ndarray,
    truth: Truth,
    top: tuple,
    exact: bool,
    allowed: np.ndarray | None = None,
) -> tuple[str | None, float]:
    """The output checks shared by every search: each query gets ``K``
    rows, ranks 0..K-1, labels from the corpus (and the allowed set, when
    filtered), distances equal to the true squared L2 of the returned label
    and non-decreasing.  ``top`` is numpy's (labels, distances) top-k; when
    ``exact``, the returned distances must equal its distances, which
    accepts any order among tied labels.  Returns (complaint or None,
    recall@K against ``top``)."""
    got = hits_by_qid(rows)
    if set(got) != set(int(v) for v in qids):
        return f"answered qids {sorted(got)[:5]}.. != asked {sorted(qids)[:5]}..", 0.0
    recall = 0.0
    for i, qid in enumerate(qids):
        h = got[int(qid)]
        if [r for r, _, _ in h] != list(range(K)):
            return f"qid {qid}: ranks {[r for r, _, _ in h]}", 0.0
        labels = [l for _, l, _ in h]
        dist = np.array([d for _, _, d in h])
        if any(l not in truth.row for l in labels):
            return f"qid {qid}: label not in corpus", 0.0
        if allowed is not None and not all(allowed[truth.row[l]] for l in labels):
            return f"qid {qid}: label outside the filter", 0.0
        if np.any(np.diff(dist) < 0):
            return f"qid {qid}: distances decrease", 0.0
        xr = truth.x[[truth.row[l] for l in labels]].astype(np.float64)
        true_d = ((xr - q[i].astype(np.float64)) ** 2).sum(1)
        tol = 1e-4 * max(1.0, float(true_d.max()))
        if not np.allclose(dist, true_d, rtol=1e-4, atol=tol):
            return f"qid {qid}: distance != L2 of returned label", 0.0
        if exact and not np.allclose(dist, top[1][i], rtol=1e-4, atol=tol):
            return f"qid {qid}: not the exact top-{K}", 0.0
        recall += len(set(labels) & set(top[0][i].tolist())) / K
    return None, recall / len(qids)


def flat_rows(df) -> list:
    return [(r["qid"], r["rank"], r["label"], r["distance"]) for r in df.collect()]


def list_rows(df) -> list:
    return [
        (r["qid"], h["rank"], h["label"], h["distance"])
        for r in df.collect()
        for h in r["result"]
    ]


# ------------------------------------------------------------ shared set-up


def read_queries(ctx: Ctx, path: str, lo: int, hi: int):
    """Queries ``lo`` <= qid < ``hi`` from the query file."""
    df = ctx.spark.read.parquet(path)
    return df.where((df.qid >= lo) & (df.qid < hi))


# ------------------------------------------------------------ offline_batch


BUILD = dict(n=20_000, d=64, centers=64, nlist=64, nq=1_000, nprobe=16)
DEDUP = dict(n=1_500, d=64, vocab=5_000, zipf_s=1.1, dup_frac=0.1)
# the warm-up job's inputs: the same shapes and calls, less data
BUILD_WARMUP = dict(BUILD, n=4_000, nq=100)
DEDUP_WARMUP = dict(DEDUP, n=300)
# one warmed job's wall seconds on a 4-core machine, for ``unit_count``
JOB_NOMINAL_S = 12.5


class BuildJob:
    """Create + add an ``IDMap,IVF`` index over the whole corpus,
    bulk-search every query on the executor-side grouped join, save,
    destroy, load, and answer one query from the loaded index."""

    def __init__(self, ctx: Ctx, p: dict, tag: str):
        self.p, self.ctx, self.tag = p, ctx, tag
        self.corpus, self.queries = ctx.path(f"{tag}corpus.parquet"), ctx.path(f"{tag}queries.parquet")
        cs, self.q = corpus_and_queries(ctx.rng, p["n"], p["d"], p["nq"] + 1, p["centers"])
        write_vectors(self.corpus, cs.labels, cs.x, "label", "vector")
        self.qids = np.arange(p["nq"] + 1, dtype=np.int64)
        write_vectors(self.queries, self.qids, self.q, "qid", "vector")
        self.truth = Truth(cs.labels, cs.x)
        self.top = self.truth.exact(self.q)
        self.raw_bytes = p["n"] * (8 + 4 * p["d"])
        self.builds, self.bulks, self.reloads, self.recalls, self.stored = [], [], [], [], []

    def check(self, rows, lo: int, hi: int) -> str | None:
        bad, recall = check_hits(
            rows, self.qids[lo:hi], self.q[lo:hi], self.truth,
            (self.top[0][lo:hi], self.top[1][lo:hi]), False,
        )
        if hi - lo > 1:
            self.recalls.append(recall)
        return bad

    def run(self, i: int) -> tuple[float, float]:
        """Wall and CPU seconds of one job."""
        ctx, p, nq = self.ctx, self.p, self.p["nq"]
        name, saved = f"{self.tag}build{i}", ctx.path(f"{self.tag}saved{i}")
        cpu = 0.0
        params = {"nprobe": p["nprobe"]}

        def build():
            ctx.eng.create(name, p["d"], f"IDMap,IVF{p['nlist']}", "L2")
            ctx.eng.add(name, ctx.spark.read.parquet(self.corpus))

        ctx.call("engine.add", build)
        self.builds.append(ctx.last_wall)
        cpu += ctx.last_cpu
        bulk_q = read_queries(ctx, self.queries, 0, nq)
        ctx.call(
            "engine.search_flat.bulk",
            lambda: flat_rows(ctx.eng.search_flat(name, K, bulk_q, params={**params, "bulk_queries": 1})),
            lambda rows: self.check(rows, 0, nq),
        )
        self.bulks.append(ctx.last_wall)
        cpu += ctx.last_cpu
        ctx.call("engine.save", lambda: ctx.eng.save(name, saved))
        reload, cpu = ctx.last_wall, cpu + ctx.last_cpu
        ctx.tracer.spans[-1]["attrs"] = {"bytes_written": dir_bytes(saved)}
        self.stored.append(dir_bytes(saved) / self.raw_bytes)
        one_q = read_queries(ctx, self.queries, nq, nq + 1)
        for span, fn, check in (
            ("engine.destroy", lambda: ctx.eng.destroy(name), None),
            ("engine.load", lambda: ctx.eng.load(name, saved), None),
            (
                "engine.search_flat.ivf",
                lambda: flat_rows(ctx.eng.search_flat(name, K, one_q, params=params)),
                lambda rows: self.check(rows, nq, nq + 1),
            ),
        ):
            ctx.call(span, fn, check)
            reload, cpu = reload + ctx.last_wall, cpu + ctx.last_cpu
        self.reloads.append(reload)
        try:
            ctx.eng.destroy(name)
        except IndexNotFound:  # load failed, so there is nothing to drop
            pass
        shutil.rmtree(saved, ignore_errors=True)
        return self.builds[-1] + self.bulks[-1] + self.reloads[-1], cpu


class DedupJob:
    """The five stages of ``examples/dedup_pipeline.run_pipeline``, called
    one by one with its parameters."""

    def __init__(self, ctx: Ctx, p: dict, tag: str):
        self.p, self.ctx = p, ctx
        self.files = ctx.path(f"{tag}docs.parquet"), ctx.path(f"{tag}emb.parquet")
        self.ds = docs(ctx.rng, p["n"], p["d"], p["vocab"], p["zipf_s"], p["dup_frac"])
        write_docs(*self.files, self.ds)
        self.inputs = set(self.ds.doc_ids.tolist())
        self.passes, self.recalls, self.precisions, self.ratios = [], [], [], []

    def survivors_check(self, ids) -> str | None:
        if len(ids) != len(set(ids)):
            return "duplicate survivor ids"
        if not set(ids) <= self.inputs:
            return "survivor ids outside the input"
        removed = self.inputs - set(ids)
        hit = len(removed & self.ds.planted)
        self.recalls.append(hit / len(self.ds.planted))
        self.precisions.append(hit / len(removed) if removed else 0.0)
        return None

    def run(self) -> tuple[float, float]:
        """Wall and CPU seconds of one pass."""
        import pyspark.sql.functions as F

        from duckdb_faiss_ext_spark.operators.dedup import (
            cosine_lsh_pairs,
            exact_dedup,
            jaccard_verify_pairs,
            minhash_lsh_pairs,
            neardup_survivors,
        )

        ctx, p = self.ctx, self.p
        docs0 = ctx.spark.read.parquet(self.files[0])
        emb = ctx.spark.read.parquet(self.files[1])
        st: dict = {}
        cached: list = []

        def cache(df):
            cached.append(df.cache())
            return cached[-1]

        def stage_exact():
            st["docs"] = cache(exact_dedup(docs0, "doc_id", "text"))
            st["docs"].count()

        def stage_lsh():
            cand = minhash_lsh_pairs(
                st["docs"], "doc_id", "text", 4, 2, shingle_n=3, max_bucket=256,
                cap_stats={}, cap_mode="refine",
            )
            st["cand"] = cache(cand.select("id_a", "id_b").distinct())
            st["n_cand"] = st["cand"].count()

        def stage_verify():
            st["ver"] = cache(
                jaccard_verify_pairs(st["docs"], st["cand"], "doc_id", "text", n=3, threshold=0.8)
            )
            st["n_ver"] = st["ver"].count()

        def stage_semantic():
            st["sem"] = cache(
                cosine_lsh_pairs(
                    emb.withColumnRenamed("vec_id", "doc_id"), "doc_id", "embedding", p["d"],
                    threshold=0.95, n_planes=24, n_bands=4, max_bucket=256, cap_stats={},
                ).select(F.col("id_a"), F.col("id_b"))
            )
            st["sem"].count()

        def stage_survivors():
            pairs = st["ver"].select("id_a", "id_b").union(st["sem"]).distinct()
            clean = neardup_survivors(st["docs"], pairs, "doc_id", max_degree=16)
            return [int(r[0]) for r in clean.select("doc_id").collect()]

        wall = cpu = 0.0
        for span, fn, check in (
            ("exact_dedup", stage_exact, None),
            ("minhash_lsh_pairs", stage_lsh, None),
            ("jaccard_verify_pairs", stage_verify, None),
            ("cosine_lsh_pairs", stage_semantic, None),
            ("neardup_survivors", stage_survivors, self.survivors_check),
        ):
            ctx.call("operators.dedup." + span, fn, check)
            wall, cpu = wall + ctx.last_wall, cpu + ctx.last_cpu
        for df in cached:
            df.unpersist()
        self.passes.append(wall)
        if st.get("n_ver"):
            self.ratios.append(st["n_cand"] / st["n_ver"])
        return wall, cpu


def mean(values: list) -> float:
    return float(np.mean(values)) if values else 0.0


def unit_count(seconds: float, nominal_s: float, at_least: int) -> int:
    """How many timed units a loop of ``seconds`` runs: as many as fit at
    the unit's nominal time on a 4-core machine, and at least
    ``at_least``.  The count does not depend on how fast this run goes,
    so a slow run measures the same units as a fast one; a loop that
    stopped on the clock measured fewer, earlier (less warmed) units when
    the host was busy."""
    return max(at_least, round(seconds / nominal_s))


def job(build: BuildJob, dedup: DedupJob) -> tuple[float, float]:
    """Wall and CPU seconds of one offline job: build, bulk search and
    reload, then a dedup pass."""
    (bw, bc), (dw, dc) = build.run(len(build.builds)), dedup.run()
    return bw + dw, bc + dc


def offline_batch(ctx: Ctx) -> dict:
    """The offline jobs of a corpus owner, one after the other: the IVF
    index build, bulk search and reload (``BuildJob``), then the text dedup
    pipeline (``DedupJob``).  Set-up ends with one untimed warm-up job on
    smaller inputs of the same shapes, which pays the session's first-use
    costs (Python worker start, code generation, most of the JIT) at a
    fraction of a full job's time.  ``unit_count`` timed jobs follow.
    Each repetition's times are kept, warm-up included, so drift within a
    session shows."""
    build, dedup = BuildJob(ctx, BUILD, ""), DedupJob(ctx, DEDUP, "")
    warmup = job(BuildJob(ctx, BUILD_WARMUP, "warmup-"), DedupJob(ctx, DEDUP_WARMUP, "warmup-"))
    setup_done = time.perf_counter()
    ctx.setup_calls = len(ctx.tracer.spans)
    jobs = [job(build, dedup) for _ in range(unit_count(ctx.seconds, JOB_NOMINAL_S, 3))]
    units, cpus = [w for w, _ in jobs], [c for _, c in jobs]
    bulk_qps = build.p["nq"] / statistics.median(build.bulks)
    dedup_rate = dedup.p["n"] / statistics.median(dedup.passes)
    return dict(
        setup_done=setup_done,
        op_p50_s=statistics.median(units),
        cpu_samples=cpus,
        recall=mean(build.recalls),
        corpus_bytes=build.raw_bytes,
        candidates_per_verified=mean(dedup.ratios),
        detail={
            "build_s": (statistics.median(build.builds), "s"),
            "bulk_qps": (bulk_qps, "1/s"),
            "reload_s": (statistics.median(build.reloads), "s"),
            "recall_at_10": (mean(build.recalls), "ratio"),
            "bytes_stored_per_byte": (statistics.median(build.stored), "ratio"),
            "dedup_docs_per_s": (dedup_rate, "1/s"),
            "dedup_recall": (mean(dedup.recalls), "ratio"),
            "dedup_precision": (mean(dedup.precisions), "ratio"),
        },
        repetitions={
            "warmup_job_s": warmup[0],
            "warmup_job_cpu_s": warmup[1],
            "job_s": units,
            "job_cpu_s": cpus,
            "build_s": build.builds,
            "bulk_s": build.bulks,
            "reload_s": build.reloads,
            "dedup_pass_s": dedup.passes,
        },
        sizes={"build": build.p, "dedup": dedup.p, "warmup": {"build": BUILD_WARMUP, "dedup": DEDUP_WARMUP}},
    )


# ------------------------------------------------------------ knn_serve


SERVE = dict(n=10_000, d=384, centers=64, nlist=64, warmup_rounds=1, max_rounds=12)
# one round = one request of each class, in a seeded order
# one warmed round's wall seconds on a 4-core machine, for ``unit_count``
ROUND_NOMINAL_S = 5.0
CLASSES = ("flat", "ivf_np4", "ivf_np16", "filter_1", "filter_50", "list")


def knn_serve(ctx: Ctx) -> dict:
    """Closed loop, one client, against prebuilt Flat and IVF indexes:
    whole rounds of one request per class (seeded order, seeded batch of
    1-48 queries each).  One round runs untimed in set-up, as a warm-up
    that pays each class's first-use cost; ``unit_count`` timed rounds
    follow.  Only the IVF index is warmed with ``engine.warm``: its
    warm-up runs the worker-side search kernels the Flat index uses too."""
    p = SERVE
    rng = ctx.rng
    n_req = p["max_rounds"] * len(CLASSES)
    sizes = rng.integers(1, 49, n_req)
    starts = np.concatenate([[0], np.cumsum(sizes)])
    cs, q = corpus_and_queries(rng, p["n"], p["d"], int(starts[-1]), p["centers"])
    bucket = rng.permutation(p["n"]) % 100
    order = [rng.permutation(len(CLASSES)) for _ in range(p["max_rounds"])]
    write_vectors(ctx.path("corpus.parquet"), cs.labels, cs.x, "label", "vector")
    write_vectors(ctx.path("queries.parquet"), np.arange(len(q), dtype=np.int64), q, "qid", "vector")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"label": cs.labels, "bucket": bucket.astype(np.int32)}), ctx.path("meta.parquet")
    )
    truth = Truth(cs.labels, cs.x)
    ctx.spark.read.parquet(ctx.path("meta.parquet")).createOrReplaceTempView("meta")
    corpus = lambda: ctx.spark.read.parquet(ctx.path("corpus.parquet"))  # noqa: E731
    for name, factory in (("flat", "IDMap,Flat"), ("ivf", f"IDMap,IVF{p['nlist']}")):
        ctx.call(
            "engine.add",
            lambda name=name, factory=factory: (
                ctx.eng.create(name, p["d"], factory, "L2"),
                ctx.eng.add(name, corpus()),
            ),
        )
    ctx.call("engine.warm", lambda: ctx.eng.warm("ivf", K))

    def request(cls: str, qdf):
        """(span, call, must the answer be exact)"""
        if cls == "flat":
            return "engine.search_flat.flat", lambda: flat_rows(ctx.eng.search_flat("flat", K, qdf)), True
        if cls == "list":
            return "engine.search", lambda: list_rows(ctx.eng.search("flat", K, qdf)), True
        if cls.startswith("ivf_np"):
            params = {"nprobe": int(cls[len("ivf_np") :])}
            return (
                "engine.search_flat.ivf",
                lambda: flat_rows(ctx.eng.search_flat("ivf", K, qdf, params=params)),
                False,
            )
        sel = int(cls[len("filter_") :])
        return (
            "engine.search_filter",
            lambda: list_rows(ctx.eng.search_filter("flat", K, qdf, f"bucket < {sel}", "label", "meta")),
            True,
        )

    # every request's ground truth, computed before the first is sent so
    # that no numpy work runs between timed requests
    n_rounds = min(unit_count(ctx.seconds, ROUND_NOMINAL_S, 2), p["max_rounds"] - p["warmup_rounds"])
    plan = []
    for r in range(p["warmup_rounds"] + n_rounds):
        for c in order[r]:
            cls, lo, hi = CLASSES[c], int(starts[len(plan)]), int(starts[len(plan) + 1])
            mask = bucket < int(cls[len("filter_") :]) if cls.startswith("filter_") else None
            plan.append((cls, lo, hi, mask, truth.exact(q[lo:hi], mask)))
    recalls: list = []

    def one_round(r: int):
        """Wall seconds of round ``r``'s requests, and their (class, wall,
        CPU) samples."""
        samples = []
        for cls, lo, hi, mask, top in plan[r * len(CLASSES) : (r + 1) * len(CLASSES)]:
            qids, qv = np.arange(lo, hi), q[lo:hi]
            span, fn, exact = request(cls, read_queries(ctx, ctx.path("queries.parquet"), lo, hi))

            def check(rows):
                bad, recall = check_hits(rows, qids, qv, truth, top, exact, mask)
                if not exact:
                    recalls.append(recall)
                return bad

            ctx.call(span, fn, check)
            samples.append((cls, ctx.last_wall, ctx.last_cpu))
        return sum(w for _, w, _ in samples), samples

    warmup = [one_round(r) for r in range(p["warmup_rounds"])]
    recalls.clear()
    setup_done = time.perf_counter()
    ctx.setup_calls = len(ctx.tracer.spans)
    rounds = [one_round(p["warmup_rounds"] + r) for r in range(n_rounds)]
    lat: dict = {c: [] for c in CLASSES}
    cpus = []
    for _, samples in rounds:
        for cls, wall, cpu in samples:
            lat[cls].append(wall)
            cpus.append(cpu)
    all_lat = [v for c in CLASSES for v in lat[c]]
    t = tail(all_lat)
    return dict(
        setup_done=setup_done,
        # each class's median, averaged over the classes: half the requests
        # are of the three fast classes, so the median of all requests fell
        # in the gap between two clusters and jumped between them
        op_p50_s=mean([statistics.median(lat[c]) for c in CLASSES]),
        cpu_samples=cpus,
        recall=mean(recalls),
        corpus_bytes=p["n"] * (8 + 4 * p["d"]),
        detail={
            "warmup_request_s": (statistics.median([w for _, s in warmup for _, w, _ in s]), "s"),
            "search_p50_s": (statistics.median(all_lat), "s"),
            "search_tail_s": (t["value"], "s"),
            "recall_at_10": (mean(recalls), "ratio"),
        },
        tail=t,
        repetitions={
            "warmup_request_s": [w for _, s in warmup for _, w, _ in s],
            "round_s": [w for w, _ in rounds],
            **{c: lat[c] for c in CLASSES},
            "request_cpu_s": cpus,
        },
        sizes=p,
    )


WORKLOADS = {"offline_batch": offline_batch, "knn_serve": knn_serve}
