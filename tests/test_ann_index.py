"""Stored IVF index (operators/ann_index.py): serving from the
cell-partitioned on-disk table equals brute force at full probe and
the DuckDB oracle of the suite's IVF branches, probes prune unprobed
cell directories (DPP), and the frozen-centroid
incremental append is correct (full-probe equals brute force over the
grown corpus; appended vectors are retrievable at nprobe=1) and
surgical (only landed-in cells gain files)."""

from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from retail_datawarehouse_spark.operators.ann_index import (
    append_to_ivf_index,
    query_ivf_index,
    store_ivf_index,
)
from retail_datawarehouse_spark.operators.similarity import (
    IVF_CELLS,
    IVF_NPROBE,
    _nearest_cell,
)
from tests.builders import ann_vectors as _fixture


def _rows(df):
    return sorted(
        (r.query_id, r.candidate_id, r.cosine, r.rank) for r in df.collect()
    )


def _oracle_rows(sf_dir, sql):
    """A suite branch's DuckDB oracle rows, in ``_rows`` form."""
    from tests.oracle import duck_connection

    return sorted(duck_connection(sf_dir).execute(sql).fetchall())


def _scanned_panel(spark, cells_path):
    """The health panel computed independently of the engine's footer
    reader: one Spark scan of the cells table, rows counted per cell
    and files counted by ``input_file_name`` (projected below the
    aggregate: Spark rejects the non-deterministic expression as an
    aggregate argument, but a Project may hold it)."""
    cells = spark.read.parquet(cells_path).select(
        "cell", F.input_file_name().alias("_file")
    )
    return cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_file").alias("n_files"),
    )


def _brute_force(corpus, queries):
    from pyspark.sql import Window

    from retail_datawarehouse_spark.operators.similarity import (
        TOP_K,
        cosine_from_norms,
        norm2_col,
    )

    scored = (
        corpus.withColumnRenamed("id", "candidate_id")
        .withColumnRenamed("emb", "c_emb")
        .withColumn("c_n2", norm2_col("c_emb"))
        .crossJoin(
            F.broadcast(
                queries.withColumnRenamed("id", "query_id")
                .withColumnRenamed("emb", "q_emb")
                .withColumn("q_n2", norm2_col("q_emb"))
            )
        )
        .withColumn(
            "cosine", cosine_from_norms("q_emb", "c_emb", "q_n2", "c_n2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "candidate_id", "cosine", "rank")
    )


def test_stored_fixture_index_serves_the_ivf_oracle(
    spark, sf_correctness_dir, tmp_path
):
    """cells='fixture' is the oracle-mirrored mode: its float tier at
    nprobe=4 serves exactly the rows of the suite's 'ivf' DuckDB
    oracle, the SQL mirror of the seeded one-iteration Lloyd build (it
    is no longer the default — the default is the √N auto rule; r6
    verdict #5 / ADVICE r6)."""
    from retail_datawarehouse_spark.operators.similarity import _ANN_IVF_SQL

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf")
    store_ivf_index(corpus, idx, cells="fixture")
    got = query_ivf_index(queries, idx, nprobe=IVF_NPROBE)
    assert _rows(got) == _oracle_rows(sf_correctness_dir, _ANN_IVF_SQL)
    # the index landed as one directory per cell — the inverted file
    # IS the partitioning
    cells = glob.glob(f"{idx}/cells/cell=*")
    assert len(cells) == IVF_CELLS


def test_auto_cells_follow_sqrt_rule_and_full_probe_is_exact(
    spark, sf_correctness_dir, tmp_path
):
    """The DEFAULT build derives k = max(4, ceil(√N)) in-plan and
    seeds id-layout-free (hash threshold + bounded window); full probe
    over the auto index reproduces brute force exactly — exactness is
    cell-count-independent."""
    import math

    corpus, queries = _fixture(spark, sf_correctness_dir)
    n = corpus.count()
    expect = max(4, math.isqrt(n - 1) + 1 if n > 1 else 4)
    idx = str(tmp_path / "ivf_auto")
    store_ivf_index(corpus, idx)
    dirs = glob.glob(f"{idx}/cells/cell=*")
    assert len(dirs) == expect, (len(dirs), expect, n)
    got = query_ivf_index(queries, idx, nprobe=len(dirs))
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_routed_probe_symmetry_restores_planted_rank1_recall(
    spark, sf_correctness_dir, tmp_path
):
    """r8 (closing the r7 verdict-#5 measurement): the auto build's
    two-level ROUTED assignment must be probed through the SAME
    quantizer. A scale-invariant copy (0.5× a corpus vector — cosine
    exactly 1) has the identical cosine preference order as its
    parent, so under symmetric routing the parent's assigned cell IS
    the copy's top-1 probe — rank-1 self-retrieval at nprobe=1 must be
    PERFECT on every planted probe. Probing the same routed assignment
    with a flat ranking breaks this (measured 0.85 at 20×/K=200 before
    the fix). Also pins that the centroid sidecar actually carries the
    routing (``_coarse``) and that appends route through it too (an
    appended copy is retrievable exactly like a base one)."""
    from pyspark.sql import functions as F

    from retail_datawarehouse_spark.operators.ann_index import (
        append_to_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_auto_sym")
    store_ivf_index(corpus, idx)
    cents = spark.read.parquet(f"{idx}/centroids")
    assert "_coarse" in cents.columns  # the quantizer ships its routing
    parents = corpus.filter(F.col("id") % 7 == 0)
    n_planted = parents.count()
    assert n_planted >= 10
    probes = parents.select(
        "id", F.transform("emb", lambda x: x * F.lit(0.5)).alias("emb")
    )
    got = query_ivf_index(probes, idx, nprobe=1)
    hits = got.filter(
        (F.col("rank") == 1) & (F.col("candidate_id") == F.col("query_id"))
    ).count()
    assert hits == n_planted, (hits, n_planted)
    # appended vectors go through the same routed quantizer: a copy of
    # an APPENDED vector is retrievable at rank 1 the same way
    appended = parents.select(
        (F.col("id") + 10_000_000).alias("id"),
        F.transform("emb", lambda x: x * F.lit(2.0)).alias("emb"),
    )
    append_to_ivf_index(appended, idx)
    probe2 = appended.select(
        "id", F.transform("emb", lambda x: x * F.lit(0.25)).alias("emb")
    )
    got2 = query_ivf_index(probe2, idx, nprobe=1)
    # rank-1 may be the appended vector OR its equally-directed base
    # parent (cosine 1 with both); accept either id of the colinear
    # pair — what must NOT happen is a miss into an unrouted cell
    hits2 = got2.filter(
        (F.col("rank") == 1)
        & (
            (F.col("candidate_id") == F.col("query_id"))
            | (F.col("candidate_id") == F.col("query_id") - 10_000_000)
        )
    ).count()
    assert hits2 == n_planted, (hits2, n_planted)


import pytest as _pytest


@_pytest.mark.skipif(
    "SPARK_GRAFT_SCALEUP" not in __import__("os").environ,
    reason="20x routed-recall proof is opt-in: SPARK_GRAFT_SCALEUP=1",
)
def test_auto_build_planted_recall_at_20x(spark, tmp_path):
    """r7 verdict #5 at the scale it asked for: over the 20x synthetic
    corpus (N≈40k, auto K≈200), near-copies planted against the
    ROUTED auto-built stored index are retrieved at rank 1 at
    nprobe=4. Scale-invariant copies must hit PERFECTLY (symmetric
    routing makes the parent's cell the copy's top-1 probe — the r8
    fix; flat probes over the routed assignment measured 0.846
    before it). Perturbed copies (one coordinate ×1.5, cosine ≈ 0.99)
    exercise real boundary behavior and get a floor."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.scale_probe import generate

    from retail_datawarehouse_spark.operators.similarity import N_QUERIES
    from retail_datawarehouse_spark.sources.readers import load_table

    out = str(tmp_path / "scale20")
    generate(20, out)
    emb = load_table(spark, out, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    idx = str(tmp_path / "idx20")
    store_ivf_index(corpus, idx)
    parents = corpus.filter(F.col("id") % 1009 == 0).limit(50).persist()
    n = parents.count()
    scaled = parents.select(
        "id", F.transform("emb", lambda x: x * F.lit(0.5)).alias("emb")
    )
    perturbed = parents.select(
        "id",
        F.transform(
            "emb",
            lambda x, i: F.when(
                i == (F.col("id") % F.size("emb")).cast("int"), x * F.lit(1.5)
            ).otherwise(x),
        ).alias("emb"),
    )

    def rank1(probes):
        got = query_ivf_index(probes, idx, nprobe=4)
        return (
            got.filter(
                (F.col("rank") == 1)
                & (F.col("candidate_id") == F.col("query_id"))
            ).count()
            / n
        )

    assert rank1(scaled) == 1.0
    assert rank1(perturbed) >= 0.9
    parents.unpersist()


@_pytest.mark.skipif(
    "SPARK_GRAFT_SCALEUP" not in __import__("os").environ,
    reason="50x residual-index scaling proof is opt-in: SPARK_GRAFT_SCALEUP=1",
)
def test_residual_index_build_and_query_scaling_at_50x(spark, tmp_path):
    """The r9 one-shot 50× probe (BASELINE.md round-9 table) promoted
    to a mechanical regression gate (r9 verdict next-round #6): build
    the DEFAULT residual IVFPQ index at 20× and 50× and assert

    - planted rank-1 recall 1.0 on PURE ADC at nprobe=4 at 50× (the
      near-dup candidate-generation contract through the compressed
      tier at ~100k vectors, zero rerank);
    - store wall ratio ≤ 6.0 for 2.5× data (measured 3.7× — the N·√K
      routing model; a quadratic term would read ≥ 6.25);
    - query wave wall ratio ≤ 2.0 at the default operating point
      (nprobe=K/8, R=64; measured 1.18× — probed rows grow as
      N·nprobe/K and fixed wave overheads dominate).

    Ratio bounds leave box-noise headroom over the measured values but
    sit below the next-worse complexity class, so a scaling regression
    (a corpus-length term creeping into the probe path, routing
    falling back to flat assignment) trips the gate mechanically."""
    import math
    import os
    import sys
    import time as _time

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.scale_probe import generate

    from retail_datawarehouse_spark.operators.similarity import N_QUERIES
    from retail_datawarehouse_spark.sources.readers import load_table

    walls = {}
    handles = {}
    for scale in (20, 50):
        out = str(tmp_path / f"scale{scale}")
        generate(scale, out)
        emb = load_table(spark, out, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
        )
        queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
        )
        idx = str(tmp_path / f"idx{scale}")
        t0 = _time.monotonic()
        store_ivf_index(corpus, idx, pq=True)  # auto cells, residual
        store_wall = _time.monotonic() - t0
        k = len(glob.glob(f"{idx}/cells/cell=*"))
        nprobe = max(1, math.ceil(k / 8))
        wave = None
        for _ in range(2):  # min of two waves: shave first-wave warmup
            t0 = _time.monotonic()
            query_ivf_index(
                queries, idx, nprobe=nprobe, pq=True, rerank=64
            ).collect()
            w = _time.monotonic() - t0
            wave = w if wave is None else min(wave, w)
        walls[scale] = (store_wall, wave)
        handles[scale] = (idx, corpus)

    idx50, corpus50 = handles[50]
    parents = corpus50.filter(F.col("id") % 1009 == 0).limit(50).persist()
    n = parents.count()
    scaled = parents.select(
        "id", F.transform("emb", lambda x: x * F.lit(0.5)).alias("emb")
    )
    got = query_ivf_index(scaled, idx50, nprobe=4, pq=True)  # pure ADC
    hits = got.filter(
        (F.col("rank") == 1) & (F.col("candidate_id") == F.col("query_id"))
    ).count()
    parents.unpersist()
    assert hits == n, (hits, n)
    store_ratio = walls[50][0] / walls[20][0]
    query_ratio = walls[50][1] / walls[20][1]
    assert store_ratio <= 6.0, walls
    assert query_ratio <= 2.0, walls


@_pytest.mark.skipif(
    "SPARK_GRAFT_SCALEUP" not in __import__("os").environ,
    reason="pq_k knee + decode-independence proof is opt-in: SPARK_GRAFT_SCALEUP=1",
)
def test_pq_k_recall_knee_and_decode_independence_at_20x(spark, tmp_path):
    """The pq_k dialing rule's two measured claims, pinned mechanically
    (r10; tools/pqk_axis_r10.json): (a) widening the store-time code
    budget 16→64 lifts small-R recall — the knee the rule dials to
    (measured R=16 recall@3 0.633→0.867); (b) query cost is
    pq_k-INDEPENDENT under the position-indexed decode (the old
    filter-scan decode made pq_k=64 waves ~1.8× pq_k=16's — the decode
    tax this gate keeps closed)."""
    import math
    import os
    import sys
    import time as _time

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.ann_operating_curve import _recall, _tops
    from tools.scale_probe import generate

    from retail_datawarehouse_spark.operators.similarity import N_QUERIES
    from retail_datawarehouse_spark.sources.readers import load_table

    out = str(tmp_path / "scale20")
    generate(20, out)
    emb = load_table(spark, out, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    recalls, waves = {}, {}
    for pq_k in (16, 64):
        idx = str(tmp_path / f"idx_pqk{pq_k}")
        store_ivf_index(corpus, idx, pq=True, pq_k=pq_k)
        k = spark.read.parquet(f"{idx}/centroids").count()
        nprobe = max(1, math.ceil(k / 8))
        exact = _tops(query_ivf_index(queries, idx, nprobe=k, pq=False))
        fn = lambda: query_ivf_index(  # noqa: E731
            queries, idx, nprobe=nprobe, pq=True, rerank=16
        )
        recalls[pq_k] = _recall(_tops(fn()), exact)
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = _time.monotonic()
            fn().collect()
            dt = _time.monotonic() - t0
            best = dt if best is None or dt < best else best
        waves[pq_k] = best
    # (a) the knee: the wider codebook must keep buying small-R recall
    assert recalls[64] >= recalls[16] + 0.1, (recalls, waves)
    # (b) decode independence: pq_k=64 waves within noise of pq_k=16's
    # (filter-scan regression would read ~1.8x; bound leaves box room)
    assert waves[64] <= waves[16] * 1.5, (recalls, waves)


def test_probe_prunes_unprobed_cells_in_plan(
    spark, sf_correctness_dir, tmp_path
):
    """The cell equi-join against the partitioned table carries a
    dynamicpruning expression on the scan — unprobed cell directories
    are never opened (the warehouse-fact DPP mechanism, reused by the
    index)."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf")
    store_ivf_index(corpus, idx)
    plan = (
        query_ivf_index(queries, idx, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_frozen_centroid_append_full_probe_equals_brute_force(
    spark, sf_correctness_dir, tmp_path
):
    """Build on corpus minus a holdout, append the holdout against the
    FROZEN centroids, serve at nprobe=K: must equal brute-force exact
    top-k over the WHOLE corpus — full probe is assignment-independent,
    so this passes iff the append lost/duplicated nothing."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    holdout = corpus.filter(F.col("id") % 17 == 0)
    base = corpus.filter(F.col("id") % 17 != 0)
    idx = str(tmp_path / "ivf")
    store_ivf_index(base, idx, cells=IVF_CELLS)
    append_to_ivf_index(holdout, idx)
    got = query_ivf_index(queries, idx, nprobe=IVF_CELLS)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_appended_vectors_are_retrievable_at_nprobe_one(
    spark, sf_correctness_dir, tmp_path
):
    """Assignment/probe consistency: a query identical to an appended
    vector routes (keep=1) to the SAME cell the append assigned it to —
    frozen centroids on both paths — so nprobe=1 must retrieve it at
    rank 1 with the exact self-cosine."""
    corpus, _ = _fixture(spark, sf_correctness_dir)
    holdout = corpus.filter(F.col("id") % 17 == 0)
    base = corpus.filter(F.col("id") % 17 != 0)
    idx = str(tmp_path / "ivf")
    store_ivf_index(base, idx)
    append_to_ivf_index(holdout, idx)
    self_queries = holdout.limit(5)
    got = query_ivf_index(self_queries, idx, nprobe=1)
    top1 = {r.query_id: r for r in got.filter(F.col("rank") == 1).collect()}
    for qid in [r.id for r in self_queries.collect()]:
        assert top1[qid].candidate_id == qid
        assert abs(top1[qid].cosine - 1.0) < 1e-12


def test_append_touches_only_landed_cells(
    spark, sf_correctness_dir, tmp_path
):
    corpus, _ = _fixture(spark, sf_correctness_dir)
    holdout = corpus.filter(F.col("id") % 17 == 0)
    base = corpus.filter(F.col("id") % 17 != 0)
    idx = str(tmp_path / "ivf")
    store_ivf_index(base, idx)
    before = {
        d: len(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{idx}/cells/cell=*")
    }
    append_to_ivf_index(holdout, idx)
    after = {
        d: len(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{idx}/cells/cell=*")
    }
    centroids = spark.read.parquet(f"{idx}/centroids")
    # the expected landing set must come from the SAME quantizer the
    # append uses — the auto index routes (r8 symmetric routing) by the
    # _coarse scalar on its centroid sidecar
    landed = {
        r.cell
        for r in _nearest_cell(
            holdout.withColumn(
                "n2",
                F.expr(
                    "aggregate(emb, cast(0.0 as double), (a, x) -> a + x * x)"
                ),
            ),
            centroids,
            keep=1,
            coarse=F.col("_coarse"),
        ).collect()
    }
    grown = {
        int(d.rsplit("cell=", 1)[1])
        for d in after
        if after[d] > before.get(d, 0)
    }
    assert grown == landed
    untouched = {d for d in before if int(d.rsplit("cell=", 1)[1]) not in landed}
    for d in untouched:
        assert after[d] == before[d]


def test_compaction_collapses_append_files_and_preserves_serving(
    spark, sf_correctness_dir, tmp_path
):
    """r8 index maintenance: repeated appends accrete ≥1 file per
    (append, landed cell); ``compact_ivf_index`` rewrites the table at
    ONE file per cell behind an atomic pointer flip. Pins: (a) stats
    see the accretion, (b) post-compaction every cell is one file with
    row counts unchanged, (c) query results are IDENTICAL pre/post
    (rows, not just counts), (d) the old generation stays on disk and
    readable (in-flight readers), (e) an append AFTER compaction lands
    in the new generation and is served."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_path,
        append_to_ivf_index,
        compact_ivf_index,
        ivf_index_stats,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    thirds = [corpus.filter(F.col("id") % 3 == r) for r in range(3)]
    idx = str(tmp_path / "ivf_compact")
    store_ivf_index(thirds[0], idx, cells=IVF_CELLS)
    append_to_ivf_index(thirds[1], idx)
    append_to_ivf_index(thirds[2], idx)
    before_stats = {
        r.cell: (r.n_rows, r.n_files)
        for r in ivf_index_stats(spark, idx).collect()
    }
    assert any(f > 1 for (_, f) in before_stats.values())  # accretion real
    before_rows = _rows(query_ivf_index(queries, idx, nprobe=IVF_NPROBE))
    old_path = _cells_path(idx)
    compact_ivf_index(spark, idx)
    assert _cells_path(idx) == f"{idx}/gen-1/cells"
    after_stats = {
        r.cell: (r.n_rows, r.n_files)
        for r in ivf_index_stats(spark, idx).collect()
    }
    assert {c: n for c, (n, _) in after_stats.items()} == {
        c: n for c, (n, _) in before_stats.items()
    }
    assert all(f == 1 for (_, f) in after_stats.values())
    assert _rows(query_ivf_index(queries, idx, nprobe=IVF_NPROBE)) == (
        before_rows
    )
    # full-probe exactness survives compaction too
    assert _rows(query_ivf_index(queries, idx, nprobe=IVF_CELLS)) == _rows(
        _brute_force(corpus, queries)
    )
    # old generation stays readable for in-flight readers
    assert spark.read.parquet(old_path).count() == sum(
        n for (n, _) in before_stats.values()
    )
    # appends after compaction land in — and are served from — gen 1
    extra = corpus.limit(1).select(
        (F.col("id") + 5_000_000).alias("id"), "emb"
    )
    append_to_ivf_index(extra, idx)
    assert spark.read.parquet(f"{idx}/gen-1/cells").count() == 1 + sum(
        n for (n, _) in before_stats.values()
    )
    probe = extra.select("id", "emb")
    got = query_ivf_index(probe, idx, nprobe=IVF_CELLS)
    top = [r for r in got.collect() if r.rank == 1]
    # the appended vector copies a base emb — rank 1 is the colinear
    # pair's smaller id (cosine-1 tie, candidate_id tie-break); either
    # id proves the appended row is being served from gen-1
    assert top and top[0].candidate_id in (
        top[0].query_id,
        top[0].query_id - 5_000_000,
    )
    assert any(
        r.candidate_id == r.query_id for r in got.collect() if r.rank <= 2
    )


def test_compaction_preserves_pq_layout_and_rerank(
    spark, sf_correctness_dir, tmp_path
):
    """Compaction on the IVF×PQ layout: the rewrite carries the codes
    and recon_n2 columns byte-for-byte, the codebook sidecar never
    moves, and both serving tiers — ADC-only and the rerank float
    re-read (which joins the shortlist against the CELLS table, i.e.
    the compacted generation) — return identical rows pre/post."""
    from retail_datawarehouse_spark.operators.ann_index import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_index_stats,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    halves = [corpus.filter(F.col("id") % 2 == r) for r in range(2)]
    idx = str(tmp_path / "ivf_pq_compact")
    store_ivf_index(halves[0], idx, cells=IVF_CELLS, pq=True)
    append_to_ivf_index(halves[1], idx)
    before_adc = _rows(
        query_ivf_index(queries, idx, nprobe=IVF_NPROBE, pq=True)
    )
    before_rr = _rows(
        query_ivf_index(queries, idx, nprobe=IVF_NPROBE, pq=True, rerank=16)
    )
    compact_ivf_index(spark, idx)
    assert all(
        r.n_files == 1 for r in ivf_index_stats(spark, idx).collect()
    )
    assert _rows(
        query_ivf_index(queries, idx, nprobe=IVF_NPROBE, pq=True)
    ) == before_adc
    assert _rows(
        query_ivf_index(queries, idx, nprobe=IVF_NPROBE, pq=True, rerank=16)
    ) == before_rr


def test_compaction_crash_before_pointer_flip_leaves_old_serving(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """The commit is the pointer rename and nothing else: a crash
    after the compacted data is fully written but before the flip
    must leave generation 0 serving, byte-for-byte."""
    import os as _os

    from retail_datawarehouse_spark.operators import ann_index as ai

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_crash")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    before = _rows(query_ivf_index(queries, idx, nprobe=IVF_NPROBE))

    real_rename = _os.rename

    def boom(src, dst):
        if dst.endswith("/CURRENT"):
            raise OSError("injected crash before pointer flip")
        return real_rename(src, dst)

    monkeypatch.setattr(ai.os, "rename", boom)
    with pytest.raises(OSError, match="injected crash"):
        ai.compact_ivf_index(spark, idx)
    monkeypatch.undo()
    assert ai._cells_generation(idx) == 0  # old generation serving
    assert _rows(query_ivf_index(queries, idx, nprobe=IVF_NPROBE)) == before
    # and a RETRY completes cleanly on top of the debris
    ai.compact_ivf_index(spark, idx)
    assert ai._cells_generation(idx) in (1, 2)
    assert _rows(query_ivf_index(queries, idx, nprobe=IVF_NPROBE)) == before


def test_custom_cell_count_full_probe_is_exact(
    spark, sf_correctness_dir, tmp_path
):
    """Full-probe exactness is CELL-COUNT-INDEPENDENT: an index built
    at cells=8 (the generalized builder, not the fixture-pinned one)
    must reproduce brute-force top-k exactly at nprobe=8 — cell
    partitions are a complete disjoint cover whatever their count —
    and the layout lands as exactly 8 directories."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf8")
    store_ivf_index(corpus, idx, cells=8)
    assert len(glob.glob(f"{idx}/cells/cell=*")) == 8
    got = query_ivf_index(queries, idx, nprobe=8)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_stored_pq_full_probe_equals_in_memory_pq_scan(
    spark, sf_correctness_dir, tmp_path
):
    """The stored IVF×PQ tier, full probe: store with pq=True over the
    suite corpus, query with pq=True at nprobe=K — must reproduce the
    in-memory full ADC scan (_pq_topk) row-for-row: same hash-sampled
    codebook, same encode, same reconstruction fold; the stored path
    merely reads codes from disk and rebuilds reconstructions from the
    broadcast codebook sidecar. Also pins COMPRESSION: the PQ query's
    scan of the cells table must read codes/recon_n2, never the float
    emb column (parquet column pruning — the 8-bytes-per-vector
    contract)."""
    from retail_datawarehouse_spark.operators.similarity import (
        _ann_corpus,
        _ann_queries,
        _pq_topk,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivfpq")
    store_ivf_index(corpus, idx, cells="fixture", pq=True, pq_mode="raw")
    got = query_ivf_index(queries, idx, nprobe=IVF_CELLS, pq=True)
    emb = load_table(spark, sf_correctness_dir, "embeddings")
    want = _pq_topk(_ann_queries(emb), _ann_corpus(emb))
    assert _rows(got) == _rows(want)
    # column pruning: the cells-table scan in the PQ plan carries no emb
    plan = (
        query_ivf_index(queries, idx, nprobe=2, pq=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    cells_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "codes" in ln
    ]
    assert cells_scans, plan
    for ln in cells_scans:
        read_schema = ln.split("ReadSchema")[-1]
        assert "codes" in read_schema and "emb" not in read_schema, ln
        assert "dynamicpruning" in ln.lower(), ln  # DPP on the PQ scan too


def test_pq_append_encodes_against_frozen_codebook(
    spark, sf_correctness_dir, tmp_path
):
    """FAISS add-after-train for the PQ half: appended vectors must be
    encoded with the codebook FROZEN at store time (trained on the
    base sample), not a retrained one — pinned by recomputing the
    holdout's codes against the stored codebook and comparing
    code-for-code with what the append wrote to disk."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _encode_assigned,
        _with_n2,
    )
    from retail_datawarehouse_spark.operators.similarity import (
        _nearest_cell,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    holdout = corpus.filter(F.col("id") % 17 == 0)
    base = corpus.filter(F.col("id") % 17 != 0)
    idx = str(tmp_path / "ivfpq")
    store_ivf_index(base, idx, cells=IVF_CELLS, pq=True)
    append_to_ivf_index(holdout, idx)
    holdout_ids = {r.id for r in holdout.select("id").collect()}
    stored = {
        r.id: (tuple(r.codes), int(r.cell), r.recon_n2)
        for r in spark.read.parquet(f"{idx}/cells").collect()
        if r.id in holdout_ids
    }
    assert set(stored) == holdout_ids
    packed = spark.read.parquet(f"{idx}/codebook")
    centroids = spark.read.parquet(f"{idx}/centroids")
    expect = {
        r.id: (tuple(r.codes), int(r.cell), r.recon_n2)
        for r in _encode_assigned(
            _nearest_cell(_with_n2(holdout), centroids, keep=1),
            packed,
            centroids,
        ).collect()
    }
    assert stored == expect


def test_drift_flag_triggers_rebuild_and_restores_quantizer_fit(
    spark, sf_correctness_dir, tmp_path
):
    """r6 verdict #8 — compose the drift monitor with the rebuild
    decision the index docstring advertises. The frozen quantizer
    absorbs appends forever; WHEN to retrain is the drift panel's
    call:

    1. A distribution-shifted batch (every value +0.8) fires the
       embedding centroid-shift flag against the stored corpus as
       reference; a same-distribution batch does NOT (threshold 200‰ —
       at a few-hundred-row batch the 50‰ default is within sampling
       noise of the mean, which is a sensitivity choice, not a bug).
    2. The measurable WHY: quantizer fit (cosine between a vector and
       its assigned centroid). Under the frozen base centroids the
       shifted batch fits at ~0.15 — its cells say nothing about it,
       so probes near the drifted region scan junk. Rebuilding on the
       grown corpus (read back from the index's own cells table) gives
       the drifted cluster its own cells: fit ~0.99, while the base
       corpus' fit is unchanged — retraining helped exactly the rows
       the drift flag pointed at."""
    from retail_datawarehouse_spark.operators.ann_index import _with_n2
    from retail_datawarehouse_spark.operators.drift import (
        embedding_centroid_drift,
    )
    from retail_datawarehouse_spark.operators.similarity import (
        _cosine_expr,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_live")
    store_ivf_index(corpus, idx)
    shifted = corpus.filter(F.col("id") % 13 == 0).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.expr("transform(emb, x -> x + 0.8f)").alias("emb"),
    )
    clean = corpus.filter(F.col("id") % 13 == 1).select(
        (F.col("id") + 2_000_000).alias("id"), "emb"
    )

    def tall(df, side):
        return df.select(
            F.lit(side).alias("side"), F.posexplode("emb").alias("p0", "v")
        ).select(
            "side",
            (F.col("p0") + 1).alias("pos"),
            F.floor(F.col("v").cast("double") * 65536).cast("long").alias("q"),
            F.floor(F.col("v").cast("double") * F.col("v").cast("double") * 65536)
            .cast("long")
            .alias("q2"),
        )

    def flag(batch):
        rows = embedding_centroid_drift(
            tall(corpus, 0).unionByName(tall(batch, 1)), thresh_permille=200
        ).collect()
        return {r.key_s: r for r in rows}["flag"].iv

    assert flag(clean) == 0  # no signal -> keep absorbing appends
    assert flag(shifted) == 1  # signal -> rebuild decision fires

    def fit(vectors, index_dir):
        cents = spark.read.parquet(f"{index_dir}/centroids")
        from retail_datawarehouse_spark.operators.similarity import (
            _nearest_cell,
        )

        assigned = _nearest_cell(_with_n2(vectors), cents, keep=1)
        return (
            assigned.join(cents, "cell")
            .agg(
                F.avg(_cosine_expr(F.col("emb"), F.col("centroid"))).alias("f")
            )
            .collect()[0]
            .f
        )

    append_to_ivf_index(shifted, idx)
    fit_batch_frozen = fit(shifted, idx)
    fit_base_frozen = fit(corpus, idx)
    # the flagged rebuild: retrain on the grown corpus, read back from
    # the index's own storage — and commit it IN PLACE as the next
    # atomic generation (r9): the same directory keeps serving the old
    # index until the pointer flips, and the fit() reads below resolve
    # the NEW generation's centroids through the same pointer
    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        _gen_root,
    )

    grown = spark.read.parquet(f"{idx}/cells").select("id", "emb")
    store_ivf_index(grown, idx)
    assert _cells_generation(idx) == 1  # committed as gen-1, one flip

    def fit_current(vectors):
        root = _gen_root(idx, _cells_generation(idx))
        cents = spark.read.parquet(f"{root}/centroids")
        from retail_datawarehouse_spark.operators.similarity import (
            _nearest_cell,
        )

        assigned = _nearest_cell(_with_n2(vectors), cents, keep=1)
        return (
            assigned.join(cents, "cell")
            .agg(
                F.avg(_cosine_expr(F.col("emb"), F.col("centroid"))).alias("f")
            )
            .collect()[0]
            .f
        )

    fit_batch_rebuilt = fit_current(shifted)
    fit_base_rebuilt = fit_current(corpus)
    assert fit_batch_frozen < 0.4, fit_batch_frozen
    assert fit_batch_rebuilt > 0.9, fit_batch_rebuilt
    assert abs(fit_base_rebuilt - fit_base_frozen) < 0.1


def test_pq_rerank_full_probe_large_r_equals_brute_force(
    spark, sf_correctness_dir, tmp_path
):
    """The two-tier refinement degrades gracefully: full probe + R
    larger than any cell population re-scores EVERY candidate with the
    exact float cosine — must reproduce brute force row-for-row (the
    ADC tier then only nominates, never excludes)."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivfpq_rr")
    store_ivf_index(corpus, idx, cells=IVF_CELLS, pq=True)
    got = query_ivf_index(
        queries, idx, nprobe=IVF_CELLS, pq=True, rerank=10**6
    )
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_pq_rerank_recovers_exact_ranks_from_adc_shortlist(
    spark, sf_correctness_dir, tmp_path
):
    """Pruned serving shape (nprobe=4): the refinement ladder.

    - R ≥ the probed candidate set: refined ≡ the float path's exact
      ranking over the same probed cells (the shortlist excludes
      nothing; the float re-score restores every rank) — exact
      equality, deterministic.
    - R = 64 (shortlist smaller than the probed set): agreement with
      the exact ranking is high but NOT total (on this fixture the 32×
      reconstruction pushes a few true top-3 below ADC rank 64 — the
      documented recall-honesty of PQ), and STRICTLY better than the
      ADC-only ranking at the same probe depth.
    """
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivfpq_rr2")
    store_ivf_index(corpus, idx, cells=IVF_CELLS, pq=True)
    exact_in_cells = query_ivf_index(queries, idx, nprobe=IVF_NPROBE)
    adc = query_ivf_index(queries, idx, nprobe=IVF_NPROBE, pq=True)
    refined_full = query_ivf_index(
        queries, idx, nprobe=IVF_NPROBE, pq=True, rerank=10**6
    )
    refined64 = query_ivf_index(
        queries, idx, nprobe=IVF_NPROBE, pq=True, rerank=64
    )
    want = {
        (r.query_id, r.rank): r.candidate_id for r in exact_in_cells.collect()
    }

    def agreement(df):
        got = {(r.query_id, r.rank): r.candidate_id for r in df.collect()}
        return sum(1 for k, v in want.items() if got.get(k) == v) / len(want)

    assert agreement(refined_full) == 1.0
    a_adc, a_64 = agreement(adc), agreement(refined64)
    assert a_64 > a_adc, (a_64, a_adc)
    assert a_64 >= 0.7, a_64  # measured 0.833 at sf0.01
    assert a_64 < 1.0  # the shortlist genuinely bites at R=64


def test_append_racing_compaction_is_folded_forward(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """r8 verdict "what's wrong" #1: an append that lands AFTER the
    compactor's snapshot read but BEFORE its pointer flip must not be
    stranded in the superseded generation. The ``_before_commit`` seam
    fires an append at exactly that window; the locked commit re-lists
    the old generation and folds the late files into gen-1 — pinned by
    full-probe equality against brute force over base+batch, served
    from the NEW generation."""
    from retail_datawarehouse_spark.operators import ann_index as ai
    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_path,
        compact_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    batch = corpus.filter(F.col("id") % 17 == 0)
    base = corpus.filter(F.col("id") % 17 != 0)
    idx = str(tmp_path / "ivf_race")
    store_ivf_index(base, idx, cells=IVF_CELLS)

    with monkeypatch.context() as m:
        m.setattr(
            ai, "_before_commit", lambda: append_to_ivf_index(batch, idx)
        )
        compact_ivf_index(spark, idx)
    assert _cells_path(idx) == f"{idx}/gen-1/cells"
    batch_ids = {r.id for r in batch.select("id").collect()}
    served_ids = {
        r.id for r in spark.read.parquet(f"{idx}/gen-1/cells").collect()
    }
    assert batch_ids <= served_ids  # late append folded into gen-1
    got = query_ivf_index(queries, idx, nprobe=IVF_CELLS)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_store_over_existing_is_atomic_rebuild(
    spark, sf_correctness_dir, tmp_path
):
    """ADVICE r8 (medium): rebuilding into a dir whose CURRENT pointed
    at a compacted generation used to overwrite the flat sidecars while
    reads kept resolving the stale cells generation — silently wrong
    results. Now a store over an existing index writes the NEXT full
    generation (cells + centroids + codebook under one root) and flips
    the pointer: after compaction (gen-1), a rebuild on a GROWN corpus
    lands as gen-2 and serving reflects exactly the new corpus."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        _cells_path,
        compact_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    base = corpus.filter(F.col("id") % 3 != 0)
    idx = str(tmp_path / "ivf_rebuild")
    store_ivf_index(base, idx, cells=IVF_CELLS)
    compact_ivf_index(spark, idx)
    assert _cells_generation(idx) == 1
    # the rebuild: full corpus (base + the held-out third), new cell
    # count — quantizer AND cells must move together
    store_ivf_index(corpus, idx, cells=8)
    assert _cells_generation(idx) == 2
    assert _cells_path(idx) == f"{idx}/gen-2/cells"
    got = query_ivf_index(queries, idx, nprobe=8)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_rebuild_crash_before_flip_leaves_old_serving(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """The rebuild's commit is the pointer rename and nothing else: a
    crash after the new generation is fully written but before the
    flip leaves the OLD index serving byte-for-byte (same contract as
    the compaction crash test, now covering the whole-index swap)."""
    import os as _os

    from retail_datawarehouse_spark.operators import ann_index as ai

    corpus, queries = _fixture(spark, sf_correctness_dir)
    base = corpus.filter(F.col("id") % 3 != 0)
    idx = str(tmp_path / "ivf_rebuild_crash")
    store_ivf_index(base, idx, cells=IVF_CELLS)
    before = _rows(query_ivf_index(queries, idx, nprobe=IVF_CELLS))

    real_rename = _os.rename

    def boom(src, dst):
        if dst.endswith("/CURRENT"):
            raise OSError("injected crash before pointer flip")
        return real_rename(src, dst)

    monkeypatch.setattr(ai.os, "rename", boom)
    with pytest.raises(OSError, match="injected crash"):
        store_ivf_index(corpus, idx, cells=8)
    monkeypatch.undo()
    assert ai._cells_generation(idx) == 0
    assert _rows(query_ivf_index(queries, idx, nprobe=IVF_CELLS)) == before
    # retry commits cleanly over the debris
    store_ivf_index(corpus, idx, cells=8)
    assert ai._cells_generation(idx) in (1, 2)
    assert _rows(query_ivf_index(queries, idx, nprobe=8)) == _rows(
        _brute_force(corpus, queries)
    )


def test_flat_route_knob_changes_small_nprobe_probes_only(
    spark, sf_correctness_dir, tmp_path
):
    """r8 verdict #3: ``route="flat"`` ranks all cells at small nprobe
    (the broad-retrieval regime) while ``route="symmetric"`` keeps the
    near-dup contract. Pins: (a) on a routed auto index the two modes
    genuinely probe different cells for at least one query (the r8
    measurement found 43.5% cell disagreement), (b) full probe is
    identical under both (the regimes coincide above √K), (c) an
    unknown mode raises."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _probes,
        open_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_route")
    store_ivf_index(corpus, idx)  # auto build → routed quantizer
    state = open_ivf_index(spark, idx, persist=False).state
    assert "_coarse" in state.centroids.columns

    def probe_sets(route):
        rows = _probes(queries, state, nprobe=2, route=route).collect()
        out = {}
        for r in rows:
            out.setdefault(r.query_id, set()).add(r.cell)
        return out

    sym, flat = probe_sets("symmetric"), probe_sets("flat")
    assert sym.keys() == flat.keys()
    assert any(sym[q] != flat[q] for q in sym)  # the knob is real
    k = len(glob.glob(f"{idx}/cells/cell=*"))
    full_sym = _rows(query_ivf_index(queries, idx, nprobe=k))
    full_flat = _rows(query_ivf_index(queries, idx, nprobe=k, route="flat"))
    assert full_sym == full_flat == _rows(_brute_force(corpus, queries))
    with pytest.raises(ValueError, match="route"):
        query_ivf_index(queries, idx, nprobe=2, route="bogus").collect()


def test_stored_residual_pq_serves_the_ivfadc_oracle(
    spark, sf_correctness_dir, tmp_path
):
    """The r9 IVFADC tier, stored: ``pq=True`` now defaults to
    ``pq_mode="residual"`` — codes quantize v − centroid(cell), the
    serving scan still reads only (id, codes, recon_n2, cell), and
    reconstruction adds the broadcast centroid back map-side. At
    nprobe=4 it must serve exactly the rows of the suite's 'ivfpq_res'
    DuckDB oracle (the SQL mirror of the same fixture build, residual
    codebook and encode); the plan must keep the compression contract
    (codes read, emb never, DPP on the scan); and full probe + large R
    must still collapse to brute force."""
    from retail_datawarehouse_spark.operators.similarity import (
        _ANN_IVFPQ_RES_SQL,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivfadc")
    store_ivf_index(corpus, idx, cells="fixture", pq=True)
    packed = spark.read.parquet(f"{idx}/codebook")
    assert "_residual" in packed.columns  # self-describing sidecar
    got = query_ivf_index(queries, idx, nprobe=IVF_NPROBE, pq=True)
    assert _rows(got) == _oracle_rows(sf_correctness_dir, _ANN_IVFPQ_RES_SQL)
    plan = (
        query_ivf_index(queries, idx, nprobe=2, pq=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    cells_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "codes" in ln
    ]
    assert cells_scans, plan
    for ln in cells_scans:
        read_schema = ln.split("ReadSchema")[-1]
        assert "codes" in read_schema and "emb" not in read_schema, ln
        assert "dynamicpruning" in ln.lower(), ln
    got_rr = query_ivf_index(
        queries, idx, nprobe=IVF_CELLS, pq=True, rerank=10**6
    )
    assert _rows(got_rr) == _rows(_brute_force(corpus, queries))


def test_residual_reconstruction_beats_raw_at_same_code_budget(
    spark, sf_correctness_dir, tmp_path
):
    """The mechanism residual encoding buys (r9 IVFADC): with the SAME
    PQ_M x PQ_K code budget, reconstructing centroid(cell) +
    decode(codes) must sit measurably closer to the true vector than
    decode(raw codes) — the centroid carries the vector's dominant
    common component exactly, leaving the codes to spend their 16
    entries per subspace on the (smaller) residual spread. Pinned as
    the mean reconstruction cosine over the corpus, raw vs residual,
    from the same encoders the stored index writes with. (Exact-rank
    agreement over this fixture's random near-tie candidates is NOT
    the metric — reconstruction error exceeds the cosine gaps between
    unrelated candidates either way, the documented PQ recall honesty;
    recall receipts at scale live in the operating curve.)"""
    from retail_datawarehouse_spark.operators.ann_index import _with_n2
    from retail_datawarehouse_spark.operators.similarity import (
        _cosine_expr,
        _ivf_index_over,
        _pq_codebook,
        _pq_encode,
        _residual_codebook,
        _residualize,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    withn2 = _with_n2(corpus)
    assigned, centroids = _ivf_index_over(withn2)

    def mean_recon_cosine(coded):
        joined = coded.join(
            corpus.select(F.col("id").alias("candidate_id"), "emb"),
            "candidate_id",
        )
        return (
            joined.agg(
                F.avg(_cosine_expr(F.col("emb"), F.col("recon"))).alias("c")
            )
            .collect()[0]
            .c
        )

    cand = corpus.select(
        F.col("id").alias("candidate_id"), F.col("emb").alias("c_emb")
    )
    raw = _pq_encode(cand, _pq_codebook(cand))
    # residual encode, then centroid(cell) + decode(codes) back
    res = _pq_encode(
        _residualize(assigned, centroids).select(
            F.col("id").alias("candidate_id"),
            F.col("res").alias("c_emb"),
            "centroid",
        ),
        _residual_codebook(assigned, centroids),
    ).select(
        "candidate_id",
        F.zip_with("centroid", "recon", lambda a, b: a + b).alias("recon"),
    )
    c_raw = mean_recon_cosine(raw)
    c_res = mean_recon_cosine(res)
    # deterministic (fixed-point centroids + deterministic encode):
    # measured 0.6256 raw vs 0.6734 residual at sf0.01/K=16 — on
    # ZERO-MEAN isotropic vectors, PQ's hardest case, where the
    # between-cell variance a 16-cell quantizer captures is modest;
    # more cells (the auto √N rule at scale) capture more, which is
    # what the 20× operating curve records
    assert c_res > c_raw + 0.04, (c_res, c_raw)
    assert c_raw > 0.5, c_raw  # both reconstructions stay directional


def test_generation_chain_append_compact_rebuild_composes(
    spark, sf_correctness_dir, tmp_path
):
    """Long-chain protocol composition (r9): store → append → compact
    (gen-1) → append → REBUILD on the grown corpus (gen-2) → append →
    compact (gen-3). After every step, full probe must equal brute
    force over exactly the rows the index should hold — no loss, no
    duplication, no stale-generation serving across three pointer
    flips — and maintenance stays generation-aware (stats read the
    current generation; the final compaction leaves one file per
    cell)."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        compact_ivf_index,
        ivf_index_stats,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    parts = [corpus.filter(F.col("id") % 4 == r) for r in range(4)]
    q = queries.limit(4)
    idx = str(tmp_path / "ivf_chain")

    def held(*dfs):
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def assert_exact(expected):
        k = len(
            glob.glob(
                f"{idx}/gen-{_cells_generation(idx)}/cells/cell=*"
                if _cells_generation(idx) > 0
                else f"{idx}/cells/cell=*"
            )
        )
        got = query_ivf_index(q, idx, nprobe=k)
        assert _rows(got) == _rows(_brute_force(expected, q))

    store_ivf_index(parts[0], idx, cells=IVF_CELLS)
    assert_exact(parts[0])
    append_to_ivf_index(parts[1], idx)
    assert_exact(held(parts[0], parts[1]))
    compact_ivf_index(spark, idx)
    assert _cells_generation(idx) == 1
    assert_exact(held(parts[0], parts[1]))
    append_to_ivf_index(parts[2], idx)
    assert_exact(held(parts[0], parts[1], parts[2]))
    # rebuild on the grown corpus read back from the index itself,
    # with a DIFFERENT cell count — quantizer and cells move together
    grown = spark.read.parquet(f"{idx}/gen-1/cells").select("id", "emb")
    store_ivf_index(grown, idx, cells=8)
    assert _cells_generation(idx) == 2
    assert_exact(held(parts[0], parts[1], parts[2]))
    append_to_ivf_index(parts[3], idx)
    assert_exact(corpus)
    compact_ivf_index(spark, idx)
    assert _cells_generation(idx) == 3
    assert_exact(corpus)
    stats = ivf_index_stats(spark, idx).collect()
    assert all(r.n_files == 1 for r in stats)
    assert sum(r.n_rows for r in stats) == corpus.count()


def test_threaded_append_during_compaction_loses_nothing(
    spark, sf_correctness_dir, tmp_path
):
    """The race fix under REAL concurrency (not the seam): an append
    thread and a compaction thread run simultaneously against one
    index. Whatever the interleaving — append lands before the
    compactor's snapshot (rewritten normally), between snapshot and
    commit (folded forward under the lock), or the lock serializes
    them outright — the committed generation must serve base+batch
    exactly, with zero row loss or duplication. Spark supports
    concurrent actions on one session; the maintenance lock is the
    only coordination point."""
    import threading

    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        compact_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    batch = corpus.filter(F.col("id") % 9 == 0)
    base = corpus.filter(F.col("id") % 9 != 0)
    idx = str(tmp_path / "ivf_threaded")
    store_ivf_index(base, idx, cells=IVF_CELLS)

    errors = []

    def run(fn):
        try:
            fn()
        except Exception as e:  # surface thread failures in the test
            errors.append(e)

    t_append = threading.Thread(
        target=run, args=(lambda: append_to_ivf_index(batch, idx),)
    )
    t_compact = threading.Thread(
        target=run, args=(lambda: compact_ivf_index(spark, idx),)
    )
    t_append.start()
    t_compact.start()
    t_append.join(timeout=240)
    t_compact.join(timeout=240)
    assert not t_append.is_alive() and not t_compact.is_alive()
    assert not errors, errors
    assert _cells_generation(idx) == 1
    # zero loss, zero duplication, one consistent serving
    served = spark.read.parquet(f"{idx}/gen-1/cells").select("id")
    assert served.count() == served.distinct().count() == corpus.count()
    got = query_ivf_index(queries, idx, nprobe=IVF_CELLS)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_rebuild_superseding_compaction_makes_compactor_abort(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """Maintainer-vs-maintainer race, deterministic interleaving (r10;
    ADVICE r9 #1): a compaction's bulk rewrite is overtaken by a
    drift-triggered REBUILD that commits first. The compactor must not
    commit its staged output (its late-fold lists the stale source
    generation, so appends landing in the new generation would be
    lost) and must not clobber the rebuild's files (generations are
    reserved under the lock, so the two never share a directory): it
    aborts with ``ConcurrentMaintenanceError``, discards its own
    staged generation, and the rebuild's generation serves exactly.
    Also pins reap's staging awareness: while the compactor's
    reservation is live, ``reap_ivf_generations`` must skip it."""
    import os as _os

    from retail_datawarehouse_spark.operators import ann_index as ai
    from retail_datawarehouse_spark.operators.ann_index import (
        ConcurrentMaintenanceError,
        _cells_generation,
        compact_ivf_index,
        reap_ivf_generations,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_supersede")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    staged = {}

    def rebuild_then_probe_reap():
        # the compactor has bulk-written its reservation by now; the
        # rebuild's own pass through the seam must not recurse
        monkeypatch.undo()
        staged["dirs"] = sorted(glob.glob(f"{idx}/gen-*"))
        store_ivf_index(corpus, idx, cells=8)  # commits its own gen
        staged["committed"] = _cells_generation(idx)
        # reap under a live reservation: the compactor's staged dir is
        # marker-bearing and must survive; the flat gen-0 is reclaimed
        staged["reaped"] = reap_ivf_generations(idx)

    monkeypatch.setattr(ai, "_before_commit", rebuild_then_probe_reap)
    with pytest.raises(ConcurrentMaintenanceError):
        compact_ivf_index(spark, idx)
    # the two maintainers never shared a generation directory
    assert len(staged["dirs"]) == 1  # compactor's reservation
    compactor_dir = staged["dirs"][0]
    rebuild_gen = staged["committed"]
    assert f"{idx}/gen-{rebuild_gen}" != compactor_dir
    # reap ran while the compactor's reservation was live: skipped it
    assert compactor_dir not in staged["reaped"]
    assert f"{idx}/cells" in staged["reaped"]  # flat gen-0 reclaimed
    # the aborting compactor removed its own staged generation
    assert not _os.path.isdir(compactor_dir)
    # the surviving generation is the rebuild's, serving exactly
    assert _cells_generation(idx) == rebuild_gen
    served = spark.read.parquet(f"{idx}/gen-{rebuild_gen}/cells").select("id")
    assert served.count() == served.distinct().count() == corpus.count()
    got = query_ivf_index(queries, idx, nprobe=8)
    assert _rows(got) == _rows(_brute_force(corpus, queries))
    # the index keeps evolving after the abort
    compact_ivf_index(spark, idx)
    assert _rows(query_ivf_index(queries, idx, nprobe=8)) == _rows(got)


def test_threaded_compact_vs_compact_never_clobbers(
    spark, sf_correctness_dir, tmp_path
):
    """The same race under REAL concurrency: two compaction threads on
    one index. Whatever the interleaving — serialized outright (both
    commit, distinct generations) or overlapped (the later committer
    aborts with ``ConcurrentMaintenanceError``) — no generation
    directory is ever written by two maintainers, no committed file is
    clobbered, and the final generation serves the corpus exactly."""
    import threading

    from retail_datawarehouse_spark.operators.ann_index import (
        ConcurrentMaintenanceError,
        _cells_generation,
        compact_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_cc")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)

    errors = []

    def run():
        try:
            compact_ivf_index(spark, idx)
        except Exception as e:  # surface thread failures in the test
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=240)
    assert not any(t.is_alive() for t in threads)
    # losing the race is the ONLY acceptable error
    assert all(isinstance(e, ConcurrentMaintenanceError) for e in errors), (
        errors
    )
    commits = 2 - len(errors)
    assert commits >= 1
    gen = _cells_generation(idx)
    assert gen >= 1
    # every aborted reservation was cleaned up: only committed
    # generations remain on disk
    remaining = sorted(glob.glob(f"{idx}/gen-*"))
    assert len(remaining) == commits
    served = spark.read.parquet(f"{idx}/gen-{gen}/cells").select("id")
    assert served.count() == served.distinct().count() == corpus.count()
    got = query_ivf_index(queries, idx, nprobe=IVF_CELLS)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_pre_r9_legacy_layout_raises_explicit_error(
    spark, sf_correctness_dir, tmp_path
):
    """ADVICE r9 #3: an index compacted under the r8 layout (CURRENT=N
    → ``cells-gen-N``, sidecars flat at the root) must fail with an
    explicit layout-version error on every resolve — not a bare
    missing-path error deep in the parquet reader. No silent fallback:
    the legacy layout's sidecars were rebuilt in place (the r8
    stale-pointer bug), so legacy cells can't be trusted to match
    their quantizer."""
    import os as _os

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_legacy")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    # forge the r8 on-disk state: compacted cells beside flat sidecars
    _os.rename(f"{idx}/cells", f"{idx}/cells-gen-1")
    with open(f"{idx}/CURRENT", "w", encoding="ascii") as f:
        f.write("1")
    with pytest.raises(RuntimeError, match="pre-r9 legacy"):
        query_ivf_index(queries, idx, nprobe=IVF_CELLS)
    with pytest.raises(RuntimeError, match="pre-r9 legacy"):
        append_to_ivf_index(corpus.limit(1), idx)
    with pytest.raises(RuntimeError, match="pre-r9 legacy"):
        store_ivf_index(corpus, idx, cells=IVF_CELLS)  # rebuild resolve


def test_rebuild_api_keeps_tier_and_serves_exactly(
    spark, sf_correctness_dir, tmp_path
):
    """``rebuild_ivf_index`` (r10): the first-class form of the rebuild
    the autopilot recommends. Corpus comes from the index's own
    current generation, the tier is preserved by default (codebook
    sidecar present ⇒ PQ rebuild; float index stays float), and the
    committed generation serves the full contents exactly — including
    rows that arrived by append under the OLD quantizer, now
    re-assigned under the new one."""
    import os as _os

    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        rebuild_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    base = corpus.filter(F.col("id") % 5 != 0)
    rest = corpus.filter(F.col("id") % 5 == 0)
    # float tier
    idx = str(tmp_path / "ivf_rb_float")
    store_ivf_index(base, idx, cells=IVF_CELLS)
    append_to_ivf_index(rest, idx)
    rebuild_ivf_index(spark, idx, cells=8)
    assert _cells_generation(idx) == 1
    assert not _os.path.isdir(f"{idx}/gen-1/codebook")  # stayed float
    got = query_ivf_index(queries, idx, nprobe=8)
    assert _rows(got) == _rows(_brute_force(corpus, queries))
    # PQ tier preserved, full probe + large R degrades to exact
    idxp = str(tmp_path / "ivf_rb_pq")
    store_ivf_index(base, idxp, cells=IVF_CELLS, pq=True, pq_mode="raw")
    append_to_ivf_index(rest, idxp)
    rebuild_ivf_index(spark, idxp, cells=8)
    assert _os.path.isdir(f"{idxp}/gen-1/codebook")  # tier preserved
    got = query_ivf_index(queries, idxp, nprobe=8, pq=True, rerank=10_000)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_threaded_append_during_rebuild_api_loses_nothing(
    spark, sf_correctness_dir, tmp_path
):
    """``rebuild_ivf_index``'s zero-provenance-gap claim under REAL
    concurrency: an append thread races the rebuild. Whatever the
    interleaving — append lands before the locked corpus pin (in the
    rebuild corpus), during the bulk retrain (locked fold-forward
    re-assigns it under the NEW quantizer), or after the commit (lands
    in the new generation) — the served index holds base+batch exactly,
    no loss, no duplication."""
    import threading

    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        _cells_path,
        rebuild_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    batch = corpus.filter(F.col("id") % 9 == 0)
    base = corpus.filter(F.col("id") % 9 != 0)
    idx = str(tmp_path / "ivf_rb_threaded")
    store_ivf_index(base, idx, cells=IVF_CELLS)

    errors = []

    def run(fn):
        try:
            fn()
        except Exception as e:
            errors.append(e)

    t_append = threading.Thread(
        target=run, args=(lambda: append_to_ivf_index(batch, idx),)
    )
    t_rebuild = threading.Thread(
        target=run, args=(lambda: rebuild_ivf_index(spark, idx, cells=8),)
    )
    t_append.start()
    t_rebuild.start()
    t_append.join(timeout=240)
    t_rebuild.join(timeout=240)
    assert not t_append.is_alive() and not t_rebuild.is_alive()
    assert not errors, errors
    assert _cells_generation(idx) == 1
    served = spark.read.parquet(_cells_path(idx)).select("id")
    assert served.count() == served.distinct().count() == corpus.count()
    got = query_ivf_index(queries, idx, nprobe=8)
    assert _rows(got) == _rows(_brute_force(corpus, queries))


def test_planted_near_dup_recall_survives_the_pq_tier(
    spark, sf_correctness_dir, tmp_path
):
    """The dedup contract THROUGH the compressed tier (r9): a
    scale-invariant copy probed at nprobe=1 against the residual
    IVFADC index retrieves its parent at rank 1 on PURE ADC —
    no rerank, codes only. This is the complement of the suite's
    recall-honesty note: top-3 over random near-tie candidates is
    where 32× compression honestly loses rank agreement, but a true
    near-dup's cosine-1 gap dwarfs the reconstruction error, so the
    candidate-generation contract the dedup pipeline needs holds at
    the cheapest serving point (measured 70/70 at sf0.01, both
    pq modes, every rerank setting — deterministic)."""
    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivfadc_planted")
    store_ivf_index(corpus, idx, pq=True)  # auto cells, routed, residual
    parents = corpus.filter(F.col("id") % 7 == 0)
    n = parents.count()
    probes = parents.select(
        "id", F.transform("emb", lambda x: x * F.lit(0.5)).alias("emb")
    )
    got = query_ivf_index(probes, idx, nprobe=1, pq=True)  # pure ADC
    hits = got.filter(
        (F.col("rank") == 1) & (F.col("candidate_id") == F.col("query_id"))
    ).count()
    assert hits == n, (hits, n)


def test_reap_removes_only_superseded_generations(
    spark, sf_correctness_dir, tmp_path
):
    """Lifecycle completion (r9): after store → append → compact
    (gen-1) → rebuild (gen-2), ``reap_ivf_generations`` removes the
    flat gen-0 layout and gen-1, leaves gen-2 serving byte-identically,
    and the index keeps evolving afterwards (append + compact to
    gen-3). Reaping an un-compacted index is a no-op."""
    import os as _os

    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        compact_ivf_index,
        reap_ivf_generations,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    half = corpus.filter(F.col("id") % 2 == 0)
    rest = corpus.filter(F.col("id") % 2 == 1)
    idx = str(tmp_path / "ivf_reap")
    store_ivf_index(half, idx, cells=IVF_CELLS)
    assert reap_ivf_generations(idx) == []  # gen 0: nothing to reap
    append_to_ivf_index(rest, idx)
    compact_ivf_index(spark, idx)
    store_ivf_index(
        spark.read.parquet(f"{idx}/gen-1/cells").select("id", "emb"),
        idx,
        cells=8,
    )
    assert _cells_generation(idx) == 2
    before = _rows(query_ivf_index(queries, idx, nprobe=8))
    removed = reap_ivf_generations(idx)
    assert f"{idx}/cells" in removed and f"{idx}/gen-1" in removed
    assert not _os.path.isdir(f"{idx}/cells")
    assert not _os.path.isdir(f"{idx}/gen-1")
    assert _os.path.isdir(f"{idx}/gen-2/cells")
    spark.catalog.refreshByPath(f"{idx}/gen-2/cells")
    assert _rows(query_ivf_index(queries, idx, nprobe=8)) == before
    # the index keeps evolving on top of the reaped layout
    extra = corpus.limit(1).select((F.col("id") + 7_000_000).alias("id"), "emb")
    append_to_ivf_index(extra, idx)
    compact_ivf_index(spark, idx)
    assert _cells_generation(idx) == 3
    assert spark.read.parquet(f"{idx}/gen-3/cells").count() == (
        corpus.count() + 1
    )


def test_maintain_policy_compacts_on_small_files_and_flags_skew(
    spark, sf_correctness_dir, tmp_path
):
    """The autopilot loop (r9): ``maintain_ivf_index`` turns the stats
    panel into actions. (a) Below the file cap it is a no-op with an
    honest report; (b) after enough appends to breach the cap it
    compacts (generation advances, every cell back to one file,
    serving identical); (c) a heavily skewed ingest (many copies of
    ONE direction landing in one cell) flips ``rebuild_recommended``
    without executing a rebuild — corpus provenance stays with the
    caller."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        ivf_index_stats,
        maintain_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_maintain")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    rep0 = maintain_ivf_index(spark, idx, max_files_per_cell=8)
    assert rep0["compacted"] is False and _cells_generation(idx) == 0
    assert rep0["cells"] == IVF_CELLS
    # accrete files past the cap: 9 appends of rows that land SOMEWHERE
    batch = corpus.filter(F.col("id") % 31 == 0)
    for i in range(9):
        append_to_ivf_index(
            batch.select((F.col("id") + (i + 1) * 1_000_000).alias("id"), "emb"),
            idx,
        )
    before = _rows(query_ivf_index(queries, idx, nprobe=IVF_CELLS))
    rep1 = maintain_ivf_index(spark, idx, max_files_per_cell=8)
    assert rep1["max_files"] > 8 and rep1["compacted"] is True
    assert _cells_generation(idx) == 1
    assert all(
        r.n_files == 1 for r in ivf_index_stats(spark, idx).collect()
    )
    assert _rows(query_ivf_index(queries, idx, nprobe=IVF_CELLS)) == before
    assert rep1["rebuild_recommended"] is False  # replicated batch is spread
    # skewed ingest: many scaled copies of one vector pile into one cell
    one = corpus.limit(1)
    skewed = one.crossJoin(
        spark.range(1, 400).select((F.col("id") * 2).alias("_m"))
    ).select(
        (F.col("id") * 100_000 + F.col("_m")).alias("id"),
        F.transform("emb", lambda x: x * (F.col("_m") / F.lit(100.0))).alias(
            "emb"
        ),
    ).select("id", F.col("emb").cast("array<float>").alias("emb"))
    append_to_ivf_index(skewed, idx)
    rep2 = maintain_ivf_index(
        spark, idx, max_files_per_cell=50, skew_ratio=3.0
    )
    assert rep2["rebuild_recommended"] is True, rep2
    assert rep2["compacted"] is False  # under the raised file cap


def test_footer_stats_equal_row_scan_stats(
    spark, sf_correctness_dir, tmp_path
):
    """r9 verdict "what's wrong" #2: the health panel should cost
    O(files), not O(rows). The panel is summed on the driver from the
    parquet footers of the pinned cell listing — zero data pages — and
    must be VALUE-IDENTICAL to per-cell row and file counts this test
    scans itself, on a fresh index and after appends fragment the
    cells."""
    from retail_datawarehouse_spark.operators.ann_index import (
        ivf_index_stats,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_stats")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)

    def panel(df):
        return sorted((r.cell, r.n_rows, r.n_files) for r in df.collect())

    scanned = _scanned_panel(spark, f"{idx}/cells")
    fresh = panel(ivf_index_stats(spark, idx))
    assert fresh == panel(scanned)
    assert sum(r[1] for r in fresh) == corpus.count()
    # fragment: appends leave >=1 file per landed cell per batch
    batch = corpus.filter(F.col("id") % 13 == 0)
    for i in range(3):
        append_to_ivf_index(
            batch.select(
                (F.col("id") + (i + 1) * 1_000_000).alias("id"), "emb"
            ),
            idx,
        )
    grown = panel(ivf_index_stats(spark, idx))
    assert grown == panel(_scanned_panel(spark, f"{idx}/cells"))
    assert max(r[2] for r in grown) >= 4  # fragmentation visible
    # schema parity (names + types; nullability flags may differ
    # between a footer sum and a scan count): a drop-in for the scan
    def shape(df):
        return [(f.name, f.dataType) for f in df.schema]

    assert shape(ivf_index_stats(spark, idx)) == shape(scanned)


def test_footer_stats_through_explicit_pyarrow_filesystem(
    spark, sf_correctness_dir, tmp_path
):
    """Object-store readiness for the health panel (the r10 residual,
    made concrete): ``ivf_index_stats(filesystem=...)`` routes the
    CURRENT read, the cell-file listing, and every footer open through
    an explicit ``pyarrow.fs.FileSystem``. Pinned with a
    ``SubTreeFileSystem`` rooted ABOVE the index — the index path the
    call receives does not exist on the local OS filesystem, so any
    accidental os/glob/open fallback fails loudly — and values must be
    identical to the default POSIX panel and to per-cell counts this
    test scans itself, fresh and after fragmenting appends. Also pins
    generation resolution through the FS (post-compaction gen-N
    layout) and that a missing cells table raises FileNotFoundError
    through either control plane."""
    import pyarrow.fs as pafs

    from retail_datawarehouse_spark.operators.ann_index import (
        compact_ivf_index,
        ivf_index_stats,
        open_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_fs_stats")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    batch = corpus.filter(F.col("id") % 17 == 0)
    append_to_ivf_index(
        batch.select((F.col("id") + 1_000_000).alias("id"), "emb"), idx
    )

    subfs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    rel = "ivf_fs_stats"  # not a real OS path from the caller's side

    def panel(df):
        return sorted((r.cell, r.n_rows, r.n_files) for r in df.collect())

    via_fs = panel(ivf_index_stats(spark, rel, filesystem=subfs))
    assert via_fs == panel(ivf_index_stats(spark, idx))
    assert via_fs == panel(_scanned_panel(spark, f"{idx}/cells"))
    # generation resolution through the FS: compaction flips CURRENT
    # to a gen-N layout and the FS path must follow it
    compact_ivf_index(spark, idx)
    via_fs2 = panel(ivf_index_stats(spark, rel, filesystem=subfs))
    assert via_fs2 == panel(ivf_index_stats(spark, idx))
    cells_path = open_ivf_index(spark, idx, persist=False).cells_path
    assert via_fs2 == panel(_scanned_panel(spark, cells_path))
    assert all(r[2] == 1 for r in via_fs2)  # compacted: 1 file/cell
    with pytest.raises(FileNotFoundError, match="cells"):
        ivf_index_stats(spark, "nope", filesystem=subfs).collect()
    with pytest.raises(FileNotFoundError, match="cells"):
        ivf_index_stats(spark, str(tmp_path / "nope")).collect()


def _scanned_report(spark, idx):
    """The sweep's metadata keys computed with Spark scans of the
    committed generation: the scanned panel, the counted centroid rows
    and the counted tombstone rows."""
    from retail_datawarehouse_spark.operators.ann_index import (
        open_ivf_index,
    )

    cells_path = open_ivf_index(spark, idx, persist=False).cells_path
    root = cells_path[: -len("/cells")]
    panel = [
        (r.n_rows, r.n_files)
        for r in _scanned_panel(spark, cells_path).collect()
    ]
    k = spark.read.parquet(f"{root}/centroids").count()
    ts = f"{root}/tombstones"
    tombstones = (
        spark.read.schema("id long").parquet(ts).count()
        if glob.glob(f"{ts}/*.parquet")
        else 0
    )
    mean = sum(n for n, _ in panel) / len(panel)
    return {
        "cells": len(panel),
        "k": k,
        "empty_cells": k - len(panel),
        "max_files": max(f for _, f in panel),
        "skew": round(max(n for n, _ in panel) / mean, 4),
        "tombstones": tombstones,
    }


def test_maintain_report_equals_a_spark_scan_of_the_index(
    spark, sf_correctness_dir, tmp_path
):
    """Every metadata key of the sweep's report — read from footers on
    the driver — equals the same key computed from Spark scans of the
    committed generation: on a fresh index, after appends plus
    deletes, and after the sweep compacts (where ``tombstones`` is the
    debt left in the new generation)."""
    from retail_datawarehouse_spark.operators.ann_index import (
        delete_from_ivf_index,
        maintain_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_report")
    store_ivf_index(corpus, idx, cells=IVF_CELLS, pq=True)

    def sweep(**kw):
        report = maintain_ivf_index(
            spark, idx, max_files_per_cell=10**6, **kw
        )
        keys = ("cells", "k", "empty_cells", "max_files", "skew", "tombstones")
        return {key: report[key] for key in keys}, report

    got, report = sweep()
    assert got == _scanned_report(spark, idx)
    assert not report["compacted"] and not report["rebuilt"]
    for i in range(2):
        append_to_ivf_index(
            corpus.filter(F.col("id") % 11 == i).select(
                (F.col("id") + (i + 1) * 1_000_000).alias("id"), "emb"
            ),
            idx,
        )
        delete_from_ivf_index(corpus.filter(F.col("id") % 19 == i), idx)
    got, _ = sweep()
    want = _scanned_report(spark, idx)
    assert got == want and want["tombstones"] > 0 and want["max_files"] > 1
    # a compaction clears the debt; the report's tombstones are those
    # of the generation the sweep committed
    got, report = sweep(max_tombstones=0)
    assert report["compacted"]
    assert got["tombstones"] == _scanned_report(spark, idx)["tombstones"] == 0


def test_noop_maintain_runs_no_spark_job(spark, sf_correctness_dir, tmp_path):
    """A sweep that decides to do nothing reads only the coordinator's
    listing and parquet footers: on a fragmented, tombstoned index it
    leaves no job in its job group. The same group then records the
    jobs of a scan, so the zero is not a tracking artefact."""
    from retail_datawarehouse_spark.operators.ann_index import (
        delete_from_ivf_index,
        maintain_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_noop")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    for i in range(2):
        append_to_ivf_index(
            corpus.filter(F.col("id") % 13 == i).select(
                (F.col("id") + (i + 1) * 1_000_000).alias("id"), "emb"
            ),
            idx,
        )
    delete_from_ivf_index(corpus.filter(F.col("id") % 31 == 0), idx)
    sc = spark.sparkContext
    group = "noop-maintain-sweep"
    sc.setJobGroup(group, "no-op maintain_ivf_index")
    try:
        report = maintain_ivf_index(spark, idx, max_files_per_cell=10**6)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        _scanned_panel(spark, f"{idx}/cells").collect()
        scan_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not report["compacted"] and report["max_files"] > 1
    assert report["tombstones"] > 0
    assert jobs == [], jobs
    assert scan_jobs, "the job group recorded nothing"


def test_nprobe_all_is_exact_even_with_empty_cells(
    spark, sf_correctness_dir, tmp_path
):
    """``nprobe="all"`` (r10): resolves to the CENTROID count, the
    safe exact-search degenerate. The auto build on this corpus leaves
    Lloyd cells empty (fewer cell directories than centroids), so a
    caller counting directories under-probes — the bug class the
    autopilot test caught; "all" closes it API-side."""
    from retail_datawarehouse_spark.operators.ann_index import (
        maintain_ivf_index,
        open_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_all")
    store_ivf_index(corpus, idx)  # auto cells
    k_cents = spark.read.parquet(f"{idx}/centroids").count()
    k_dirs = len(glob.glob(f"{idx}/cells/cell=*"))
    got = query_ivf_index(queries, idx, nprobe="all")
    assert _rows(got) == _rows(_brute_force(corpus, queries))
    # the hazard is real on this fixture or not — either way "all"
    # must equal the explicit centroid count
    assert _rows(got) == _rows(query_ivf_index(queries, idx, nprobe=k_cents))
    assert k_dirs <= k_cents
    # K from the centroid sidecar's footers (the handle's state and
    # the sweep's report) equals the counted centroid rows
    report = maintain_ivf_index(spark, idx, max_files_per_cell=10**6)
    assert not report["compacted"]
    assert open_ivf_index(spark, idx, persist=False).state.k == report["k"]
    assert report["k"] == k_cents
    with pytest.raises(ValueError, match="nprobe"):
        query_ivf_index(queries, idx, nprobe="full")


def test_maintain_auto_rebuild_executes_and_reports_debris(
    spark, sf_correctness_dir, tmp_path
):
    """The closed autopilot loop (r10): with ``auto_rebuild=True`` the
    policy sweep EXECUTES the skew-recommended rebuild itself (safe now
    that ``rebuild_ivf_index``'s corpus provenance is airtight), skips
    the redundant small-files compaction (the rebuild rewrites every
    cell anyway), and serving over the new generation is exact.
    ``stale_staging`` surfaces a crashed maintainer's leaked
    reservation without deleting it."""
    import os as _os

    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        maintain_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_auto_rb")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    # skewed ingest piles copies of one direction into one cell AND
    # fragments files past the (deliberately tiny) cap — the rebuild
    # must take precedence over compaction
    one = corpus.limit(1)
    skewed = (
        one.crossJoin(
            spark.range(1, 400).select((F.col("id") * 2).alias("_m"))
        )
        .select(
            (F.col("id") * 100_000 + F.col("_m")).alias("id"),
            F.transform(
                "emb", lambda x: x * (F.col("_m") / F.lit(100.0))
            ).alias("emb"),
        )
        .select("id", F.col("emb").cast("array<float>").alias("emb"))
    )
    append_to_ivf_index(skewed, idx)
    rep = maintain_ivf_index(
        spark, idx, max_files_per_cell=1, skew_ratio=3.0, auto_rebuild=True
    )
    assert rep["rebuild_recommended"] is True and rep["rebuilt"] is True
    assert rep["compacted"] is False  # rebuild subsumes compaction
    assert rep["stale_staging"] == []
    gen = _cells_generation(idx)
    assert gen >= 1
    held = corpus.unionByName(skewed)
    # full probe = CENTROID count, not cell-directory count: a Lloyd
    # cell can end up empty (this auto build: 30 centroids, 28
    # non-empty dirs) and nprobe = dirs would skip the 2 farthest
    # cells — a partial probe masquerading as exact
    k = spark.read.parquet(f"{idx}/gen-{gen}/centroids").count()
    got = query_ivf_index(queries, idx, nprobe=k)
    assert _rows(got) == _rows(_brute_force(held, queries))
    # crash-debris visibility: a .staging reservation ABOVE the
    # committed generation may belong to a live maintainer (never
    # stale); one BELOW it can only be a crashed maintainer's leak
    above = f"{idx}/gen-{gen + 7}"
    _os.makedirs(above)
    open(f"{above}/.staging", "w").close()
    below = f"{idx}/gen-{gen - 1}"  # the superseded generation's root
    _os.makedirs(below, exist_ok=True)
    open(f"{below}/.staging", "w").close()
    rep2 = maintain_ivf_index(spark, idx, max_files_per_cell=50)
    assert rep2["stale_staging"] == [below], rep2
    _os.unlink(f"{below}/.staging")


def test_store_time_pq_k_widens_codebook_and_stays_exact(
    spark, sf_correctness_dir, tmp_path
):
    """``pq_k`` is a store-time knob (r9 budget probe: 64 codes per
    subspace matches R=64 recall at R=16). Pins: (a) the sidecar
    genuinely carries pq_k cells per subspace and stored codes use the
    widened range, (b) the exactness ladder is budget-independent —
    full probe + large R ≡ brute force, (c) an append encodes against
    the FROZEN widened codebook code-for-code (sidecar
    self-containment: nothing but the store call ever names pq_k),
    (d) an out-of-range pq_k raises."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _encode_assigned,
        _with_n2,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    holdout = corpus.filter(F.col("id") % 17 == 0)
    base = corpus.filter(F.col("id") % 17 != 0)
    idx = str(tmp_path / "ivfadc_k64")
    store_ivf_index(base, idx, cells=IVF_CELLS, pq=True, pq_k=64)
    packed = spark.read.parquet(f"{idx}/codebook")
    cb = packed.collect()[0]._cb
    per_s = {}
    for e in cb:
        per_s.setdefault(e.s, set()).add(e.cell)
    assert all(len(cells) == 64 for cells in per_s.values()), {
        s: len(c) for s, c in per_s.items()
    }
    codes_max = (
        spark.read.parquet(f"{idx}/cells")
        .agg(F.max(F.array_max("codes")).alias("m"))
        .collect()[0]
        .m
    )
    assert codes_max > 15  # the widened range is actually used
    append_to_ivf_index(holdout, idx)
    got = query_ivf_index(
        queries, idx, nprobe=IVF_CELLS, pq=True, rerank=10**6
    )
    assert _rows(got) == _rows(_brute_force(corpus, queries))
    centroids = spark.read.parquet(f"{idx}/centroids")
    holdout_ids = {r.id for r in holdout.select("id").collect()}
    stored = {
        r.id: (tuple(r.codes), int(r.cell))
        for r in spark.read.parquet(f"{idx}/cells").collect()
        if r.id in holdout_ids
    }
    expect = {
        r.id: (tuple(r.codes), int(r.cell))
        for r in _encode_assigned(
            _nearest_cell(_with_n2(holdout), centroids, keep=1),
            packed,
            centroids,
        ).collect()
    }
    assert stored == expect
    with pytest.raises(Exception, match="pq_k"):
        store_ivf_index(
            corpus, str(tmp_path / "bad"), pq=True, pq_k=10**6
        )


def test_metric_knob_full_probe_exact_per_metric(
    spark, sf_correctness_dir, tmp_path
):
    """One stored index, three serving contracts (r10): the cell table
    already stores the sufficient statistics (emb, n2), so metric="ip"
    (max inner product) and metric="l2" (min squared distance) are one
    scoring expression away on the same pruned scan. Full probe must be
    EXACT under every metric — row-for-row, bit-for-bit against a
    brute-force twin built from the same pinned folds — and the cosine
    default must stay byte-identical to its historical contract."""
    from retail_datawarehouse_spark.operators.ann_index import (
        _metric_score,
        _metric_topk,
    )
    from retail_datawarehouse_spark.operators.similarity import norm2_col

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_metric")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)

    def brute(metric):
        c = corpus.select(
            F.col("id").alias("candidate_id"),
            F.col("emb").alias("c_emb"),
            norm2_col("emb").alias("c_n2"),
        )
        q = queries.select(
            F.col("id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            norm2_col("emb").alias("q_n2"),
        )
        scored = c.crossJoin(F.broadcast(q)).withColumn(
            "score", _metric_score(metric, "c_emb", "c_n2")
        )
        return _metric_topk(scored, metric)

    for metric in ("ip", "l2"):
        served = sorted(
            (r.query_id, r.candidate_id, r.score, r.rank)
            for r in query_ivf_index(
                queries, idx, nprobe="all", metric=metric
            ).collect()
        )
        expect = sorted(
            (r.query_id, r.candidate_id, r.score, r.rank)
            for r in brute(metric).collect()
        )
        assert served == expect, f"metric={metric} full probe not exact"
    # (on THIS fixture ip/l2 top-3 coincide — corpus norms are tightly
    # concentrated, so IP ≈ −L2 near the top; the planted-copy test is
    # where the metrics' semantic difference is demonstrated)
    # cosine default: unchanged column name and values
    assert _rows(query_ivf_index(queries, idx, nprobe="all")) == _rows(
        _brute_force(corpus, queries)
    )
    with pytest.raises(ValueError, match="metric"):
        query_ivf_index(queries, idx, nprobe=2, metric="dot")


def test_metric_knob_planted_copies_and_pq_rerank(
    spark, sf_correctness_dir, tmp_path
):
    """Semantics + routing honesty for the metric knob on a PQ index:
    plant, for every query q, an exact duplicate (the L2 ground truth,
    dist²=0 exactly — the dot and norm folds run the same op sequence,
    so the expansion cancels bit-exactly) and a 2× scaled copy (the IP
    ground truth: IP=2‖q‖² ≫ any unit-norm candidate; under cosine/L2
    the scaled copy is NOT the winner, which is exactly the semantic
    difference the knob exists for). Both copies route WITH their
    parent through the spherical quantizer (scale-invariant routing),
    so rank-1 retrieval must hold at small symmetric nprobe, and the
    rerank tier must honor the metric when it re-reads floats."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    dup = queries.select((F.col("id") + 2_000_000).alias("id"), "emb")
    scaled = queries.select(
        (F.col("id") + 3_000_000).alias("id"),
        F.transform("emb", lambda x: x * F.lit(2.0)).alias("emb"),
    )
    planted = corpus.unionByName(dup).unionByName(scaled)
    idx = str(tmp_path / "ivf_metric_pq")
    store_ivf_index(planted, idx, pq=True)

    # float path, small symmetric probe
    l2_top1 = {
        r.query_id: (r.candidate_id, r.score)
        for r in query_ivf_index(queries, idx, nprobe=4, metric="l2")
        .filter(F.col("rank") == 1)
        .collect()
    }
    assert all(
        cid == qid + 2_000_000 and s == 0.0
        for qid, (cid, s) in l2_top1.items()
    ), l2_top1
    ip_top1 = {
        r.query_id: r.candidate_id
        for r in query_ivf_index(queries, idx, nprobe=4, metric="ip")
        .filter(F.col("rank") == 1)
        .collect()
    }
    assert all(cid == qid + 3_000_000 for qid, cid in ip_top1.items()), (
        ip_top1
    )
    # ADC + rerank tier under l2: codes nominate, floats decide — the
    # exact duplicate must come back rank-1 with dist² exactly 0
    l2_rr = {
        r.query_id: (r.candidate_id, r.score)
        for r in query_ivf_index(
            queries, idx, nprobe=4, pq=True, rerank=16, metric="l2"
        )
        .filter(F.col("rank") == 1)
        .collect()
    }
    assert all(
        cid == qid + 2_000_000 and s == 0.0
        for qid, (cid, s) in l2_rr.items()
    ), l2_rr


def test_rebuild_inherits_codebook_mode_and_budget(
    spark, sf_correctness_dir, tmp_path
):
    """Knob inheritance on rebuild (r10 cont.): a dialed-in index
    (pq_mode="raw", pq_k=64) rebuilt bare — exactly what the autopilot
    does — must keep its mode and code budget, not revert to the
    store-time defaults (residual/16); an explicit override at rebuild
    time still changes them."""
    from retail_datawarehouse_spark.operators.ann_index import (
        open_ivf_index,
        rebuild_ivf_index,
    )
    from retail_datawarehouse_spark.operators.similarity import PQ_M

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_knobs")
    store_ivf_index(corpus, idx, pq=True, pq_mode="raw", pq_k=64)

    def knobs():
        h = open_ivf_index(spark, idx, persist=False)
        k = h.codebook.select(
            (F.size("_cb") / F.lit(PQ_M)).cast("int")
        ).first()[0]
        return ("residual" if "_residual" in h.codebook.columns else "raw", k)

    assert knobs() == ("raw", 64)
    rebuild_ivf_index(spark, idx)  # the autopilot's bare call
    assert knobs() == ("raw", 64), "bare rebuild reverted dialed knobs"
    # the rebuilt generation still serves
    assert query_ivf_index(queries, idx, nprobe="all", pq=True).count() > 0
    # explicit override still wins
    rebuild_ivf_index(spark, idx, pq_mode="residual", pq_k=16)
    assert knobs() == ("residual", 16)


def test_pq_k_auto_dials_by_sample_reconstruction_gain(spark, tmp_path):
    """pq_k="auto" (r11; r10 verdict #3): the store-time twin of the
    recorded dialing rule (tools/pqk_axis_r10.json). Both candidate
    codebooks train on the SAME bounded sample; the wider budget wins
    only when its mean reconstruction cosine clears the per-bit gain
    rule. Two planted regimes: a corpus whose 8-dim subvectors take
    only FOUR distinct patterns saturates at pq_k=16 (16 seeds cover 4
    patterns, recon cosine 1.0 at both tiers — stay low); a
    near-isotropic corpus gains ~0.1/bit at 64 (dial up). End-to-end:
    store_ivf_index(pq_k="auto") persists the CHOSEN budget on the
    codebook sidecar — which is also what a bare rebuild inherits, so
    autopilot maintenance keeps the auto-dialed value."""
    import numpy as np

    from retail_datawarehouse_spark.operators.ann_index import (
        open_ivf_index,
    )
    from retail_datawarehouse_spark.operators.similarity import (
        PQ_M,
        _auto_pq_k,
        _pq_train_sample,
    )

    rng = np.random.default_rng(3)
    pats = rng.normal(size=(4, 8))
    low_rows = [
        (
            i,
            np.concatenate(
                [pats[rng.integers(0, 4)] for _ in range(8)]
            ).tolist(),
        )
        for i in range(400)
    ]
    low = spark.createDataFrame(
        low_rows, "candidate_id long, c_emb array<double>"
    )
    k_low, _ = _auto_pq_k(_pq_train_sample(low))
    assert k_low == 16, "4-pattern subspaces saturate at 16 codes"

    iso = rng.normal(size=(400, 64))
    iso_rows = [(i, iso[i].tolist()) for i in range(400)]
    hi = spark.createDataFrame(
        iso_rows, "candidate_id long, c_emb array<double>"
    )
    k_hi, _ = _auto_pq_k(_pq_train_sample(hi))
    assert k_hi == 64, "near-isotropic sample gains a tier at 64"

    idx = str(tmp_path / "ivf_auto_k")
    emb = spark.createDataFrame(iso_rows, "id long, emb array<double>")
    store_ivf_index(emb, idx, cells=8, pq=True, pq_k="auto")
    h = open_ivf_index(spark, idx, persist=False)
    stored_k = h.codebook.select(
        (F.size("_cb") / F.lit(PQ_M)).cast("int")
    ).first()[0]
    assert stored_k == 64
    assert "_residual" in h.codebook.columns  # default mode unchanged
    # the auto index serves: full probe returns TOP_K rows per query
    q = spark.createDataFrame(iso_rows[:5], "id long, emb array<double>")
    got = query_ivf_index(q, idx, nprobe="all", pq=True)
    assert got.groupBy("query_id").count().filter("count != 3").count() == 0

    with pytest.raises(ValueError, match="auto"):
        store_ivf_index(
            emb, str(tmp_path / "bad"), cells=8, pq=True, pq_k="bogus"
        )


@pytest.mark.skipif(
    "SPARK_GRAFT_SCALEUP" not in __import__("os").environ,
    reason="20x auto-pq_k knee agreement is opt-in: SPARK_GRAFT_SCALEUP=1",
)
def test_pq_k_auto_matches_hand_dialed_knee_at_20x(spark, tmp_path):
    """The done-criterion from the r10 verdict: on the 20x probe corpus
    the store-time auto rule must agree with the hand-dialed knee the
    r10 axis recorded (pq_k=64 — R=16 recall 0.633→0.867, 256
    saturates against the 256-row train sample)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.scale_probe import generate

    from retail_datawarehouse_spark.operators.similarity import (
        N_QUERIES,
        _auto_pq_k,
        _pq_train_sample,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    out = str(tmp_path / "scale20")
    generate(20, out)
    emb = load_table(spark, out, "embeddings")
    cand = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("c_emb"),
    )
    k, _ = _auto_pq_k(_pq_train_sample(cand))
    assert k == 64, f"auto picked {k}, the recorded knee is 64"


def test_train_iters_tightens_quantizer_fit_and_is_inherited(
    spark, tmp_path
):
    """``train_iters`` (r11, FAISS ``niter`` parity): more Lloyd
    rounds tighten the quantizer's fit on structured data. The ring
    fixture (400 points on a noisy circle, 8 cells) is the classic
    Lloyd-convergence case — hash-ranked seeds start bunched along the
    ring and successive mean-update/assign rounds spread them toward
    equal arcs: measured mean within-cell cosine 0.893 → 0.917 →
    0.943 at iters 1/2/5. Every round uses the exact fixed-point mean
    update, so any depth is bit-reproducible (two iters=3 builds
    carry identical cell tables). The depth is tagged on the sidecar
    (``_train_iters``, absent = 1) and a bare autopilot rebuild
    inherits it like pq_mode/pq_k/metric."""
    import numpy as np

    from retail_datawarehouse_spark.operators.ann_index import (
        open_ivf_index,
        rebuild_ivf_index,
    )
    from retail_datawarehouse_spark.operators.similarity import (
        _cosine_expr,
    )

    rng = np.random.default_rng(5)
    n, dim = 400, 16
    theta = rng.uniform(0, 2 * np.pi, n)
    pts = np.zeros((n, dim))
    pts[:, 0] = np.cos(theta)
    pts[:, 1] = np.sin(theta)
    pts += 0.05 * rng.normal(size=(n, dim))
    cdf = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(n)],
        "id long, emb array<double>",
    )

    def fit(idx):
        h = open_ivf_index(spark, idx, persist=False)
        cells = spark.read.parquet(h.cells_path).select("cell", "emb")
        cents = h.centroids.select("cell", "centroid")
        return (
            cells.join(F.broadcast(cents), "cell")
            .agg(F.avg(_cosine_expr(F.col("emb"), F.col("centroid"))))
            .first()[0]
        )

    fits = {}
    for it in (1, 2, 5):
        idx = str(tmp_path / f"ring_{it}")
        store_ivf_index(cdf, idx, cells=8, train_iters=it)
        fits[it] = fit(idx)
    assert fits[1] < fits[2] < fits[5], fits
    assert fits[5] >= fits[1] + 0.03, fits

    # bit-reproducible at any depth: same corpus, same iters -> the
    # same cells table content
    def table(idx):
        h = open_ivf_index(spark, idx, persist=False)
        return sorted(
            (r.id, r.cell, tuple(r.emb))
            for r in spark.read.parquet(h.cells_path)
            .select("id", "cell", "emb")
            .collect()
        )

    idx_b = str(tmp_path / "ring_5b")
    store_ivf_index(cdf, idx_b, cells=8, train_iters=5)
    assert table(idx_b) == table(str(tmp_path / "ring_5"))

    # sidecar tag + bare-rebuild inheritance; default stays untagged
    h1 = open_ivf_index(spark, str(tmp_path / "ring_1"), persist=False)
    assert "_train_iters" not in h1.centroids.columns
    h5 = open_ivf_index(spark, str(tmp_path / "ring_5"), persist=False)
    assert h5.centroids.select("_train_iters").first()[0] == 5
    rebuild_ivf_index(spark, str(tmp_path / "ring_5"), cells=8)
    h5r = open_ivf_index(spark, str(tmp_path / "ring_5"), persist=False)
    assert h5r.gen == 1
    assert h5r.centroids.select("_train_iters").first()[0] == 5

    with pytest.raises(ValueError, match="train_iters"):
        store_ivf_index(
            cdf, str(tmp_path / "bad"), cells=8, train_iters=0
        )
    with pytest.raises(ValueError, match="fixture"):
        store_ivf_index(
            cdf, str(tmp_path / "bad2"), cells="fixture", train_iters=3
        )


def test_admit_novel_vectors_gates_near_duplicates(
    spark, sf_correctness_dir, tmp_path
):
    """Online near-dup admission (r11): an exact copy and a
    scale-invariant copy of stored vectors are REJECTED at the default
    symmetric probe (they probe their parents' cells — the pinned
    near-copy contract), a genuinely novel vector is ADMITTED and
    becomes immediately retrievable, and re-submitting the same
    content under fresh ids is rejected against the now-stored copy —
    the convergence property an ingestion gate needs."""
    import numpy as np

    from retail_datawarehouse_spark.operators.ann_index import (
        admit_novel_vectors,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "admit_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    base = {r.id: list(r.emb) for r in corpus.limit(30).collect()}
    a_id, b_id = sorted(base)[0], sorted(base)[1]
    novel_emb = np.random.default_rng(9).normal(size=64).tolist()
    batch = spark.createDataFrame(
        [
            (9001, base[a_id]),  # exact copy
            (9002, [x * 0.5 for x in base[b_id]]),  # scale-invariant
            (9003, novel_emb),
        ],
        "id long, emb array<double>",
    )
    n_before = spark.read.parquet(f"{idx}/cells").count()
    report = admit_novel_vectors(batch, idx, threshold=0.99, nprobe=4)
    rows = {r.id: r for r in report.collect()}
    assert not rows[9001].admitted and rows[9001].nearest_id == a_id
    assert not rows[9002].admitted and rows[9002].nearest_id == b_id
    assert rows[9001].score >= 0.999999  # exact copy: cosine 1.0
    assert rows[9003].admitted
    grown = spark.read.parquet(f"{idx}/cells")
    assert grown.count() == n_before + 1
    assert grown.filter(F.col("id") == 9003).count() == 1
    # re-submission of the SAME content under fresh ids converges:
    # the previously-admitted vector now rejects its own copy
    batch2 = spark.createDataFrame(
        [(9103, novel_emb)], "id long, emb array<double>"
    )
    report2 = admit_novel_vectors(batch2, idx, threshold=0.99, nprobe=4)
    r2 = report2.collect()[0]
    assert not r2.admitted and r2.nearest_id == 9003
    assert spark.read.parquet(f"{idx}/cells").count() == n_before + 1
    with pytest.raises(ValueError, match="metric"):
        admit_novel_vectors(batch2, idx, metric="dot")


def test_build_knob_conflicts_raise_before_reserving_a_generation(
    spark, sf_correctness_dir, tmp_path
):
    """ADVICE r11 #1: the cells='fixture' vs metric/train_iters
    conflict (and pq_mode validation) previously raised inside
    _write_index — which, on the store-over-existing and rebuild
    paths, runs AFTER _reserve_generation, orphaning a ``.staging``
    generation above CURRENT that ``reap`` skips (marker-bearing) and
    ``stale_staging`` only flags after a later commit passes it. The
    validation is now hoisted before the reservation: a rejected knob
    combination must leave ZERO ``gen-*`` directories behind."""
    from retail_datawarehouse_spark.operators.ann_index import (
        rebuild_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "knob_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    for bad in (
        dict(cells="fixture", metric="l2"),
        dict(cells="fixture", train_iters=3),
        dict(pq=True, pq_mode="nope"),
    ):
        with pytest.raises(ValueError):
            store_ivf_index(corpus, idx, **bad)
    with pytest.raises(ValueError, match="pq_mode"):
        rebuild_ivf_index(spark, idx, pq_mode="nope")
    with pytest.raises(ValueError, match="pq_k"):
        rebuild_ivf_index(spark, idx, pq_k="auto")
    assert glob.glob(f"{idx}/gen-*") == [], "orphaned staging generation"
    # the INHERITED-conflict case: cells='fixture' onto a
    # metric-trained index resolves to a conflict only after the
    # sidecar read — still before the reservation
    idx2 = str(tmp_path / "metric_knob_idx")
    store_ivf_index(corpus, idx2, cells=IVF_CELLS, metric="l2")
    with pytest.raises(ValueError, match="fixture"):
        rebuild_ivf_index(spark, idx2, cells="fixture")
    assert glob.glob(f"{idx2}/gen-*") == [], "orphaned staging generation"


def _run_maintainer(name, spark, idx, corpus):
    """Run one of the three generation rewriters over ``idx``;
    store-over-existing rebuilds from ``corpus``."""
    from retail_datawarehouse_spark.operators.ann_index import (
        compact_ivf_index,
        rebuild_ivf_index,
    )

    if name == "store":
        store_ivf_index(corpus, idx, cells=IVF_CELLS)
    elif name == "rebuild":
        rebuild_ivf_index(spark, idx, cells=IVF_CELLS)
    else:
        compact_ivf_index(spark, idx)


MAINTAINERS = ["store", "rebuild", "compact"]


@pytest.mark.parametrize("maintainer", MAINTAINERS)
def test_failed_rewrite_removes_its_reservation(
    spark, sf_correctness_dir, tmp_path, monkeypatch, maintainer
):
    """A maintainer whose bulk write raises after the generation is
    reserved removes the reservation — here holding a fully written
    cells table — and re-raises: no ``gen-*`` directory is left for
    ``reap`` to skip, ``CURRENT`` is unchanged and the index serves as
    before."""
    from retail_datawarehouse_spark.operators import ann_index as ai

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "fail_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS, pq=True)
    ai.compact_ivf_index(spark, idx)
    before = _rows(query_ivf_index(queries, idx, nprobe="all"))
    write_cells = ai._write_cells

    def write_then_fail(rows, root, co, mode="overwrite"):
        write_cells(rows, root, co, mode)
        raise RuntimeError("injected bulk-write failure")

    with monkeypatch.context() as m:
        m.setattr(ai, "_write_cells", write_then_fail)
        with pytest.raises(RuntimeError, match="injected"):
            _run_maintainer(maintainer, spark, idx, corpus)
    assert glob.glob(f"{idx}/gen-*") == [f"{idx}/gen-1"]
    assert ai._cells_generation(idx) == 1
    assert _rows(query_ivf_index(queries, idx, nprobe="all")) == before


@pytest.mark.parametrize("maintainer", MAINTAINERS)
def test_append_and_delete_racing_each_maintainer_are_kept(
    spark, sf_correctness_dir, tmp_path, monkeypatch, maintainer
):
    """An append and a delete landing at the seam between a
    maintainer's bulk write and its commit window: the appended rows
    are in the new generation exactly once, the deleted id is not
    served, and its tombstone is in the new generation's sidecar."""
    import pyarrow.parquet as pq

    from retail_datawarehouse_spark.operators import ann_index as ai
    from retail_datawarehouse_spark.operators.ann_index import (
        _cells_generation,
        delete_from_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    batch = corpus.filter(F.col("id") % 17 == 0)
    base = corpus.filter(F.col("id") % 17 != 0)
    idx = str(tmp_path / "race_idx")
    store_ivf_index(base, idx, cells=IVF_CELLS)
    victim = base.agg(F.min("id")).first()[0]

    def race():
        append_to_ivf_index(batch, idx)
        delete_from_ivf_index(
            spark.createDataFrame([(victim,)], "id long"), idx
        )

    with monkeypatch.context() as m:
        m.setattr(ai, "_before_commit", race)
        _run_maintainer(maintainer, spark, idx, base)
    assert _cells_generation(idx) == 1
    batch_ids = {r.id for r in batch.select("id").collect()}
    counts = (
        spark.read.parquet(f"{idx}/gen-1/cells")
        .filter(F.col("id").isin(*batch_ids))
        .groupBy("id")
        .count()
        .collect()
    )
    assert {r.id: r["count"] for r in counts} == dict.fromkeys(batch_ids, 1)
    tombstoned = pq.read_table(f"{idx}/gen-1/tombstones").column("id")
    assert victim in tombstoned.to_pylist()
    self_probe = query_ivf_index(
        corpus.filter(F.col("id") == victim), idx, nprobe="all"
    )
    assert victim not in {r.candidate_id for r in self_probe.collect()}
    live = corpus.filter(F.col("id") != victim)
    got = query_ivf_index(queries, idx, nprobe="all")
    assert _rows(got) == _rows(_brute_force(live, queries))


def test_stored_index_has_one_file_per_cell(
    spark, sf_correctness_dir, tmp_path
):
    """The build writes the cells table through the same repartitioned
    writer as compaction: a corpus spread over 8 partitions still lands
    as one file per cell, so a default ``maintain_ivf_index`` has no
    small files to compact on a fresh index."""
    from retail_datawarehouse_spark.operators.ann_index import (
        ivf_index_stats,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "one_file_idx")
    store_ivf_index(corpus.repartition(8), idx, cells=IVF_CELLS, pq=True)
    panel = ivf_index_stats(spark, idx).collect()
    assert len(panel) > 1
    assert [r.n_files for r in panel] == [1] * len(panel)


def test_stats_rejects_conflicting_filesystem_and_coordinator(
    spark, sf_correctness_dir, tmp_path
):
    """ADVICE r11 #2: ivf_index_stats with BOTH filesystem= and a
    coordinator= silently wrapped the raw filesystem in a fresh
    base-class ArrowFsCoordinator, bypassing a lease-backed subclass's
    overridden resolution. Conflicting control planes now raise."""
    import pyarrow.fs as pafs

    from retail_datawarehouse_spark.operators.ann_index import (
        ivf_index_stats,
    )
    from retail_datawarehouse_spark.operators.index_fs import (
        ArrowFsCoordinator,
    )

    root = str(tmp_path / "conflict_idx")
    fs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    co = ArrowFsCoordinator(
        fs, spark_path_fn=lambda p: f"{tmp_path}/{p}"
    )
    corpus, _ = _fixture(spark, sf_correctness_dir)
    store_ivf_index(corpus, "conflict_idx", cells=IVF_CELLS, coordinator=co)
    with pytest.raises(ValueError, match="not both"):
        ivf_index_stats(spark, "conflict_idx", filesystem=fs, coordinator=co)
    # each control plane alone still works, value-identically
    alone = {
        (r.cell, r.n_rows)
        for r in ivf_index_stats(
            spark, "conflict_idx", coordinator=co
        ).collect()
    }
    posix = {
        (r.cell, r.n_rows)
        for r in ivf_index_stats(spark, root).collect()
    }
    assert alone == posix and alone


def test_suite_stored_branches_pin_the_lifecycle_under_the_gate(
    spark, sf_correctness_dir
):
    """r13 (r12 verdict #1): the driver-gated suite now executes the
    stored index's full store -> delete -> query lifecycle through
    operators/ann_index.py ('stored' = float tier, 'stored_adc' =
    residual-ADC tier). Pins, independent of the DuckDB oracle: both
    branches serve TOP_K rows per query; NO deleted id is ever served;
    and the deletion screen actually bites — the same fixture build
    WITHOUT deletion ('ivf'/'ivfpq_res') serves at least one victim in
    its top-k, so stored-vs-in-plan equality would be vacuous without
    the tombstone anti-join."""
    from retail_datawarehouse_spark.operators.similarity import (
        _STORED_DEL_MOD,
        _STORED_DEL_REM,
        TOP_K,
        q_ann_topk_suite,
    )

    df = q_ann_topk_suite(spark, sf_correctness_dir).persist()
    try:
        is_victim = (
            F.col("candidate_id") % _STORED_DEL_MOD == _STORED_DEL_REM
        )
        n_queries = df.filter(F.col("method") == "exact").select(
            "query_id"
        ).distinct().count()
        for method in ("stored", "stored_adc"):
            rows = df.filter(F.col("method") == method)
            assert rows.count() == n_queries * TOP_K, method
            assert rows.filter(is_victim).count() == 0, (
                f"{method} served a tombstoned id"
            )
        # the screen is non-vacuous: the undeleted twins serve victims
        assert (
            df.filter(
                F.col("method").isin("ivf", "ivfpq_res") & is_victim
            ).count()
            > 0
        )
    finally:
        df.unpersist()


def _executed_nodes(df) -> list[str]:
    """One line per physical node an executed query ran — through AQE
    query stages, reused exchanges and subqueries (DPP), but not into
    a cached relation's build plan: an ``InMemoryTableScan`` reads
    cached batches, whatever plan once built them."""
    out = []

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def visit(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan())
        if name.endswith("QueryStageExec"):
            return visit(p.plan())
        line = p.simpleString(100)
        if name == "FileSourceScanExec":
            # the printed Location is abbreviated; record the full roots
            line += " roots=" + p.relation().location().rootPaths().mkString(",")
        out.append(line)
        if name == "ReusedExchangeExec":
            visit(p.child())
        for c in seq(p.children()) + seq(p.subqueries()):
            visit(c)

    visit(df._jdf.queryExecution().executedPlan())
    return out


def test_handle_wave_serves_from_cached_quantizer_state(
    spark, sf_correctness_dir, tmp_path
):
    """A handle's generation state (packed routing row, decode row,
    cell schema, K) is built once at open: a wave served through a
    persisted handle executes no scan of the centroid or codebook
    sidecars and no aggregate over them — while the handle-less call
    still packs them in-plan — and both return the same rows, at small
    nprobe and at nprobe="all", on the float, ADC and rerank tiers."""
    from retail_datawarehouse_spark.operators.ann_index import (
        delete_from_ivf_index,
        open_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_state")
    store_ivf_index(corpus, idx, pq=True)  # auto cells: a routed index
    delete_from_ivf_index(corpus.filter(F.col("id") % 23 == 0), idx)
    # handle-less: the call packs the sidecars in its own plan (checked
    # before any handle caches them — Spark's cache lookup would then
    # serve the same plan fragments to this call too)
    bare = query_ivf_index(queries, idx, nprobe=2, pq=True, rerank=8)
    bare.collect()
    bare_nodes = "\n".join(_executed_nodes(bare))
    assert "ObjectHashAggregate" in bare_nodes
    assert "/centroids" in bare_nodes and "/codebook" in bare_nodes
    h = open_ivf_index(spark, idx, persist=True)
    try:
        state = h.state
        assert state.coarse is not None and state.metric == "cosine"
        assert state.k == spark.read.parquet(f"{idx}/centroids").count()
        wave = query_ivf_index(
            queries, idx, nprobe=2, pq=True, rerank=8, handle=h
        )
        wave.collect()
        served = _executed_nodes(wave)
        assert any("InMemoryTableScan" in ln for ln in served), served
        assert any("/cells" in ln for ln in served), served
        for ln in served:
            assert "Aggregate" not in ln, ln
            if "FileScan" in ln:
                assert "/centroids" not in ln and "/codebook" not in ln, ln
        for kw in (
            dict(nprobe=1),
            dict(nprobe="all"),
            dict(nprobe=2, pq=True),
            dict(nprobe="all", pq=True),
            dict(nprobe=2, pq=True, rerank=8),
            dict(nprobe=2, route="flat"),
        ):
            assert _rows(query_ivf_index(queries, idx, handle=h, **kw)) == (
                _rows(query_ivf_index(queries, idx, **kw))
            ), kw
    finally:
        h.close()


def test_refresh_rebuilds_state_only_when_the_generation_moves(
    spark, sf_correctness_dir, tmp_path
):
    """``refresh`` keeps the handle — and its state — while the
    committed generation is unchanged, even across appends and deletes
    (which it re-checks), and returns a handle with NEW state after a
    compaction or a rebuild, serving exactly what a fresh
    ``open_ivf_index`` serves."""
    from retail_datawarehouse_spark.operators.ann_index import (
        compact_ivf_index,
        delete_from_ivf_index,
        open_ivf_index,
        rebuild_ivf_index,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivf_refresh")
    store_ivf_index(corpus.filter(F.col("id") % 2 == 0), idx, pq=True)
    h = open_ivf_index(spark, idx, persist=True)
    state = h.state
    append_to_ivf_index(corpus.filter(F.col("id") % 2 == 1), idx)
    delete_from_ivf_index(corpus.filter(F.col("id") % 29 == 0), idx)
    same = h.refresh(spark)
    assert same is h and same.state is state and same.tombstones is not None
    for move in (
        lambda: compact_ivf_index(spark, idx),
        lambda: rebuild_ivf_index(spark, idx, cells=24),
    ):
        move()
        h = h.refresh(spark)
        assert h.state is not state
        state = h.state
        fresh = open_ivf_index(spark, idx, persist=False)
        assert h.gen == fresh.gen and state.k == fresh.state.k
        for kw in (dict(nprobe=3, pq=True, rerank=16), dict(nprobe="all")):
            assert _rows(query_ivf_index(queries, idx, handle=h, **kw)) == (
                _rows(query_ivf_index(queries, idx, handle=fresh, **kw))
            ), kw
    assert state.k == 24
    h.close()


def _cells_xxhash(spark, idx) -> tuple:
    """Row count and the sum of per-row xxhash64 over every stored
    column of an index's committed cells."""
    cells = spark.read.parquet(f"{idx}/cells")
    return tuple(
        cells.select(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*sorted(cells.columns)).cast("decimal(38,0)")),
        ).first()
    )


def _append_plan(monkeypatch, new_vectors, idx) -> str:
    """Run ``append_to_ivf_index`` and return the physical plan of the
    frame it handed to the parquet writer."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    real = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        written.append(self._df)
        return real(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    try:
        append_to_ivf_index(new_vectors, idx)
    finally:
        monkeypatch.setattr(DataFrameWriter, "parquet", real)
    assert len(written) == 1, written
    return "\n".join(_executed_nodes(written[0]))


def _assert_packs_sidecars(plan: str) -> None:
    assert "ObjectHashAggregate" in plan, plan
    assert "/centroids" in plan and "/codebook" in plan, plan


def test_handle_less_append_serves_from_the_open_handles_state(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """While a persisted handle holds the generation, a handle-less
    append (resolved under its lock) serves from the handle's frozen
    state: the frame it writes scans no centroid or codebook parquet and
    aggregates nothing. It writes exactly the cells the per-call path
    writes on a copy of the index (xxhash64 sum), and once the handle is
    closed the append packs the sidecars itself again."""
    import shutil

    from retail_datawarehouse_spark.operators.ann_index import (
        open_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "shared")
    twin = str(tmp_path / "twin")
    store_ivf_index(corpus.filter(F.col("id") % 2 == 0), idx, pq=True)
    shutil.copytree(idx, twin)
    batch = corpus.filter(F.col("id") % 4 == 1)
    h = open_ivf_index(spark, idx, persist=True)
    try:
        shared = _append_plan(monkeypatch, batch, idx)
        assert "InMemoryTableScan" in shared, shared
        for ln in shared.splitlines():
            assert "Aggregate" not in ln, ln
            if "FileScan" in ln:
                assert "/centroids" not in ln and "/codebook" not in ln, ln
    finally:
        h.close()
    _assert_packs_sidecars(_append_plan(monkeypatch, batch, twin))
    assert _cells_xxhash(spark, idx) == _cells_xxhash(spark, twin)
    # closed: the handle's state is withdrawn, the next append packs
    later = corpus.filter(F.col("id") % 4 == 3)
    _assert_packs_sidecars(_append_plan(monkeypatch, later, idx))


def test_restored_directory_never_reuses_a_live_handles_state(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """A directory deleted and stored again is generation 0 again, but a
    new generation: a handle still open on its predecessor must not lend
    the new index its quantizer — the shared state is keyed by the
    centroid sidecar's file names, and the sidecars are read by file so
    Spark's path-keyed cache cannot serve the old rows either. The
    append packs the NEW sidecars and writes what a per-call append on a
    copy of the new index writes."""
    import shutil

    from retail_datawarehouse_spark.operators.ann_index import (
        _generation_key,
        open_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "restored")
    twin = str(tmp_path / "restored_twin")
    store_ivf_index(corpus.filter(F.col("id") % 2 == 0), idx, pq=True)
    old = open_ivf_index(spark, idx, persist=True)
    try:
        shutil.rmtree(idx)
        store_ivf_index(
            corpus.filter(F.col("id") % 3 == 0), idx, cells=12, pq=True
        )
        assert _generation_key(spark, idx) != old.state._key
        shutil.copytree(idx, twin)
        batch = corpus.filter(F.col("id") % 5 == 1)
        _assert_packs_sidecars(_append_plan(monkeypatch, batch, idx))
        append_to_ivf_index(batch, twin)
        assert _cells_xxhash(spark, idx) == _cells_xxhash(spark, twin)
    finally:
        old.close()
