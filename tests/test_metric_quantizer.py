"""Metric-TRAINED coarse quantizer (r11; r10 verdict #2): on a
norm-spread corpus the spherical (cosine-trained) quantizer's
direction-only cells lose small-nprobe l2/ip recall — the boundary the
r10 metric-serving docs documented as "a rebuild decision". These tests
pin that the rebuild decision now EXISTS (``store_ivf_index(metric=)``),
that it recovers the recall the docstring predicted it would (thresholds
set from the recorded receipt, tools/metric_quantizer_r11.json), that
full-probe exactness is quantizer-independent, and that the knob is
inherited by appends and rebuilds through the ``_metric`` sidecar tag —
the same one-function-quantizer discipline as ``_coarse``/``pq_k``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retail_datawarehouse_spark.operators.ann_index import (
    append_to_ivf_index,
    open_ivf_index,
    query_ivf_index,
    rebuild_ivf_index,
    store_ivf_index,
)
from tools.metric_quantizer_probe import (
    CELLS,
    NPROBE,
    _true_topk,
    ip_fixture,
    l2_fixture,
    recall_at_nprobe,
)


def test_l2_trained_quantizer_recovers_norm_spread_recall(spark):
    """The l2 fixture (tight ‖x‖=0.1 ball + far ‖x‖=10 shell, queries
    in the ball): spherical cells mix ball and shell by direction cone
    so a 2-of-16 probe misses ball members; l2-trained Lloyd separates
    the norm shells. Receipt: spherical 0.6, trained 1.0."""
    corpus, queries = l2_fixture()
    sph = recall_at_nprobe(spark, corpus, queries, "l2", trained=False)
    trn = recall_at_nprobe(spark, corpus, queries, "l2", trained=True)
    assert sph <= 0.8, f"spherical recall {sph}: fixture lost its spread"
    assert trn >= 0.95, f"l2-trained recall {trn}"
    assert trn - sph >= 0.2, (sph, trn)


def test_ip_trained_quantizer_recovers_mips_recall(spark):
    """The ip fixture (query-aligned small-norm cluster + a large-norm
    cluster at cos≈0.8 whose dots dominate): spherical probing ranks
    the aligned small cell first and misses every true MIPS winner;
    the metric-trained index (L2 cells + q·centroid probe ranking, the
    ScaNN-style split) finds the high-dot cells. Receipt: spherical
    0.0, trained 0.6."""
    corpus, queries = ip_fixture()
    sph = recall_at_nprobe(spark, corpus, queries, "ip", trained=False)
    trn = recall_at_nprobe(spark, corpus, queries, "ip", trained=True)
    assert sph <= 0.2, f"spherical recall {sph}: fixture lost its spread"
    assert trn >= 0.5, f"ip-trained recall {trn}"
    assert trn - sph >= 0.3, (sph, trn)


def test_metric_trained_full_probe_is_exact(spark, tmp_path):
    """Full probe is exact under ANY quantizer (all cells scanned):
    the metric-trained index's nprobe='all' result set equals the
    numpy brute force per query — and the cosine contract still
    serves exactly from the same l2-trained index (the quantizer
    changes ROUTING, never the scored values)."""
    corpus, queries = l2_fixture()
    cdf = spark.createDataFrame(corpus, "id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "id long, emb array<double>")
    idx = str(tmp_path / "idx_l2")
    store_ivf_index(cdf, idx, cells=CELLS, metric="l2")
    for metric in ("l2", "cosine"):
        truth = _true_topk(corpus, queries, metric)
        got = query_ivf_index(qdf, idx, nprobe="all", metric=metric)
        by_q: dict[int, set] = {}
        for r in got.collect():
            by_q.setdefault(r.query_id, set()).add(r.candidate_id)
        assert by_q == truth, metric


def test_metric_tag_inherited_by_append_and_rebuild(spark, tmp_path):
    """The ``_metric`` sidecar tag is the one-function-quantizer
    contract: an append to an l2-trained index assigns under L2 with
    no caller coordination (an exact copy of a stored ball vector
    lands in its twin's cell), and ``rebuild_ivf_index`` inherits the
    metric like pq_mode/pq_k — an autopilot rebuild must not silently
    revert a dialed-in l2 deployment to spherical."""
    corpus, queries = l2_fixture()
    cdf = spark.createDataFrame(corpus, "id long, emb array<double>")
    idx = str(tmp_path / "idx_l2")
    store_ivf_index(cdf, idx, cells="auto", metric="l2")
    h = open_ivf_index(spark, idx, persist=False)
    assert h.state.metric == "l2"
    # append an exact copy of ball member 150; L2 assignment puts the
    # copy in the SAME cell as its twin (distance 0)
    twin = spark.read.parquet(h.cells_path).filter(F.col("id") == 150)
    copy = twin.select(F.lit(9000).cast("long").alias("id"), "emb")
    append_to_ivf_index(copy, idx)
    cells = {
        r.id: r.cell
        for r in spark.read.parquet(h.cells_path)
        .filter(F.col("id").isin(150, 9000))
        .select("id", "cell")
        .collect()
    }
    assert cells[9000] == cells[150], cells
    # rebuild keeps the metric (and the tag survives on the new
    # generation's sidecar)
    rebuild_ivf_index(spark, idx)
    h2 = open_ivf_index(spark, idx, persist=False)
    assert h2.gen > h.gen
    assert h2.state.metric == "l2"
    # the appended copy still rides with its twin after retraining
    cells2 = {
        r.id: r.cell
        for r in spark.read.parquet(h2.cells_path)
        .filter(F.col("id").isin(150, 9000))
        .select("id", "cell")
        .collect()
    }
    assert cells2[9000] == cells2[150], cells2


def test_metric_store_validation(spark, tmp_path):
    corpus, _ = l2_fixture()
    cdf = spark.createDataFrame(corpus[:20], "id long, emb array<double>")
    with pytest.raises(ValueError, match="metric"):
        store_ivf_index(cdf, str(tmp_path / "a"), metric="dot")
    with pytest.raises(ValueError, match="fixture"):
        store_ivf_index(
            cdf, str(tmp_path / "b"), cells="fixture", metric="l2"
        )
    # default stores stay untagged — pre-r11 byte-compat (absent tag
    # means cosine; every committed fixture hash rides on this)
    idx = str(tmp_path / "c")
    store_ivf_index(cdf, idx, cells=4)
    h = open_ivf_index(spark, idx, persist=False)
    assert "_metric" not in h.centroids.columns
    assert h.state.metric == "cosine"


def test_metric_training_no_regression_on_concentrated_corpus(spark):
    """The boundary claim runs in both directions: on a
    norm-CONCENTRATED corpus (all ‖x‖≈1 — the regime the r10 routing
    receipt certified for the spherical quantizer) metric training
    must not LOSE recall. Receipt: spherical 0.533, l2-trained 0.567
    at nprobe=2/16 (within noise of each other; both quantizers see
    near-identical geometry when norms don't spread)."""
    from tools.metric_quantizer_probe import concentrated_fixture

    corpus, queries = concentrated_fixture()
    sph = recall_at_nprobe(spark, corpus, queries, "l2", trained=False)
    trn = recall_at_nprobe(spark, corpus, queries, "l2", trained=True)
    assert trn >= sph - 0.1, (sph, trn)


def test_ip_probe_is_flat_on_routed_auto_index(spark, tmp_path):
    """r11 review finding: an ip-trained AUTO-built index assigns its
    corpus through L2 two-level routing (``_assignment_metric``), so a
    probe that re-ran the two-level router under IP would regroup the
    reps under a DIFFERENT function than assignment used — the exact
    asymmetry class the r8 routed/flat finding measured at 15% recall
    loss. ip probes therefore rank all K cells FLAT by q·centroid
    (MIPS is broad retrieval; the per-query K-fold is negligible).
    Pinned at nprobe=2 ≤ coarse on the auto build, where the pre-fix
    path would have routed."""
    corpus, queries = ip_fixture()
    cdf = spark.createDataFrame(corpus, "id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "id long, emb array<double>")
    idx = str(tmp_path / "idx_ip_auto")
    store_ivf_index(cdf, idx, cells="auto", metric="ip")
    h = open_ivf_index(spark, idx, persist=False)
    assert "_coarse" in h.centroids.columns  # the routed build
    truth = _true_topk(corpus, queries, "ip")
    got = query_ivf_index(qdf, idx, nprobe=2, metric="ip")
    by_q: dict[int, set] = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, set()).add(r.candidate_id)
    hits = sum(len(truth[q] & by_q.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.5, recall
