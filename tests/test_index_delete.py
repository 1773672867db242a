"""Vector deletion lifecycle for the stored IVF index (r12; r11
verdict #1): the index can admit, append, compact, and rebuild — these
tests pin that it can also FORGET. ``delete_from_ivf_index`` writes an
id-only tombstone sidecar under the generation/lock protocol; probes
anti-join it (logical delete, immediate), ``admit_novel_vectors`` stops
treating deleted parents as blockers, and compaction/rebuild physically
drop the rows and clear the sidecar. Crash injection around the
tombstone commit and a byte-identical ArrowFs-coordinator twin complete
the verdict's done-criteria."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from retail_datawarehouse_spark.operators import ann_index
from retail_datawarehouse_spark.operators.ann_index import (
    admit_novel_vectors,
    append_to_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    maintain_ivf_index,
    query_ivf_index,
    rebuild_ivf_index,
    store_ivf_index,
)
from retail_datawarehouse_spark.operators.similarity import (
    IVF_CELLS,
    N_QUERIES,
)
from retail_datawarehouse_spark.sources.readers import load_table


def _fixture(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    return corpus, queries


def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _served_ids(df):
    return {r.candidate_id for r in df.collect()}


def _full_rows(df):
    value = "cosine" if "cosine" in df.columns else "score"
    return sorted(
        (r.query_id, r.rank, r.candidate_id, round(r[value], 9))
        for r in df.collect()
    )


def test_delete_lifecycle_probe_excludes_admit_readmits_compact_removes(
    spark, sf_correctness_dir, tmp_path
):
    """The verdict's pinned lifecycle: delete → every probe tier
    excludes the ids immediately → admission re-admits the content
    under a fresh id → compaction physically removes the rows and
    clears the sidecar — with full-probe exactness on the survivors
    at every step (serving the filtered index ≡ serving an index
    built without the deleted rows)."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "del_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS, pq=True)
    victims = [r.id for r in corpus.limit(3).collect()]
    victim_emb = {
        r.id: list(r.emb)
        for r in corpus.filter(F.col("id").isin(victims)).collect()
    }

    n = delete_from_ivf_index(_ids_df(spark, victims), idx)
    assert n == len(victims)
    assert os.path.isdir(f"{idx}/tombstones")

    # every serving tier excludes the tombstoned ids at full probe
    flt = query_ivf_index(queries, idx, nprobe="all")
    adc = query_ivf_index(queries, idx, nprobe="all", pq=True)
    rrk = query_ivf_index(queries, idx, nprobe="all", pq=True, rerank=16)
    for served in (flt, adc, rrk):
        assert not (_served_ids(served) & set(victims))

    # survivor exactness: the filtered float path ≡ an index stored
    # WITHOUT the victims (same build knobs → same quantizer on the
    # surviving rows is NOT guaranteed — Lloyd saw the victims — so
    # compare against brute force over survivors instead)
    survivors = corpus.filter(~F.col("id").isin(victims))
    twin = str(tmp_path / "twin_idx")
    store_ivf_index(survivors, twin, cells=IVF_CELLS)
    want = _full_rows(query_ivf_index(queries, twin, nprobe="all"))
    # quantizers differ (trained with vs without victims), but full
    # probe scans every cell, so the top-k sets must agree exactly
    assert _full_rows(flt) == want

    # a deleted parent stops blocking re-admission: an exact copy of
    # a deleted vector under a fresh id is ADMITTED
    resubmit = spark.createDataFrame(
        [(77001, victim_emb[victims[0]])], "id long, emb array<double>"
    )
    report = admit_novel_vectors(resubmit, idx, threshold=0.99, nprobe=4)
    assert report.collect()[0].admitted
    # the admitted copy is immediately retrievable: probing with its
    # own vector ranks it first (its deleted parent stays excluded)
    self_probe = query_ivf_index(resubmit, idx, nprobe="all").filter(
        F.col("rank") == 1
    )
    assert self_probe.collect()[0].candidate_id == 77001

    # compaction physically removes the rows and clears the sidecar
    compact_ivf_index(spark, idx)
    raw = spark.read.parquet(f"{idx}/gen-1/cells")
    assert raw.filter(F.col("id").isin(victims)).count() == 0
    assert not os.path.isdir(f"{idx}/gen-1/tombstones")
    assert raw.filter(F.col("id") == 77001).count() == 1  # admitted row kept
    # maintain's debt panel reads zero after the physical drop
    assert maintain_ivf_index(spark, idx)["tombstones"] == 0


def test_delete_is_idempotent_and_counts_new_tombstones_only(
    spark, sf_correctness_dir, tmp_path
):
    """Repeat deletes dedupe to zero new tombstones; deleting an id
    the index never held is a harmless no-op (the call never scans
    the corpus to validate existence)."""
    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "idem_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victims = [r.id for r in corpus.limit(2).collect()]
    assert delete_from_ivf_index(_ids_df(spark, victims), idx) == 2
    assert delete_from_ivf_index(_ids_df(spark, victims), idx) == 0
    # unknown id records a tombstone (no corpus scan to check) but
    # changes nothing served; mixed batch counts only the new ids
    assert (
        delete_from_ivf_index(
            _ids_df(spark, [victims[0], 999_999_999]), idx
        )
        == 1
    )
    assert maintain_ivf_index(spark, idx)["tombstones"] == 3


def test_rebuild_physically_drops_tombstoned_rows(
    spark, sf_correctness_dir, tmp_path
):
    """A rebuild is a physical delete + retrain in one pass: the new
    generation's cells exclude the ids, the sidecar is cleared, and
    the retrained quantizer never saw the deleted vectors."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "reb_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS, pq=True)
    victims = [r.id for r in corpus.limit(4).collect()]
    delete_from_ivf_index(_ids_df(spark, victims), idx)
    rebuild_ivf_index(spark, idx, cells=IVF_CELLS)
    raw = spark.read.parquet(f"{idx}/gen-1/cells")
    assert raw.filter(F.col("id").isin(victims)).count() == 0
    assert not os.path.isdir(f"{idx}/gen-1/tombstones")
    assert maintain_ivf_index(spark, idx)["tombstones"] == 0
    # survivors still serve exactly at full probe (pq tier inherited)
    served = query_ivf_index(queries, idx, nprobe="all", pq=True, rerank=16)
    assert not (_served_ids(served) & set(victims))


def test_store_over_existing_carries_tombstones_forward(
    spark, sf_correctness_dir, tmp_path
):
    """store_ivf_index over an existing index has a CALLER-supplied
    corpus — the call can't know whether it was read through the
    serving filter, so deletes stay logical: the new generation
    inherits the tombstones and keeps masking resurrected rows until
    a compaction physically applies them."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "carry_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victims = [r.id for r in corpus.limit(2).collect()]
    delete_from_ivf_index(_ids_df(spark, victims), idx)
    # a naive operator rebuilds from the RAW cells table (victims in)
    raw_corpus = spark.read.parquet(f"{idx}/cells").select("id", "emb")
    store_ivf_index(raw_corpus, idx, cells=IVF_CELLS)
    assert os.path.isdir(f"{idx}/gen-1/tombstones")
    served = query_ivf_index(queries, idx, nprobe="all")
    assert not (_served_ids(served) & set(victims))
    assert maintain_ivf_index(spark, idx)["tombstones"] == len(victims)
    # the next compaction applies them physically
    compact_ivf_index(spark, idx)
    raw = spark.read.parquet(f"{idx}/gen-2/cells")
    assert raw.filter(F.col("id").isin(victims)).count() == 0
    assert not os.path.isdir(f"{idx}/gen-2/tombstones")


def test_delete_crash_injection_around_the_tombstone_commit(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """Crash story, both sides of the commit: (a) a delete that dies
    BEFORE its tombstone file is in place leaves only debris no reader
    matches — Spark ``_temporary`` attempt files from an older Spark
    write, or the hidden tmp file of a publish that died before its
    rename — so the index serves its pre-delete state and the debris
    never poisons later reads; (b) a crash raised at the publish step
    releases the lock, so a retry succeeds and the delete lands whole."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_datawarehouse_spark.operators.index_fs import (
        PosixCoordinator,
    )

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "crash_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victim_rows = corpus.limit(2).collect()
    victims = [r.id for r in victim_rows]
    # self-probe frame: each victim's own vector ranks ITSELF first
    # while the row is served — the sharp served/excluded detector
    self_q = spark.createDataFrame(
        [(r.id, list(r.emb)) for r in victim_rows],
        "id long, emb array<double>",
    )

    # (a) simulate the mid-write crash with the REAL debris layout a
    # died task leaves (the in-flight attempt dir under the doubled
    # _temporary — files only promote out of it at task/job commit)
    attempt = (
        f"{idx}/tombstones/_temporary/0/_temporary/"
        "attempt_202608160000_0000_m_000000_0"
    )
    os.makedirs(attempt, exist_ok=True)
    with open(f"{attempt}/part-000.parquet", "w") as f:
        f.write("not parquet")
    # ...and a publish that died between its tmp write and the rename:
    # a VALID parquet file naming the victims, under the hidden tmp name
    pq.write_table(
        pa.table({"id": pa.array(victims, pa.int64())}),
        f"{idx}/tombstones/.part-crashed.parquet.tmp",
    )
    top1 = query_ivf_index(self_q, idx, nprobe="all").filter(
        F.col("rank") == 1
    )
    assert {
        r.candidate_id for r in top1.collect()
    } == set(victims)  # pre-delete state serves both
    assert maintain_ivf_index(spark, idx)["tombstones"] == 0

    # (b) a crash raised INSIDE the locked commit releases the lock
    def crash(self, dir_path, table):
        raise RuntimeError("injected crash")

    with monkeypatch.context() as m:
        m.setattr(PosixCoordinator, "publish_parquet", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            delete_from_ivf_index(_ids_df(spark, victims), idx)
    assert not os.path.exists(f"{idx}/MAINTENANCE.lock")
    # retry lands whole
    assert delete_from_ivf_index(_ids_df(spark, victims), idx) == 2
    after = query_ivf_index(self_q, idx, nprobe="all")
    assert not (_served_ids(after) & set(victims))


def test_null_ids_in_a_delete_request_are_dropped(
    spark, sf_correctness_dir, tmp_path
):
    """A null id names no vector: it is dropped from the request, so a
    repeated request stays idempotent (1 new tombstone, then 0) and the
    debt does not grow per call — a null never matches the existing set,
    so recording it would re-tombstone it on every call."""
    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "null_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victim = corpus.limit(1).collect()[0].id
    request = spark.createDataFrame([(None,), (victim,)], "id long")
    assert delete_from_ivf_index(request, idx) == 1
    assert delete_from_ivf_index(request, idx) == 0
    assert maintain_ivf_index(spark, idx)["tombstones"] == 1


def test_late_delete_during_compaction_carries_forward(
    spark, sf_correctness_dir, tmp_path, monkeypatch
):
    """A delete landing between compaction's rewrite and its commit
    window was not in the rewrite's filter — the commit carries the
    late tombstone files into the new generation, so the delete
    survives (logical) and the NEXT compaction applies it physically.
    Same late-fold discipline as racing appends."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "late_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    early, late = [r.id for r in corpus.limit(2).collect()]
    delete_from_ivf_index(_ids_df(spark, [early]), idx)

    def racing_delete():
        delete_from_ivf_index(_ids_df(spark, [late]), idx)

    with monkeypatch.context() as m:
        m.setattr(ann_index, "_before_commit", racing_delete)
        compact_ivf_index(spark, idx)
    # early: physically dropped by the rewrite; late: carried forward
    raw = spark.read.parquet(f"{idx}/gen-1/cells")
    assert raw.filter(F.col("id") == early).count() == 0
    assert raw.filter(F.col("id") == late).count() == 1
    assert os.path.isdir(f"{idx}/gen-1/tombstones")
    served = query_ivf_index(queries, idx, nprobe="all")
    assert not (_served_ids(served) & {early, late})
    compact_ivf_index(spark, idx)
    raw2 = spark.read.parquet(f"{idx}/gen-2/cells")
    assert raw2.filter(F.col("id").isin([early, late])).count() == 0
    assert not os.path.isdir(f"{idx}/gen-2/tombstones")


def test_maintain_tombstone_debt_triggers_compaction(
    spark, sf_correctness_dir, tmp_path
):
    """The policy loop: debt above ``max_tombstones`` triggers the
    compaction that clears it; the default (None) only reports."""
    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "debt_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victims = [r.id for r in corpus.limit(3).collect()]
    delete_from_ivf_index(_ids_df(spark, victims), idx)
    report = maintain_ivf_index(spark, idx, max_files_per_cell=99)
    assert report["tombstones"] == 3 and not report["compacted"]
    report = maintain_ivf_index(
        spark, idx, max_files_per_cell=99, max_tombstones=2
    )
    # the triggering sweep's own report already shows the POST-action
    # debt (ADVICE r12 #3): compacted=True paired with tombstones=3
    # would read to an autopilot as residual debt after the sweep
    assert report["compacted"] and report["tombstones"] == 0
    report = maintain_ivf_index(
        spark, idx, max_files_per_cell=99, max_tombstones=2
    )
    assert report["tombstones"] == 0 and not report["compacted"]


def test_masked_reappend_of_deleted_id_documented_semantics(
    spark, sf_correctness_dir, tmp_path
):
    """Deletion is BY ID: re-appending the same id before a compaction
    leaves the new row masked (the sidecar can't tell the copies
    apart), and the compaction then drops the re-appended copy too —
    the documented contract; fresh ids are the re-admission path."""
    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "mask_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victim = corpus.limit(1).collect()[0]
    delete_from_ivf_index(_ids_df(spark, [victim.id]), idx)
    append_to_ivf_index(
        spark.createDataFrame(
            [(victim.id, list(victim.emb))], "id long, emb array<double>"
        ),
        idx,
    )
    assert victim.id not in _served_ids(
        query_ivf_index(queries, idx, nprobe="all")
    )
    compact_ivf_index(spark, idx)
    raw = spark.read.parquet(f"{idx}/gen-1/cells")
    assert raw.filter(F.col("id") == victim.id).count() == 0


def test_delete_lifecycle_byte_identical_through_arrowfs_coordinator(
    spark, sf_correctness_dir, tmp_path
):
    """The whole delete lifecycle through an ArrowFsCoordinator on a
    SubTreeFileSystem, value-identical to the POSIX twin: delete →
    filtered serving → debt report → compaction clears — the
    control-plane injection must not change one served value."""
    import pyarrow.fs as pafs

    from retail_datawarehouse_spark.operators.index_fs import (
        ArrowFsCoordinator,
    )

    root = str(tmp_path)
    fs = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
    co = ArrowFsCoordinator(
        fs, spark_path_fn=lambda p: f"{root}/{p}"
    )
    corpus, queries = _fixture(spark, sf_correctness_dir)
    store_ivf_index(corpus, "sub_idx", cells=IVF_CELLS, coordinator=co)
    posix_idx = str(tmp_path / "posix_idx")
    store_ivf_index(corpus, posix_idx, cells=IVF_CELLS)
    victims = [r.id for r in corpus.limit(3).collect()]
    assert (
        delete_from_ivf_index(
            _ids_df(spark, victims), "sub_idx", coordinator=co
        )
        == 3
    )
    assert delete_from_ivf_index(_ids_df(spark, victims), posix_idx) == 3
    got = query_ivf_index(queries, "sub_idx", nprobe="all", coordinator=co)
    want = query_ivf_index(queries, posix_idx, nprobe="all")
    assert _full_rows(got) == _full_rows(want)
    assert (
        maintain_ivf_index(spark, "sub_idx", coordinator=co)["tombstones"]
        == 3
    )
    compact_ivf_index(spark, "sub_idx", coordinator=co)
    compact_ivf_index(spark, posix_idx)
    assert not co.isdir("sub_idx/gen-1/tombstones")
    got2 = query_ivf_index(queries, "sub_idx", nprobe="all", coordinator=co)
    want2 = query_ivf_index(queries, posix_idx, nprobe="all")
    assert _full_rows(got2) == _full_rows(want2) == _full_rows(want)


def test_tombstone_antijoin_is_broadcast_and_dpp_survives(
    spark, sf_correctness_dir, tmp_path
):
    """Scale shape of the logical delete: the tombstone screen must be
    a BROADCAST left-anti hash join (the sidecar is debt-bounded by
    the compaction policy — shuffling the corpus to apply it would be
    the 100 TB anti-pattern), and the probe's dynamic partition
    pruning on the cell scan must survive the added join."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    corpus, queries = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "plan_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victims = [r.id for r in corpus.limit(2).collect()]
    delete_from_ivf_index(_ids_df(spark, victims), idx)
    served = query_ivf_index(queries, idx, nprobe=2)
    plan = formatted_plan(served)
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "SortMergeJoin LeftAnti" not in plan
    assert "ShuffledHashJoin LeftAnti" not in plan
    assert "dynamicpruning" in plan.lower(), "DPP lost under the screen"


@pytest.mark.skipif(
    "SPARK_GRAFT_SCALEUP" not in os.environ,
    reason="20x deletion scale proof is opt-in: SPARK_GRAFT_SCALEUP=1",
)
def test_delete_probe_cost_is_debt_bounded_at_20x(spark, tmp_path):
    """Deletion at the scale it exists for (gated 20×, N≈40k, auto
    K≈200): a 500-id takedown batch against the big index (a) returns
    without reading the corpus — the delete wall-time must be a small
    fraction of the store time, because its only Spark work is
    batch + debt sized; (b) excludes every victim from a planted
    self-probe while their scale-invariant COPIES under fresh ids
    still hit rank-1 (the probe quality is untouched by the screen);
    (c) compaction physically drops exactly the tombstoned rows and
    clears the debt. The probe-side cost model (broadcast anti-join
    proportional to debt) is pinned structurally by the plan test;
    this proves the end-to-end behavior at real cell counts."""
    import sys
    import time as _time

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.scale_probe import generate

    out = str(tmp_path / "scale20")
    generate(20, out)
    emb = load_table(spark, out, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    idx = str(tmp_path / "idx20")
    t0 = _time.perf_counter()
    store_ivf_index(corpus, idx)
    store_sec = _time.perf_counter() - t0

    victims = corpus.filter(F.col("id") % 79 == 0).limit(500).persist()
    n_victims = victims.count()
    assert n_victims == 500
    t0 = _time.perf_counter()
    assert (
        delete_from_ivf_index(victims.select("id"), idx) == n_victims
    )
    delete_sec = _time.perf_counter() - t0
    # (a) the takedown never scans the corpus: well under the build
    assert delete_sec < store_sec / 4, (delete_sec, store_sec)

    # (b) victims excluded from their own self-probe; fresh-id copies
    # of the same vectors still hit rank-1 through the screen
    self_probe = query_ivf_index(victims, idx, nprobe=4).filter(
        (F.col("rank") == 1) & (F.col("candidate_id") == F.col("query_id"))
    )
    assert self_probe.count() == 0
    copies = victims.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"), "emb"
    )
    append_to_ivf_index(copies, idx)
    hit = query_ivf_index(copies, idx, nprobe=4).filter(
        (F.col("rank") == 1) & (F.col("candidate_id") == F.col("query_id"))
    )
    assert hit.count() == n_victims

    # (c) compaction drops exactly the tombstoned rows, clears debt
    n_rows = spark.read.parquet(f"{idx}/cells").count()
    compact_ivf_index(spark, idx)
    compacted = spark.read.parquet(f"{idx}/gen-1/cells")
    assert compacted.count() == n_rows - n_victims
    assert compacted.filter(
        F.col("id").isin([r.id for r in victims.select("id").collect()])
    ).count() == 0
    assert maintain_ivf_index(spark, idx)["tombstones"] == 0
    victims.unpersist()


def test_handle_caches_tombstones_and_refresh_picks_up_deletes(
    spark, sf_correctness_dir, tmp_path
):
    """r12 residual #1 closed: a serving handle caches the tombstone
    frame next to the sidecars and re-reads it only when the sidecar's
    file listing moved — so handle-based serving sees deletes at WAVE
    boundaries (the refresh), exactly the consistency point generation
    flips already use, while handle-less calls see them immediately."""
    from retail_datawarehouse_spark.operators.ann_index import (
        open_ivf_index,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "cache_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victim = corpus.limit(1).collect()[0]
    self_q = spark.createDataFrame(
        [(victim.id, list(victim.emb))], "id long, emb array<double>"
    )

    handle = open_ivf_index(spark, idx, persist=True)
    try:
        top1 = lambda h=None: (  # noqa: E731
            query_ivf_index(self_q, idx, nprobe="all", handle=h)
            .filter(F.col("rank") == 1)
            .collect()[0]
            .candidate_id
        )
        assert top1(handle) == victim.id  # served pre-delete
        delete_from_ivf_index(_ids_df(spark, [victim.id]), idx)
        # handle still serves its cached (empty) tombstone view...
        assert top1(handle) == victim.id
        # ...a handle-less call sees the delete immediately...
        assert top1() != victim.id
        # ...and the wave-boundary refresh picks it up (generation
        # unchanged — the listing check alone must trigger the reload)
        handle = handle.refresh(spark)
        assert handle.gen == 0 and len(handle.ts_files) > 0
        assert top1(handle) != victim.id
        # refresh with no new deletes is a no-op on the cache
        same = handle.refresh(spark)
        assert same is handle
    finally:
        handle.close()


def test_resident_ids_uses_handle_tombstone_snapshot(
    spark, sf_correctness_dir, tmp_path
):
    """Wave-internal consistency (ADVICE r12 #4): with a caller handle,
    ``resident_ids`` screens against the handle's wave-boundary cached
    tombstone frame — the SAME snapshot the wave's probe used — so a
    delete landing mid-wave cannot split one wave's report (probe on
    the old set, membership on the new). The handle-less call loads
    fresh and sees the delete immediately, like every handle-less
    path."""
    from retail_datawarehouse_spark.operators.ann_index import (
        open_ivf_index,
        resident_ids,
    )

    corpus, _ = _fixture(spark, sf_correctness_dir)
    idx = str(tmp_path / "snap_idx")
    store_ivf_index(corpus, idx, cells=IVF_CELLS)
    victim = corpus.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [(victim.id, list(victim.emb))], "id long, emb array<double>"
    )
    handle = open_ivf_index(spark, idx, persist=True)
    try:
        member = lambda h=None: {  # noqa: E731
            r.id for r in resident_ids(batch, idx, handle=h).collect()
        }
        assert member(handle) == {victim.id}
        delete_from_ivf_index(_ids_df(spark, [victim.id]), idx)
        # mid-wave delete: the handle's snapshot (and hence the wave's
        # membership answer) is unchanged until the boundary refresh...
        assert member(handle) == {victim.id}
        # ...while a handle-less membership probe sees it immediately
        assert member() == set()
        handle = handle.refresh(spark)
        assert member(handle) == set()
    finally:
        handle.close()
