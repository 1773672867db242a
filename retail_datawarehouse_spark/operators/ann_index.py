"""Stored IVF / IVF×PQ index serving + incremental maintenance — the
missing half of ANN at 100 TB: ``q_ann_topk_suite`` proves the SEARCH
math; this module proves the index can live on disk as a table, answer
queries without ever being rebuilt, absorb arriving vectors without
rewriting the corpus, and be compacted in place behind an atomic
pointer while it serves.

The quantizer is ONE function (r8): the auto build's two-level routed
assignment ships its ``_coarse`` config on the centroid sidecar, and
appends + small-nprobe probes route through it SYMMETRICALLY — the
FAISS approximate-quantizer discipline. Probing a routed assignment
flat measured 15% planted rank-1 recall loss at nprobe=4/K=200
(BASELINE.md round-8); under symmetry a scale-invariant near-copy's
top-1 probe is exactly its parent's assigned cell. Wide probes
(nprobe > coarse) fall back flat, so nprobe=K stays exact.

Layout decision: the inverted file IS a partitioning key. The assigned
corpus is written ``partitionBy("cell")``, so a probe at nprobe cells
is a partition-pruned scan of nprobe directories — the other K−nprobe
cells are never opened (dynamic partition pruning from the broadcast
probe side; the same mechanism the warehouse fact reads pin). The
centroid table (K rows) rides alongside as the index metadata.

With ``pq=True`` the layout is the full FAISS IVFPQ serving tier
(Jégou et al.; r6 verdict #1): every vector ALSO carries its PQ codes
(PQ_M small ints) and reconstruction norm² in the same cell-partitioned
table, and the packed codebook rides as a second sidecar. A PQ query
reads ONLY (id, codes, recon_n2, cell) from the probed cell
directories — parquet column pruning never touches the float column,
so the scan is the codes-sized ADC pass; reconstructions are rebuilt
map-side from the broadcast codebook. The codes quantize the RESIDUAL
v − centroid(cell) by default (r9 — Jégou's true IVFADC; the
``_residual`` tag on the codebook sidecar dispatches the decode, and
reconstruction adds the already-broadcast centroid back map-side, so
the scan shape is unchanged); ``pq_mode="raw"`` keeps whole-vector
codes, whose full probe equals the full ADC scan ``_pq_topk``
row-for-row (pinned by test). At 100 TB the
float column is what you DROP (or tier to cold storage for exact
re-rank) — kept here so one table serves both tiers, which is
precisely what columnar storage is for.

Serving is METRIC-PARAMETERIZED (r10): one stored layout carries the
sufficient statistics for all three standard contracts — cosine
(default), max inner product, min L2 — so ``query_ivf_index(metric=)``
swaps one scoring expression on the same pruned scan shapes (float,
ADC, and rerank tiers); full probe is exact under every metric and the
coarse quantizer stays spherical (see ``query_ivf_index``).

Cell count defaults to the ``√N`` occupancy rule derived IN-PLAN from
a 1-row broadcast count (r6 verdict #5) with hash-thresholded,
id-layout-free seeding; ``cells="fixture"`` keeps the suite's
oracle-mirrored 16-cell builder (``similarity._ivf_index_over``: the
``q_ann_topk_suite`` IVF branches serve fixture indexes, and the DuckDB
oracle mirrors the build — it requires the suite fixture's contiguous
id layout, which is why it is no longer the default; ADVICE r6).

Index MAINTENANCE (r8, generation-unified r9): every append leaves ≥1
file per landed cell, so a long-lived serving index accretes small
files — probe cost at fixed nprobe grows with per-cell file count, not
data. ``ivf_index_stats`` reads the health panel (per-cell occupancy +
file count — occupancy skew is the quantizer-staleness signal the
drift monitor can't see) and ``compact_ivf_index`` rewrites the table
at one file per cell. A GENERATION is the whole index (r9, closing the
r8 verdict's rebuild-atomicity gap): cells + centroid sidecar +
codebook sidecar live under one generation root and ONE ``CURRENT``
pointer covers all three, so a reader can never pair one generation's
cells with another's quantizer. ``store_ivf_index`` over an existing
index is therefore an ATOMIC REBUILD — the drift-triggered retrain
writes the next generation in full and flips the pointer; a crash
anywhere before the flip leaves the old index serving, and a live
drain picks up the new generation at its next wave boundary
(``open_ivf_index``/``IvfIndexHandle.refresh``).

Writer concurrency (r8 verdict "what's wrong" #1; maintainer-vs-
maintainer closed r10): maintenance ops hold a POSIX ``O_EXCL`` lock
file for two brief windows — ENTRY (source snapshot + destination
generation RESERVATION, so the snapshot serializes with in-flight
appends and two maintainers can never bulk-write the same gen
directory) and COMMIT (late-file fold + pointer flip, with a
supersede check: if another maintainer committed while this one was
rewriting, the staged output is discarded and
``ConcurrentMaintenanceError`` raised — committing it would lose
appends now landing in the new current generation). Appends hold the
same lock across their write, so the fold-or-flip decision is
race-free under the default POSIX coordinator (appends serialize with
each other — the honest cost). As of r11 the lock, the pointer
commit, and every listing are INJECTABLE (``coordinator=`` on every
public API; ``operators/index_fs.py``): an object-store deployment
passes ``ArrowFsCoordinator`` (single-writer safe as shipped) or
subclasses it with a real lease/commit protocol for multi-writer
operation — the Delta/Iceberg-style coordination point as a plug
rather than a fork.

DELETION (r12; r11 verdict #1) is the Lucene/Delta delete-vector
discipline: ``delete_from_ivf_index`` records id-only TOMBSTONES in a
per-generation sidecar under the same maintenance lock every writer
holds — O(request batch + debt), the corpus never read. The delete
is one driver-side commit: the batch's new ids are published as ONE
parquet file through the coordinator (``publish_parquet``: a hidden
tmp name no listing or Spark reader matches, renamed into place), so
a crash mid-delete leaves only invisible debris and the pre-delete
state serving. Deletes are LOGICAL first (every serving tier
anti-joins the debt-bounded sidecar via one broadcast, re-read per
call so they land mid-generation;
``admit_novel_vectors`` therefore re-admits content whose deleted
parent no longer blocks it) and PHYSICAL at the next compaction or
rebuild (the anti-join folds into the rewrite those ops already do;
the new generation starts with a clear sidecar; tombstones landing
DURING a rewrite carry forward exactly like racing appends).
``maintain_ivf_index`` reports the debt and ``max_tombstones=`` turns
it into a compaction trigger. Deletion is BY ID — re-appending a
tombstoned id before a compaction stays masked (documented; fresh ids
are the re-admission path).

SERVING STATE is per generation: a generation's centroid and codebook
sidecars are write-once, so everything serving derives from them — the
K / ``_coarse`` / ``_metric`` scalars, the packed flat and two-level
routing rows (``similarity._pack_cells``), the decode row (sorted
codebook + cell-indexed centroids) and the cell table's schema — is a
``QuantizerState`` built once per generation by ``open_ivf_index``
(cached when persisted) and kept by ``IvfIndexHandle.refresh`` until
the generation moves. A wave through a persisted handle therefore
packs nothing and infers no schema; what stays per-wave is what can
change inside a generation: the tombstone listing (re-checked at each
refresh, a plain frame over the pinned files) and the cell-file
listing (each call's fresh relation, so appends are served by the
next call). The persisted state is shared per generation within the
session: handle-less calls on the same generation — appends (resolved
under their lock), ``resident_ids``, ``admit_novel_vectors``'s append,
queries — serve from it, keyed by index dir, generation number and the
centroid sidecar's file names. Only the frozen quantizer is shared;
tombstones and cell listings stay per call. With no live handle on
the generation, a handle-less call builds its state once per call.

Incremental add is the FAISS `add`-after-`train` discipline: arriving
vectors are assigned against the STORED (frozen) centroids — and, for
a PQ index, encoded against the STORED (frozen) codebook — a map-only
broadcast pass over the batch, appended to the partitioned table,
touching only the cells the batch lands in. The corpus is never
re-read, the index never retrained; drift between the frozen quantizer
and the data distribution is a REBUILD decision (the drift-monitor
panel is the signal for it — composed end-to-end in test_ann_index's
drift-triggered-rebuild test), not a per-batch cost. Serving
correctness is probe-count-bounded exactly as for the built index:
nprobe=K degrades gracefully to exact search (float path) / the full
ADC scan (PQ path), pinned by test against brute force over the grown
corpus and against the full ADC scan ``_pq_topk`` (raw mode).
"""

from __future__ import annotations

import os
import threading
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_datawarehouse_spark.operators.index_fs import (
    ArrowFsCoordinator,
    PosixCoordinator,
)

# The default control plane: POSIX semantics, byte-identical to the
# pre-r11 inlined code (r10 verdict #6 made the coordinator injectable
# — every public maintenance/serving API takes ``coordinator=`` and an
# object-store deployment passes an ``ArrowFsCoordinator`` or its own
# lease-backed subclass; see operators/index_fs.py).
_POSIX = PosixCoordinator()

from retail_datawarehouse_spark.operators.similarity import (
    PQ_M,
    TOP_K,
    _SPARK_DOT,
    _SPARK_NORM2,
    _ivf_index_over,
    _nearest_cell,
    _norm2_expr,
    _group_cells,
    _pack_cells,
    _per_query_topk,
    _pq_adc_cosine,
    _pq_codebook,
    _pq_encode,
    _pq_train_sample,
    _residual_codebook,
    _residualize,
    _route_cells,
    _train_rank_col,
)


def _with_n2(vectors: DataFrame) -> DataFrame:
    """(id, emb[, n2]) → (id, emb, n2): the norm² is index data — it is
    computed ONCE at write/assign time and stored next to the vector,
    so serving never re-folds it (the suite-wide norms-below-the-join
    rule)."""
    if "n2" in vectors.columns:
        return vectors.select("id", "emb", "n2")
    return vectors.select(
        "id", "emb", _norm2_expr(F.col("emb")).alias("n2")
    )


def _lloyd_rounds(
    corpus: DataFrame,
    assigned0: DataFrame,
    iters: int,
    metric: str,
    coarse=None,
    extra=None,
) -> tuple[DataFrame, DataFrame]:
    """``iters`` Lloyd rounds from a seed assignment: mean update
    (``_fixed_point_centroids`` — exact int64 fixed point, so EVERY
    round is bit-reproducible) then re-assignment under ``metric``.
    From round 2 on, each round's K-row centroid frame is persisted
    and MATERIALIZED (one ``count()`` — a bounded store-time action,
    same class as the routing scalar, one per extra round) before the
    previous round's cache is released: without the materialization
    the unpersisted lineage chain re-derives round i from round 0 and
    training goes O(iters²) corpus passes instead of O(iters) — the
    graph.py per-round persist discipline. ``iters=1`` (the default)
    is plan- and action-identical to the historical single-round
    build. Returns ``(final_assignment, last round's persisted
    centroids)``; the caller owns the final unpersist (the
    ``_write_index`` contract). ``extra`` is a 1-row broadcast frame
    (the auto build's ``_coarse`` scalar) cross-joined onto every
    round's centroids so routing stays part of the quantizer."""
    from retail_datawarehouse_spark.operators.similarity import (
        _fixed_point_centroids,
    )

    centroids = None
    assigned = assigned0
    for _ in range(max(1, iters)):
        new_c = _fixed_point_centroids(assigned)
        if extra is not None:
            new_c = new_c.crossJoin(F.broadcast(extra))
        new_c = new_c.persist()
        if centroids is not None:
            new_c.count()
            centroids.unpersist()
        centroids = new_c
        assigned = _nearest_cell(
            corpus, centroids, keep=1, coarse=coarse, metric=metric
        )
    return assigned, centroids


def _build_index(
    corpus: DataFrame,
    cells: int,
    metric: str = "cosine",
    iters: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Generalized index build at an arbitrary cell count: seed the
    ``cells`` smallest-HASH-RANK corpus vectors (r6 verdict #6: an
    id-prefix is a biased sample on real data where ids correlate with
    time/source; the salted LCG rank is equally deterministic and
    id-layout-free). orderBy+limit is a top-K TakeOrdered, not a
    global sort; the row_number window then runs over only ``cells``
    rows. ``iters`` Lloyd rounds (default 1 — the historical build;
    ``_lloyd_rounds``), final assignment — the `_ivf_index_over`
    recipe freed from the fixture-pinned IVF_CELLS, so the build can
    follow the √N cell-count rule."""
    from pyspark.sql import Window

    w = Window.orderBy("_hrank", "id")
    seeds = (
        corpus.select("id", "emb", _train_rank_col(F.col("id")).alias("_hrank"))
        .orderBy("_hrank", "id")
        .limit(cells)
        .withColumn("cell", F.row_number().over(w) - 1)
        .select("cell", F.col("emb").alias("centroid"))
    )
    assigned0 = _nearest_cell(corpus, seeds, keep=1, metric=metric)
    return _lloyd_rounds(corpus, assigned0, iters, metric)


def _auto_index(
    corpus: DataFrame, metric: str = "cosine", iters: int = 1
) -> tuple[DataFrame, DataFrame]:
    """√N-cell index build with the count derived IN-PLAN (1-row
    broadcast aggregate — no driver action): k = max(4, ceil(√N)).
    Seed selection must not depend on a plan-time literal (``limit``
    needs one), so seeds come from a 2×-oversampled hash threshold —
    expected 2k candidate rows — capped at exactly k by a row_number
    window that therefore sorts only ~2√N rows, never the corpus.
    Thresholding compares the full 31-bit LCG rank (low LCG bits have
    short periods, so no modulus of it): ``rank · N < 2·2³¹·k`` stays
    exact int64 for N up to 2³² — GUARDED in-plan (ADVICE r7): past
    that bound the build raises instead of silently wrapping the
    multiply and mis-sampling seeds. A binomial undershoot below k
    needs no guard by construction: cell ids come from ``row_number``
    over the ACTUAL candidate set, so an undershoot yields a
    contiguous 0..m-1 cell cover with m < k — a coarser index, never a
    gap — and full-probe exactness is cell-count-independent.

    Assignment runs TWO-LEVEL (coarse = ceil(√k) routing reps, the
    r5 20× finding also applied in semdedup's auto path): at k ~ √N a
    flat k-fold assignment is the build's dominant N·√N term (measured
    here before routing: 150 s to store 40k vectors at k=200); routing
    folds ~√k + k/√k per row instead. Routing is approximate at group
    boundaries, and the approximation is only sound when applied
    SYMMETRICALLY (r8): appends and small-nprobe probes go through the
    same routing (``QuantizerState``), wide probes fall back flat, and
    full-probe exactness is unaffected (cells stay a disjoint cover,
    whatever cell a vector landed in)."""
    from pyspark.sql import Window

    from retail_datawarehouse_spark.operators.similarity import (
        _TRAIN_M,
    )

    params = (
        corpus.agg(F.count(F.lit(1)).cast("long").alias("_n"))
        # In-plan guard (ADVICE r7): the seed filter computes
        # _hrank·_n in int64 with _hrank < 2³¹, so the product is
        # exact only while _n < 2³² — past that a non-ANSI multiply
        # would WRAP silently and the hash threshold would sample the
        # wrong rows. Raise rather than mis-sample; a corpus beyond
        # 4.3e9 vectors needs the threshold recast (e.g. compare
        # _hrank against 2·2³¹·k/N precomputed as one scalar).
        .select(
            F.when(F.col("_n") < F.lit(1 << 32), F.col("_n"))
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "auto-index corpus count %d exceeds the 2^32 "
                        "bound of the exact int64 hash-threshold seed "
                        "filter",
                        F.col("_n"),
                    )
                ).cast("long")
            )
            .alias("_n")
        )
        .select(
            "_n",
            F.greatest(F.lit(4), F.ceil(F.sqrt("_n")).cast("long")).alias(
                "_cells"
            ),
        )
        .select(
            "_n",
            "_cells",
            F.greatest(
                F.lit(2), F.ceil(F.sqrt("_cells")).cast("long")
            ).alias("_coarse"),
        )
    )
    cand = (
        corpus.crossJoin(F.broadcast(params))
        .withColumn("_hrank", _train_rank_col(F.col("id")))
        .filter(
            F.col("_hrank") * F.col("_n")
            < F.lit(2 * _TRAIN_M) * F.col("_cells")
        )
    )
    w = Window.orderBy("_hrank", "id")
    seeds = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_cells"))
        .select(
            (F.col("_rn") - 1).alias("cell"),
            F.col("emb").alias("centroid"),
            "_coarse",
        )
    )
    assigned0 = _nearest_cell(
        corpus, seeds, keep=1, coarse=F.col("_coarse"), metric=metric
    )
    assigned, centroids = _lloyd_rounds(
        corpus,
        assigned0,
        iters,
        metric,
        coarse=F.col("_coarse"),
        extra=params.select("_coarse"),
    )
    # _coarse stays ON the centroid table: the two-level routing is
    # part of the quantizer, and the quantizer must be ONE function —
    # appends and small-nprobe query probes route through it
    # SYMMETRICALLY (the FAISS approximate-quantizer discipline), so a
    # vector and its near-copy land/probe the same cells. Measured
    # before symmetry (r8): flat probes against the routed assignment
    # lost 15% planted rank-1 recall at nprobe=4/K=200.
    return assigned, centroids


def _encode_assigned(
    assigned: DataFrame, packed: DataFrame, centroids: DataFrame | None = None
) -> DataFrame:
    """(id, emb, n2, cell) → the stored-row shape (id, emb, n2, codes,
    recon_n2, cell): PQ-encode against the (frozen or fresh) packed
    codebook with emb/n2/cell riding the encode as passthrough, so
    assignment + encode stay ONE map-side pass — never an id-keyed
    shuffle join between the cell and the codes. ``recon`` itself is
    NOT stored (it is a pure codebook lookup, rebuilt map-side at
    query time); its norm² is, like every other norm in the suite.
    The coded frame stays unpersisted: the parquet write consumes it
    exactly once, so a persist would leak a cached frame per
    store/append for the session lifetime (ADVICE r7).

    A ``_residual``-tagged codebook (the r9 IVFADC tier) encodes the
    residual v − centroid(cell) instead of v — ``centroids`` is then
    required (one extra broadcast join against the K-row sidecar) and
    the stored recon_n2 is the norm² of the FULL reconstruction
    centroid + decode(codes), so the serving scan still reads only
    (id, codes, recon_n2, cell). The stored-row SCHEMA is identical
    either way; the codebook tag is what dispatches the decode."""
    if "_residual" in packed.columns:
        if centroids is None:
            raise ValueError(
                "residual-tagged codebook needs the centroid sidecar"
            )
        resf = _residualize(assigned, centroids)
        coded = _pq_encode(
            resf.select(
                F.col("id").alias("candidate_id"),
                F.col("res").alias("c_emb"),
                "emb",
                "n2",
                "cell",
                "centroid",
            ),
            packed,
        )
        return coded.select(
            F.col("candidate_id").alias("id"),
            "emb",
            "n2",
            "codes",
            F.expr(
                _SPARK_NORM2.format(a="zip_with(centroid, recon, (a, b) -> a + b)")
            ).alias("recon_n2"),
            "cell",
        )
    coded = _pq_encode(
        assigned.select(
            F.col("id").alias("candidate_id"),
            F.col("emb").alias("c_emb"),
            F.col("emb").alias("emb"),
            "n2",
            "cell",
        ),
        packed,
    )
    return coded.select(
        F.col("candidate_id").alias("id"),
        "emb",
        "n2",
        "codes",
        "recon_n2",
        "cell",
    )


def store_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    cells: int | str = "auto",
    pq: bool = False,
    pq_mode: str = "residual",
    pq_k: int | str | None = None,
    metric: str = "cosine",
    coordinator: PosixCoordinator | None = None,
    train_iters: int = 1,
) -> None:
    """Build the IVF index over (id, emb) and persist it as a
    cell-partitioned parquet table + a centroid sidecar. One-time
    train/assign cost; every later query and append reads only what it
    touches.

    ``train_iters`` (r11): Lloyd rounds for the coarse quantizer
    (FAISS ``niter`` parity; default 1 — the historical build, byte-
    identical). More rounds tighten the quantizer's fit to clustered
    data — measured on the planted-cluster fixture: mean
    within-cell cosine and small-nprobe recall improve monotonically
    1→5 (test-pinned) — at O(iters) extra corpus passes, a one-time
    build cost. Every round uses the exact fixed-point mean update,
    so ANY iteration count is bit-reproducible. The value is tagged
    on the centroid sidecar (``_train_iters``, absent = 1) purely so
    autopilot rebuilds inherit the dialed depth; serving never reads
    it. On near-isotropic data extra rounds buy little (Lloyd moves
    centroids barely — measured in the fixture test's isotropic
    control); the knob is for corpora with real cluster structure.

    ``coordinator`` (r11, r10 verdict #6): the index's control plane —
    pointer reads/commits, listings, markers, the maintenance lock.
    Default POSIX (byte-identical to pre-r11); an object-store
    deployment passes ``ArrowFsCoordinator`` (or a lease-backed
    subclass — see ``operators/index_fs.py`` for the semantics it must
    supply). One index = one coordinator: every later call on this
    ``index_dir`` must pass the same one.

    ``cells``: ``"auto"`` (default) derives k ≈ √N in-plan with
    id-layout-free hash seeding; an explicit int uses the generalized
    hash-seeded builder; ``"fixture"`` keeps the suite's
    oracle-mirrored 16-cell builder (``q_ann_topk_suite``'s IVF
    branches serve fixture indexes and its DuckDB oracle mirrors the
    build — it assumes the suite fixture's id layout, so it is opt-in,
    not the default; ADVICE r6). Probe cost
    is nprobe/K of the corpus in every mode, and full-probe exactness
    is cell-count-independent (pinned by test).

    ``pq=True`` additionally trains the hash-sampled PQ codebook,
    persists it as a sidecar, and encodes every vector in the SAME
    map-side pass as cell assignment, adding codes + recon_n2 columns
    to the cell-partitioned table (column pruning makes the ADC scan
    read codes, never floats). ``pq_mode="residual"`` (default; r9 —
    the true IVFADC of Jégou et al., PAMI 2011 §IVFADC) trains and
    encodes over residuals v − centroid(cell(v)): within a cell the
    residuals are centered with a fraction of the vector's spread, so
    the same code budget quantizes far more finely — the r8 operating
    curve measured raw ADC recall@3 ~0.2 on near-isotropic vectors
    with the exact-rerank tier doing all the recall work, which is
    precisely the failure residual encoding addresses.
    ``pq_mode="raw"`` keeps whole-vector encoding (the suite's
    'ivfpq' branch; its full probe equals the full ADC scan
    ``_pq_topk``). The codebook sidecar self-describes its
    mode (``_residual`` tag), so appends and queries dispatch without
    caller coordination.

    ``pq_k``: codes per subspace codebook (default: the suite's
    fixture constant, 16). The r9 budget probe measured the lever at
    20×: pq_k=64 matches the recall PQ_K=16 needed R=64 float reads
    for at R=16 — a 4× rerank-I/O cut for the same 8 stored code ints
    per vector (what grows is the codebook sidecar, 128→512 rows, and
    the one-time encode fold). Bounded by the training sample size;
    the codebook sidecar is self-contained, so appends and queries
    adapt with zero caller coordination (tools/pq_budget_r09.json).
    ``pq_k="auto"`` (r11; r10 verdict #3) runs the recorded dialing
    rule AT STORE TIME: both candidate budgets
    (``PQ_K_AUTO_CANDIDATES`` = 16/64 — 256 saturates against the
    bounded sample, per the r10 axis) train on the same 256-row
    sample, and the wider wins only when its mean reconstruction
    cosine clears the per-bit gain rule (``_auto_pq_k``) — constant
    work in corpus size, the ``cells="auto"`` discipline. The CHOSEN
    integer persists on the sidecar, so a bare autopilot rebuild
    inherits the dialed value, never the string. The default stays 16
    for oracle-fixture lineage.

    Storing over an EXISTING index is the ATOMIC REBUILD (r9; closes
    the ADVICE-r8 stale-pointer bug where a rebuild into a compacted
    dir overwrote sidecars in place while reads kept resolving the old
    cells generation): the whole new index — cells, centroids,
    codebook — is written to the NEXT generation directory and
    committed with the one-pointer flip; a crash before the flip
    leaves the previous generation serving, intact, and appends that
    landed in the superseded generation during the build are folded
    forward (re-assigned against the NEW quantizer) before the flip.

    Rebuild corpus provenance: the fold-forward covers appends landing
    AFTER this call takes its snapshot (function entry). An append
    that completed between the CALLER reading its rebuild corpus and
    calling here is in neither — read the corpus from the index's own
    cells table as close to the call as possible (the drift→rebuild
    composition does exactly that), or quiesce appends around the
    rebuild.

    ``metric`` (r11; closes the r10 verdict's "metric-trained coarse
    quantizer" gap): the quantizer's TRAINING objective.
    ``"cosine"`` (default — byte-identical to every prior store) is
    the spherical quantizer. ``"l2"`` trains true Lloyd (min-L2
    assignment; the mean update is already the exact L2 Lloyd step).
    ``"ip"`` ALSO trains/assigns under L2 but ranks cells by inner
    product at probe time — the ScaNN/FAISS practice for MIPS: a pure
    max-IP assignment is degenerate (every vector prefers the
    largest-norm centroid, collapsing occupancy), while L2 cells tile
    location AND magnitude and the probe's q·centroid ranking finds
    the high-dot cells. A non-cosine metric is TAGGED on the centroid
    sidecar (``_metric``); appends assign and probes rank through the
    tag with no caller coordination — the quantizer stays ONE
    function. This is the rebuild decision the r10 metric-serving
    docs named: on a NORM-SPREAD corpus (‖x‖ varying 10×+), spherical
    cells ignore magnitude, so a small-nprobe l2/ip probe inherits
    direction-only cell shapes and misses same-magnitude (l2) or
    high-dot (ip) neighbors; the metric-trained quantizer separates
    the norm shells and recovers the recall (norm-spread fixture
    tests + tools/metric_quantizer_r11.json record the gap). Serving
    full-probe exactness is metric- and quantizer-independent (all
    cells scanned)."""
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}: {metric!r}")
    if not isinstance(train_iters, int) or train_iters < 1:
        raise ValueError(f"train_iters must be an int >= 1: {train_iters!r}")
    if isinstance(pq_k, str) and pq_k != "auto":
        # validated HERE, not first inside _pq_codebook (r11 review):
        # the codebook trains AFTER the full coarse-quantizer build, so
        # a late raise would leak the persisted centroid frame (the
        # ADVICE-r7 class) and orphan a reserved .staging generation on
        # the rebuild path
        raise ValueError(f"pq_k must be an int or 'auto': {pq_k!r}")
    # same hoist for the pq_mode and fixture-conflict checks (ADVICE
    # r11 #1): _write_index re-checks them, but on the rebuild path it
    # runs only AFTER _reserve_generation — a late ValueError would
    # orphan a .staging generation above CURRENT that reap skips
    # (marker-bearing) and stale_staging only flags after a later
    # commit passes it
    _validate_build_knobs(cells, pq_mode, metric, train_iters)
    co = coordinator or _POSIX
    existing = co.isdir(
        f"{_gen_root(index_dir, _cells_generation(index_dir, co), co)}"
        "/centroids"
    )
    if not existing:
        _write_index(
            corpus,
            index_dir,
            cells,
            pq,
            pq_mode,
            pq_k,
            metric,
            co,
            train_iters,
        )
        return
    # Entry window under the lock (r10, ADVICE r9 #1/#2): (a) the
    # source-generation snapshot serializes with in-flight appends —
    # appends hold the lock across their whole write, so an unlocked
    # glob could capture PART of an append's files (they become visible
    # per-cell), exclude that part from the late-fold, and silently
    # drop those rows from the new generation; (b) the destination
    # generation is RESERVED here, so two concurrent maintainers can
    # never bulk-write into the same gen directory.
    with co.lock(index_dir):
        src_gen = _cells_generation(index_dir, co)
        src_root = _gen_root(index_dir, src_gen, co)
        src_cells = f"{src_root}/cells"
        snapshot = co.list_cell_files(src_cells)
        gen, root = _reserve_generation(index_dir, src_gen, co)
    _write_index(
        corpus, root, cells, pq, pq_mode, pq_k, metric, co, train_iters
    )
    spark = corpus.sparkSession
    with co.lock(index_dir):
        _abort_if_superseded(index_dir, src_gen, root, co)
        late = sorted(co.list_cell_files(src_cells) - snapshot)
        if late:
            # Appends that raced the rebuild: their (id, emb) rows are
            # re-assigned/re-encoded against the NEW generation's
            # quantizer — copying rows wholesale would pair old cell
            # ids with new centroids.
            rows = (
                spark.read.option("basePath", co.spark_path(src_cells))
                .parquet(*[co.spark_path(p) for p in late])
                .select("id", "emb")
            )
            _append_rows(rows, root, co)
        # Tombstones carry forward WHOLESALE here (r12): unlike
        # rebuild/compact, this path's corpus is CALLER-supplied — the
        # call can't know whether it was read through the serving
        # filter or raw, so the deletes stay logical in the new
        # generation (the anti-join masks any resurrected rows) until
        # the next compaction/rebuild physically applies them.
        _carry_tombstones(
            spark,
            co.list_parquet_files(f"{src_root}/tombstones"),
            root,
            co,
        )
        _commit_generation(index_dir, gen, co)


def _validate_build_knobs(
    cells: int | str, pq_mode: str, metric: str, train_iters: int
) -> None:
    """The build-knob combination checks, callable BEFORE a generation
    is reserved (ADVICE r11 #1): ``_write_index`` enforces the same
    rules, but by the time it runs on a rebuild path the ``.staging``
    reservation already exists — raising there orphans it."""
    if pq_mode not in ("residual", "raw"):
        raise ValueError(f"pq_mode must be 'residual' or 'raw': {pq_mode!r}")
    if cells == "fixture" and (metric != "cosine" or train_iters != 1):
        raise ValueError(
            "cells='fixture' is the oracle-mirrored cosine builder; "
            f"metric={metric!r}/train_iters={train_iters} need "
            "cells='auto' or an explicit int"
        )


def _write_index(
    corpus: DataFrame,
    root: str,
    cells: int | str,
    pq: bool,
    pq_mode: str = "residual",
    pq_k: int | str | None = None,
    metric: str = "cosine",
    co: PosixCoordinator = _POSIX,
    train_iters: int = 1,
) -> None:
    """One full index generation under ``root``: the cell-partitioned
    table plus the centroid (and, with ``pq``, codebook) sidecars —
    the build body shared by the fresh store and the rebuild path.

    A non-cosine ``metric`` rides the centroid sidecar as a ``_metric``
    literal column (the ``_coarse`` pattern): the tag is what makes the
    quantizer ONE function — ``_append_rows`` and ``_probes`` read it
    and assign/rank under the same objectives the training used
    (``_assignment_metric``: l2 AND ip indexes assign under L2; probes
    rank under the tag itself — the ScaNN-style MIPS split, see
    ``store_ivf_index``). The cosine default writes NO tag, so every
    pre-r11 index and every default store stays byte-identical (absent
    tag ≡ cosine)."""
    _validate_build_knobs(cells, pq_mode, metric, train_iters)
    assign = _assignment_metric(metric)
    withn2 = _with_n2(corpus)
    if cells == "fixture":
        assigned, centroids = _ivf_index_over(withn2)
    elif cells == "auto":
        assigned, centroids = _auto_index(
            withn2, metric=assign, iters=train_iters
        )
    else:
        assigned, centroids = _build_index(
            withn2, cells, metric=assign, iters=train_iters
        )
    # tag columns derive NEW frames — keep the persisted Lloyd
    # boundary's own handle for the release below (unpersist on a
    # withColumn derivative would silently leak the cached base; the
    # ADVICE-r7 leak class)
    cent_cache = centroids
    if metric != "cosine":
        centroids = centroids.withColumn("_metric", F.lit(metric))
    if train_iters != 1:
        centroids = centroids.withColumn(
            "_train_iters", F.lit(train_iters)
        )
    spark = corpus.sparkSession
    cb_path = f"{root}/codebook"
    # Encode runs against the codebook sidecar just written, not the
    # codebook's lineage, which would re-run training (parquet
    # round-trips the doubles exactly). A residual codebook trains on
    # the assignment itself, so the assignment has two consumers and
    # is persisted: the corpus assignment pass runs once.
    shared = pq and pq_mode == "residual"
    if shared:
        assigned = assigned.persist()
    try:
        if shared:
            _residual_codebook(assigned, centroids, pq_k=pq_k).write.mode(
                "overwrite"
            ).parquet(co.spark_path(cb_path))
            packed = spark.read.parquet(co.spark_path(cb_path))
            rows = _encode_assigned(assigned, packed, centroids)
        elif pq:
            as_cand = withn2.select(
                F.col("id").alias("candidate_id"), F.col("emb").alias("c_emb")
            )
            _pq_codebook(
                as_cand, train=_pq_train_sample(as_cand), pq_k=pq_k
            ).write.mode("overwrite").parquet(co.spark_path(cb_path))
            packed = spark.read.parquet(co.spark_path(cb_path))
            rows = _encode_assigned(assigned, packed)
        else:
            rows = assigned.select("id", "emb", "n2", "cell")
        rows.write.mode("overwrite").partitionBy("cell").parquet(
            co.spark_path(f"{root}/cells")
        )
        centroids.write.mode("overwrite").parquet(
            co.spark_path(f"{root}/centroids")
        )
    finally:
        # Every build mode persists its centroid frame (the Lloyd
        # boundary both the assignment and the sidecar write reuse), and
        # a residual build its assignment; release both once their
        # consumers have run — a long-lived serving session otherwise
        # leaks cached frames per store/rebuild (the ADVICE-r7
        # _pq_encode leak class; readers re-open the sidecars, never
        # these frames).
        if shared:
            assigned.unpersist()
        cent_cache.unpersist()


class ConcurrentMaintenanceError(RuntimeError):
    """Another maintainer committed a new generation while this one was
    rewriting — the staged output was based on a superseded source
    generation (its late-fold list can no longer see appends, which now
    land in the NEW current generation) and has been discarded. The
    other maintainer's commit made the index's progress; re-run against
    the current generation if this op is still wanted."""


def _reserve_generation(
    index_dir: str, src_gen: int, co: PosixCoordinator = _POSIX
) -> tuple[int, str]:
    """Allocate the next generation number + directory. MUST be called
    under the coordinator's maintenance lock (r10, ADVICE r9 #1): two
    maintainers
    racing each other previously both computed ``src_gen + 1`` outside
    any lock and bulk-wrote into the SAME ``gen-{N+1}`` directory — the
    second's ``mode("overwrite")`` clobbered files the first had already
    committed as CURRENT, under live readers. The reservation is the
    directory itself (``os.makedirs`` with the lock held makes it
    unique) plus a ``.staging`` marker that (a) tells ``reap`` the
    directory is an in-flight rewrite, not a superseded generation, and
    (b) is removed by ``_commit_generation`` at the flip, so a committed
    generation is never marker-bearing. Numbers can skip (an aborted
    maintainer removes its own reservation): the protocol needs the
    pointer to only move FORWARD, not to be dense."""
    taken = [src_gen]
    for path in co.list_gen_dirs(index_dir):
        tail = os.path.basename(path)[len("gen-") :]
        if tail.isdigit():
            taken.append(int(tail))
    gen = max(taken) + 1
    root = f"{index_dir}/gen-{gen}"
    co.makedirs(root)
    co.write_text(f"{root}/.staging", f"src={src_gen}\n")
    return gen, root


def _abort_if_superseded(
    index_dir: str,
    src_gen: int,
    staged_root: str,
    co: PosixCoordinator = _POSIX,
) -> None:
    """Commit-window guard (r10): under the maintenance lock, verify
    the committed generation is still the one this maintainer rewrote
    from. If another maintainer committed meanwhile, committing our
    staged output would LOSE data — appends now land in the new current
    generation, outside our late-fold listing of the stale source — so
    the only safe moves are abort (here: discard our own staged
    directory, which no one else can hold, and raise) or a full
    re-run."""
    current = _cells_generation(index_dir, co)
    if current != src_gen:
        co.rmtree(staged_root, ignore_errors=True)
        raise ConcurrentMaintenanceError(
            f"{index_dir} moved to generation {current} while this "
            f"maintainer was rewriting generation {src_gen}; staged "
            "output discarded — re-run against the current generation"
        )


def _cells_generation(
    index_dir: str, co: PosixCoordinator = _POSIX
) -> int:
    """Committed index generation. 0 = the original flat layout from a
    fresh ``store_ivf_index`` (``{index_dir}/{cells,centroids,
    codebook}``); N>0 = ``{index_dir}/gen-N/...`` written by a
    compaction or rebuild (the CDC one-pointer-swap protocol)."""
    text = co.read_text(f"{index_dir}/CURRENT")
    return 0 if text is None else int(text.strip())


def _gen_root(
    index_dir: str, gen: int, co: PosixCoordinator = _POSIX
) -> str:
    """Root of a COMMITTED generation. Detects the pre-r9 on-disk
    layout explicitly (ADVICE r9 #3): an index compacted under r8 wrote
    ``CURRENT=N`` pointing at ``{index_dir}/cells-gen-N`` with
    NON-generational sidecars at the index root — resolving it to
    ``gen-N/cells`` would fail with a bare missing-path error deep in
    the parquet reader. No silent fallback: the legacy layout's
    sidecars were overwritten in place by rebuilds (the very bug the
    r9 generation unification fixed), so a legacy index's cells can't
    be trusted to match its quantizer — rebuild it."""
    if gen == 0:
        return index_dir
    root = f"{index_dir}/gen-{gen}"
    if not co.isdir(root) and co.isdir(f"{index_dir}/cells-gen-{gen}"):
        raise RuntimeError(
            f"{index_dir} uses the pre-r9 legacy index layout "
            f"(CURRENT={gen} → cells-gen-{gen} with non-generational "
            "sidecars); no in-place migration exists — rebuild with "
            "store_ivf_index over the legacy cells table's (id, emb)"
        )
    return root


def _cells_path(index_dir: str, co: PosixCoordinator = _POSIX) -> str:
    return f"{_gen_root(index_dir, _cells_generation(index_dir, co), co)}/cells"


def _is_pq_index(index_dir: str, co: PosixCoordinator = _POSIX) -> bool:
    return co.isdir(
        f"{_gen_root(index_dir, _cells_generation(index_dir, co), co)}"
        "/codebook"
    )


def _commit_generation(
    index_dir: str, gen: int, co: PosixCoordinator = _POSIX
) -> None:
    """The one atomic commit: fsync a tmp pointer file, rename it over
    ``CURRENT`` (``co.commit_pointer`` — POSIX rename by default; an
    object-store coordinator supplies its own commit semantics).
    Everything before this is invisible to readers; a crash before it
    leaves the old generation serving. The ``.staging`` reservation
    marker comes off FIRST (still invisible — readers resolve through
    the pointer), so a committed generation is never marker-bearing
    and ``reap`` can tell superseded generations from in-flight
    rewrites."""
    marker = f"{index_dir}/gen-{gen}/.staging"
    if gen > 0 and co.exists(marker):
        co.remove(marker)
    co.commit_pointer(index_dir, gen)


def _sidecar_rows(dir_path: str, co: PosixCoordinator) -> int:
    """Rows in a flat sidecar directory (centroids, tombstones), summed
    from the footers of its committed files; 0 when it is absent."""
    return sum(co.footer_rows(co.list_parquet_files(dir_path)).values())


@dataclass(frozen=True)
class _IndexMeta:
    """The committed generation's metadata: per-cell ``(cell, n_rows,
    n_files)`` rows (occupied cells only, cell as the raw partition
    string), the centroid count ``k`` and the tombstone row count."""

    gen: int
    cells: list
    k: int
    tombstones: int


def _index_meta(index_dir: str, co: PosixCoordinator) -> _IndexMeta:
    """The one reader of index metadata, on the driver and without
    Spark: resolve the committed generation, list its cell, centroid
    and tombstone files through the coordinator and sum their parquet
    footers. No data page is read."""
    gen = _cells_generation(index_dir, co)
    root = _gen_root(index_dir, gen, co)
    cells_dir = f"{root}/cells"
    if not co.isdir(cells_dir):
        raise FileNotFoundError(f"no cells table at {cells_dir}")
    per_cell: dict[str, tuple[int, int]] = {}
    for path, n in co.footer_rows(co.list_cell_files(cells_dir)).items():
        cell = path.rsplit("/", 2)[-2][len("cell=") :]
        rows, files = per_cell.get(cell, (0, 0))
        per_cell[cell] = (rows + n, files + 1)
    return _IndexMeta(
        gen=gen,
        cells=[(c, r, f) for c, (r, f) in sorted(per_cell.items())],
        k=_sidecar_rows(f"{root}/centroids", co),
        tombstones=_sidecar_rows(f"{root}/tombstones", co),
    )


def ivf_index_stats(
    spark,
    index_dir: str,
    filesystem=None,
    coordinator: PosixCoordinator | None = None,
) -> DataFrame:
    """Serving-health panel: one row per occupied cell — (cell string,
    n_rows long, n_files long). Occupancy skew is the
    quantizer-staleness signal the drift monitor can't see (a
    distribution can drift WITHIN the same TVD bins yet pile into few
    cells, turning nprobe pruning into a near-full scan), and n_files
    is the small-files signal incremental appends accrue (every append
    writes ≥1 file per landed cell — a long-lived index degrades until
    compaction).

    The panel is read on the driver (``_index_meta``): the committed
    generation's cell files are listed through the coordinator and
    each file's row count comes from its parquet footer, so the cost
    is O(files), no data page is read and no Spark job runs. Measured
    on a 4-core VM over 4,000 local files with a warm page cache:
    ~15 µs per footer, so one driver read covers about 65k footers in
    1 s. Per-footer latency on an object store is unmeasured.

    ``coordinator=`` reads through that control plane (a lease-backed
    subclass's resolution included); ``filesystem=`` is shorthand for
    an ``ArrowFsCoordinator`` over any ``pyarrow.fs.FileSystem``, with
    ``index_dir`` then a path within it. Passing both raises. A missing
    cells table raises ``FileNotFoundError``."""
    if filesystem is not None and coordinator is not None:
        # conflicting control planes (ADVICE r11 #2): silently
        # wrapping the raw filesystem in a fresh base-class
        # ArrowFsCoordinator would bypass a lease-backed subclass's
        # overridden resolution
        raise ValueError(
            "pass filesystem= OR coordinator=, not both — a "
            "coordinator already owns its filesystem and resolution "
            "semantics"
        )
    if filesystem is not None:
        coordinator = ArrowFsCoordinator(filesystem)
    return spark.createDataFrame(
        _index_meta(index_dir, coordinator or _POSIX).cells,
        "cell string, n_rows long, n_files long",
    )


def maintain_ivf_index(
    spark,
    index_dir: str,
    max_files_per_cell: int = 8,
    skew_ratio: float = 8.0,
    auto_rebuild: bool = False,
    coordinator: PosixCoordinator | None = None,
    max_tombstones: int | None = None,
) -> dict:
    """The maintenance POLICY sweep — the autopilot loop a long-lived
    serving index runs between drains, turning the ``ivf_index_stats``
    health panel into actions and signals:

    - small-files: if any cell's file count exceeds
      ``max_files_per_cell`` (appends leave ≥1 file per landed cell
      per batch), run ``compact_ivf_index`` — probe cost at fixed
      nprobe tracks per-cell FILE count, so this is the lever that
      keeps wave latency flat under continuous ingestion.
    - occupancy skew: if max(cell rows) / mean(cell rows) exceeds
      ``skew_ratio``, recommend a rebuild. Skew is the
      quantizer-staleness signal the drift monitor can't see: a
      distribution can drift WITHIN its TVD bins yet pile into few
      cells, quietly turning nprobe pruning into a near-full scan.
      With ``auto_rebuild=True`` the sweep EXECUTES the rebuild via
      ``rebuild_ivf_index`` (r10 — safe to automate now that the
      rebuild's corpus provenance is airtight: corpus ≡ the pinned
      snapshot, racing appends folded forward); the default stays
      flag-only for callers who rebuild with different knobs or on a
      schedule. When a skew rebuild runs, the small-files compaction
      is SKIPPED — the rebuild rewrites every cell at one file anyway,
      so compacting first would burn a full extra rewrite.
    - tombstone debt (r12): ``tombstones`` reports the logical-delete
      sidecar's row count — every probe pays a broadcast anti-join
      proportional to it, so unbounded debt slowly taxes serving.
      With ``max_tombstones=`` set, debt above it triggers the same
      ``compact_ivf_index`` (which physically drops the rows and
      clears the sidecar); a skew rebuild clears it too. Default
      ``None`` reports without acting — deletes are rare enough on
      most deployments that the small-files trigger compacts first.
      When the sweep EXECUTED a compaction or rebuild, ``tombstones``
      is RE-COUNTED against the new generation (ADVICE r12 #3): the
      physical rewrite cleared the debt (late deletes carried forward
      stay counted), so the report states the debt REMAINING after the
      sweep's own action — an autopilot reading ``compacted=True``
      with ``tombstones=N>0`` would otherwise treat the just-cleared
      pre-sweep debt as residual and re-trigger.
    - crash debris: ``stale_staging`` lists ``.staging``-marked
      generation directories BELOW the committed generation — a
      crashed maintainer's leaked reservation (a live one below
      CURRENT can only belong to a maintainer that is about to abort).
      Surfaced for the operator; never auto-deleted (same conservatism
      as the leaked-lock message).

    Every number the sweep decides on comes from ``_index_meta``, the
    driver-side footer reader behind ``ivf_index_stats``: the pinned
    cell, centroid and tombstone listings plus their parquet footers.
    A sweep that decides to do nothing therefore runs no Spark job;
    it costs the listing plus one footer read per file (see
    ``ivf_index_stats`` for the measured rate). Returns the report:
    ``{"cells", "k", "empty_cells", "max_files", "skew", "compacted",
    "superseded", "rebuild_recommended", "rebuilt", "stale_staging",
    "tombstones"}`` — ``cells`` counts OCCUPIED cells (the panel's
    rows); ``k`` is the quantizer's centroid count; a growing
    ``empty_cells`` gap is wasted quantizer capacity, another
    staleness signal. ``cells``, ``k``, ``max_files`` and ``skew``
    describe the generation the sweep decided on."""
    co = coordinator or _POSIX
    meta = _index_meta(index_dir, co)
    # the panel sees only OCCUPIED cells (they are the only cell
    # directories); k is the quantizer's true size (r10: an auto build
    # can leave Lloyd cells empty)
    n_cells = len(meta.cells)
    rows = [r for _, r, _ in meta.cells]
    max_files = max((f for _, _, f in meta.cells), default=0)
    mean_rows = sum(rows) / n_cells if n_cells else 0.0
    skew = max(rows, default=0) / mean_rows if mean_rows else 0.0
    n_tombstones = meta.tombstones
    rebuild_recommended = skew > skew_ratio
    compacted = False
    superseded = False
    rebuilt = False
    tombstone_debt = (
        max_tombstones is not None and n_tombstones > max_tombstones
    )
    if rebuild_recommended and auto_rebuild:
        try:
            rebuild_ivf_index(spark, index_dir, coordinator=co)
            rebuilt = True
        except ConcurrentMaintenanceError:
            superseded = True
    elif max_files > max_files_per_cell or tombstone_debt:
        try:
            compact_ivf_index(spark, index_dir, coordinator=co)
            compacted = True
        except ConcurrentMaintenanceError:
            # Another maintainer (a second autopilot, a drift-triggered
            # rebuild) committed first — ITS commit made the index's
            # progress and our staged output was safely discarded. The
            # next sweep re-reads stats against the new generation; an
            # autopilot must never die on losing this race.
            superseded = True
    current = meta.gen
    if compacted or rebuilt or superseded:
        # the sweep's action (or, when superseded, ANOTHER maintainer's
        # commit) changed the serving generation's debt — recount
        # against the generation now committed, so the report never
        # pairs compacted/rebuilt=True (or a lost race) with the stale
        # pre-sweep count (ADVICE r12 #3; superseded case r13 review)
        after = _index_meta(index_dir, co)
        current, n_tombstones = after.gen, after.tombstones
    stale_staging = sorted(
        path
        for path in co.list_gen_dirs(index_dir)
        if co.exists(f"{path}/.staging")
        and os.path.basename(path)[len("gen-") :].isdigit()
        and int(os.path.basename(path)[len("gen-") :]) < current
    )
    return {
        "cells": n_cells,
        "k": meta.k,
        "empty_cells": meta.k - n_cells,
        "max_files": max_files,
        "skew": round(skew, 4),
        "compacted": compacted,
        "superseded": superseded,
        "rebuild_recommended": rebuild_recommended,
        "rebuilt": rebuilt,
        "stale_staging": stale_staging,
        "tombstones": n_tombstones,
    }


def rebuild_ivf_index(
    spark: SparkSession,
    index_dir: str,
    cells: int | str = "auto",
    pq: bool | None = None,
    pq_mode: str | None = None,
    pq_k: int | None = None,
    metric: str | None = None,
    coordinator: PosixCoordinator | None = None,
    train_iters: int | None = None,
) -> None:
    """Execute the rebuild ``maintain_ivf_index`` recommends: retrain
    the quantizer on the index's OWN current contents and commit the
    result as the next atomic generation — with ZERO provenance gap.
    ``store_ivf_index``-over-existing necessarily has one (its corpus
    is caller-supplied, so an append completing between the caller's
    corpus read and the call is in neither the corpus nor the
    fold-forward — documented there); here the corpus IS the index, so
    the rebuild pins its corpus reader and its snapshot as the SAME
    file listing, taken under the maintenance lock: every row is
    either in the rebuild corpus (listed file) or re-assigned by the
    locked fold-forward (landed later) — never both (no duplication),
    never neither (no loss).

    ``pq=None`` (default) keeps the index's current tier (codebook
    sidecar present ⇒ PQ) — and ``pq_mode=None`` / ``pq_k=None`` /
    ``metric=None`` (defaults) keep the CURRENT codebook's mode and
    code budget AND the quantizer's training metric too (r10 cont.;
    metric r11): the sidecars self-describe all three (``_residual``
    tag; ``pq_k = size(_cb)/PQ_M``; ``_metric`` tag), and without
    inheritance an autopilot rebuild of a ``pq_mode="raw"``,
    ``pq_k=64``, or ``metric="l2"`` index would silently revert it to
    the store-time defaults — a dialed-in deployment must not lose its
    knobs to maintenance. Pass explicit values to change
    tier/mode/budget/metric at rebuild time (a tier change onto a
    non-PQ index falls back to the ``store_ivf_index`` defaults). Same
    abort contract as every maintainer: ``ConcurrentMaintenanceError``
    if another maintainer commits first."""
    co = coordinator or _POSIX
    # validate caller-supplied knobs BEFORE any work (r11 review:
    # store_ivf_index validates these but rebuild previously did not —
    # a typo'd metric would be tagged onto the sidecar, silently
    # degrade to cosine via _assignment_metric/_assign_key fallbacks,
    # and then be INHERITED by every later bare rebuild)
    if metric is not None and metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}: {metric!r}")
    if train_iters is not None and (
        not isinstance(train_iters, int) or train_iters < 1
    ):
        raise ValueError(
            f"train_iters must be an int >= 1: {train_iters!r}"
        )
    if isinstance(pq_k, str):
        # rebuild inherits the sidecar's INTEGER (an "auto" store
        # already resolved to one); a string here would raise deep in
        # codebook training, after the generation reservation
        raise ValueError(
            f"rebuild pq_k must be an int (or None to inherit): {pq_k!r}"
        )
    if pq_mode is not None and pq_mode not in ("residual", "raw"):
        raise ValueError(f"pq_mode must be 'residual' or 'raw': {pq_mode!r}")
    if pq is None:
        pq = _is_pq_index(index_dir, co)
    with co.lock(index_dir):
        src_gen = _cells_generation(index_dir, co)
        src_root = _gen_root(index_dir, src_gen, co)
        src_cells = f"{src_root}/cells"
        if metric is None or train_iters is None:
            # metric + train-depth inheritance (r11), read under the
            # lock like the pq knobs: the sidecar is the same
            # generation the corpus listing pins
            side = spark.read.parquet(
                co.spark_path(f"{src_root}/centroids")
            )
            if metric is None:
                metric = _index_metric(side)
            if train_iters is None:
                train_iters = (
                    side.select("_train_iters").first()[0]
                    if "_train_iters" in side.columns
                    else 1
                )
        if pq and (pq_mode is None or pq_k is None):
            # knob inheritance, read under the lock so the sidecar is
            # the same generation the corpus listing pins
            cb_path = f"{src_root}/codebook"
            if co.isdir(cb_path):
                cb = spark.read.parquet(co.spark_path(cb_path))
                if pq_mode is None:
                    pq_mode = (
                        "residual" if "_residual" in cb.columns else "raw"
                    )
                if pq_k is None:
                    pq_k = cb.select(
                        (F.size("_cb") / F.lit(PQ_M)).cast("int")
                    ).first()[0]
        if pq_mode is None:
            pq_mode = "residual"
        # validate the RESOLVED combination before reserving (ADVICE
        # r11 #1): the explicit-arg checks above can't see inherited
        # knobs — e.g. cells='fixture' onto a metric-trained index
        # resolves to a conflict only here, and _write_index's own
        # raise would orphan the .staging reservation
        _validate_build_knobs(cells, pq_mode, metric, train_iters)
        spark.catalog.refreshByPath(co.spark_path(src_cells))
        reader = spark.read.parquet(co.spark_path(src_cells))
        # corpus ≡ snapshot: the reader's pinned file index is both
        snapshot = {co.from_spark_path(f) for f in reader.inputFiles()}
        # tombstone snapshot (r12): the rebuild corpus EXCLUDES every
        # id tombstoned as of this locked listing — the rebuild is a
        # physical delete + quantizer retrain in one pass, and the new
        # generation starts with a clear sidecar (late tombstones are
        # carried in the commit window, same as compaction)
        ts_dir = f"{src_root}/tombstones"
        ts_snapshot = co.list_parquet_files(ts_dir)
        tombstones = _tombstones_from_files(spark, ts_snapshot, co)
        gen, root = _reserve_generation(index_dir, src_gen, co)
    corpus = reader.select("id", "emb")
    if tombstones is not None:
        corpus = corpus.join(F.broadcast(tombstones), "id", "left_anti")
    _write_index(
        corpus,
        root,
        cells,
        pq,
        pq_mode,
        pq_k,
        metric,
        co,
        train_iters,
    )
    with co.lock(index_dir):
        _abort_if_superseded(index_dir, src_gen, root, co)
        late = sorted(co.list_cell_files(src_cells) - snapshot)
        if late:
            # landed after the pinned corpus listing: re-assign against
            # the NEW generation's quantizer (minus snapshot-tombstoned
            # ids — a late re-append must not resurrect a masked id)
            rows = (
                spark.read.option("basePath", co.spark_path(src_cells))
                .parquet(*[co.spark_path(p) for p in late])
                .select("id", "emb")
            )
            if tombstones is not None:
                rows = rows.join(
                    F.broadcast(tombstones), "id", "left_anti"
                )
            _append_rows(rows, root, co)
        _carry_tombstones(
            spark, co.list_parquet_files(ts_dir) - ts_snapshot, root, co
        )
        _commit_generation(index_dir, gen, co)


def reap_ivf_generations(
    index_dir: str, coordinator: PosixCoordinator | None = None
) -> list[str]:
    """Delete SUPERSEDED generations — the out-of-band reclamation the
    compaction/rebuild docstrings defer to. Returns the paths removed.

    Every committed maintenance op leaves its predecessor on disk for
    in-flight readers (deleting a parquet directory under an active
    scan breaks the reader — the object-store reality the CDC protocol
    shares). Once the operator knows no reader can still hold a
    superseded generation (a retention window, a drain boundary, a
    session bounce), this reclaims the space: every ``gen-N`` root
    below the committed generation, plus the flat gen-0 layout
    (``cells``/``centroids``/``codebook`` at the index root) when the
    pointer has moved past it. The CURRENT generation is never
    touched; with no pointer (still gen 0) this is a no-op. Runs under
    the maintenance lock so it serializes with a compactor/rebuilder
    whose source IS the current generation (never a reaped one — they
    read the generation committed at their entry, and the pointer only
    moves forward)."""
    co = coordinator or _POSIX
    removed: list[str] = []
    with co.lock(index_dir):
        current = _cells_generation(index_dir, co)
        if current == 0:
            return removed
        for name in ("cells", "centroids", "codebook", "tombstones"):
            path = f"{index_dir}/{name}"
            if co.isdir(path):
                co.rmtree(path)
                removed.append(path)
        for gen in range(1, current):
            path = f"{index_dir}/gen-{gen}"
            # A ``.staging``-marked directory below CURRENT is a live
            # maintainer's reservation (its bulk rewrite runs OUTSIDE
            # the lock by design) — never a superseded generation; its
            # owner removes it at commit or abort. A maintainer that
            # CRASHED mid-rewrite leaks its reservation the same way a
            # crashed lock holder leaks MAINTENANCE.lock: remove it by
            # hand once no maintainer is live.
            if co.isdir(path) and not co.exists(f"{path}/.staging"):
                co.rmtree(path)
                removed.append(path)
    return removed


def compact_ivf_index(
    spark,
    index_dir: str,
    _before_commit=None,
    coordinator: PosixCoordinator | None = None,
) -> None:
    """Rewrite the cell-partitioned table at ONE file per cell and
    commit it with a single atomic pointer rename — the serving-tier
    twin of the warehouse compaction (S4) and the standard maintenance
    op every appendable index needs (Delta OPTIMIZE / Lucene segment
    merge / FAISS index merging): incremental adds leave one file per
    (append, landed cell), and probe cost at fixed nprobe grows with
    per-cell file count (open/footer/seek per file), not data.

    Crash-safe by the CDC generation protocol (``streaming/cdc.py``):
    the new generation — compacted cells AND the (tiny, K-row)
    sidecars, so one pointer covers the WHOLE index (r9) — is fully
    written first, then ``CURRENT`` flips via one POSIX ``os.rename``;
    a crash anywhere before the flip leaves the old generation
    serving, intact. The previous generation's directory is left on
    disk for in-flight readers (object-store reality: deleting under a
    reader breaks it); reap it out-of-band once no reader can hold it.

    Race-safe against appends (r8 verdict "what's wrong" #1 — the old
    protocol snapshot-read then flipped, silently stranding an append
    that landed in between): the commit window holds the maintenance
    lock and RE-LISTS the source generation's cell files; any file not
    in the pre-rewrite snapshot is folded forward into the new
    generation before the flip. Appends hold the same lock across
    their write, so a fold-or-flip decision can never miss a write in
    flight. Late-folded cells briefly hold >1 file — compaction's
    one-file-per-cell result is best-effort under concurrency, its
    no-row-loss commit is not.

    Race-safe against OTHER MAINTAINERS (r10): the destination
    generation is reserved under the lock at entry, and the commit
    window aborts with ``ConcurrentMaintenanceError`` (staged output
    discarded) if another maintainer committed first — see the module
    docstring's concurrency section.

    Values are untouched by construction: the rewrite is
    read → repartition("cell") → write of the SAME rows; one shuffle
    by the partition key, each cell lands wholly in one task, one file
    per cell directory. ``_before_commit`` is a test seam (invoked
    after the bulk rewrite, before the locked commit window) used to
    interleave an append at the exact race point."""
    # Entry window under the lock (r10): the destination generation is
    # RESERVED so a racing maintainer (another compaction, or a
    # drift-triggered rebuild) can never bulk-write into the same gen
    # directory, and creating the reader here serializes its pinned
    # file listing with any in-flight append — the listing sees whole
    # appends only.
    co = coordinator or _POSIX
    with co.lock(index_dir):
        src_gen = _cells_generation(index_dir, co)
        src_root = _gen_root(index_dir, src_gen, co)
        src_cells = f"{src_root}/cells"
        gen, dst_root = _reserve_generation(index_dir, src_gen, co)
        spark.catalog.refreshByPath(co.spark_path(src_cells))
        reader = spark.read.parquet(co.spark_path(src_cells))
        # The snapshot is the EXACT file set the rewrite reads — taken
        # from the reader's own resolved file index (Spark pins the
        # listing at read time), not a separate directory walk: a
        # racing append landing between a walk and the read would
        # otherwise be BOTH rewritten and late-folded, i.e. duplicated.
        snapshot = {co.from_spark_path(f) for f in reader.inputFiles()}
        # Tombstone snapshot (r12): compaction is where logical
        # deletes become PHYSICAL — the rewrite drops every row whose
        # id is tombstoned as of this listing (including masked
        # re-appended copies), and the new generation starts with a
        # CLEAR sidecar. The file listing is pinned under the same
        # lock hold as the cells snapshot, so a racing delete is
        # either wholly in the filter or wholly in the commit
        # window's late-tombstone carry — never split.
        ts_dir = f"{src_root}/tombstones"
        ts_snapshot = co.list_parquet_files(ts_dir)
        tombstones = _tombstones_from_files(spark, ts_snapshot, co)
    rows = reader
    if tombstones is not None:
        rows = rows.join(F.broadcast(tombstones), "id", "left_anti")
    (
        rows.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(co.spark_path(f"{dst_root}/cells"))
    )
    # Sidecars ride the generation: a parquet roundtrip of the K-row
    # centroid table (and 1-row codebook) is lossless and negligible
    # next to the cells rewrite, and it buys the whole-index pointer.
    spark.read.parquet(co.spark_path(f"{src_root}/centroids")).write.mode(
        "overwrite"
    ).parquet(co.spark_path(f"{dst_root}/centroids"))
    if co.isdir(f"{src_root}/codebook"):
        spark.read.parquet(
            co.spark_path(f"{src_root}/codebook")
        ).write.mode("overwrite").parquet(
            co.spark_path(f"{dst_root}/codebook")
        )
    if _before_commit is not None:
        _before_commit()
    with co.lock(index_dir):
        _abort_if_superseded(index_dir, src_gen, dst_root, co)
        late = sorted(co.list_cell_files(src_cells) - snapshot)
        if late:
            # Same quantizer generation -> the rows' cell assignments
            # and codes are already correct; fold them forward as-is
            # (minus snapshot-tombstoned ids — a late re-append of a
            # masked id must not resurrect it through the fold).
            late_rows = spark.read.option(
                "basePath", co.spark_path(src_cells)
            ).parquet(*[co.spark_path(p) for p in late])
            if tombstones is not None:
                late_rows = late_rows.join(
                    F.broadcast(tombstones), "id", "left_anti"
                )
            (
                late_rows.write.mode("append")
                .partitionBy("cell")
                .parquet(co.spark_path(f"{dst_root}/cells"))
            )
        # Tombstones that landed DURING the rewrite were not in the
        # filter — carry them into the new generation's sidecar so the
        # delete survives the compaction (logical until the NEXT one).
        _carry_tombstones(
            spark, co.list_parquet_files(ts_dir) - ts_snapshot, dst_root, co
        )
        _commit_generation(index_dir, gen, co)


def append_to_ivf_index(
    new_vectors: DataFrame,
    index_dir: str,
    coordinator: PosixCoordinator | None = None,
) -> None:
    """Assign arriving (id, emb) vectors against the STORED frozen
    centroids — and, for a PQ index (auto-detected from the codebook
    sidecar), encode them against the STORED frozen codebook — one
    map-only broadcast pass over the BATCH, then append: only the
    landed-in cells gain files; the stored corpus is never read, never
    rewritten, nothing retrains. A routed index (``_coarse`` on the
    sidecar) assigns the batch through the SAME two-level quantizer
    the base corpus used — one quantizer function across base,
    appends, and probes (r8).

    The write happens under the maintenance lock (r9): a compaction or
    rebuild committing concurrently either sees this append's files in
    its locked re-list (and folds them into the new generation) or
    waits for the lock — either way the appended rows are served by
    whatever generation is current after both commit. Appends
    serialize with each other; see the module docstring for the
    multi-writer story.

    The frozen quantizer comes from the generation resolved under the
    lock: a live persisted handle's state when one holds that
    generation (no sidecar read, no schema inference, no pack), else a
    state built for this call."""
    co = coordinator or _POSIX
    with co.lock(index_dir):
        gen = _cells_generation(index_dir, co)
        _append_rows(new_vectors, _gen_root(index_dir, gen, co), co)


def _append_rows(
    new_vectors: DataFrame, root: str, co: PosixCoordinator = _POSIX
) -> None:
    """The append body against one resolved generation ``root``.

    The index has ONE vector dtype (the FAISS contract): the batch's
    ``emb`` is cast to the STORED table's element type before anything
    touches it. Without this, a batch whose arithmetic promoted
    float→double would WRITE the wider type into the cell-partitioned
    table and every later read of a touched cell fails with a parquet
    column-type mismatch — an append must never be able to corrupt
    the table it extends (found by the r8 symmetry test: a ×2.0-scaled
    float batch arrives as array<double>)."""
    state = _frozen_state(new_vectors.sparkSession, root, co)
    # (id, emb) only, emb in the stored type — any caller-supplied n2
    # is dropped so the norm refolds on the exact stored values
    new_vectors = new_vectors.select(
        "id",
        F.col("emb").cast(state.cells_schema["emb"].dataType).alias("emb"),
    )
    assigned = state.assign(new_vectors)
    if state.codebook is not None:
        # centroids double as the residual base when the codebook is
        # _residual-tagged; _encode_assigned ignores them otherwise
        rows = _encode_assigned(assigned, state.codebook, state.centroids)
    else:
        rows = assigned.select("id", "emb", "n2", "cell")
    rows.write.mode("append").partitionBy("cell").parquet(
        co.spark_path(f"{root}/cells")
    )


def delete_from_ivf_index(
    ids: DataFrame,
    index_dir: str,
    coordinator: PosixCoordinator | None = None,
) -> int:
    """Logical deletion — the index learns to FORGET (r12; r11 verdict
    #1): takedown, retraction, and right-to-be-forgotten requests are
    routine operations on a 100 TB training corpus, and until now the
    only recourse was a caller-orchestrated full rebuild from a
    filtered corpus. ``ids`` is a DataFrame with an ``id`` column (the
    request batch); the call writes a TOMBSTONE sidecar
    (``{gen_root}/tombstones`` — an id-only parquet table) under the
    SAME generation + lock protocol every maintainer uses, and returns
    the number of NEW tombstones recorded (already-tombstoned ids
    dedupe to zero and null ids are dropped — idempotent by
    construction; deleting an id the index never held is a harmless
    no-op, so the call never scans the corpus to validate existence).

    Semantics (the Lucene/Delta delete-vector discipline):
    - Deletion is LOGICAL first: every serving probe
      (``query_ivf_index`` — float, ADC, and rerank tiers) anti-joins
      the tombstone set (a broadcast of the debt-bounded sidecar), so
      a deleted id stops being served the moment this call returns —
      and ``admit_novel_vectors`` therefore stops treating the deleted
      parent as a blocker: re-submitted content is admitted fresh.
    - Physical removal happens at the next ``compact_ivf_index`` or
      ``rebuild_ivf_index``: both filter tombstoned rows out of the
      rewrite and CLEAR the sidecar in the new generation (tombstones
      that land DURING the rewrite are carried forward, never lost —
      same late-fold discipline as racing appends).
    - ``maintain_ivf_index`` reports the debt (``tombstones``) and,
      with ``max_tombstones=`` set, triggers the compaction — the
      policy loop that keeps the anti-join broadcast small.
    - Deletion is BY ID: re-appending the SAME id before a compaction
      clears its tombstone leaves the new row masked too (the sidecar
      can't tell the copies apart). Re-admit content under a fresh id
      (what ``admit_novel_vectors`` does naturally), or compact first.

    Crash story: the new ids land as ONE parquet file published by
    the coordinator (``publish_parquet``): written under a hidden tmp
    name that neither the committed listing nor a Spark directory read
    matches, then renamed into place, so readers see the whole batch
    or none of it. A crash before the rename leaves only that
    invisible tmp file (it goes with its generation), and the index
    keeps serving its pre-delete state. The lock serializes the
    publish against maintainers exactly like an append: a compaction
    committing concurrently either sees this tombstone file in its
    locked re-list (and carries it forward) or it lands against the
    generation it already committed.

    Shape at 100 TB: O(request batch + tombstone debt), all on the
    driver — collect the batch's ids (null ids name nothing and are
    dropped), read the generation's debt-bounded id set from its
    pinned listing, publish the difference. So a request must be one
    request-sized batch; the corpus is never read."""
    co = coordinator or _POSIX
    with co.lock(index_dir):
        root = _gen_root(index_dir, _cells_generation(index_dir, co), co)
        ts_dir = f"{root}/tombstones"
        requested = {
            r.id
            for r in ids.select(F.col("id").cast("long").alias("id")).collect()
            if r.id is not None
        }
        existing = co.read_parquet(co.list_parquet_files(ts_dir))
        if existing is not None:
            requested -= set(existing.column("id").to_pylist())
        if requested:
            import pyarrow as pa

            co.publish_parquet(
                ts_dir,
                pa.table({"id": pa.array(sorted(requested), pa.int64())}),
            )
    return len(requested)


def resident_ids(
    batch: DataFrame,
    index_dir: str,
    handle: "IvfIndexHandle | None" = None,
    coordinator: PosixCoordinator | None = None,
) -> DataFrame:
    """Which of the batch's (id, emb) rows are ALREADY stored (and not
    tombstoned)? The replay-idempotency primitive the admission drain
    needs (r12 review): a replayed wave's rows are in the index, and
    asking "is this exact row stored?" must not depend on top-1 probe
    TIE-BREAKING — two exact copies admitted in one wave tie at score
    1.0 and the lower id wins rank-1, so a nearest_id==id heuristic
    mislabels the higher-id copy as a rejected duplicate on replay.

    Exact by construction instead: each row is assigned its cell with
    the SAME frozen-quantizer pass its append used (same dtype cast,
    same routing), then semi-joined on (cell, id) against the cell
    table — a DPP-pruned scan of only the assigned cells, batch-sized
    cost, zero reliance on score ordering. Returns a 1-column ``id``
    frame."""
    spark = batch.sparkSession
    co = coordinator or _POSIX
    h = handle if handle is not None else _serving_view(spark, index_dir, co)
    stored = spark.read.schema(h.state.cells_schema).parquet(h.cells_path)
    rows = batch.select(
        "id", F.col("emb").cast(stored.schema["emb"].dataType).alias("emb")
    )
    assigned = h.state.assign(rows).select("id", "cell")
    resident = stored.select("id", "cell").join(
        F.broadcast(assigned), ["cell", "id"], "left_semi"
    )
    # snapshot consistency (ADVICE r12 #4): screen against the handle's
    # tombstone frame — with a CALLER handle that is the wave-boundary
    # cached snapshot the wave's probe used, so a delete landing
    # mid-wave cannot make one wave's report internally inconsistent
    # (probe screened against the old set, membership against the new);
    # on the handle-less path the view above just listed the sidecar
    # fresh, so h.tombstones IS the immediate view (re-loading it here,
    # as the first cut did, was a second listing for identical
    # freshness — r13 review).
    tombstones = h.tombstones
    if tombstones is not None:
        resident = resident.join(
            F.broadcast(tombstones), "id", "left_anti"
        )
    return resident.select("id")


def _tombstones_from_files(
    spark: SparkSession, paths, co: PosixCoordinator = _POSIX
):
    """Tombstone id-frame over an EXPLICIT pinned file listing (the
    maintainers' snapshot discipline — a directory read would race
    late deletes), or None when the listing is empty. Declared schema:
    crash debris never poisons inference."""
    if not paths:
        return None
    return spark.read.schema("id long").parquet(
        *[co.spark_path(p) for p in sorted(paths)]
    )


def _carry_tombstones(
    spark: SparkSession, paths, dst_root: str, co: PosixCoordinator = _POSIX
) -> None:
    """Append the listed tombstone files into ``dst_root``'s sidecar —
    the carry-forward every maintainer's commit window runs for
    deletes its rewrite could not have filtered."""
    if paths:
        _tombstones_from_files(spark, paths, co).write.mode("append").parquet(
            co.spark_path(f"{dst_root}/tombstones")
        )


def _without_tombstones(
    stored: DataFrame, tombstones: DataFrame | None
) -> DataFrame:
    """Serving-side logical delete: broadcast anti-join of the stored
    candidates against the (debt-bounded) tombstone set. None — the
    overwhelmingly common case — is a no-op, zero plan change."""
    if tombstones is None:
        return stored
    return stored.join(
        F.broadcast(tombstones.withColumnRenamed("id", "candidate_id")),
        "candidate_id",
        "left_anti",
    )


def _assignment_metric(metric: str) -> str:
    """Cell-ASSIGNMENT objective for a quantizer trained under
    ``metric``: l2 and ip both assign under L2 (an ip index ranks
    cells by inner product at PROBE time only — a max-IP assignment is
    degenerate, see ``store_ivf_index``); cosine stays spherical."""
    return "l2" if metric in ("l2", "ip") else "cosine"


def _index_metric(centroids: DataFrame) -> str:
    """The quantizer's TRAINING metric, read from the ``_metric`` tag
    on the centroid sidecar (r11). Absent tag = ``cosine`` (every
    pre-r11 index and every default store)."""
    if "_metric" not in centroids.columns:
        return "cosine"
    return centroids.select("_metric").first()[0]


def _read_sidecar(
    spark: SparkSession, path: str, co: PosixCoordinator = _POSIX
) -> DataFrame:
    """A write-once sidecar read through its committed FILES, not its
    directory: Spark's cache matches a directory read by path, so a
    directory deleted and stored again would otherwise be served the
    rows a live handle cached from its predecessor."""
    return spark.read.parquet(
        *[co.spark_path(p) for p in sorted(co.list_parquet_files(path))]
    )


class QuantizerState:
    """One generation's FROZEN serving state: everything a probe,
    append or membership check derives from the write-once centroid
    and codebook sidecars, derived once per generation instead of once
    per call.

    - ``coarse`` (the ``_coarse`` routing scalar, None for a flat
      index) and ``metric`` (the ``_metric`` training tag), read off
      one sidecar row, and ``k`` (the centroid count ``nprobe="all"``
      resolves to), summed from the sidecar's parquet footers;
    - ``cells_schema``: the cell table's schema, so every read of the
      cell relation declares it instead of running a schema-inference
      job (appends cast to the stored types, so it cannot drift within
      a generation);
    - ``flat`` and ``routed``: the packed routing rows
      (``similarity._pack_cells``). ``flat`` is metric-independent;
      ``routed`` is packed under the ASSIGNMENT metric and serves both
      assignment and symmetric probes, which route only when the probe
      metric equals it (an ip index probes flat);
    - ``decode`` (PQ indexes): ONE row of the sorted codebook
      (``_cbs``, ``_kk``) plus, for a residual codebook, ``_cmap`` —
      the centroids as a dense array indexed by cell (null at an empty
      cell's slot), so residual decode is one broadcast and one
      ``element_at`` instead of a codebook cross join plus a centroid
      join.

    With ``persist=True`` (``open_ivf_index`` for a multi-wave caller)
    the sidecars and every derived row are cached and materialized
    here, so a wave's plan reads the cached rows: no sidecar scan, no
    collect_list aggregate. Otherwise (the one-shot batch path) the
    rows are plain lazy frames, each built on first use and reused
    within the call, so the plans are the per-call ones. ``release``
    drops the cache entries.

    A persisted state is also SHARED within the session: ``open_ivf_index``
    publishes it under the generation's identity (``_generation_key``),
    and every handle-less call on that generation — append, query,
    membership — serves from it instead of building its own. The table
    holds states weakly and ``release`` withdraws them, so the handle
    that owns a state still owns its lifetime."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        co: PosixCoordinator = _POSIX,
        persist: bool = False,
    ):
        self.centroids = _read_sidecar(spark, f"{root}/centroids", co)
        self.codebook = (
            _read_sidecar(spark, f"{root}/codebook", co)
            if co.isdir(f"{root}/codebook")
            else None
        )
        self.cells_schema = spark.read.parquet(
            co.spark_path(f"{root}/cells")
        ).schema
        self.persisted = persist
        if persist:
            self.centroids = self.centroids.persist()
            if self.codebook is not None:
                self.codebook = self.codebook.persist()
        # the sidecar tags are literal columns: one row holds them all
        cols = self.centroids.columns
        tags = [c for c in ("_coarse", "_metric") if c in cols]
        row = self.centroids.select(*tags).first().asDict() if tags else {}
        self.coarse = row.get("_coarse")
        self.metric = row.get("_metric", "cosine")
        # every sidecar row is a centroid and _pack_cells packs them
        # all, so the footers give the packed row's size
        self.k = _sidecar_rows(f"{root}/centroids", co)
        self._rows: dict[str, DataFrame] = {}
        self._key: tuple | None = None
        if persist:
            # materialize every derived row now, so the first wave pays
            # for none of them
            self.flat, self.routed, self.decode

    def _row(self, name: str, build) -> DataFrame:
        row = self._rows.get(name)
        if row is None:
            row = build()
            if self.persisted:
                row = row.persist()
                row.count()
            self._rows[name] = row
        return row

    @property
    def flat(self) -> DataFrame:
        return self._row("flat", lambda: _pack_cells(self.centroids))

    @property
    def routed(self) -> DataFrame | None:
        if self.coarse is None:
            return None
        return self._row(
            "routed",
            lambda: _group_cells(
                self.flat, self.coarse, _assignment_metric(self.metric)
            ),
        )

    @property
    def decode(self) -> DataFrame | None:
        if self.codebook is None:
            return None
        return self._row("decode", self._decode_row)

    def _decode_row(self) -> DataFrame:
        # Position-indexed decode (r10): the packed codebook is COMPLETE
        # (every (s, cell) trained — seeds guarantee non-empty cells) so
        # after one array_sort entry (s, cell) sits at s·pq_k + cell and
        # each code decodes with ONE element_at — O(PQ_M) per row, pq_k-
        # independent (the earlier filter-scan decode made the wave wall
        # grow with the code budget: pq_k 16→64 measured 2.2→4.0 s).
        cb = self.codebook.select(
            F.array_sort("_cb").alias("_cbs"),
            (F.size("_cb") / F.lit(PQ_M)).cast("int").alias("_kk"),
        )
        if "_residual" not in self.codebook.columns:
            return cb
        # cell ids run 0..max but a Lloyd cell can end up empty, so the
        # lookup is dense: slot i holds cell i's centroid, or null
        cmap = self.flat.select(
            F.expr(
                "transform(sequence(0, array_max(transform(_cents, "
                "e -> e.cell))), i -> filter(_cents, e -> e.cell = i)[0]"
                ".centroid)"
            ).alias("_cmap")
        )
        return cb.crossJoin(cmap)

    def assign(self, vectors: DataFrame) -> DataFrame:
        """(id, emb[, n2]) → + cell: the nearest cell under the frozen
        quantizer, through the SAME routing the stored assignment used
        — one quantizer function for base, appends and membership."""
        routed = self.routed
        return _route_cells(
            _with_n2(vectors),
            routed if routed is not None else self.flat,
            keep=1,
            metric=_assignment_metric(self.metric),
        )

    def publish(self, key: tuple) -> None:
        """Serve every handle-less call on the generation ``key``
        names from this (persisted) state until it is released."""
        self._key = key
        with _SHARED_LOCK:
            _SHARED_STATES[key] = self

    def release(self) -> None:
        with _SHARED_LOCK:
            if _SHARED_STATES.get(self._key) is self:
                del _SHARED_STATES[self._key]
        if self.persisted:
            for df in (self.centroids, self.codebook, *self._rows.values()):
                if df is not None:
                    df.unpersist()


# Persisted generation states, by generation identity, within this
# process. Weak values: an entry lives only while the handle owning the
# state does, and ``release`` (close/refresh) withdraws it at once.
_SHARED_STATES: "weakref.WeakValueDictionary[tuple, QuantizerState]" = (
    weakref.WeakValueDictionary()
)
_SHARED_LOCK = threading.Lock()


def _generation_key(
    spark: SparkSession, root: str, co: PosixCoordinator = _POSIX
) -> tuple:
    """A generation's identity in one session: its root (index dir +
    gen number) and the file names of its write-once centroid sidecar.
    The names are unique per write, so a directory deleted and stored
    again at gen 0 never matches a state of its predecessor."""
    names = frozenset(
        os.path.basename(p)
        for p in co.list_parquet_files(f"{root}/centroids")
    )
    return (spark, co.spark_path(root), names)


def _frozen_state(
    spark: SparkSession, root: str, co: PosixCoordinator = _POSIX
) -> QuantizerState:
    """The generation's frozen state for a handle-less call: the one a
    live persisted handle published, else a lazy per-call state."""
    state = _SHARED_STATES.get(_generation_key(spark, root, co))
    return state if state is not None else QuantizerState(spark, root, co)


@dataclass
class IvfIndexHandle:
    """One OPENED index generation: the resolved paths plus its frozen
    serving state (``QuantizerState``, cached when ``persisted``) —
    everything a serving call needs, all from the SAME generation, so a
    reader can never pair one generation's cells with another's
    quantizer (r9 rebuild atomicity). A long-running caller (the
    streaming ANN drain) opens once and calls ``refresh`` at each wave
    boundary: the pointer re-read is one tiny file stat; the state is
    rebuilt only when a rebuild/compaction actually moved the
    generation."""

    index_dir: str
    gen: int
    cells_path: str
    state: QuantizerState
    persisted: bool
    coordinator: PosixCoordinator = field(default_factory=lambda: _POSIX)
    # tombstone snapshot (r12): unlike the frozen sidecars, the
    # tombstone set can GROW within a generation (deletes add files),
    # so the handle keeps a plain frame over the pinned file LISTING
    # and refresh() rebuilds it only when the listing moved — one
    # cheap flat listing per wave. It is not persisted: a wave reads
    # it once, so a cache fill would be an extra job per refresh.
    # Handle-based serving therefore sees deletes at WAVE boundaries
    # (the same consistency point as generation flips); handle-less
    # calls list fresh and see them immediately.
    tombstones: DataFrame | None = None
    ts_files: frozenset = field(default_factory=frozenset)

    @property
    def centroids(self) -> DataFrame:
        return self.state.centroids

    @property
    def codebook(self) -> DataFrame | None:
        return self.state.codebook

    def refresh(self, spark: SparkSession) -> "IvfIndexHandle":
        """Current handle for this index: ``self`` while the committed
        generation is unchanged; otherwise closes this handle's caches
        and opens the new generation. Same-generation refreshes still
        re-check the tombstone listing (deletes land mid-generation)."""
        if _cells_generation(self.index_dir, self.coordinator) != self.gen:
            self.close()
            return open_ivf_index(
                spark,
                self.index_dir,
                persist=self.persisted,
                coordinator=self.coordinator,
            )
        root = _gen_root(self.index_dir, self.gen, self.coordinator)
        files = frozenset(
            self.coordinator.list_parquet_files(f"{root}/tombstones")
        )
        if files != self.ts_files:
            self.tombstones = _tombstones_from_files(
                spark, files, self.coordinator
            )
            self.ts_files = files
        return self

    def close(self) -> None:
        # a non-persisted handle owns no cache — and a handle-less
        # call's view may hold a state another handle published
        if self.persisted:
            self.state.release()


def open_ivf_index(
    spark: SparkSession,
    index_dir: str,
    persist: bool = True,
    coordinator: PosixCoordinator | None = None,
) -> IvfIndexHandle:
    """Resolve the committed generation ONCE and build its serving
    state. ``persist=True`` caches the state (sidecars, packed routing
    rows, decode row) for a multi-wave caller and publishes it, so
    handle-less calls on the same generation serve from it until the
    handle is closed or refreshed past it; ``persist=False`` is the
    one-shot batch path (plain frames, no cache entry to leak). The
    tombstone set is a plain frame over the listing pinned here.
    ``cells_path`` on the handle is a SPARK-resolvable path (the
    coordinator's mapping already applied)."""
    co = coordinator or _POSIX
    gen = _cells_generation(index_dir, co)
    root = _gen_root(index_dir, gen, co)
    if persist:
        key = _generation_key(spark, root, co)
        state = QuantizerState(spark, root, co, persist=True)
        state.publish(key)
    else:
        state = QuantizerState(spark, root, co)
    return _handle_over(spark, index_dir, gen, root, state, persist, co)


def _handle_over(
    spark: SparkSession,
    index_dir: str,
    gen: int,
    root: str,
    state: QuantizerState,
    persisted: bool,
    co: PosixCoordinator,
) -> IvfIndexHandle:
    ts_files = frozenset(co.list_parquet_files(f"{root}/tombstones"))
    return IvfIndexHandle(
        index_dir=index_dir,
        gen=gen,
        cells_path=co.spark_path(f"{root}/cells"),
        state=state,
        persisted=persisted,
        coordinator=co,
        tombstones=_tombstones_from_files(spark, ts_files, co),
        ts_files=ts_files,
    )


def _serving_view(
    spark: SparkSession, index_dir: str, co: PosixCoordinator
) -> IvfIndexHandle:
    """A handle-less call's view of the committed generation: its
    frozen state from ``_frozen_state`` (shared when a persisted handle
    holds the generation) and a fresh tombstone listing."""
    gen = _cells_generation(index_dir, co)
    root = _gen_root(index_dir, gen, co)
    state = _frozen_state(spark, root, co)
    return _handle_over(spark, index_dir, gen, root, state, False, co)


def _probes(
    queries: DataFrame,
    state: QuantizerState,
    nprobe: int,
    route: str = "symmetric",
) -> DataFrame:
    """Query→cell routing. ``route="symmetric"`` (default) probes
    through the SAME quantizer the stored assignment used (the r8
    finding: when the index was built with two-level routed
    assignment, a flat probe against it measured 15% planted rank-1
    recall loss at nprobe=4/K=200 — symmetry makes a query land
    exactly where its scale-invariant near-copy was assigned); wide
    probes (nprobe > coarse) fall back to flat so full probe stays
    exact. ``route="flat"`` ranks ALL cells for every query even at
    small nprobe — the broad-retrieval regime (r8 verdict #3): the
    recorded operating curve shows flat probing beats routed for
    general queries below √K (0.73 vs 0.47 recall@3 at nprobe=K/16,
    R=256 at 20×), because a general query's true neighbors are not
    constrained to its routed group the way a near-copy's parent is.
    Regime rule: symmetric for dedup/near-copy probing, flat for broad
    retrieval at nprobe ≤ √K; above √K the two coincide.

    Weaker-bound note (ADVICE r8): routed group sizes VARY (each
    centroid groups under its nearest of ~√K reps), so a routed probe
    scores min(nprobe, |routed group|) cells — a group smaller than
    nprobe yields fewer scored cells than the flat-nprobe contract.
    This is documented rather than gated on the actual minimum group
    size deliberately: falling back to flat for nprobe in
    (min_group, coarse] would silently re-open the r8 asymmetry,
    trading the contract that matters for near-dup probing (symmetry)
    for one that doesn't (breadth); ``route="flat"`` is the strict
    breadth contract.

    Cell RANKING runs under the quantizer's TRAINING metric (the
    ``_metric`` sidecar tag, r11): a metric-trained quantizer's cells
    tile the space under that metric's geometry, so probing them with
    cosine ranking would re-open the same asymmetry class the routed/
    flat finding measured (assignment and probe must be the same
    function). Untagged (cosine/spherical) indexes are unchanged.

    An ``ip``-trained index probes FLAT always (r11 review): its
    assignments routed under L2 (``_assignment_metric`` — max-IP
    grouping is degenerate), so two-level IP routing at probe time
    would regroup the reps under a DIFFERENT function than assignment
    used — the exact asymmetry class above. Flat q·centroid ranking
    over all K cells is also the semantically right shape: MIPS
    queries are broad retrieval (the r8 regime rule), not near-copy
    probes, and the per-query K-fold costs nothing next to the scan."""
    if route not in ("symmetric", "flat"):
        raise ValueError(f"route must be 'symmetric' or 'flat': {route!r}")
    routed = (
        route == "symmetric"
        and state.metric != "ip"
        and state.coarse is not None
        and nprobe <= state.coarse
    )
    return _route_cells(
        _with_n2(queries),
        state.routed if routed else state.flat,
        keep=nprobe,
        metric=state.metric,
    ).select(
        F.col("id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("n2").alias("q_n2"),
        "cell",
    )


_METRICS = ("cosine", "ip", "l2")


def _metric_score(metric: str, b: str, bn2: str) -> F.Column:
    """Scoring expression for the serving metric over the broadcast
    query (``q_emb``/``q_n2``) and a candidate column pair — the same
    pinned left-fold dot product under every metric, so each metric's
    value is bit-reproducible and the exactness twins compare with
    ``==``:

    - ``cosine``: dot / (√q_n2 · √b_n2) — the suite-wide form.
    - ``ip``: the raw dot (MIPS — what retrieval models trained with a
      dot-product objective, e.g. DPR-style bi-encoders, rank by).
    - ``l2``: the SQUARED Euclidean distance q_n2 − 2·dot + b_n2
      (norm expansion; monotone in true L2, so ranks are identical and
      no sqrt enters the comparison path — smaller is better).
    """
    dot = F.expr(_SPARK_DOT.format(a="q_emb", b=b))
    if metric == "ip":
        return dot
    if metric == "l2":
        return F.col("q_n2") - F.lit(2.0) * dot + F.col(bn2)
    return dot / (F.sqrt(F.col("q_n2")) * F.sqrt(F.col(bn2)))


def _metric_topk(scored: DataFrame, metric: str) -> DataFrame:
    """Per-query top-k under the metric's ordering (l2 ascending,
    cosine/ip descending; ties by candidate_id). The cosine path keeps
    its historical output column name ``cosine``; ip/l2 emit
    ``score``."""
    if metric == "cosine":
        return _per_query_topk(scored)
    from pyspark.sql import Window

    order = F.asc("score") if metric == "l2" else F.desc("score")
    w = Window.partitionBy("query_id").orderBy(order, "candidate_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "candidate_id", "score", "rank")
    )


def query_ivf_index(
    queries: DataFrame,
    index_dir: str,
    nprobe: int | str,
    pq: bool = False,
    rerank: int | None = None,
    handle: IvfIndexHandle | None = None,
    route: str = "symmetric",
    metric: str = "cosine",
    coordinator: PosixCoordinator | None = None,
) -> DataFrame:
    """Serve top-k from the stored index: route each query to its
    nprobe nearest cells (broadcast centroid pass), then score ONLY
    inside the probed cells — the cell equi-join against the
    partitioned table prunes unprobed cell directories at the source
    (dynamic partition pruning; pinned by plan test). Returns
    (query_id, candidate_id, cosine, rank).

    ``pq=False`` scores the stored floats exactly. ``pq=True`` runs
    the ADC tier: the probed-cell scan reads ONLY (id, codes,
    recon_n2, cell) — column pruning never touches the float column —
    and reconstructions are rebuilt map-side as pure lookups into the
    one broadcast decode row, then scored with the pinned fold
    ``similarity._pq_adc_cosine`` (a raw index's full probe ≡ the full
    ADC scan ``_pq_topk``, pinned by test).

    ``rerank=R`` (PQ path only) completes the serving story with the
    standard two-tier refinement (FAISS ``IndexRefineFlat``): the ADC
    pass nominates each query's top R candidates CHEAPLY (codes only),
    then exactly those rows' floats are re-read and re-scored with the
    exact cosine, and top-k is taken over the refined scores. The
    float scan is driven by a BROADCAST Q×R shortlist joined on
    (cell, id) — partition-pruned to the shortlisted cells, row-count
    bounded by Q·R regardless of corpus size — so the expensive column
    is touched for Q·R rows, not N. R ≥ the probed candidate count
    degrades to the float path's exact ranking (pinned by test: full
    probe + large R ≡ brute force row-for-row); small R trades recall
    for float reads exactly as the two-tier literature describes.

    ``handle``: an opened ``IvfIndexHandle`` (the streaming drain's
    once-per-drain sidecar cache — r7 verdict #4). Every path in one
    call resolves through ONE generation: the handle's if given (the
    drain refreshes at wave boundaries), else the generation committed
    at call time — so a rebuild flipping mid-call can never mix one
    generation's cells with another's quantizer (r9).

    ``route``: ``"symmetric"`` (default — the dedup/near-copy
    contract) or ``"flat"`` (broad retrieval at small nprobe); see
    ``_probes`` for the regime rule.

    ``nprobe="all"`` resolves to the quantizer's CENTROID count — the
    exact-search degenerate. Counting cell DIRECTORIES is not a safe
    substitute (r10): a Lloyd cell can end up empty, so the directory
    count can undershoot K and a caller-computed "full" probe silently
    skips the farthest cells. The K-row sidecar count is index-open
    metadata, same class as the routing scalar.

    ``metric`` (r10): ONE stored index serves THREE contracts —
    ``"cosine"`` (default; output column ``cosine``), ``"ip"``
    (max inner product — the ranking dot-product-trained bi-encoders
    need), ``"l2"`` (min squared Euclidean; ascending). No layout
    change: the cell table already stores the sufficient statistics
    (emb, n2, codes, recon_n2), so every metric is one scoring
    expression away on the same pruned scan shapes — float, ADC, and
    rerank tiers all honor it (ip/l2 output column ``score``; l2 is
    the SQUARED distance — monotone in true L2). The COARSE quantizer
    defaults to spherical (cosine) — full probe is exact under any
    metric (all cells scanned; pinned row-for-row against brute force
    per metric), and a scale-invariant or exact near-copy routes with
    its parent, so near-dup probing holds at small nprobe (pinned); a
    broad L2/IP retrieval at small nprobe inherits the spherical cell
    shapes on a NORM-SPREAD corpus. That boundary is closable as of
    r11: rebuild with ``store_ivf_index(metric="l2"|"ip")`` — the
    metric-TRAINED quantizer (tagged on the sidecar; probes here rank
    cells under the trained metric automatically, keeping assignment
    and probe one function) — and small-nprobe l2/ip recall recovers
    (norm-spread fixture test + tools/metric_quantizer_r11.json)."""
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}: {metric!r}")
    spark = queries.sparkSession
    h = (
        handle
        if handle is not None
        else _serving_view(spark, index_dir, coordinator or _POSIX)
    )
    state = h.state
    if nprobe == "all":
        nprobe = state.k
    elif not isinstance(nprobe, int):
        raise ValueError(f"nprobe must be an int or 'all': {nprobe!r}")
    probes = _probes(queries, state, nprobe, route=route)
    # logical deletes (r12): every tier anti-joins the generation's
    # tombstone set; the rerank tier inherits the screen through its
    # shortlist. A CALLER handle serves its cached frame — refreshed
    # at wave boundaries via the file-listing check, because deletes
    # land MID-generation and the handle must re-check even when the
    # generation is unchanged — while the handle-less batch path's
    # fresh open loads the current set and sees deletes immediately.
    # None (no deletes ever) is a zero-cost no-op.
    tombstones = h.tombstones
    score_col = "cosine" if metric == "cosine" else "score"
    # ONE parquet relation per call (r13): the rerank tier reads the
    # cell table twice (codes scan + shortlisted float scan); sharing
    # the DataFrame shares its file index, so the cell-directory
    # listing runs once per call instead of per scan. Column pruning is
    # per-consumer (each scan node keeps its own ReadSchema), and the
    # relation is created fresh per CALL — not cached on the handle —
    # so intra-generation appends stay visible to the next call. It
    # reads under the generation's declared schema: no inference job.
    cells_rel = spark.read.schema(state.cells_schema).parquet(h.cells_path)
    if not pq:
        stored = _without_tombstones(
            cells_rel.select(
                F.col("id").alias("candidate_id"),
                F.col("emb").alias("c_emb"),
                F.col("n2").alias("c_n2"),
                "cell",
            ),
            tombstones,
        )
        scored = stored.join(F.broadcast(probes), "cell").withColumn(
            score_col, _metric_score(metric, "c_emb", "c_n2")
        )
        return _metric_topk(scored, metric)
    if state.decode is None:
        raise ValueError(
            f"{index_dir} was stored without pq=True — no codebook sidecar"
        )
    stored = _without_tombstones(
        cells_rel.select(
            F.col("id").alias("candidate_id"), "codes", "recon_n2", "cell"
        ),
        tombstones,
    )
    # decode = pure lookups into the state's ONE broadcast decode row
    # (sorted codebook, and for IVFADC the cell-indexed centroids): the
    # probed-cell scan still reads only (id, codes, recon_n2, cell)
    decode = F.expr(
        f"flatten(transform(sequence(0, {PQ_M - 1}), s -> "
        "element_at(_cbs, s * _kk + element_at(codes, s + 1) + 1)"
        ".centroid))"
    )
    joined = stored.join(F.broadcast(probes), "cell").crossJoin(
        F.broadcast(state.decode)
    )
    if "_cmap" in state.decode.columns:
        # IVFADC (r9): reconstruction = centroid(cell) + decode(codes)
        joined = joined.withColumn(
            "recon",
            F.zip_with(
                F.expr("element_at(_cmap, cast(cell as int) + 1)"),
                decode,
                lambda a, b: a + b,
            ),
        )
    else:
        joined = joined.withColumn("recon", decode)
    scored = joined.withColumn(
        score_col,
        _pq_adc_cosine()
        if metric == "cosine"
        else _metric_score(metric, "recon", "recon_n2"),
    )
    if rerank is None:
        return _metric_topk(scored, metric)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc(score_col) if metric == "l2" else F.desc(score_col),
        "candidate_id",
    )
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= rerank)
        .select("query_id", "q_emb", "q_n2", "candidate_id", "cell")
    )
    floats = cells_rel.select(
        F.col("id").alias("candidate_id"),
        F.col("emb").alias("c_emb"),
        F.col("n2").alias("c_n2"),
        "cell",
    )
    refined = floats.join(
        F.broadcast(shortlist), ["cell", "candidate_id"]
    ).withColumn(score_col, _metric_score(metric, "c_emb", "c_n2"))
    return _metric_topk(refined, metric)


def admit_novel_vectors(
    batch: DataFrame,
    index_dir: str,
    threshold: float = 0.99,
    nprobe: int | str = 4,
    metric: str = "cosine",
    route: str = "symmetric",
    coordinator: PosixCoordinator | None = None,
    handle: "IvfIndexHandle | None" = None,
) -> DataFrame:
    """ONLINE near-dup admission (r11): gate an arriving (id, emb)
    batch against the stored index BEFORE it joins the corpus — the
    ingestion-time dedup primitive a continuously-fed training-data
    pipeline runs on every batch (probe-then-admit; the FineWeb-class
    "is this document already in the corpus?" question answered from
    the index, never from a corpus scan). Each batch vector probes its
    ``nprobe`` cells (symmetric by default — the near-copy contract:
    an exact or scale-invariant copy probes its parent's cell), its
    rank-1 stored neighbor is compared against ``threshold`` under
    ``metric`` (cosine/ip: duplicate when score ≥ threshold; l2:
    duplicate when the squared distance ≤ threshold), and ONLY the
    novel rows are appended (``append_to_ivf_index`` — frozen
    quantizer, landed cells only). Returns the admission report
    ``(id, nearest_id, score, admitted)``, one row per batch vector
    (``nearest_id``/``score`` null when the probed cells held no
    candidates — admitted). The report is LOCAL-CHECKPOINTED (eager,
    batch-sized) before the append, and MUST be: the append writes
    into the same cells path the probe reads, and Spark's insert
    refreshes that path — a merely persisted report would be
    invalidated by its own append and silently RE-PROBE the grown
    index, reporting every just-admitted vector as a duplicate of
    itself (found live by the admission test's first run).
    Checkpointing truncates the lineage to computed rows, so the
    returned report states the PRE-append world by construction.

    Semantics, stated honestly:
    - Admission is a FILTER, not a uniqueness constraint: a writer
      racing between this call's probe and its append can admit the
      same content twice (at-least-once ingestion's nature); the
      batch/oracle dedup suite (exact/minhash/semdedup) remains the
      corpus-level guarantee.
    - INTRA-batch duplicates both probe the stored corpus only, so two
      novel copies of the same content in ONE batch are both admitted
      — run the exact-dedup hash-groupBy on the batch first (the
      standard stage order).
    - Recall is nprobe-bounded exactly like every probe: a duplicate
      whose parent sits outside the probed cells is admitted. At the
      symmetric default this cannot happen for exact or
      scale-invariant copies (pinned — they probe the parent's cell);
      perturbed near-dups inherit the operating curve's recall.
    - A DELETED parent stops blocking re-admission (r12): the probe
      runs through the tombstone anti-join, so content whose only
      stored copy was removed by ``delete_from_ivf_index`` is
      admitted fresh — the takedown-then-resubmit flow works without
      waiting for a compaction.

    Shape at 100 TB: one batch-sized probe (broadcast centroid pass +
    DPP-pruned scan of the probed cells) + one batch-sized append —
    the corpus is never scanned, never shuffled."""
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}: {metric!r}")
    score_col = "cosine" if metric == "cosine" else "score"
    top1 = query_ivf_index(
        batch.select("id", "emb"),
        index_dir,
        nprobe=nprobe,
        metric=metric,
        route=route,
        coordinator=coordinator,
        # a multi-wave caller (the admission drain) probes through its
        # persisted, per-wave-refreshed handle (r12); the append below
        # stays within the handle's generation, so the handle needs no
        # invalidation — only the cells listing grows, and that is
        # re-read per query by construction
        handle=handle,
    ).filter(F.col("rank") == 1)
    is_dup = (
        F.col("score") <= F.lit(threshold)
        if metric == "l2"
        else F.col("score") >= F.lit(threshold)
    )
    report = (
        batch.select("id", "emb")
        .join(
            top1.select(
                F.col("query_id").alias("id"),
                F.col("candidate_id").alias("nearest_id"),
                F.col(score_col).alias("score"),
            ),
            "id",
            "left",
        )
        .withColumn(
            "admitted",
            F.when(F.col("score").isNull(), F.lit(True)).otherwise(
                ~is_dup
            ),
        )
        .localCheckpoint()
    )
    novel = report.filter(F.col("admitted")).select("id", "emb")
    append_to_ivf_index(novel, index_dir, coordinator=coordinator)
    return report.select("id", "nearest_id", "score", "admitted")
