"""Streaming ANN serving: query vectors arrive as landing waves and
are answered against the STORED IVF(×PQ) index — the retrieval side of
a continuously-fed corpus.

Composition of the streaming landing machinery (checkpointed
``availableNow`` file-source drains — the ``cdc.py``/``monitor.py``/
``media.py`` shape) with the stored-index serving path
(``operators/ann_index.query_ivf_index``). The production question: a
retrieval/dedup-candidate tier receives query embeddings continuously
(new documents probing for near-dups before admission, user queries,
eval probes); each batch must be answered from the index AS STORED —
never by rebuilding, never by scanning the corpus — and results must
land idempotently.

Shape at 100 TB:
- Per-batch cost is the stored-index query cost: route the BATCH's
  queries to nprobe cells (one broadcast centroid pass over the
  batch), scan only the probed cell directories (dynamic partition
  pruning — plan-pinned on the batch path too), score, top-k. The
  corpus term is N·nprobe/K per query wave, flat in corpus growth at
  fixed occupancy (BASELINE.md round-7 serving-tier table).
- Appends to the index between waves are visible to the NEXT wave
  automatically — the query path reads the parquet table as-of
  execution; no restart, no re-registration (pinned by test: a wave
  served after an append retrieves the appended vector).
- ``foreachBatch`` is at-least-once: a crash between the result write
  and the checkpoint commit replays the wave. Results are written
  partitioned by wave with DYNAMIC partition overwrite, so a replay
  REPLACES the wave's directory wholesale (ADVICE r7) — the stored
  rows for a wave are always one consistent serving of it, even when
  an ``append_to_ivf_index`` landed between the original write and
  the replay (a (wave, query_id, rank) row-level dedupe could keep an
  arbitrary MIX of old-index and new-index candidates in that case;
  replays against a grown index legitimately re-answer with the
  LATEST index, the same as-of-execution contract the wave path has).
  ``read_ann_results`` keeps a defensive per-(wave, query_id, rank)
  dedupe for partially-committed leftovers only.
- The centroid and codebook sidecars are FROZEN between rebuilds
  (add-after-train), so the drain opens the index ONCE
  (``open_ivf_index`` — persisted sidecar frames; r7 verdict #4) and
  serves every wave from the cached handle — only the cells table is
  re-read per batch, which is what makes appends visible to the next
  wave. At each wave boundary the handle is ``refresh``ed (r9): one
  pointer stat per wave; when a REBUILD or compaction committed a new
  generation between waves, the handle re-opens so the wave is served
  entirely by the new generation — never old centroids against new
  cells (the rebuild-atomicity contract, pinned by the mid-drain
  rebuild test).
- ``maxFilesPerTrigger=1``: one wave per micro-batch; the wave tag
  raises in-plan if a landing file ever spans >1 wave (ADVICE r6
  contract, same as media/monitor).

Three drains share this machinery (r13 completes the set): SERVING
(``run_ann_serve_available_now`` — query waves answered from the
index), ADMISSION (``run_admission_available_now`` — candidate waves
probed and only novel rows appended), and TAKEDOWN
(``run_takedown_available_now`` — deletion-request waves recorded as
tombstones with membership-rescued receipts). Each is exactly-once
under at-least-once replay because the underlying index operation's
own predicate is idempotent — admission re-probes duplicates of
itself, deletion subtracts the existing sidecar — never because of
bolted-on dedup state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_datawarehouse_spark.operators.ann_index import (
    admit_novel_vectors,
    delete_from_ivf_index,
    open_ivf_index,
    query_ivf_index,
    resident_ids,
)


def _single_wave_tag(batch_df: DataFrame) -> DataFrame:
    """1-row (wave) frame for a micro-batch; RAISES in-plan if the
    landing file ever spans >1 wave (ADVICE r6 contract — min() would
    mis-attribute results and a (wave, …) dedupe could collapse
    distinct waves). Shared by the serving and admission drains (r12
    review: the 15-line guard was copy-pasted)."""
    return batch_df.agg(
        F.min("wave").cast("long").alias("_w"),
        F.countDistinct("wave").alias("_nw"),
    ).select(
        F.when(F.col("_nw") <= 1, F.col("_w"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    "drain batch spans %d waves — "
                    "one-file-per-wave contract broken",
                    F.col("_nw"),
                )
            ).cast("long")
        )
        .alias("wave")
    )

QUERY_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.LongType()),
        T.StructField("id", T.LongType()),
        T.StructField("emb", T.ArrayType(T.FloatType())),
    ]
)

def stream_query_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source landing feed of query-vector waves: declared schema,
    one parquet file per wave, one wave per micro-batch."""
    return (
        spark.readStream.schema(QUERY_LANDING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )


def run_ann_serve_available_now(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    results_dir: str,
    nprobe: int,
    checkpoint_dir: str | None = None,
    pq: bool = False,
    rerank: int | None = None,
    timeout: float | None = None,
    metric: str = "cosine",
    route: str = "symmetric",
    coordinator=None,
) -> None:
    """Drain every landed-and-unanswered query wave through the stored
    index, writing (wave, query_id, candidate_id, cosine, rank) rows
    partitioned by wave (dynamic overwrite per wave — replay-safe,
    module docstring). Timeout semantics mirror the CDC/monitor/media
    drains: ``None`` blocks until the availableNow drain
    self-terminates; expiry stops the query and raises (a silent
    return would let a caller read a partial result sidecar as if the
    drain had finished).

    ``metric``/``route`` pass straight through to ``query_ivf_index``
    (r10): a drain serves one contract per deployment — ip/l2 result
    rows carry ``score`` instead of ``cosine`` (the metric's own value
    column; mixing both names in one results table would make the
    reader's schema depend on the knob row-by-row). ``coordinator``
    (r11) likewise passes through: a drain over a coordinator-backed
    index opens and refreshes its handle through the same control
    plane the maintainers use (``operators/index_fs.py``)."""
    # Sidecars are frozen index metadata between rebuilds: open the
    # index once per drain (persisted K-row frames; r7 verdict #4) and
    # refresh the handle per wave — sidecars re-read only when a
    # rebuild/compaction actually moved the generation (r9).
    handle = open_ivf_index(
        spark, index_dir, persist=True, coordinator=coordinator
    )

    def serve_batch(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal handle
        handle = handle.refresh(spark)
        wave = _single_wave_tag(batch_df)
        topk = query_ivf_index(
            batch_df.select("id", "emb"),
            index_dir,
            nprobe=nprobe,
            pq=pq,
            rerank=rerank,
            handle=handle,
            metric=metric,
            route=route,
        )
        value_col = "cosine" if metric == "cosine" else "score"
        out = topk.crossJoin(F.broadcast(wave)).select(
            "query_id", "candidate_id", value_col, "rank", "wave"
        )
        # Dynamic partition overwrite: a replayed wave REPLACES its
        # wave=N directory wholesale — one consistent serving per
        # wave, never a mix across an index append (ADVICE r7).
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("wave").parquet(results_dir)

    writer = (
        stream_query_landing(spark, landing_dir)
        .writeStream.outputMode("append")
        .foreachBatch(serve_batch)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        if timeout is None:
            q.awaitTermination()
        elif not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"ann serve drain did not terminate within {timeout}s — "
                f"results at {results_dir} may be partial; not returning "
                "control"
            )
    finally:
        handle.close()


def run_admission_available_now(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    report_dir: str,
    threshold: float = 0.99,
    nprobe: int = 4,
    metric: str = "cosine",
    route: str = "symmetric",
    checkpoint_dir: str | None = None,
    timeout: float | None = None,
    coordinator=None,
) -> None:
    """Streaming INGESTION gate (r12; r11 verdict #5): compose
    ``admit_novel_vectors`` into the availableNow drain — the
    FineWeb-style continuous-ingest loop where every landed wave of
    (wave, id, emb) candidates is probed against the stored index,
    only the novel rows are appended, and the per-vector admission
    verdicts land as a wave-partitioned report sidecar (the same
    verdict-sidecar semantics as the classifier monitors). Drain ≡
    sequential batch admission on the same waves (pinned by test).

    Wave cost is admission's batch cost: one probe of the wave
    (DPP-pruned, through the drain's persisted and per-wave-refreshed
    handle) + one batch-sized append — the corpus is never scanned.

    Replay semantics (at-least-once ``foreachBatch``, exactly-once
    ADMISSION): a crash between the report write and the checkpoint
    commit replays the wave — and the replayed wave's rows are now IN
    the index (the original append committed), so each probes as an
    exact duplicate and is NOT re-appended: the index gains each
    admitted vector exactly once without any dedup machinery, because
    the gate's own predicate is idempotent. The report write is
    wave-partitioned dynamic overwrite (replays replace the wave's
    directory), and the report's ``admitted`` is rescued by
    MEMBERSHIP (``resident_ids`` — the frozen-quantizer (cell, id)
    semi-join), so it reads "this row is in the index after the
    wave": stable across replays even for INTRA-wave exact duplicates
    (two fresh-id copies tie at score 1.0 and the higher id's rank-1
    resolves to its twin — a nearest-is-self heuristic would flip its
    verdict on replay; the membership check cannot, r12 review).
    Contract stated honestly: wave ids must be unique against the
    existing corpus ids (fresh ingestion ids by construction — the
    same contract as every append); a recycled id that collides with
    a stored row reads admitted=true by the membership rule.

    ``timeout`` mirrors the other drains: None blocks; expiry stops
    the query and raises rather than letting a partial report read as
    a finished drain."""
    handle = open_ivf_index(
        spark, index_dir, persist=True, coordinator=coordinator
    )

    def admit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal handle
        handle = handle.refresh(spark)
        wave = _single_wave_tag(batch_df)
        # the batch frame lives in the micro-batch session (the
        # foreachBatch foot-gun the monitors closed in r11) and
        # admit_novel_vectors reads its session FROM the batch — so
        # the probe, the report checkpoint, and the append all run in
        # the right session by construction
        report = admit_novel_vectors(
            batch_df.select("id", "emb"),
            index_dir,
            threshold=threshold,
            nprobe=nprobe,
            metric=metric,
            route=route,
            coordinator=coordinator,
            handle=handle,
        )
        # replay rescue by MEMBERSHIP, not top-1 tie-breaking (r12
        # review): a replayed wave's rows are IN the index, but two
        # exact copies admitted in one wave tie at score 1.0 and the
        # higher id's rank-1 resolves to its twin — a nearest_id==id
        # heuristic would permanently flip its verdict to rejected on
        # replay. resident_ids answers "is this exact row stored?"
        # via the frozen-quantizer (cell, id) semi-join — batch-sized,
        # DPP-pruned, ordering-free.
        resident = resident_ids(
            batch_df.select("id", "emb"),
            index_dir,
            handle=handle,
            coordinator=coordinator,
        ).withColumn("_resident", F.lit(True))
        out = (
            report.join(F.broadcast(resident), "id", "left")
            .withColumn(
                "admitted",
                F.col("admitted")
                | F.coalesce(F.col("_resident"), F.lit(False)),
            )
            .crossJoin(F.broadcast(wave))
            .select("id", "nearest_id", "score", "admitted", "wave")
        )
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("wave").parquet(report_dir)

    writer = (
        stream_query_landing(spark, landing_dir)
        .writeStream.outputMode("append")
        .foreachBatch(admit_batch)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        if timeout is None:
            q.awaitTermination()
        elif not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"admission drain did not terminate within {timeout}s — "
                f"report at {report_dir} may be partial; not returning "
                "control"
            )
    finally:
        handle.close()


TAKEDOWN_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.LongType()),
        T.StructField("id", T.LongType()),
    ]
)


def stream_takedown_landing(
    spark: SparkSession, landing_dir: str
) -> DataFrame:
    """File-source landing feed of takedown-request waves: (wave, id)
    rows, declared schema, one parquet file per wave, one wave per
    micro-batch — the same landing discipline as the query and
    admission feeds."""
    return (
        spark.readStream.schema(TAKEDOWN_LANDING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )


def run_takedown_available_now(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    report_dir: str,
    checkpoint_dir: str | None = None,
    timeout: float | None = None,
    coordinator=None,
) -> None:
    """Streaming TAKEDOWN gate (r13; r12 verdict #4): deletion was the
    one index lifecycle op still batch-only while admission had a
    drain — yet takedown/retraction/right-to-be-forgotten requests
    arrive as a stream in exactly the same way ingestion does. Each
    landed wave of (wave, id) requests is recorded as tombstones via
    ``delete_from_ivf_index`` (O(request batch + debt); the corpus is
    never read) and acknowledged with a wave-partitioned receipt
    sidecar ``(id, tombstoned, wave)``.

    Replay semantics (at-least-once ``foreachBatch``, exactly-once
    TOMBSTONES): the delete's own dedupe — the existing sidecar's ids
    are subtracted from the request before the publish — makes a replayed
    wave write ZERO new tombstone rows, the same
    correctness-from-the-predicate design as the admission drain (no
    dedup machinery bolted on). The receipt's ``tombstoned`` is rescued
    by MEMBERSHIP in the post-wave tombstone set (the admission drain's
    ``resident_ids`` discipline), so it is stable across replays by
    construction. Receipt contract stated honestly: ``tombstoned=true``
    means "the index no longer serves this id as of this wave" — the
    acknowledgment a takedown requester needs — NOT "the id was
    stored"; ``delete_from_ivf_index`` deliberately never scans the
    corpus to distinguish the two (its no-op-on-unknown-ids contract).

    The drain's handle refreshes AFTER each wave's delete, so a
    serving drain sharing the process (or the next maintenance sweep)
    observes the wave's tombstones at the same wave-boundary
    consistency point every other handle-based reader uses; the debt
    itself stays bounded by ``maintain_ivf_index``'s
    ``max_tombstones`` policy exactly as for batch deletes.

    ``timeout`` mirrors the other drains: None blocks; expiry stops
    the query and raises rather than letting a partial receipt table
    read as a finished drain."""
    handle = open_ivf_index(
        spark, index_dir, persist=True, coordinator=coordinator
    )

    def takedown_batch(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal handle
        wave = _single_wave_tag(batch_df)
        requested = batch_df.select("id").distinct()
        gen_before = handle.gen
        delete_from_ivf_index(requested, index_dir, coordinator=coordinator)
        # refresh AFTER the delete: the wave's receipt (and any serving
        # through this handle from the next wave on) must observe the
        # wave's own tombstones — same-generation refresh re-checks the
        # sidecar listing, so this is one flat listing + one batch-read
        handle = handle.refresh(spark)
        tombstones = handle.tombstones
        if handle.gen != gen_before or tombstones is None:
            # A maintenance commit raced the wave (r13 review): a
            # compaction/rebuild between our delete and this refresh
            # PHYSICALLY applied the wave's tombstones and cleared the
            # sidecar — membership would misread the victims as
            # un-acknowledged. The delete itself is lock-serialized and
            # synchronous: reaching this line means every requested id
            # IS tombstoned-or-dropped in whatever generation now
            # serves, so the receipt's contract ("no longer served as
            # of this wave") holds by the delete's own guarantee.
            acked = requested.withColumn("tombstoned", F.lit(True))
        else:
            acked = requested.join(
                F.broadcast(
                    tombstones.withColumn("_t", F.lit(True))
                ),
                "id",
                "left",
            ).select(
                "id",
                F.coalesce(F.col("_t"), F.lit(False)).alias("tombstoned"),
            )
        out = acked.crossJoin(F.broadcast(wave)).select(
            "id", "tombstoned", "wave"
        )
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("wave").parquet(report_dir)

    writer = (
        stream_takedown_landing(spark, landing_dir)
        .writeStream.outputMode("append")
        .foreachBatch(takedown_batch)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        if timeout is None:
            q.awaitTermination()
        elif not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"takedown drain did not terminate within {timeout}s — "
                f"receipts at {report_dir} may be partial; not returning "
                "control"
            )
    finally:
        handle.close()


def read_takedown_reports(
    spark: SparkSession, report_dir: str
) -> DataFrame:
    """The takedown receipt table, wave-partitioned, deduped on
    (wave, id) — the same defensive screen as the other sidecar
    readers (replay consistency comes from the write side's dynamic
    overwrite plus the delete's own idempotent dedupe)."""
    if not os.path.isdir(report_dir) or not any(
        d.startswith("wave=") for d in os.listdir(report_dir)
    ):
        return spark.createDataFrame(
            [], "wave long, id long, tombstoned boolean"
        )
    return (
        spark.read.parquet(report_dir)
        .withColumn("wave", F.col("wave").cast("long"))
        .select("wave", "id", "tombstoned")
        .dropDuplicates(["wave", "id"])
    )


def read_admission_reports(
    spark: SparkSession, report_dir: str
) -> DataFrame:
    """The admission report table, wave-partitioned, deduped on
    (wave, id) — the defensive screen against partially-committed
    leftovers, same contract as ``read_ann_results`` (replay
    consistency comes from the write side's dynamic overwrite)."""
    if not os.path.isdir(report_dir) or not any(
        d.startswith("wave=") for d in os.listdir(report_dir)
    ):
        return spark.createDataFrame(
            [],
            "wave long, id long, nearest_id long, score double, "
            "admitted boolean",
        )
    return (
        spark.read.parquet(report_dir)
        .withColumn("wave", F.col("wave").cast("long"))
        .select("wave", "id", "nearest_id", "score", "admitted")
        .dropDuplicates(["wave", "id"])
    )


def read_ann_results(
    spark: SparkSession, results_dir: str, metric: str | None = "cosine"
) -> DataFrame:
    """Result table, wave-partitioned. Replay consistency comes from
    the WRITE side (dynamic overwrite replaces a replayed wave's
    directory — module docstring); the per-(wave, query_id, rank)
    dedupe here is only a defensive screen against partially-committed
    leftovers, not the idempotency mechanism.

    ``metric`` is the DEPLOYMENT's serving metric (the value passed to
    the drain): the value column is ``cosine`` for cosine, ``score``
    for ip/l2 — and the empty table (no waves landed yet) is built with
    the SAME value column (ADVICE r10: the empty frame previously
    always said ``cosine``, so an ip/l2 reader keyed on the empty-case
    schema broke the moment the first wave landed). Once waves exist
    the stored schema is authoritative; a mismatch between it and
    ``metric`` raises rather than silently renaming a column — the
    deliberate trade against the pre-r11 auto-detection (a reader must
    declare its deployment's contract; silently adapting to whatever
    column is present is how an ip reader ends up ranking a
    cosine-labeled score).

    ``metric=None`` is the explicit MIGRATION opt-in to the pre-r11
    auto-detection (ADVICE r11 #4 — call sites outside this repo that
    relied on it broke at the r11 default change): the stored schema
    decides the value column, and the empty table (no waves yet) says
    ``cosine``, exactly the legacy behavior — opted into by name, so
    the foot-gun the r11 change closed stays closed for everyone who
    doesn't ask for it."""
    if metric is not None and metric not in ("cosine", "ip", "l2"):
        raise ValueError(
            "metric must be one of ('cosine', 'ip', 'l2') or None "
            f"(legacy auto-detect): {metric!r}"
        )
    value_col = (
        "cosine" if metric == "cosine" or metric is None else "score"
    )
    if not os.path.isdir(results_dir) or not any(
        d.startswith("wave=") for d in os.listdir(results_dir)
    ):
        return spark.createDataFrame(
            [],
            "wave long, query_id long, candidate_id long, "
            f"{value_col} double, rank long",
        )
    raw = spark.read.parquet(results_dir)
    stored_col = "cosine" if "cosine" in raw.columns else "score"
    if metric is None:
        value_col = stored_col
    if stored_col != value_col:
        raise ValueError(
            f"results at {results_dir} store value column "
            f"{stored_col!r} but metric={metric!r} expects "
            f"{value_col!r} — one metric per results table"
        )
    return (
        raw.withColumn("wave", F.col("wave").cast("long"))
        .select("wave", "query_id", "candidate_id", value_col, "rank")
        .dropDuplicates(["wave", "query_id", "rank"])
    )
