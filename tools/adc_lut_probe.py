"""ADC distance-table (LUT) headroom probe — r10 forward analysis for
r11, in the OPQ-probe tradition (measure before building).

The classic IVFADC scan (Jégou et al., PAMI 2011 §V.A) does NOT fold a
d-dim dot product per (query, candidate): it precomputes, per query,
a PQ_M×pq_k table of partial dots q_sub(s)·centroid(s, cell) — Q·M·k
values — and scores each candidate as PQ_M table LOOKUPS + adds. Our
serving path (`ann_index.query_ivf_index(pq=True)`) currently rebuilds
the full d-dim reconstruction per pair and folds a d-dim dot — O(d)
per pair plus a d-length array materialization, vs O(PQ_M) lookups.

This probe measures the gap IN-PLAN on the stored 20× residual index
(reuses `/tmp/ann_curve_r10/idx_pqk*` if present):

- current path: `query_ivf_index(pq=True)` R=0 wave at nprobe=K/8;
- LUT path (throwaway plan, NOT product code): per-query LUT as one
  array aligned with the sorted packed codebook (lut[s·pq_k+cell] =
  q_sub(s)·centroid), residual centroid term q·centroid(cell) folded
  ON THE PROBE ROW (the K-row broadcast the probe pass already
  touches), pair score = (qc + Σ_s lut[s·pq_k+code_s]) / norms.

Exactness note for the r11 implementer: the LUT decomposition changes
IEEE summation ORDER (per-subspace partials vs one d-length fold), so
landing it means updating the suite's DuckDB mirrors to the same
decomposition (expressible: list_transform + list_reduce per subspace)
and re-pinning `test_stored_pq_full_probe_equals_in_memory_pq_scan`
against a twin using the same order. Rank agreement is reported below
to show the numeric delta is ulp-class, not semantic.

Usage: python tools/adc_lut_probe.py [sf_dir] [workdir]
Prints one JSON object; progress on stderr.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from retail_datawarehouse_spark.operators.ann_index import (  # noqa: E402
    _probes,
    open_ivf_index,
    query_ivf_index,
    store_ivf_index,
)
from retail_datawarehouse_spark.operators.similarity import (  # noqa: E402
    PQ_M,
    _SPARK_DOT,
    N_QUERIES,
    _per_query_topk,
)
from retail_datawarehouse_spark.session import get_spark  # noqa: E402
from retail_datawarehouse_spark.sources.readers import load_table  # noqa: E402


def lut_topk(spark, queries, idx, nprobe):
    """Throwaway LUT-scored ADC top-k over the stored residual index."""
    h = open_ivf_index(spark, idx, persist=False)
    sub = None  # derived in-plan from the codebook entry width
    cb = h.codebook.select(
        F.array_sort("_cb").alias("_cbs"),
        (F.size("_cb") / F.lit(PQ_M)).cast("int").alias("_kk"),
    )
    probes = _probes(queries, h.state, nprobe)
    # residual mode: the centroid term q·centroid(cell) rides the probe
    # row — the K-row sidecar is already broadcast for probing
    qc = F.expr(_SPARK_DOT.format(a="q_emb", b="centroid"))
    probes = probes.join(
        F.broadcast(h.centroids.select("cell", "centroid")), "cell"
    ).withColumn("qc", qc).drop("centroid")
    # per-query LUT aligned with the sorted codebook: lut[i] =
    # q_sub(e.s)·e.centroid for _cbs[i] = e; subspace width from the
    # entry itself (size(e.centroid))
    lut = F.expr(
        "transform(_cbs, e -> aggregate(zip_with("
        "slice(q_emb, e.s * size(e.centroid) + 1, size(e.centroid)), "
        "e.centroid, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, p) -> acc + p))"
    )
    probes = probes.crossJoin(F.broadcast(cb)).withColumn("lut", lut).select(
        "query_id", "q_n2", "qc", "lut", "_kk", "cell"
    )
    stored = spark.read.parquet(h.cells_path).select(
        F.col("id").alias("candidate_id"), "codes", "recon_n2", "cell"
    )
    # pair score: PQ_M lookups + adds — no reconstruction, no d-dim fold
    dot = F.expr(
        f"qc + aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS DOUBLE), "
        "(acc, s) -> acc + element_at(lut, s * _kk + "
        "element_at(codes, s + 1) + 1))"
    )
    scored = stored.join(F.broadcast(probes), "cell").withColumn(
        "cosine", dot / (F.sqrt(F.col("q_n2")) * F.sqrt(F.col("recon_n2")))
    )
    return _per_query_topk(scored)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_probe20"
    workdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ann_curve_r10"
    spark = get_spark(app_name="adc-lut-probe")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    out = {"sf_dir": sf_dir, "rows": []}
    for pq_k in (16, 64):
        idx = f"{workdir}/idx_pqk{pq_k}"
        if not os.path.isdir(idx):
            store_ivf_index(corpus, idx, pq=True, pq_k=pq_k)
        k = spark.read.parquet(f"{idx}/centroids").count()
        nprobe = max(1, round(k / 8))
        row = {"pq_k": pq_k, "k": k, "nprobe": nprobe}
        for tag, fn in (
            ("current", lambda: query_ivf_index(queries, idx, nprobe=nprobe, pq=True)),
            ("lut", lambda: lut_topk(spark, queries, idx, nprobe)),
        ):
            got = {
                (r.query_id, r.rank): r.candidate_id for r in fn().collect()
            }
            row[f"{tag}_tops"] = got
            best = None
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn().collect()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            row[f"wave_sec_{tag}"] = round(best, 3)
        cur, lut = row.pop("current_tops"), row.pop("lut_tops")
        agree = sum(1 for kk in cur if lut.get(kk) == cur[kk])
        row["rank_agreement"] = round(agree / len(cur), 4)
        row["speedup"] = round(row["wave_sec_current"] / row["wave_sec_lut"], 2)
        out["rows"].append(row)
        print(f"# {row}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
