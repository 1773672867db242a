"""Builder lookup for tests: catalog entries OR unregistered builders.

The driver catalog is consolidated to ≤50 suite entries (round-2), but
tests keep driving the individual operator builders directly — this maps
the old per-operator names onto their plain functions.
"""

from __future__ import annotations

from retail_datawarehouse_spark.registry import catalog


def _fallbacks():
    from retail_datawarehouse_spark.dims import extracted
    from retail_datawarehouse_spark.etl import clean
    from retail_datawarehouse_spark.operators import (
        multimodal,
        sampling,
        similarity,
        textual,
    )
    from retail_datawarehouse_spark.queries import advanced, extensions
    from retail_datawarehouse_spark.streaming import pipelines

    mods = (extracted, clean, multimodal, sampling, similarity, textual,
            advanced, extensions, pipelines)
    out = {}
    for m in mods:
        for name in dir(m):
            if name.startswith("q_") and callable(getattr(m, name)):
                out.setdefault(name, getattr(m, name))
    return out


def builder(name: str):
    cat = catalog()
    if name in cat:
        return cat[name].builder
    fb = _fallbacks()
    if name in fb:
        return fb[name]
    raise KeyError(name)


def ann_vectors(spark, sf_dir: str):
    """The ANN suite's fixture split as (id, emb) frames: the corpus
    (vec_id ≥ N_QUERIES) and the N_QUERIES query vectors — the input
    shape of ``ann_index.store_ivf_index`` and ``query_ivf_index``."""
    from pyspark.sql import functions as F

    from retail_datawarehouse_spark.operators.similarity import N_QUERIES
    from retail_datawarehouse_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cols = (F.col("vec_id").alias("id"), F.col("embedding").alias("emb"))
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(*cols)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(*cols)
    return corpus, queries
