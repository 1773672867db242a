"""Operator-semantics tests for the LLM-pipeline extensions (sf0.001/sf0.01)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.builders import builder  # noqa: E402
from retail_datawarehouse_spark.registry import catalog


def _run(name, spark, sf_dir):
    return builder(name)(spark, sf_dir)


def test_minhash_lsh_recall_vs_exhaustive(spark, sf_correctness_dir):
    """LSH must recover the high-Jaccard pairs the exhaustive shingle
    join finds: at 4 bands × 3 rows, pairs with J ≥ 0.8 collide in some
    band with prob ≥ 1-(1-0.8^3)^4 ≈ 0.94; the fixture's injected
    near-dups sit at J ≈ 0.95+ → expect full recall of J ≥ 0.9 pairs."""
    exhaustive = _run("q_dedup_ngram_jaccard", spark, sf_correctness_dir)
    lsh = _run("q_dedup_minhash_lsh", spark, sf_correctness_dir)
    high = set(
        (r.doc_a, r.doc_b)
        for r in exhaustive.filter(
            (F.col("part") == "jaccard") & (F.col("jaccard") >= 0.9)
        ).collect()
    )
    found = set((r.doc_a, r.doc_b) for r in lsh.collect())
    assert high, "fixture should contain injected near-duplicates"
    assert high <= found, f"LSH missed high-similarity pairs: {high - found}"


def test_exact_dedup_finds_injected_copies(spark, sf_dir):
    rows = _run("q_dedup_exact", spark, sf_dir).filter(F.col("n_copies") > 1).collect()
    docs = [r for r in rows if r.part == "doc"]
    assert docs and all(r.n_copies == 2 for r in docs)
    assert all(r.canonical_doc_id % 50 == 0 for r in docs)
    # span part: every window of a duplicated doc is a cross-doc
    # repeated span; the fixture ALSO contains natural cross-doc
    # repeated sequences (generator reuse), which the operator must
    # surface too — so assert the injected anchors are present, not
    # that they are the only ones
    spans = [r for r in rows if r.part == "span"]
    assert spans and all(r.n_copies >= 2 for r in spans)
    assert any(r.canonical_doc_id % 50 == 0 for r in spans)


def test_simhash_near_dups_are_close(spark, sf_correctness_dir):
    """Near-identical docs (J ≥ 0.9) must have small simhash hamming
    distance; random pairs average ~16/32 differing bits."""
    sim = {
        r.doc_id: r.simhash
        for r in _run("q_dedup_simhash", spark, sf_correctness_dir).collect()
    }
    pairs = (
        _run("q_dedup_ngram_jaccard", spark, sf_correctness_dir)
        .filter((F.col("part") == "jaccard") & (F.col("jaccard") >= 0.9))
        .collect()
    )
    assert pairs
    for r in pairs:
        hamming = bin(sim[r.doc_a] ^ sim[r.doc_b]).count("1")
        assert hamming <= 6, (r.doc_a, r.doc_b, hamming)


def test_ann_lsh_is_subset_quality_of_bruteforce(spark, sf_correctness_dir):
    """Bucketed ANN returns only same-bucket candidates; every returned
    (query, candidate) cosine must match the brute-force score exactly
    (same fold arithmetic), and rank-1 results must score ≤ brute-force
    rank-1 (it searches a subset)."""
    bf = {
        (r.query_id, r.candidate_id): r.cosine
        for r in _run("q_ann_cosine_topk", spark, sf_correctness_dir).collect()
    }
    bf_best = {}
    for (q, c), cos in bf.items():
        bf_best[q] = max(bf_best.get(q, -2.0), cos)
    for r in _run("q_ann_lsh_bucketed", spark, sf_correctness_dir).collect():
        if (r.query_id, r.candidate_id) in bf:
            assert bf[(r.query_id, r.candidate_id)] == r.cosine
        if r.rank == 1:
            assert r.cosine <= bf_best[r.query_id] + 1e-12


def test_multimodal_features_match_jvm_recompute(spark, sf_dir):
    """The Arrow decode+featurize path must agree with a JVM-side
    recomputation: the decoded raster md5 equals md5 of the same
    rpad'd text the payload builder embedded, and decoded dimensions
    equal the doc_id arithmetic — proving the PGM round-trip (encode
    JVM-side, decode Python-side) transports every byte intact."""
    from retail_datawarehouse_spark.operators.multimodal import _IMG_W, _PGM_H
    from retail_datawarehouse_spark.sources.readers import load_table

    feats = _run("q_multimodal_features", spark, sf_dir)
    jvm = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_IMG_W).cast("long").alias("jvm_w"),
        F.expr(_PGM_H).cast("long").alias("jvm_h"),
        F.md5(F.expr(f"rpad(text, {_IMG_W} * {_PGM_H}, 'x')")).alias("jvm_md5"),
    )
    joined = feats.join(jvm, "doc_id")
    assert joined.count() == jvm.count()
    assert (
        joined.filter(
            (F.col("width") != F.col("jvm_w"))
            | (F.col("height") != F.col("jvm_h"))
            | (F.col("n_pixels") != F.col("jvm_w") * F.col("jvm_h"))
            | (F.col("pixel_md5") != F.col("jvm_md5"))
        ).count()
        == 0
    )
    sample = feats.orderBy("doc_id").first()
    assert 0 < sample.pixel_mean <= 255


def test_decode_image_parses_pgm(spark):
    """The dependency-free P5 decoder: full netpbm header grammar
    (comments, multi-whitespace), exact raster extraction, and hard
    errors on foreign magics / truncated rasters — never a silent
    wrong decode."""
    import pytest

    from retail_datawarehouse_spark.operators.multimodal import decode_image

    raster = bytes(range(12))
    w, h, px = decode_image(b"P5\n4 3\n255\n" + raster)
    assert (w, h, px) == (4, 3, raster)
    # comment + arbitrary whitespace in the header
    w, h, px = decode_image(b"P5 # a comment\n 4\t3 #c\n255 " + raster)
    assert (w, h, px) == (4, 3, raster)
    with pytest.raises(ValueError, match="magic"):
        decode_image(b"\x89PNG")
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P5\n4 3\n255\n" + raster[:-1])
    with pytest.raises(ValueError, match="8-bit"):
        decode_image(b"P5\n1 1\n65535\n\x00\x00")
    # Truncated/malformed HEADERS must raise, not hang: an unguarded
    # tokenizer spins forever past EOF (b"".isspace() is False).
    with pytest.raises(ValueError, match="truncated header"):
        decode_image(b"P5")
    with pytest.raises(ValueError, match="truncated header"):
        decode_image(b"P5\n4 3")  # token runs to EOF
    with pytest.raises(ValueError, match="truncated header"):
        decode_image(b"P5 # comment never ends")
    with pytest.raises(ValueError, match="malformed header"):
        decode_image(b"P5\nxy 3\n255\n")


def _bmp_bytes(w, h, gray_rows, top_down=False, bpp=24, compression=0):
    """Hand-rolled uncompressed BMP encoder for the decoder tests —
    independent of the Spark-side synthesizer, so the two implementations
    check each other. gray_rows is top-down [row][x] gray values."""
    import struct

    stride = ((w * 3 + 3) // 4) * 4
    pix = bytearray()
    rows = gray_rows if top_down else list(reversed(gray_rows))
    for row in rows:
        for g in row:
            pix += bytes((g, g, g))
        pix += b"\x00" * (stride - w * 3)
    hdr_h = -h if top_down else h
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, hdr_h, 1, bpp, compression,
                      len(pix), 0, 0, 0, 0)
        + bytes(pix)
    )


def test_decode_image_parses_bmp():
    """The BMP branch of the dispatch (r4 verdict #3): decodes an
    independently hand-rolled uncompressed 24-bit BMP — bottom-up AND
    top-down row orders, stride-padded widths — back to the top-down
    grayscale raster, and hard-errors (never hangs, never wraps) on the
    malformed family: truncated header, truncated raster, unsupported
    bpp/compression, foreign DIB header."""
    import pytest

    from retail_datawarehouse_spark.operators.multimodal import decode_image

    rows = [[10, 20, 30, 40, 50], [60, 70, 80, 90, 100], [1, 2, 3, 4, 5]]
    flat = bytes(g for row in rows for g in row)
    # w=5 forces a nonzero stride pad (15 -> 16), exercising the skip.
    w, h, px = decode_image(_bmp_bytes(5, 3, rows))
    assert (w, h, px) == (5, 3, flat)
    w, h, px = decode_image(_bmp_bytes(5, 3, rows, top_down=True))
    assert (w, h, px) == (5, 3, flat)
    good = _bmp_bytes(5, 3, rows)
    with pytest.raises(ValueError, match="truncated header"):
        decode_image(good[:40])
    with pytest.raises(ValueError, match="truncated raster"):
        decode_image(good[:-1])
    with pytest.raises(ValueError, match="24-bit"):
        decode_image(_bmp_bytes(5, 3, rows, bpp=8))
    with pytest.raises(ValueError, match="24-bit"):
        decode_image(_bmp_bytes(5, 3, rows, compression=1))  # BI_RLE8
    v5 = bytearray(good)
    v5[14] = 16  # BITMAPCOREHEADER-sized DIB: layout we don't parse
    with pytest.raises(ValueError, match="DIB header"):
        decode_image(bytes(v5))


def test_mixed_codec_payloads_decode_to_identical_raster_stats(spark):
    """The design invariant behind the mixed fixture: a doc's BMP and
    PGM payloads decode to the SAME raster (the rpad'd text), so the
    featurizer output is codec-independent — only width/height formulas
    differ. Check both synthesizers on the same docs."""
    from retail_datawarehouse_spark.operators.multimodal import (
        decode_image,
        with_bmp_payload,
        with_pgm_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"payload text for doc {i} padded out to raster length....")
         for i in range(1, 9, 2)],
        "doc_id long, text string",
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    pgm = {r.doc_id: bytes(r.payload) for r in with_pgm_payload(docs).collect()}
    bmp = {r.doc_id: bytes(r.payload) for r in with_bmp_payload(docs).collect()}

    def padded(doc_id, w, h):
        t = texts[doc_id][: w * h]
        return (t + "x" * (w * h - len(t))).encode()

    for doc_id in pgm:
        pw, ph, praster = decode_image(pgm[doc_id])
        bw, bh, braster = decode_image(bmp[doc_id])
        assert ph == bh  # shared height formula
        assert praster == padded(doc_id, pw, ph)
        assert braster == padded(doc_id, bw, bh)
        # Same text feeds both: rasters agree on their common prefix.
        n = min(len(praster), len(braster), len(texts[doc_id]))
        assert praster[:n] == braster[:n]


def test_langid_outputs_valid_labels(spark, sf_dir):
    out = _run("q_text_metrics", spark, sf_dir)
    labels = {r.predicted_lang for r in out.select("predicted_lang").distinct().collect()}
    assert labels <= {"en", "de", "fr", "es"}


def test_quality_flags_are_consistent(spark, sf_dir):
    out = _run("q_text_metrics", spark, sf_dir)
    bad = out.filter(
        F.col("passes_quality")
        & ((F.col("n_chars") < 100) | (F.col("stopword_ratio") > 0.6))
    )
    assert bad.count() == 0


def test_vectorized_cosine_agrees_with_exact(spark, sf_dir):
    """The Arrow pandas-UDF scorer must produce BIT-identical cosines
    to the oracle-checked JVM fold: the kernel accumulates with a
    strict left-to-right cumsum, the exact IEEE op sequence of the
    fold (a BLAS pairwise reduction drifts in the last ulp and can
    flip a quantization boundary — observed at sf0.1 pre-fix)."""
    from retail_datawarehouse_spark.registry import catalog

    exact = builder("q_ann_cosine_topk")(spark, sf_dir).collect()
    vec = builder("q_ann_cosine_topk_vectorized")(spark, sf_dir).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.candidate_id)
    vec_sets = {}
    for r in vec:
        vec_sets.setdefault(r.query_id, set()).add(r.candidate_id)
    assert exact_sets == vec_sets
    exact_cos = {(r.query_id, r.candidate_id): r.cosine for r in exact}
    for r in vec:
        assert exact_cos[(r.query_id, r.candidate_id)] == r.cosine


def test_sketches_bounded_error_vs_exact(spark, sf_dir):
    """Approximate operators are only done if their error is bounded:
    HLL distinct counts within 3x the declared rsd; sketch quantiles
    within 2% relative of the exact interpolated percentiles."""
    from retail_datawarehouse_spark.registry import catalog

    from retail_datawarehouse_spark.operators.sketches import (
        sketch_distinct_parts_per_brand,
        sketch_price_quantiles,
    )

    rows = sketch_distinct_parts_per_brand(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_parts - r.exact_parts) <= max(3, 0.06 * r.exact_parts), (
            r.p_brand, r.approx_parts, r.exact_parts,
        )

    qs = {
        r.o_orderpriority: r.approx_q
        for r in sketch_price_quantiles(spark, sf_dir).collect()
    }
    exact_q = {
        r.o_orderpriority: (r.p50, r.p90, r.p99)
        for r in builder("q_percentile_order_value")(spark, sf_dir).collect()
    }
    for prio, (p50, p90, p99) in exact_q.items():
        for got, want in zip(qs[prio], (p50, p90, p99)):
            assert abs(got - want) / want < 0.02, (prio, got, want)


@pytest.fixture(scope="module")
def fixture_ivf_index(spark, sf_dir, tmp_path_factory):
    """The suite's IVF serving configuration, stored: a
    ``cells="fixture"`` index over the smoke corpus (the builder the
    suite's 'ivf' branch serves and its oracle mirrors). Returns the
    index dir and the query vectors as (id, emb)."""
    from tests.builders import ann_vectors

    from retail_datawarehouse_spark.operators.ann_index import store_ivf_index

    corpus, queries = ann_vectors(spark, sf_dir)
    idx = str(tmp_path_factory.mktemp("ivf_fixture") / "idx")
    store_ivf_index(corpus, idx, cells="fixture")
    return idx, queries


def test_ivf_full_probe_reproduces_bruteforce(spark, sf_dir, fixture_ivf_index):
    """nprobe=K must give EXACTLY the brute-force top-k: the cell
    assignment is a complete disjoint cover of the corpus, so probing
    every cell scores every candidate exactly once. This pins the IVF
    machinery (routing, inverted-file join, dedup-free union) with no
    recall hand-waving."""
    from retail_datawarehouse_spark.operators.ann_index import query_ivf_index

    idx, queries = fixture_ivf_index
    exact = builder("q_ann_cosine_topk")(spark, sf_dir)
    full = query_ivf_index(queries, idx, nprobe="all")
    a = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b


def test_ivf_probed_returns_full_topk_with_true_cosines(
    spark, sf_dir, fixture_ivf_index
):
    """nprobe=4: every query still gets TOP_K rows (cells are dense
    enough), and every reported cosine equals the independently
    recomputed exact cosine for that pair (the approximation is WHICH
    pairs get scored, never the score itself)."""
    from retail_datawarehouse_spark.operators.ann_index import query_ivf_index
    from retail_datawarehouse_spark.operators.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        cosine_col,
    )
    from retail_datawarehouse_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    idx, queries = fixture_ivf_index
    res = query_ivf_index(queries, idx, nprobe=IVF_NPROBE)
    rows = res.collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r)
    assert len(per_query) == N_QUERIES
    assert all(len(v) == TOP_K for v in per_query.values())

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = spark.createDataFrame(
        [(r.query_id, r.candidate_id, r.cosine) for r in rows],
        "query_id long, candidate_id long, cosine double",
    )
    recomputed = (
        pairs.join(
            emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")),
            "query_id",
        )
        .join(
            emb.select(F.col("vec_id").alias("candidate_id"), F.col("embedding").alias("c_emb")),
            "candidate_id",
        )
        .withColumn("exact", cosine_col("q_emb", "c_emb"))
    )
    bad = recomputed.filter(F.col("exact") != F.col("cosine")).count()
    assert bad == 0


def test_split_assign_stable_under_repartition(spark, sf_correctness_dir):
    """The split must be a pure function of doc_id: recomputing over a
    differently-partitioned input yields identical membership, and the
    proportions land near 80/10/10."""
    from retail_datawarehouse_spark.registry import catalog

    build = builder("q_split_assign")
    a = {(r.doc_id, r.split) for r in build(spark, sf_correctness_dir).collect()}
    from retail_datawarehouse_spark.sources.readers import load_table
    from retail_datawarehouse_spark.operators.sampling import (
        TRAIN_MAX_HEX,
        VAL_MAX_HEX,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_correctness_dir, "documents").repartition(17)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    b = {
        (r.doc_id, r.split)
        for r in docs.select(
            "doc_id",
            F.when(bucket < TRAIN_MAX_HEX, F.lit("train"))
            .when(bucket < VAL_MAX_HEX, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        ).collect()
    }
    assert a == b
    n = len(a)
    train = sum(1 for _, s in a if s == "train")
    assert 0.7 < train / n < 0.9


def test_quota_sample_uses_window_group_limit(spark, sf_dir):
    from retail_datawarehouse_spark.plans.explain import formatted_plan
    from retail_datawarehouse_spark.registry import catalog

    df = builder("q_source_quota_sample")(spark, sf_dir)
    assert "WindowGroupLimit" in formatted_plan(df)


def test_components_are_a_valid_partition_of_dup_edges(spark, sf_correctness_dir):
    """CC output must (a) label every document, (b) give both endpoints
    of every near-dup edge the SAME component, (c) label each component
    by its minimum member (canonical keep-doc convention), and (d)
    contain a transitive chain (a size-3+ component) so the fixpoint
    iteration is actually exercised."""
    from retail_datawarehouse_spark.registry import catalog

    comp = {
        r.node: r.val
        for r in catalog()["q_dedup_components"]
        .builder(spark, sf_correctness_dir)
        .filter("part = 'cc'")
        .collect()
    }
    pairs = builder("q_dedup_minhash_lsh")(
        spark, sf_correctness_dir
    ).collect()
    assert pairs
    for p in pairs:
        assert comp[p.doc_a] == comp[p.doc_b], (p.doc_a, p.doc_b)
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ms in members.items():
        assert c == min(ms)
    assert max(len(ms) for ms in members.values()) >= 3


def test_connected_components_checkpoint_mode(spark, tmp_path):
    """use_checkpoint=True truncates lineage via reliable checkpoint —
    same labels as the persist path on a transitive chain."""
    from retail_datawarehouse_spark.operators.dedup import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "cc_ckpt"))
    vertices = spark.range(6).selectExpr("id AS v")
    # chain 0-1-2-3 plus pair 4-5 → components {0,1,2,3}→0, {4,5}→4
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], "a long, b long"
    )
    got = {
        r.v: r.component
        for r in connected_components(vertices, edges, use_checkpoint=True).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


def test_cc_round_count_is_logarithmic(spark):
    """The scale claim of star-contraction CC, pinned: a planted PATH
    graph (the worst case for label propagation — diameter = n-1, so
    propagation needs ~n rounds) must converge in O(log n) star rounds.
    64-node path: label propagation would need ~63 rounds; the bound
    here is ⌈log₂ 63⌉ + 3 = 9."""
    import math

    from retail_datawarehouse_spark.operators.dedup import connected_components

    n = 64
    vertices = spark.range(n).selectExpr("id AS v")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    labels, rounds = connected_components(
        vertices, edges, return_rounds=True
    )
    assert {r.component for r in labels.collect()} == {0}
    diameter = n - 1
    bound = math.ceil(math.log2(diameter)) + 3
    assert rounds <= bound, (
        f"star CC took {rounds} rounds on a diameter-{diameter} path; "
        f"log-round bound is {bound}"
    )


def test_connected_components_raises_when_unconverged(spark):
    """A diameter-5 chain cannot converge in max_iter=1 — must raise,
    never silently return wrong labels."""
    import pytest

    from retail_datawarehouse_spark.operators.dedup import connected_components

    vertices = spark.range(6).selectExpr("id AS v")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iter=1)


def test_decontaminate_removes_eval_members_by_content(spark, sf_dir):
    """The anti-join must actually remove the eval docs (by content
    hash, not id): survivors = corpus minus the eval members and any
    exact copies of them."""
    from retail_datawarehouse_spark.registry import catalog
    from retail_datawarehouse_spark.sources.readers import load_table

    rows = builder("q_decontaminate_suite")(spark, sf_dir).collect()
    survivors = {r.doc_id for r in rows if r.part == "exact"}
    all_ids = {r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()}
    eval_ids = {i for i in all_ids if i % 10 == 0}
    assert eval_ids and survivors.isdisjoint(eval_ids)
    assert len(survivors) < len(all_ids)
    # ngram part: every injected doc (%7, non-eval, long enough) is
    # flagged with >= DECON_N shared grams (an appended 8-token head
    # yields 1 gram from the copy + boundary grams; at minimum 1)
    flagged = {r.doc_id: r.n_shared for r in rows if r.part == "ngram"}
    injected = {i for i in all_ids if i % 7 == 0 and i % 10 != 0}
    assert injected and injected <= set(flagged)
    assert all(n >= 1 for n in flagged.values())


def test_ivf_recall_floor_on_fixture(spark, sf_dir, fixture_ivf_index):
    """Recall quality gate for the IVF serving config (round-2 verdict
    #7): nprobe=K proves completeness, but nothing bounded recall at
    partial probe depths. The fixture embeddings are isotropic random
    vectors — the hardest case for IVF, where random cell routing would
    give recall ~= nprobe/K — so these floors certify the coarse
    quantizer routes genuinely better than chance, and the curve is
    monotone in probe depth. Deterministic: fixed fixture + fixed-point
    centroid index make every measured value exactly reproducible.

    Measured on sf0.001: 0.4667 / 0.7667 / 0.9667 at nprobe 4/8/12
    (random baselines 0.25 / 0.50 / 0.75)."""
    from retail_datawarehouse_spark.operators.ann_index import query_ivf_index

    idx, queries = fixture_ivf_index
    exact = builder("q_ann_cosine_topk")(spark, sf_dir).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.candidate_id)

    floors = {4: 0.40, 8: 0.70, 12: 0.90}
    means = []
    for nprobe, floor in floors.items():
        got = {}
        for r in query_ivf_index(queries, idx, nprobe=nprobe).collect():
            got.setdefault(r.query_id, set()).add(r.candidate_id)
        recalls = [
            len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
        ]
        mean = sum(recalls) / len(recalls)
        means.append(mean)
        assert mean >= floor, (nprobe, mean, floor)
        assert mean > nprobe / 16 + 0.05, ("no better than random routing", nprobe, mean)
    assert means == sorted(means), ("recall must be monotone in nprobe", means)


def test_adc_recall_floor_vs_exact(spark, sf_dir):
    """The ADC branch quantizes the corpus to int8 (r4 verdict #6);
    this pins how much the quantization can cost. int8 symmetric
    quantization perturbs each cosine by O(1/127) relative — far
    smaller than typical top-k gaps — so recall@3 vs the exact branch
    must be near-perfect: EVERY query >= 2/3, mean >= 0.9.
    Deterministic (fixed fixture + exact-floor quantization): measured
    1.0 at sf0.01 and 0.967 at sf0.1 (one query swaps rank 3)."""
    import collections

    rows = builder("q_ann_topk_suite")(spark, sf_dir).collect()
    tops = collections.defaultdict(set)
    for r in rows:
        if r.method in ("exact", "adc"):
            tops[(r.method, r.query_id)].add(r.candidate_id)
    qs = sorted({q for (m, q) in tops if m == "exact"})
    assert qs, "exact branch empty"
    recalls = [
        len(tops[("adc", q)] & tops[("exact", q)]) / len(tops[("exact", q)])
        for q in qs
    ]
    assert min(recalls) >= 2 / 3 - 1e-9, recalls
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ann_suite_memoizes_persisted_frames(spark, sf_correctness_dir):
    """r7 verdict #3 (the r5 ADVICE cache-accrual class): repeat
    ``q_ann_topk_suite`` invocations in one session must reuse ONE
    memo entry (the persisted corpus, the stored indexes and their
    handles), not accrue a new persisted set or a new index build per
    call — and an external ``clearCache`` (bench.py does this between
    reps) must be healed by re-persisting the SAME memo entry, still
    correct."""
    from retail_datawarehouse_spark.operators.similarity import (
        _ANN_SUITE_CACHE,
        q_ann_topk_suite,
    )

    jsc_sc = spark.sparkContext._jsc.sc()
    n0 = q_ann_topk_suite(spark, sf_correctness_dir).count()
    persisted_after_first = jsc_sc.getPersistentRDDs().size()
    cache_entries = len(_ANN_SUITE_CACHE)
    key = (spark.sparkContext.applicationId, sf_correctness_dir)
    memo_first = {n: id(v) for n, v in _ANN_SUITE_CACHE[key].items()}
    assert q_ann_topk_suite(spark, sf_correctness_dir).count() == n0
    # Spark's ContextCleaner asynchronously unpersists frames whose
    # Python references were GC'd by EARLIER tests in a long session,
    # so the global count may legitimately SHRINK between the two
    # reads — the memo property is that it must not GROW (a second
    # invocation registering new frames), plus identity: the second
    # call served the exact same memoized objects.
    assert jsc_sc.getPersistentRDDs().size() <= persisted_after_first
    assert len(_ANN_SUITE_CACHE) == cache_entries
    assert {
        n: id(v) for n, v in _ANN_SUITE_CACHE[key].items()
    } == memo_first
    # external clearCache unregisters the corpus; the memo re-persists
    # it rather than running the suite uncached or rebuilding the entry
    spark.catalog.clearCache()
    assert q_ann_topk_suite(spark, sf_correctness_dir).count() == n0
    key = (spark.sparkContext.applicationId, sf_correctness_dir)
    lvl = _ANN_SUITE_CACHE[key]["corpus"].storageLevel
    assert lvl.useMemory or lvl.useDisk
    assert {
        n: id(v) for n, v in _ANN_SUITE_CACHE[key].items()
    } == memo_first
    assert len(_ANN_SUITE_CACHE) == cache_entries


def test_lsh_dup_recall_floor(spark):
    """Recall gate for the embedding-LSH near-dup miner (round-3
    verdict #4): a near-dup pair whose tiny component straddles ONE
    hyperplane lands in adjacent buckets and is STRUCTURALLY missed at
    probe=0 — nothing previously measured that miss. Planted fixture:
    8 straddler pairs (pair j differs only in the sign of bucket
    component j, cosine ≈ 1) + 4 same-bucket pairs (scaled copies).

    Measured floors, deterministic by construction:
      probe=0 → recall exactly 4/12 (all straddlers missed)
      probe=1 → recall 1.0 (every hamming-1 pair recovered)
    plus precision 1.0 at both depths (no unplanted pair scores
    ≥ threshold: planted pairs are mutually near-orthogonal)."""
    from retail_datawarehouse_spark.operators.similarity import (
        LSH_BITS,
        lsh_dup_pairs,
    )

    dim = LSH_BITS + 12
    delta, eps = 0.01, 1e-4
    rows = []
    truth = set()
    # 8 straddler pairs: bucket comps all +delta except comp j = ±eps;
    # dominant unique component LSH_BITS + j keeps cross-pair cosine ~0.
    for j in range(LSH_BITS):
        for sign, off in ((1.0, 0), (-1.0, 1)):
            v = [delta] * LSH_BITS + [0.0] * 12
            v[j] = sign * eps
            v[LSH_BITS + j] = 1.0
            rows.append((100 + 2 * j + off, v))
        truth.add((100 + 2 * j, 101 + 2 * j))
    # 4 same-bucket pairs: identical sign pattern, scaled copy.
    for k in range(4):
        v = [delta] * LSH_BITS + [0.0] * 12
        v[LSH_BITS + 8 + k % 4] = 1.0
        rows.append((200 + 2 * k, v))
        rows.append((201 + 2 * k, [x * 1.5 for x in v]))
        truth.add((200 + 2 * k, 201 + 2 * k))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )

    got0 = {(r.vec_a, r.vec_b) for r in lsh_dup_pairs(corpus, probe=0).collect()}
    got1 = {(r.vec_a, r.vec_b) for r in lsh_dup_pairs(corpus, probe=1).collect()}
    # precision 1.0 at both depths
    assert got0 <= truth and got1 <= truth, (got0 - truth, got1 - truth)
    # probe=0: exactly the same-bucket pairs; every straddler missed
    assert got0 == {p for p in truth if p[0] >= 200}
    assert len(got0) / len(truth) == 4 / 12
    # probe=1: full recall, and strictly contains the probe=0 set
    assert got1 == truth
    assert got0 < got1


def test_adaptive_capacity_preserves_planted_dup_recall(spark):
    """The r5 20× probe measured the fixed-capacity embedding-dedup
    forms (bits=8 / cells=16) at 31.7× wall for 20× data — the one
    super-linear entry. The fix parameterizes capacity (bits ≈
    log2(N/occupancy), cells ≈ √N). This pins the SAFETY of turning
    those knobs: a sign-preserving near-dup (scaled copy) has the same
    sign pattern at ANY bit depth and the same cosine to every centroid
    — so raising capacity must not lose a single planted pair, while
    strictly shrinking (or keeping) the candidate surface."""
    from retail_datawarehouse_spark.operators.similarity import (
        lsh_dup_pairs,
        semdedup_pairs,
    )

    # 40 base vectors across varied sign patterns + 10 planted scaled
    # copies (1.5×) — each copy is a guaranteed near-dup of its parent.
    rows, truth = [], set()
    for i in range(40):
        v = [(1.0 if (i >> b) & 1 else -1.0) * (0.3 + 0.01 * b + 0.005 * i)
             for b in range(16)]
        rows.append((i, v))
        if i % 4 == 0:
            rows.append((1000 + i, [x * 1.5 for x in v]))
            truth.add((i, 1000 + i))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for bits in (8, 12, 16):
        got = {(r.vec_a, r.vec_b)
               for r in lsh_dup_pairs(corpus, bits=bits).collect()}
        assert truth <= got, (bits, truth - got)
    for cells in (4, 16, 32):
        got = {(r.vec_a, r.vec_b)
               for r in semdedup_pairs(corpus, cells=cells).collect()}
        assert truth <= got, (cells, truth - got)
    # Two-level routing (coarse reps) — approximate at group
    # boundaries, but a scaled copy routes WITH its parent at every
    # level, so planted recall still holds.
    for cells, coarse in ((16, 4), (32, 6)):
        got = {
            (r.vec_a, r.vec_b)
            for r in semdedup_pairs(corpus, cells=cells, coarse=coarse).collect()
        }
        assert truth <= got, (cells, coarse, truth - got)


def test_entity_resolution_matches_injected_typos(spark, sf_dir):
    """Every injected dirty record (3rd char dropped) must resolve back
    to its source part by NAME alone — a (k, k) pair at edit distance
    exactly 1 — and nothing may exceed the distance cap. TPC-H color
    names are long and pairwise far apart, so non-self matches within
    distance 2 don't occur at fixture scale."""
    from retail_datawarehouse_spark.operators.dedup import ER_INJECT_MOD
    from retail_datawarehouse_spark.sources.readers import load_table

    rows = (
        _run("q_dedup_ngram_jaccard", spark, sf_dir)
        .filter(F.col("part") == "entity")
        .collect()
    )
    assert rows
    n_dirty = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % ER_INJECT_MOD == 0)
        .count()
    )
    self_pairs = [r for r in rows if r.doc_a == r.doc_b]
    assert len(self_pairs) == n_dirty > 0
    assert all(r.edit_distance == 1 for r in self_pairs)
    assert all(r.edit_distance <= 2 for r in rows)
    assert all(r.nb - 1 == r.na for r in self_pairs)  # one char dropped


def test_countmin_overestimates_within_epsilon(spark, sf_dir):
    """CMS guarantees: (1) est ≥ exact ALWAYS (buckets only collide
    upward — deterministic, the oracle-certified property); (2) est ≤
    exact + ε·N with ε = e/W (probabilistic; deterministic here because
    the md5 hash rows are fixed); (3) the sketch state is at most D×W
    counters no matter the input size — the whole point at 100 TB."""
    import math

    from pyspark.sql import functions as FF

    from retail_datawarehouse_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        _CMS_BUCKET_SPARK,
        sketch_countmin_event_freq,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    rows = sketch_countmin_event_freq(spark, sf_dir).collect()
    assert rows
    n_total = sum(r.exact_n for r in rows)
    eps = math.e / CMS_W
    for r in rows:
        assert r.est_n >= r.exact_n, r
        assert r.est_n <= r.exact_n + eps * n_total, (r, eps * n_total)

    events = load_table(spark, sf_dir, "events").select("event_type")
    cells = events.select(
        FF.explode(FF.expr(f"sequence(0, {CMS_D - 1})")).alias("k"), "event_type"
    ).select("k", FF.expr(_CMS_BUCKET_SPARK).alias("bucket"))
    n_cells = cells.distinct().count()
    assert n_cells <= CMS_D * CMS_W


def test_bm25_ranking_semantics(spark):
    """BM25 on a controlled corpus: (1) higher tf wins at equal length;
    (2) at equal tf, the SHORTER doc wins (length normalization, the
    property plain tf ranking lacks); (3) rank is dense 1..k per term;
    (4) docs without the term never appear."""
    from retail_datawarehouse_spark.operators.textual import bm25_topk_frame

    pad = " filler" * 46  # long doc padding, no query terms inside
    docs = spark.createDataFrame(
        [
            (0, "spark spark spark row row"),          # tf=3, dl=5
            (1, "spark spark row row row"),            # tf=2, dl=5
            (2, "spark spark row row row" + pad),      # tf=2, dl=51
            (3, "row row row row row"),                # tf=0
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk_frame(docs).filter("term = 'spark'").collect()
    by_rank = {r.rank: r for r in sorted(rows, key=lambda r: r.rank)}
    assert [by_rank[k].doc_id for k in sorted(by_rank)] == [0, 1, 2]
    assert {r.doc_id for r in rows} == {0, 1, 2}  # doc 3 absent
    assert all(r.df == 3 for r in rows)
    assert by_rank[1].tf == 3 and by_rank[2].tf == 2 and by_rank[3].tf == 2


def test_bm25_plan_shape(spark, sf_dir):
    """The corpus side of BM25 must stay cheap at 100 TB: tf comes from
    hoisted-tokenization array HOFs (the corpus never token-explodes
    into a shuffle), df is a query-term-cardinality aggregate broadcast
    back, and the only nested loop is the 1-row stats broadcast. Total
    exchanges stay bounded (df agg + its read side + window top-k),
    and the posting/df join is a BroadcastHashJoin."""
    from retail_datawarehouse_spark.operators.textual import bm25_topk_frame
    from retail_datawarehouse_spark.plans.explain import (
        formatted_plan,
        shuffle_count,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    df = bm25_topk_frame(load_table(spark, sf_dir, "documents"))
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    import re

    # exactly one nested-loop NODE: the 1-row stats broadcast
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1, plan
    assert shuffle_count(df) <= 3, plan


def test_semdedup_agrees_with_lsh_on_injected_ground_truth(spark, sf_dir):
    """The two embedding near-dup candidate generators — oblivious
    hyperplane buckets (lsh) and data-adaptive k-means cells (sem) —
    must surface the IDENTICAL pair set on the fixture: exactly the
    injected scaled-copy pairs (v, v+100000), nothing else (natural
    max cosine ≈ 0.44 is far under the 0.99 threshold). Full recall by
    construction in both: a scaled copy shares its source's sign
    pattern AND its nearest centroid."""
    from retail_datawarehouse_spark.operators.similarity import (
        _injected_dup_corpus,
        lsh_dup_pairs,
        semdedup_pairs,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    corpus = _injected_dup_corpus(load_table(spark, sf_dir, "embeddings"))
    lsh = {(r.vec_a, r.vec_b) for r in lsh_dup_pairs(corpus).collect()}
    sem = {(r.vec_a, r.vec_b) for r in semdedup_pairs(corpus).collect()}
    assert lsh == sem
    assert lsh, "no pairs — injection not exercised"
    assert all(b == a + 100000 for a, b in lsh), lsh


def test_gopher_quality_panel_consistency(spark, sf_dir):
    """The Gopher-rule columns must be internally consistent per row:
    type_token_ratio = distinct/total, mean_word_len reconstructs from
    chars/tokens of single-spaced text, and gopher_pass fires exactly
    when its three published cuts hold. The fixture must exercise BOTH
    outcomes of the flag."""
    rows = _run("q_text_metrics", spark, sf_dir).select(
        "n_chars", "n_ws_tokens", "n_distinct_ws_tokens",
        "type_token_ratio", "max_token_len", "mean_word_len", "gopher_pass",
    ).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_distinct_ws_tokens <= r.n_ws_tokens
        assert abs(r.type_token_ratio - r.n_distinct_ws_tokens / r.n_ws_tokens) == 0
        assert abs(
            r.mean_word_len - (r.n_chars - r.n_ws_tokens + 1) / r.n_ws_tokens
        ) == 0
        assert 0 < r.max_token_len <= r.n_chars
        expect = (
            50 <= r.n_ws_tokens <= 100000
            and 3.0 <= r.mean_word_len <= 10.0
            and r.type_token_ratio > 0.2
        )
        assert r.gopher_pass == expect, r
    outcomes = {r.gopher_pass for r in rows}
    assert outcomes == {True, False}, outcomes


def test_quality_percentile_cut_semantics_and_plan(spark, sf_dir):
    """Per-source percentile cut: (1) threshold semantics — every doc
    at/above its source's p30 survives, everything below drops, so
    max(dropped) < min(survivors) within a source and roughly the top
    70% remain; (2) the 100 TB shape — the corpus never shuffles: the
    plan's only exchange is the narrow (source, score) threshold
    aggregate, applied back via broadcast join + map filter."""
    from retail_datawarehouse_spark.operators.sampling import (
        q_quality_percentile_cut,
    )
    from retail_datawarehouse_spark.plans.explain import (
        formatted_plan,
        shuffle_count,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    out = q_quality_percentile_cut(spark, sf_dir)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert shuffle_count(out) <= 1, plan  # threshold agg only

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    score = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " "))).alias("s"),
        ).collect()
    }
    by_source = {}
    for r in docs.select("doc_id", "source").collect():
        by_source.setdefault(r.source, []).append(r.doc_id)
    kept = {(r.doc_id, r.source) for r in out.collect()}
    assert kept
    for src, ids in by_source.items():
        surv = [score[i] for i in ids if (i, src) in kept]
        drop = [score[i] for i in ids if (i, src) not in kept]
        assert surv, src
        if drop:
            assert max(drop) < min(surv), src
        frac = len(surv) / len(ids)
        assert 0.6 <= frac <= 1.0, (src, frac)
    assert any(
        len([i for i in ids if (i, src) not in kept]) > 0
        for src, ids in by_source.items()
    ), "no source dropped anything — cut unexercised"


def test_token_chunker_tiles_docs_with_overlap(spark, sf_dir):
    """Overlapping token chunking: chunk k starts at k·stride, so (1)
    chunk count per doc = floor((n−1)/stride)+1 — every token covered,
    ≥1 chunk per doc; (2) all non-tail chunks carry exactly CHUNK_TOKENS
    tokens and consecutive full chunks overlap by size−stride; (3) the
    first chunk's md5 equals a direct hash of the first CHUNK_TOKENS
    tokens; (4) the whole 1→N explosion is map-only (zero exchanges)."""
    import hashlib

    from retail_datawarehouse_spark.operators.multimodal import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        token_chunk_frame,
    )
    from retail_datawarehouse_spark.plans.explain import shuffle_count
    from retail_datawarehouse_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = token_chunk_frame(docs)
    assert shuffle_count(out) == 0

    texts = {r.doc_id: r.text for r in docs.collect()}
    chunks = {}
    for r in out.collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_idx] = r
    assert chunks.keys() == texts.keys()
    for doc_id, text in texts.items():
        toks = text.split(" ")
        n = len(toks)
        got = chunks[doc_id]
        assert len(got) == (n - 1) // CHUNK_STRIDE + 1, doc_id
        for k, r in got.items():
            start = k * CHUNK_STRIDE
            expect_toks = toks[start : start + CHUNK_TOKENS]
            assert r.n_toks == len(expect_toks), (doc_id, k)
            if start + CHUNK_TOKENS <= n:
                assert r.n_toks == CHUNK_TOKENS
        first = hashlib.md5(
            " ".join(toks[:CHUNK_TOKENS]).encode()
        ).hexdigest()
        assert got[0].chunk_md5 == first, doc_id


def test_pagerank_fixed_point_bounds_and_partition_stability(spark, sf_dir):
    """Fixed-point PageRank invariants: (1) every rank ≥ the teleport
    base (nothing below 0.15) and total mass stays within [N·base,
    N·1.0] (floor losses + dangling leak only shrink it); (2) ranks
    are BIT-IDENTICAL under a different edge partitioning — the whole
    point of integer accumulation (a float PageRank's partial-sum
    order would differ); (3) some node actually gained rank (the graph
    is non-trivial)."""
    from retail_datawarehouse_spark.operators.graph import (
        PR_BASE_Q,
        PR_Q,
        copurchase_edges,
        pagerank_fixed_point,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    nodes = li.select(F.col("l_partkey").alias("node")).distinct()
    edges = copurchase_edges(li)
    r1 = {r.node: r.rq for r in pagerank_fixed_point(nodes, edges).collect()}
    assert r1
    n = len(r1)
    total = sum(r1.values())
    assert all(rq >= PR_BASE_Q for rq in r1.values())
    assert n * PR_BASE_Q <= total <= n * PR_Q
    assert max(r1.values()) > PR_BASE_Q

    r2 = {
        r.node: r.rq
        for r in pagerank_fixed_point(
            nodes.repartition(7), edges.repartition(13)
        ).collect()
    }
    assert r1 == r2


def test_heavy_hitters_exact_verified_no_false_results(spark, sf_correctness_dir):
    """CMS-guided heavy hitters must equal the ground-truth set a full
    groupBy would give (candidates have no false negatives because
    est ≥ exact; verification removes the false positives), and every
    emitted estimate must sit at or above its exact count. The fixture
    separates cleanly: ~30 heavy generator words vs the rare 'dup'
    marker token far under total/HH_INV."""
    from retail_datawarehouse_spark.operators.sketches import (
        HH_INV,
        sketch_heavy_hitter_tokens,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    got = {
        r.token: (r.exact_n, r.est_n)
        for r in sketch_heavy_hitter_tokens(spark, sf_correctness_dir).collect()
    }
    docs = load_table(spark, sf_correctness_dir, "documents")
    tc = {
        r.token: r.n
        for r in docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(tc.values())
    truth = {t for t, n in tc.items() if n * HH_INV >= total}
    assert set(got) == truth
    assert truth and len(truth) < len(tc), "threshold separates nothing"
    for t, (exact_n, est_n) in got.items():
        assert exact_n == tc[t]
        assert est_n >= exact_n


def test_containment_catches_truncations_jaccard_misses(spark, sf_correctness_dir):
    """The asymmetric detector's reason to exist: every injected
    truncated copy (first half of a source doc) must surface with
    containment ≈ 1.0 — every prefix shingle is in the source — while
    the SAME pair's Jaccard sits near |A|/|B| ≈ 0.5, under typical
    symmetric thresholds. Also: every injected pair is recovered, and
    no spurious pair crosses the 0.9 containment cut."""
    from retail_datawarehouse_spark.operators.dedup import (
        CONTAIN_INJECT_MOD,
        containment_frame,
    )

    rows = containment_frame(spark, sf_correctness_dir).collect()
    assert rows
    trunc = [
        r
        for r in rows
        if r.doc_b == r.doc_a + 200000 and r.doc_a % CONTAIN_INJECT_MOD == 0
    ]
    assert len(trunc) >= 5
    for r in trunc:
        assert r.containment >= 0.99, r
        jaccard = r.n_inter / (r.na + r.nb - r.n_inter)
        # the symmetric score misses exactly what containment catches
        assert jaccard < 0.7, r
    # every doc injected as a truncation source must be recovered
    src_ids = {
        x.doc_id
        for x in spark.read.parquet(f"{sf_correctness_dir}/documents.parquet")
        .select("doc_id")
        .collect()
        if x.doc_id % CONTAIN_INJECT_MOD == 0
    }
    assert {r.doc_a for r in trunc} == src_ids
    # remaining pairs must be explainable, not invented: either both
    # ids are original docs (fixture-native symmetric near-dups, high
    # Jaccard too) or the pair involves a truncated doc contained in a
    # NEAR-DUP of its source (transitive containment — e.g. trunc(420)
    # inside 420's fixture near-dup 393)
    for r in rows:
        if r in trunc:
            continue
        if r.doc_a < 200000 and r.doc_b < 200000:
            jaccard = r.n_inter / (r.na + r.nb - r.n_inter)
            assert jaccard >= 0.7, r
        else:
            assert max(r.doc_a, r.doc_b) >= 200000
            assert r.containment >= 0.9, r


def test_lm_score_separates_gibberish_from_natural_text(spark):
    """The char-trigram LM panel must do its curation job: on a corpus
    of repetitive natural-ish English plus planted high-entropy
    gibberish, every gibberish doc scores a LOWER mean trigram
    probability (lm_mass/n_tri) than every clean doc, and carries
    strictly more rare-trigram mass. Deterministic fixture — the
    gibberish trigrams are near-unique by construction, so the
    separation is structural, not statistical luck."""
    from retail_datawarehouse_spark.operators.textual import lm_score_frame

    clean_sents = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a customer ordered three large boxes of paper from the store",
        "the store shipped the order to the customer the very next day",
        "every order in the system has a status and a shipping priority",
        "the lazy dog sleeps near the store while the fox watches the river",
    ]
    # Gibberish: md5-derived consonant mash — deterministic, and the
    # trigrams are near-unique across the corpus (rare by construction).
    def gib(i):
        import hashlib

        base = "bcdfghjklmnpqrstvwxz"
        out = []
        for j in range(12):
            h = hashlib.md5(f"{i}:{j}".encode()).digest()
            out.append("".join(base[b % len(base)] for b in h[:9]))
        return " ".join(out)

    rows = [(i, clean_sents[i % len(clean_sents)] + " " + clean_sents[(i + 1) % len(clean_sents)]) for i in range(20)]
    rows += [(100 + i, gib(i)) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = lm_score_frame(docs).collect()
    mean_p = {r.doc_id: r.lm_mass / r.n_tri for r in out}
    rare_rate = {r.doc_id: r.n_rare / r.n_tri for r in out}
    clean_ids = [i for i in mean_p if i < 100]
    gib_ids = [i for i in mean_p if i >= 100]
    assert len(gib_ids) == 5 and len(clean_ids) == 20
    worst_clean = min(mean_p[i] for i in clean_ids)
    best_gib = max(mean_p[i] for i in gib_ids)
    assert best_gib < worst_clean, (best_gib, worst_clean)
    assert max(rare_rate[i] for i in clean_ids) < min(rare_rate[i] for i in gib_ids)


def test_lm_qp_wide_product_no_wrap(spark):
    """LM_Q * c must not wrap int64 at 100 TB corpus counts (ADVICE r4:
    with ansi off a bare bigint product wraps silently once c exceeds
    ~9.2e12, while the oracle errors — silent divergence in production
    only). The kernel now widens through DECIMAL(38,0); this test runs
    the exact production expression at c values beyond the int64 wrap
    point and checks it against DuckDB's HUGEINT floor division (the
    oracle's form) AND against Python's exact integer floor. Also pins
    that DuckDB's DECIMAL // would be WRONG here (it rounds before
    flooring) — i.e. the HUGEINT choice in _LM_SQL is load-bearing."""
    import duckdb

    from retail_datawarehouse_spark.operators.textual import LM_Q

    cases = [
        (7, 13),  # fractional tail .538 — rounding vs floor visible
        (9_300_000_000_000, 18_600_000_000_000),  # beyond int64 wrap
        (9_300_000_000_001, 18_600_000_000_000),
        (99_999_999_999_999, 100_000_000_000_000),  # c ~ T, qp ~ LM_Q
    ]
    df = spark.createDataFrame(cases, "c long, T long").withColumn(
        "qp", F.expr(f"CAST((CAST({LM_Q} AS DECIMAL(38,0)) * c) DIV T AS BIGINT)")
    )
    got = {(r.c, r.T): r.qp for r in df.collect()}
    con = duckdb.connect()
    for c, t in cases:
        exact = (LM_Q * c) // t
        assert got[(c, t)] == exact, (c, t, got[(c, t)], exact)
        (duck,) = con.execute(
            f"SELECT CAST((CAST({LM_Q} AS HUGEINT) * {c}) // {t} AS BIGINT)"
        ).fetchone()
        assert duck == exact, (c, t, duck, exact)
    # The rejected alternative: DECIMAL // in DuckDB rounds (538462),
    # diverging from the exact floor (538461) — never use it here.
    (dec,) = con.execute(
        f"SELECT CAST((CAST({LM_Q} AS DECIMAL(38,0)) * 7) // 13 AS BIGINT)"
    ).fetchone()
    assert dec != (LM_Q * 7) // 13
    con.close()


def test_tile_dedup_removes_repeated_tiles_keeps_first_occurrence(spark):
    """Intra-doc tile dedup: a doc built as A B A C A (five 8-word
    tiles, tile A repeated three times) must report 5 tiles, 3 kept,
    and a rewritten-text md5 equal to md5('A B C') — first occurrences
    in original order. A doc with no repeats is untouched (md5 of the
    full text, kept == total)."""
    import hashlib

    from retail_datawarehouse_spark.operators.textual import (
        TILE_WORDS,
        tile_dedup_cols,
    )

    def tile(ch):
        return " ".join([ch] * TILE_WORDS)

    dup_text = " ".join([tile("a"), tile("b"), tile("a"), tile("c"), tile("a")])
    uniq_text = " ".join([tile("x"), tile("y")])
    docs = spark.createDataFrame(
        [(1, dup_text), (2, uniq_text)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in docs.select("doc_id", *tile_dedup_cols()).collect()}
    assert out[1].n_tiles == 5 and out[1].n_kept_tiles == 3
    expect1 = " ".join([tile("a"), tile("b"), tile("c")])
    assert out[1].dedup_text_md5 == hashlib.md5(expect1.encode()).hexdigest()
    assert out[2].n_tiles == 2 and out[2].n_kept_tiles == 2
    assert out[2].dedup_text_md5 == hashlib.md5(uniq_text.encode()).hexdigest()


def test_resize_nearest_neighbor_exact_index_map(spark):
    """The resize kernel must implement src = (dst * src_dim) // dst_dim
    exactly: hand-computed expectations for a 4x3 downsample-ish case
    and a 2x2 upsample (pixel replication), plus the end-to-end Arrow
    path over a synthesized payload frame."""
    import hashlib

    from pyspark.sql import functions as F

    from retail_datawarehouse_spark.operators.multimodal import (
        RS_H,
        RS_W,
        _resize_nn,
        resize_frame,
    )

    # 4x3 source, bytes 0..11 row-major
    raster = bytes(range(12))
    rs = _resize_nn(raster, 4, 3)
    assert len(rs) == RS_W * RS_H
    expect = bytes(
        raster[((y * 3) // RS_H) * 4 + ((x * 4) // RS_W)]
        for y in range(RS_H)
        for x in range(RS_W)
    )
    assert rs == expect
    # 2x2 upsample: each source pixel replicated into a 4x3 block
    rs2 = _resize_nn(bytes([10, 20, 30, 40]), 2, 2)
    assert rs2[:4] == bytes([10, 10, 10, 10]) and rs2[4:8] == bytes([20] * 4)
    assert rs2.count(10) + rs2.count(20) + rs2.count(30) + rs2.count(40) == 48

    # End-to-end Arrow path: payload -> decode -> resize row
    payload = b"P5\n4 3\n255\n" + raster
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    row = resize_frame(df).first()
    assert (row.width, row.height) == (4, 3)
    assert row.resized_md5 == hashlib.md5(expect).hexdigest()
    assert abs(row.resized_mean - sum(expect) / len(expect)) < 1e-12


def test_pagerank_dangling_mass_redistribution(spark):
    """r5 verdict #2: the old default dropped dangling-node mass, which
    changes EVERY rank (the damped total shrinks each round), so it was
    'a PageRank-like score', not PageRank. Planted graph with a genuine
    dangling node (3 has no out-edges; 1<->2 cycle feeds it):

        1 -> 2, 2 -> 1, 1 -> 3

    Checks: (a) the redistribute default matches an independent pure-
    Python integer fixed-point simulation EXACTLY (same div order);
    (b) the drop variant provably diverges from the true ranks on this
    graph — every node's rank differs, not just the dangling one's;
    (c) redistribution conserves damped mass: the round-5 total sits
    strictly above the leaky variant's."""
    from retail_datawarehouse_spark.operators.graph import (
        PR_BASE_Q,
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_ITERS,
        PR_Q,
        pagerank_fixed_point,
    )

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    edges = spark.createDataFrame([(1, 2), (2, 1), (1, 3)], "u long, v long")

    got = {
        r.node: r.rq for r in pagerank_fixed_point(nodes, edges).collect()
    }
    leaky = {
        r.node: r.rq
        for r in pagerank_fixed_point(nodes, edges, dangling="drop").collect()
    }

    # Independent oracle: the same integer recurrence in plain Python.
    out = {1: [(2, 2), (3, 2)], 2: [(1, 1)], 3: []}
    rq = {n: PR_Q for n in (1, 2, 3)}
    for _ in range(PR_ITERS):
        ds = sum(rq[n] for n in (3,))  # dangling set
        share = ds // 3
        contrib = {n: 0 for n in (1, 2, 3)}
        for u, vs in out.items():
            for v, d in vs:
                contrib[v] += rq[u] // d
        rq = {
            n: PR_BASE_Q
            + (PR_DAMP_NUM * (contrib[n] + share)) // PR_DAMP_DEN
            for n in (1, 2, 3)
        }
    assert got == rq, (got, rq)

    # The simplified variant diverges on every node of this graph.
    assert all(leaky[n] != got[n] for n in (1, 2, 3)), (leaky, got)
    assert sum(got.values()) > sum(leaky.values())


def test_auto_capacity_derives_in_plan_and_preserves_recall(spark):
    """r5 verdict #5: the capacity knobs' DEFAULTS were fixture-pinned —
    production callers had to know to raise them (the exact trap the
    20× probe caught). bits='auto' / cells='auto' derive the width from
    a 1-row in-plan count (broadcast, no collect). Safety pinned at two
    synthetic scales: every planted scaled-copy pair survives (sign
    pattern and nearest centroid are scale-invariant), and the auto
    candidate surface never exceeds the pinned-default one at the
    larger scale (capacity grew with N). Also pins the plan contract:
    no collect happens at build time (building the frame triggers no
    job), and the derived-width mask agrees with the explicit-bits form
    at the width the formula predicts."""
    import math

    from retail_datawarehouse_spark.operators.similarity import (
        LSH_TARGET_OCCUPANCY,
        lsh_dup_pairs,
        semdedup_pairs,
    )

    def corpus_of(n_base):
        rows, truth = [], set()
        for i in range(n_base):
            v = [
                (1.0 if (i >> b) & 1 else -1.0)
                * (0.3 + 0.01 * b + 0.005 * (i % 40))
                for b in range(16)
            ]
            rows.append((i, v))
            if i % 4 == 0:
                rows.append((100000 + i, [x * 1.5 for x in v]))
                truth.add((i, 100000 + i))
        return (
            spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            truth,
        )

    for n_base in (40, 400):
        corpus, truth = corpus_of(n_base)
        n = n_base + n_base // 4
        got_auto = {
            (r.vec_a, r.vec_b)
            for r in lsh_dup_pairs(corpus, bits="auto").collect()
        }
        assert truth <= got_auto, (n_base, truth - got_auto)
        # Mask agreement: auto ≡ the explicit form at the derived width.
        want_bits = max(4, min(30, math.ceil(math.log2(n / LSH_TARGET_OCCUPANCY))))
        got_explicit = {
            (r.vec_a, r.vec_b)
            for r in lsh_dup_pairs(corpus, bits=min(want_bits, 16)).collect()
        }
        if want_bits <= 16:  # beyond dim 16 the extra bits are all 0
            assert got_auto == got_explicit, (n_base, want_bits)

        got_sem = {
            (r.vec_a, r.vec_b)
            for r in semdedup_pairs(corpus, cells="auto").collect()
        }
        assert truth <= got_sem, (n_base, truth - got_sem)

    # Capacity actually grew: at the larger scale the auto surface is
    # no larger than the pinned-default (bits=8 / cells=16) surface.
    corpus, _ = corpus_of(400)
    assert len(lsh_dup_pairs(corpus, bits="auto").collect()) <= len(
        lsh_dup_pairs(corpus).collect()
    )
    assert len(semdedup_pairs(corpus, cells="auto").collect()) <= len(
        semdedup_pairs(corpus).collect()
    )


def test_text_mining_tokenized_memo_no_cache_accrual(spark, sf_dir):
    """ADVICE r5: q_text_mining persisted a fresh tokenized projection
    per invocation and never unpersisted — one leaked cache entry per
    call in a long-lived session. The memo must (a) reuse ONE frame
    across invocations (same object, one cache registration), and
    (b) survive an external clearCache by re-registering instead of
    silently running uncached."""
    from retail_datawarehouse_spark.operators import textual

    textual._TOKENIZED_CACHE.clear()
    _run("q_text_mining", spark, sf_dir).count()
    assert len(textual._TOKENIZED_CACHE) == 1
    (df1,) = textual._TOKENIZED_CACHE.values()
    _run("q_text_mining", spark, sf_dir).count()
    assert len(textual._TOKENIZED_CACHE) == 1
    assert next(iter(textual._TOKENIZED_CACHE.values())) is df1

    spark.catalog.clearCache()
    assert not (df1.storageLevel.useMemory or df1.storageLevel.useDisk)
    _run("q_text_mining", spark, sf_dir).count()
    assert df1.storageLevel.useMemory or df1.storageLevel.useDisk


def test_pq_reconstruction_and_planted_recall(spark, sf_correctness_dir):
    """What PQ does and does not guarantee, pinned honestly. At 32×
    compression (64 float32 → 8 code bytes) reconstruction error is
    LARGER than the tiny cosine gaps between near-uniform fixture
    vectors (max pairwise cosine ≈ 0.44), so top-3-vs-exact recall is
    meaningless noise on this data — the property that matters for a
    dedup/retrieval candidate generator is that a TRUE near-neighbor
    (cosine ≈ 1) survives quantization. Three pins:

    1. Reconstruction quality floor: avg cosine(original, recon) ≥ 0.55,
       min ≥ 0.4 (measured 0.628 / 0.454 at sf0.01).
    2. Codebook utilization: every subspace uses all PQ_K cells
       (training didn't collapse; measured all 16 in all 8 subspaces).
    3. Planted-neighbor recall: a scaled copy of a corpus vector
       (cosine 1 with its original; scale-invariant like the injected
       dup corpora) retrieves its original at RANK 1 — the ~0.56
       cosine gap to everything else dwarfs reconstruction error
       (measured 4/4 at sf0.01 and 19/19 at sf0.1)."""
    from pyspark.sql import functions as F

    from retail_datawarehouse_spark.operators.similarity import (
        _PQ_SUB,
        PQ_K,
        PQ_M,
        _ann_corpus,
        _pq_codebook,
        _pq_topk,
        _SPARK_DOT,
        _SPARK_L2,
        _SPARK_NORM2,
        norm2_col,
    )
    from retail_datawarehouse_spark.sources.readers import load_table

    emb = load_table(spark, sf_correctness_dir, "embeddings")
    corpus = _ann_corpus(emb).persist()

    # 1+2: reconstruction stats and utilization from the coded frame.
    packed = _pq_codebook(corpus)
    l2 = _SPARK_L2.format(a="element_at(subs, s + 1)", b="e.centroid")
    coded = (
        corpus.crossJoin(F.broadcast(packed))
        .withColumn(
            "subs",
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"s -> slice(c_emb, s * {_PQ_SUB} + 1, {_PQ_SUB}))"
            ),
        )
        .withColumn(
            "picked",
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), s -> "
                "array_min(transform(filter(_cb, e -> e.s = s), "
                f"e -> struct({l2} AS d, e.cell AS cell, "
                "e.centroid AS centroid))))"
            ),
        )
        .withColumn("codes", F.expr("transform(picked, x -> x.cell)"))
        .withColumn("recon", F.expr("flatten(transform(picked, x -> x.centroid))"))
    )
    rc = (
        F.expr(_SPARK_DOT.format(a="c_emb", b="recon"))
        / (
            F.sqrt(F.expr(_SPARK_NORM2.format(a="c_emb")))
            * F.sqrt(F.expr(_SPARK_NORM2.format(a="recon")))
        )
    ).alias("rc")
    stats = coded.select(rc).agg(
        F.avg("rc").alias("avg_rc"), F.min("rc").alias("min_rc")
    ).collect()[0]
    assert stats.avg_rc >= 0.55, stats
    assert stats.min_rc >= 0.4, stats

    used = (
        coded.select(F.posexplode("codes").alias("s", "cell"))
        .groupBy("s")
        .agg(F.countDistinct("cell").alias("n"))
        .collect()
    )
    assert len(used) == PQ_M
    assert all(r.n == PQ_K for r in used), [(r.s, r.n) for r in used]

    # 3: planted scale-invariant neighbors retrieved at rank 1.
    q = (
        corpus.filter(F.col("candidate_id") % 100 == 0)
        .select(
            F.col("candidate_id").alias("query_id"),
            F.expr("transform(c_emb, x -> x * 1.5f)").alias("q_emb"),
        )
        .withColumn("q_n2", norm2_col("q_emb"))
    )
    top = _pq_topk(q, corpus).filter("rank = 1").collect()
    assert top, "no planted queries"
    misses = [(r.query_id, r.candidate_id) for r in top if r.candidate_id != r.query_id]
    assert not misses, misses
    corpus.unpersist()


def test_ivfpq_pruned_planted_recall(spark, sf_correctness_dir, tmp_path):
    """Under the PRUNED serving configuration (nprobe=4 of 16), a
    planted scale-invariant near-copy still retrieves its original at
    rank 1 from the stored raw-PQ index (the suite's 'ivfpq' tier):
    cosine cell routing is scale-invariant, so the copy probes its
    original's cell first — pruning cannot lose a true near-dup. This
    is the recall contract the candidate-generation use case needs
    from the composed index."""
    from pyspark.sql import functions as F

    from tests.builders import ann_vectors

    from retail_datawarehouse_spark.operators.ann_index import (
        query_ivf_index,
        store_ivf_index,
    )
    from retail_datawarehouse_spark.operators.similarity import IVF_NPROBE

    corpus, _ = ann_vectors(spark, sf_correctness_dir)
    idx = str(tmp_path / "ivfpq_raw")
    store_ivf_index(corpus, idx, cells="fixture", pq=True, pq_mode="raw")
    q = corpus.filter(F.col("id") % 100 == 0).select(
        "id", F.expr("transform(emb, x -> x * 1.5f)").alias("emb")
    )
    top = (
        query_ivf_index(q, idx, nprobe=IVF_NPROBE, pq=True)
        .filter("rank = 1")
        .collect()
    )
    assert top, "no planted queries"
    misses = [
        (r.query_id, r.candidate_id)
        for r in top
        if r.candidate_id != r.query_id
    ]
    assert not misses, misses


def test_component_split_eliminates_leakage(spark, sf_correctness_dir):
    """The 'fixed' part of q_split_leakage_report is a real remediation:
    re-scoring the SAME near-dup pairs under the component-aware
    assignment yields ZERO cross-split pairs (a whole duplicate cluster
    shares one component hash, hence one split), while the raw
    doc_id-hash assignment demonstrably leaks on this fixture. Also:
    every pair endpoint gets exactly one remediated row, and docs in
    the same component agree on split_to."""
    report = _run("q_split_leakage_report", spark, sf_correctness_dir)
    leak = report.filter(F.col("part") == "leak")
    fixed = report.filter(F.col("part") == "fixed")
    assert leak.count() > 0  # the audit has observable work
    pairs = _run("q_dedup_minhash_lsh", spark, sf_correctness_dir)
    assert fixed.count() == (
        pairs.select(F.col("doc_a").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("v")))
        .distinct()
        .count()
    )
    new_split = fixed.select(
        F.col("node").alias("doc"), F.col("split_to").alias("s")
    )
    still_leaking = (
        pairs.join(
            new_split.withColumnRenamed("doc", "doc_a").withColumnRenamed(
                "s", "s_a"
            ),
            "doc_a",
        )
        .join(
            new_split.withColumnRenamed("doc", "doc_b").withColumnRenamed(
                "s", "s_b"
            ),
            "doc_b",
        )
        .filter(F.col("s_a") != F.col("s_b"))
        .count()
    )
    assert still_leaking == 0
    # per-component split consistency (stronger than pairwise: covers
    # A~B, B~C chains where A,C were never scored as a pair)
    assert (
        fixed.groupBy("peer")
        .agg(F.count_distinct("split_to").alias("k"))
        .filter(F.col("k") > 1)
        .count()
        == 0
    )


def test_hll_sketch_union_is_sharding_invariant(spark, sf_correctness_dir):
    """The property that makes sketch rollups correct at 100 TB:
    Datasketches HLL union is register-wise max, so the merged estimate
    is IDENTICAL under any sharding of the data — per-partition/per-day
    sketches can be stored and rolled up to any grain without the
    layout leaking into the answer. (It is NOT byte-equivalent to the
    one-shot global sketch — the union target runs a different HLL mode
    than the un-unioned sketch, measured 1991 vs 2023 on this fixture —
    so the invariance across shardings is the honest contract, and both
    paths must sit inside the error bound of the exact count.)"""
    from retail_datawarehouse_spark.sources.readers import load_table

    li = load_table(spark, sf_correctness_dir, "lineitem")

    def merged(shard_mod: int) -> float:
        return (
            li.withColumn("shard", F.col("l_orderkey") % shard_mod)
            .groupBy("shard")
            .agg(F.hll_sketch_agg("l_partkey").alias("sk"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()[0]
            .est
        )

    est7, est13, est101 = merged(7), merged(13), merged(101)
    assert est7 == est13 == est101  # layout never leaks into the answer
    exact = li.select("l_partkey").distinct().count()
    assert abs(est7 - exact) / exact < 0.05
    one_shot = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est")
    ).collect()[0].est
    assert abs(one_shot - exact) / exact < 0.05


import pytest as _pytest


@_pytest.mark.skipif(
    "SPARK_GRAFT_SCALEUP" not in __import__("os").environ,
    reason="20x leakage-invariant proof is opt-in: SPARK_GRAFT_SCALEUP=1",
)
def test_leakage_remediation_invariants_at_20x(spark, tmp_path):
    """r6 verdict #4: q_split_leakage_report's oracle closure is the
    DuckDB recursive CTE — documented quadratic, so the entry has no
    20x VALUE point through the oracle. This proves the remediation
    invariants ENGINE-SIDE over the 20x synthetic corpus instead:

    1. the unremediated hash split leaks (cross-split near-dup pairs
       exist — the problem is real at scale, not a fixture artifact);
    2. under the component-aware reassignment, ZERO near-dup pairs
       straddle splits (re-scored over the full 20x candidate pair
       set — the invariant the remediation exists to provide);
    3. per-component split consistency: every member of a duplicate
       component lands in exactly one remediated split.

    No oracle involved — the checks are the DEFINITIONS, evaluated by
    the engine over ~100k docs."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from pyspark.sql import functions as F
    from tools.scale_probe import generate

    from retail_datawarehouse_spark.operators.dedup import (
        q_dedup_minhash_lsh,
    )
    from tests.builders import builder

    out = str(tmp_path / "scale20")
    generate(20, out)
    rep = builder("q_split_leakage_report")(spark, out)
    fixed = rep.filter(F.col("part") == "fixed").select(
        F.col("node"), F.col("peer").alias("component"), F.col("split_to")
    ).persist()
    # 1. the leak exists unremediated
    n_leak = rep.filter(F.col("part") == "leak").count()
    assert n_leak > 0, "no cross-split pairs at 20x — fixture too easy"
    # 2. zero cross-split pairs under the remediated assignment
    pairs = q_dedup_minhash_lsh(spark, out)
    a = fixed.select(
        F.col("node").alias("doc_a"), F.col("split_to").alias("sa")
    )
    b = fixed.select(
        F.col("node").alias("doc_b"), F.col("split_to").alias("sb")
    )
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    n_pairs = pairs.count()
    n_scored = joined.count()
    assert n_scored == n_pairs, (n_scored, n_pairs)  # every endpoint labeled
    n_cross = joined.filter(F.col("sa") != F.col("sb")).count()
    assert n_cross == 0, f"{n_cross} remediated pairs still cross splits"
    # 3. one split per component
    bad = (
        fixed.groupBy("component")
        .agg(F.countDistinct("split_to").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert bad == 0
    print(
        f"# 20x leakage invariants: pairs={n_pairs} leak_unremediated="
        f"{n_leak} cross_after_fix=0",
        file=sys.stderr,
    )
    fixed.unpersist()


def test_ncm_classifier_mechanism_and_honest_floor(spark, sf_dir):
    """Nearest-class-mean classifier (q_embedding_suite part `ncm`):
    with the planted class signature the odd-split accuracy is exactly
    1.0 (the +0.5 signature dwarfs the ±0.125-scale raw values), while
    the UN-injected twin sits at the chance floor — the fixture's
    labels are isotropic w.r.t. the embeddings, so any accuracy the
    injected run shows is the mechanism, not fixture luck. Tie-break
    and prototype math are oracle-mirrored (hash gate); this test pins
    the semantics and the honesty claim."""
    from retail_datawarehouse_spark.operators.similarity import (
        q_embedding_ncm,
    )

    pred = q_embedding_ncm(spark, sf_dir).persist()
    rows = pred.collect()
    n = len(rows)
    assert n > 0
    acc = sum(r.pred_label == r.true_label for r in rows) / n
    assert acc == 1.0, f"injected-signature accuracy {acc} != 1.0"
    # predictions cover the odd split exactly once
    assert len({r.vec_id for r in rows}) == n
    assert all(r.vec_id % 2 == 1 for r in rows)
    pred.unpersist()

    base = q_embedding_ncm(spark, sf_dir, inject=False).collect()
    n_labels = len({r.true_label for r in base})
    chance = sum(r.pred_label == r.true_label for r in base) / len(base)
    # isotropic floor: well under half, in the neighborhood of 1/L
    assert chance < max(0.3, 3.0 / n_labels), (chance, n_labels)


def test_ncm_inference_is_map_only_over_broadcast_prototypes(
    spark, sf_dir
):
    """The scale contract for classifier INFERENCE at 100 TB: the test
    split is scored by one map pass over a broadcast prototype array —
    no window, no sort-merge join, no corpus-sized exchange above the
    scan. The only join touching the corpus side is the 1-row
    BroadcastNestedLoopJoin carrying the prototypes (the bounds-frame
    class the catalog canary allowlists)."""
    from retail_datawarehouse_spark.operators.similarity import (
        q_embedding_ncm,
    )
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    plan = formatted_plan(q_embedding_ncm(spark, sf_dir))
    assert "WindowExec" not in plan and "Window\n" not in plan
    assert "SortMergeJoin" not in plan
    # prototypes arrive by broadcast, not shuffle
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_canonical_per_component_keep_rule(spark):
    """Quality-aware canonical selection (q_dedup_components part
    `canon`): per duplicate cluster the winner is argmax(score) with
    ties broken toward the SMALLEST doc id (the deterministic twin of
    the oracle's ORDER BY score DESC, v); every member redirects to
    its cluster's winner and an isolated doc redirects to itself."""
    from retail_datawarehouse_spark.operators.dedup import (
        canonical_per_component,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (9, 9)],
        "v long, component long",
    )
    scores = spark.createDataFrame(
        # cluster 1: 3 wins on score; cluster 4: tie -> smaller id (4);
        # 9 isolated
        [(1, 10), (2, 30), (3, 40), (4, 7), (5, 7), (9, 1)],
        "v long, n_chars long",
    )
    got = {
        r.v: r.canonical
        for r in canonical_per_component(labels, scores).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 5: 4, 9: 9}
    # ADVICE r10: a wider score frame needs an EXPLICIT score_col — the
    # old first-non-v rule silently scored whatever column came first.
    wide = scores.withColumn("doc_len", F.col("n_chars") * 2)
    with pytest.raises(ValueError, match="score_col"):
        canonical_per_component(labels, wide)
    with pytest.raises(ValueError, match="not in scores"):
        canonical_per_component(labels, wide, score_col="missing")
    got_wide = {
        r.v: r.canonical
        for r in canonical_per_component(
            labels, wide, score_col="n_chars"
        ).collect()
    }
    assert got_wide == got
