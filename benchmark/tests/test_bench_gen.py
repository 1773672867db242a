"""Input generation: byte-identical for a seed, different across seeds,
defects injected."""

import hashlib
import os

import numpy as np
import pyarrow.csv as pacsv

import gen

SCALE = 0.0005


def _digests(d):
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    gen.generate(3, SCALE, str(tmp_path / "a"))
    gen.generate(3, SCALE, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a == b and len(a) == 9


def test_different_seeds_diverge(tmp_path):
    gen.generate(3, SCALE, str(tmp_path / "a"))
    gen.generate(4, SCALE, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    # Only the fixed region/nation tables may agree.
    assert {k for k in a if a[k] == b[k]} == {"sf/region.parquet", "sf/nation.parquet"}


def test_embeddings_are_seeded():
    assert np.array_equal(gen.make_embeddings(1, 50), gen.make_embeddings(1, 50))
    assert not np.array_equal(gen.make_embeddings(1, 50), gen.make_embeddings(2, 50))


def test_raw_csv_lines_agree_within_a_transaction_and_carry_defects(tmp_path):
    paths = gen.generate(5, 0.002, str(tmp_path))
    t = pacsv.read_csv(
        paths["csv"], parse_options=pacsv.ParseOptions(delimiter=";")
    ).to_pandas()
    assert (t["Date"].astype(str).str.startswith("13/45/")).any()
    assert (t["Time"] == "25:61:61").any()
    assert t["Customer_ID"].isna().any()
    clean = t.dropna(subset=["Transaction_ID", "Customer_ID", "Date"])
    clean = clean[~clean["Date"].str.startswith("13/45/")]
    per_txn = clean.groupby("Transaction_ID").agg(
        {"Customer_ID": "nunique", "Date": "nunique"}
    )
    mixed = per_txn[(per_txn.Customer_ID > 1) | (per_txn.Date > 1)]
    # Only injected collisions mix customers or dates in one transaction.
    expected = gen.RATES["collision"] * len(t)
    assert 0 < len(mixed) <= 3 * expected + 5
