"""Bit-identity pins for the generated-SQL expression twins.

h3ron_spark.pipeline.sqlexpr (VERDICT r10 #4, the r10 PQ-fix pattern
generalized) replaces the py4j-assembled Column trees of the shared
hash chains with single-parse SQL strings. The optimization bar is
the same as the PQ fix: BIT-IDENTICAL values, oracles untouched. Each
test here evaluates the generated SQL next to the classic Column
builder (kept for Column inputs, or reproduced inline where the
production code switched wholesale) over real testdata and asserts
zero value mismatches AND identical result types — so a drifting
literal type (e.g. a bare 0.0 parsing as DECIMAL) fails loudly, not
as an opaque oracle diff.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from h3ron_spark.pipeline import dedup as D
from h3ron_spark.pipeline import sketch as SK
from h3ron_spark.pipeline import similarity as SIM
from h3ron_spark.pipeline import sqlexpr as X
from h3ron_spark.pipeline import text as TX
from h3ron_spark.testdata import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_DIR, "embeddings")


def _assert_identical(df, old, new, check_types=True):
    pair = df.select(old.alias("o"), new.alias("n"))
    if check_types:
        kinds = dict(pair.dtypes)
        assert kinds["o"] == kinds["n"], kinds
    assert pair.filter("NOT (o <=> n)").count() == 0


def test_tokens_sql(docs):
    _assert_identical(docs, TX.tokens("text"), F.expr(X.tokens_sql("text")))


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_sql(docs, n):
    # Column input exercises the classic builder; string input the
    # generated SQL — the two public paths of dedup.shingles
    _assert_identical(
        docs, D.shingles(F.col("text"), n), D.shingles("text", n)
    )


def test_shingles_sql_short_docs(spark):
    # the < n tokens fallback (one joined shingle) must match exactly
    df = spark.createDataFrame(
        [("a",), ("a b",), ("a b c",), ("  padded   ws  ",), ("",)],
        "text string",
    )
    _assert_identical(
        df, D.shingles(F.col("text"), 3), D.shingles("text", 3)
    )


def test_base_and_u60_hash_sql(docs):
    _assert_identical(
        docs,
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long"),
        F.expr(X.base_hash_sql("text")),
    )
    # hash_u60 casts to string first — check on a NON-string column
    _assert_identical(
        docs,
        F.conv(
            F.substring(F.md5(F.col("n_chars").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        SK.hash_u60("n_chars"),
    )


@pytest.mark.parametrize("seed", [0, 7, 15, 9999])
def test_mix_hash_sql(docs, seed):
    _assert_identical(
        docs,
        D._mix_hash(D.shingle_base_hash(F.col("text")), seed),
        F.expr(X.mix_hash_sql(X.base_hash_sql("text"), seed)),
    )


def test_cms_probes_sql(docs):
    # the classic struct-array the production cms_build used pre-r11
    h = SK.hash_u60(F.col("text"))
    old = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                SK._cms_bucket(h, seed, 1024).alias("bucket"),
            )
            for j, seed in enumerate(SK.CMS_SEEDS)
        ]
    )
    _assert_identical(
        docs, old, F.expr(X.cms_probes_sql("text", 1024, SK.CMS_SEEDS))
    )


def test_bloom_pos_array_sql(docs):
    m_bits = 256 * 63
    old = F.array(
        *[
            SK._bloom_pos(F.col("text"), seed, m_bits)
            for seed in SK.BLOOM_SEEDS
        ]
    )
    _assert_identical(
        docs,
        old,
        F.expr(X.bloom_pos_array_sql("text", m_bits, SK.BLOOM_SEEDS)),
    )


def test_band_keys_sql(docs):
    # signature columns m0..m15 from the production builder over the
    # document features, then the pre-r11 Column band keys vs the
    # generated SQL
    sig = D.minhash_signature_df(D.document_features(docs))
    rows = D.MINHASH_PERMS // D.LSH_BANDS
    old = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(str(b)),
                    *[
                        F.col(f"m{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                )
            )
            for b in range(D.LSH_BANDS)
        ]
    )
    _assert_identical(sig, old, D._band_keys_from_sig())


def test_simhash_df_matches_column_reference(docs):
    """simhash_df switched wholesale to generated SQL; re-derive its
    pre-r11 Column implementation here and require identical
    (id, simhash) rows."""
    bits = 32
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(D.shingles(F.col("text"))).alias("_s"),
    )
    h = sh.select("id", D._shingle_hash(F.col("_s"), 9999).alias("_h"))
    aggs = [
        F.sum(F.shiftrightunsigned("_h", b).bitwiseAND(F.lit(1))).alias(
            f"_b{b}"
        )
        for b in range(bits)
    ] + [F.count(F.lit(1)).alias("_n")]
    votes = h.groupBy("id").agg(*aggs)
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc.bitwiseOR(
            F.shiftleft((F.col(f"_b{b}") * 2 > F.col("_n")).cast("long"), b)
        )
    old = votes.select("id", acc.alias("simhash"))
    new = D.simhash_df(docs)
    assert dict(old.dtypes) == dict(new.dtypes)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_dot_l2_norm_sql(emb):
    _assert_identical(
        emb, SIM.l2_norm(F.col("embedding")), SIM.l2_norm("embedding")
    )
    pairs = (
        emb.alias("a")
        .join(emb.alias("b"), F.expr("a.vec_id = b.vec_id + 1"))
        .select(
            F.col("a.embedding").alias("ea"), F.col("b.embedding").alias("eb")
        )
    )
    _assert_identical(
        pairs, SIM.dot(F.col("ea"), F.col("eb")), SIM.dot("ea", "eb")
    )


def test_dot_sql_accumulator_is_double_not_decimal(spark):
    """The one type trap the SQL path could fall into: a bare 0.0
    accumulator literal parses as DECIMAL(1,1) and silently changes
    the fold's arithmetic; the generators must emit 0.0D."""
    df = spark.createDataFrame([([1.5, 2.5], [2.0, 4.0])], "a array<double>, b array<double>")
    kinds = dict(
        df.select(
            SIM.dot("a", "b").alias("d"), SIM.l2_norm("a").alias("n")
        ).dtypes
    )
    assert kinds == {"d": "double", "n": "double"}


def test_float_lit_round_trip_and_guards():
    assert X.float_lit(1e-05) == "1e-05D"
    assert X.float_lit(-0.0) == "-0.0D"
    assert X.float_lit(1.0 / 3.0) == repr(1.0 / 3.0) + "D"
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            X.float_lit(bad)
