"""Deduplication operators: exact, normalized, MinHash/LSH, SimHash,
n-gram Jaccard.

Scale design (100 TB): never a cross join. Exact/normalized dedup is a
single hash aggregation (map-side partial agg, AQE-coalesced). Near-dup
detection first buckets candidates (LSH bands / fingerprint prefixes)
and only compares within buckets, so the shuffle is keyed on the bucket
id and the pair space stays linear-ish in practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from h3ron_spark.pipeline.text import (
    fingerprint,
    token_count,
    top_token_fraction,
    with_tokens,
)

# MinHash parameters shared with the oracle SQL generator.
MINHASH_PERMS = 16
LSH_BANDS = 4  # 4 rows/band


def shingles(text, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (consecutive n tokens).

    The token array binds once via :func:`with_tokens` — the naive
    inline form re-evaluated the split per element_at (measured 15x
    slower on corpus scans).

    String input takes the generated-SQL path (sqlexpr.shingles_sql:
    one F.expr parse instead of ~30 py4j round trips — the r10 PQ-fix
    pattern; bit-identity pinned by tests/test_sqlexpr_identity.py);
    Column input keeps the classic builder, value-identical."""
    if isinstance(text, str):
        from h3ron_spark.pipeline.sqlexpr import shingles_sql

        return F.expr(shingles_sql(text, n))

    def build(t):
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
        return F.when(
            F.size(t) >= n,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    *[
                        F.element_at(t, (i + j + 1).cast("int"))
                        for j in range(n)
                    ],
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", t)))

    return with_tokens(text, build)


def _mix_consts(seed: int) -> tuple[int, int, int]:
    """Per-seed odd multipliers + xor constant for the permutation mix.

    Deterministic from the seed so the Spark expressions and the DuckDB
    oracle SQL (queries_h3._hash_sql) derive identical values."""
    import random

    rng = random.Random(0xD1CE ^ (seed * 0x9E3779B9))
    return (
        rng.getrandbits(29) | 1,
        rng.getrandbits(29) | 1,
        rng.getrandbits(60),
    )


def shingle_base_hash(s: Column) -> Column:
    """Seed-independent 60-bit base hash of a shingle, identical in
    DuckDB: first 15 hex chars of md5(shingle) parsed base-16. Computed
    ONCE per shingle; the per-permutation values are integer mixes of
    it (16x fewer md5 evaluations than hashing per permutation).
    String input takes the one-parse generated-SQL path."""
    if isinstance(s, str):
        from h3ron_spark.pipeline.sqlexpr import base_hash_sql

        return F.expr(base_hash_sql(s))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _mix_hash(h: Column, seed: int) -> Column:
    """Universal-hash-style permutation of the base hash. Overflow-free
    in both engines: 32-bit halves x 29-bit odd multipliers stay under
    2^62, then xor — bit-identical in Spark and DuckDB (no wrap, no
    ANSI overflow error)."""
    a, b, c = _mix_consts(seed)
    lo = h.bitwiseAND(F.lit(0xFFFFFFFF))
    hi = F.shiftrightunsigned(h, 32)
    return (lo * F.lit(a)).bitwiseXOR(hi * F.lit(b)).bitwiseXOR(F.lit(c))


def _shingle_hash(s: Column, seed: int) -> Column:
    """Deterministic 62-bit permutation hash of a shingle (base md5
    hash + per-seed integer mix), identical in DuckDB."""
    return _mix_hash(shingle_base_hash(s), seed)


def document_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document features, derived in ONE pass over ``docs`` and
    persisted: ``id``, every other non-text column passed through,
    ``h`` (md5 of the raw text), ``n`` (token count), ``top_tok``
    (:func:`text.top_token_fraction`) and ``sh`` (the distinct
    word-trigram shingles ``array_distinct(shingles(text, 3))``).

    The one input of the signature, near-dup, Jaccard and
    decontamination operators: Catalyst does not CSE plan subtrees,
    so a corpus frame that each consumer re-derived from raw text was
    scanned and tokenized once per consumer. Job-scoped: the caller
    may ``unpersist()`` the frame when its last consumer has run."""
    rest = [c for c in docs.columns if c not in (text_col, id_col)]
    return docs.select(
        F.col(id_col).alias("id"),
        *rest,
        F.md5(F.col(text_col)).alias("h"),
        token_count(text_col).alias("n"),
        top_token_fraction(text_col).alias("top_tok"),
        F.array_distinct(shingles(text_col, 3)).alias("sh"),
    ).persist()


def minhash_signature_df(features: DataFrame) -> DataFrame:
    """MinHash signatures as a frame op over :func:`document_features`:
    explode the distinct shingle sets, hash each shingle ONCE per
    permutation, min-aggregate per document.

    A column-expression form would nest the shingle computation
    inside every permutation, which Catalyst cannot
    common-subexpression — at corpus scale a combinatorial expression
    tree. Here work is linear: |shingles| x MINHASH_PERMS hash evaluations + one
    shuffle; the arrays are already distinct, so no dropDuplicates.
    Returns (id, m0..m{MINHASH_PERMS-1}).
    """
    sh = features.select("id", F.explode("sh").alias("_s"))
    # generated-SQL chains (sqlexpr): the 16 per-permutation mixes
    # assembled one F.expr parse each instead of ~12 py4j calls each —
    # bit-identical (pinned), same plan shape
    from h3ron_spark.pipeline.sqlexpr import base_hash_sql, mix_hash_sql

    hashed = sh.select(
        "id", F.expr(base_hash_sql("_s")).alias("_hb")
    ).select(
        "id",
        *[
            F.expr(mix_hash_sql("_hb", k)).alias(f"_h{k}")
            for k in range(MINHASH_PERMS)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"_h{k}").alias(f"m{k}") for k in range(MINHASH_PERMS)]
    )


def _band_keys_from_sig(bands: int = LSH_BANDS) -> Column:
    from h3ron_spark.pipeline.sqlexpr import band_keys_from_cols_sql

    return F.expr(band_keys_from_cols_sql(bands, MINHASH_PERMS // bands))


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash as a frame op (explode + one hash per shingle + bit-vote
    aggregation) — same result as :func:`simhash`, linear work.
    Returns (id, simhash)."""
    from h3ron_spark.pipeline.sqlexpr import (
        shingle_hash_sql,
        simhash_fold_sql,
        simhash_vote_sql,
    )

    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col)).alias("_s")
    )
    h = sh.select("id", F.expr(shingle_hash_sql("_s", 9999)).alias("_h"))
    aggs = [
        F.expr(simhash_vote_sql("_h", b)).alias(f"_b{b}") for b in range(bits)
    ] + [F.count(F.lit(1)).alias("_n")]
    votes = h.groupBy("id").agg(*aggs)
    return votes.select(
        "id", F.expr(simhash_fold_sql(bits)).alias("simhash")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash; keeps the smallest id per group.

    One hash aggregation — partial agg map-side, no Python. Returns
    (keep_id, dup_count) per distinct content.
    """
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_lsh_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    plan: document features -> signature (JVM exprs) -> explode band
    keys -> self-join on band key -> distinct pairs. The only shuffle
    is on the band key; identical docs share all bands, similar docs
    >=1.

    The banded signature table is checkpointed before the self-join:
    Catalyst does not CSE subtrees, so without it BOTH join sides
    re-run the scan + shingle + 16-hash + min-agg pipeline (measured
    6 parquet scans in dedup_minhash_lsh's plan). The checkpointed
    frame is |docs| x bands small-int rows, not corpus text; the
    features it was built from are released once it exists.
    Dynamic-allocation caveat: see the package docstring
    (h3ron_spark/pipeline/__init__.py).
    """
    features = document_features(df, text_col, id_col)
    sigs = minhash_signature_df(features).select(
        "id", F.explode(_band_keys_from_sig()).alias("band")
    ).localCheckpoint()
    features.unpersist()
    return _band_pairs(sigs)


def _band_pairs(sigs: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing >= 1 band key."""
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def set_jaccard(sh_a, sh_b) -> Column:
    """Exact Jaccard of two distinct-element arrays, rounded to 4 dp:
    |a ∩ b| / (|a| + |b| - |a ∩ b|)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return F.round(inter.cast("double") / union, 4)


def jaccard_similarity(text_a: Column, text_b: Column, n: int = 3) -> Column:
    """Exact word-shingle Jaccard between two text columns."""
    return set_jaccard(
        F.array_distinct(shingles(text_a, n)),
        F.array_distinct(shingles(text_b, n)),
    )


def minhash_dedup_pairs(
    features: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """LSH candidates over :func:`document_features`, refined by exact
    shingle Jaccard >= threshold.

    The signature stage and the Jaccard refine share the features'
    persisted shingle arrays: no re-split of raw text per candidate
    pair. The banded signature table is persisted too so the LSH
    self-join reads it twice without re-running the hash/min
    pipeline. Returns (id_a, id_b, jaccard)."""
    sigs = minhash_signature_df(features).select(
        "id", F.explode(_band_keys_from_sig()).alias("band")
    ).persist()
    sh_a = features.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = features.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        _band_pairs(sigs)
        .join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", set_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(text, bits: int = 32) -> Column:
    """SimHash fingerprint over word shingles (bit-majority of hashes).

    Per-bit majority vote across shingle hashes, folded into a single
    long. Hamming-close simhashes => similar documents.
    """
    sh = shingles(text)

    def _bit_pred(b: int):
        return (
            lambda s: F.shiftrightunsigned(_shingle_hash(s, 9999), b)
            .bitwiseAND(F.lit(1))
            == 1
        )

    acc = F.lit(0).cast("long")
    for b in range(bits):
        votes = F.size(F.filter(sh, _bit_pred(b)))
        bit = (votes * 2 > F.size(sh)).cast("long")
        acc = acc.bitwiseOR(F.shiftleft(bit, b))
    return acc


def dedup_keep_first(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Materialized dedup: keep the lowest-id row per exact content."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def ngram_contamination(
    corpus_features: DataFrame, benchmark_features: DataFrame
) -> DataFrame:
    """Benchmark decontamination: per-document fraction of distinct
    word trigrams that also occur in a held-out benchmark set (the
    overlap check run before training to drop eval-contaminated
    documents). Both sides are :func:`document_features` frames (or
    filters of one). Returns (id, n_grams, n_matched, contamination).

    Scale: the benchmark gram set is tiny relative to a training
    corpus (eval suites are MBs), so it broadcasts and the whole check
    is one map-side hash join + one combinable aggregation over the
    exploded distinct grams — no corpus-side shuffle on the gram key,
    no Python."""
    bench_grams = (
        benchmark_features.select(F.explode("sh").alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = corpus_features.select("id", F.explode("sh").alias("gram"))
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_matched"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_matched") / F.col("n_grams"), 4),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style cross-document paragraph dedup: split each document
    on ``sep``, drop every paragraph occurrence except the corpus-wide
    first (lexicographically smallest (id, position)), and reassemble.

    Returns (id, n_lines, n_kept, text) — ``text`` is the surviving
    paragraphs rejoined in original order, NULL when none survive.

    Scale: the first-occurrence computation is a groupBy-min on the
    paragraph hash (map-side partial agg) joined back on that hash —
    deliberately NOT a row_number window, whose per-key sort dies on
    the pathological hot key (a boilerplate paragraph shared by
    millions of docs); the min-struct agg folds such keys map-side and
    AQE handles residual join skew. Reassembly is one shuffle on the
    document id. No Python anywhere.

    ``sep`` is a LITERAL separator (regex metacharacters are escaped
    before the split so splitting and rejoining agree)."""
    import re

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), re.escape(sep))
        ).alias("idx", "line"),
    ).withColumn("_h", F.md5("line"))
    first = lines.groupBy("_h").agg(
        F.min(F.struct("id", "idx")).alias("_first")
    )
    marked = lines.join(first, "_h").withColumn(
        "keep",
        (F.col("id") == F.col("_first.id"))
        & (F.col("idx") == F.col("_first.idx")),
    )
    kept_sorted = F.filter(
        F.array_sort(
            F.collect_list(F.struct("idx", F.col("keep"), F.col("line")))
        ),
        lambda x: x["keep"],
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(kept_sorted, lambda x: x["line"]), sep
            ).alias("_text"),
        )
        .withColumn(
            "text", F.when(F.col("n_kept") > 0, F.col("_text"))
        )
        .drop("_text")
    )
