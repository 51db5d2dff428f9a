"""Generated-SQL twins of the shared expression builders.

Why this module exists (VERDICT r10 #4, the r10 PQ-fix pattern
generalized): the Column-object builders in ``dedup``/``sketch``/
``similarity`` assemble their expression trees through py4j — one
round trip per ``F.*`` call — and the shared md5 hash chains are big
enough that DRIVER-side plan construction measurably dominates warm
floors (measured on the shipped r10 tree at sf0.1: sketch_kmv_setops
~1.9 s, dedup_minhash_clusters ~1.4 s, dedup_minhash_lsh ~1.0 s,
dedup_simhash_groups ~0.9 s of build+analyze per invocation; a
cluster running a query fleet pays that per query). Each function
here emits ONE Spark-SQL string for the whole chain — a single
``F.expr`` parse (~1 ms) replaces hundreds of py4j calls.

Bit-identity contract: every generator mirrors its Column twin
operation-for-operation with the same literal TYPES Spark infers in
the classic API (int literals that fit int32 stay INT, 0xFFFFFFFF is
BIGINT, float accumulators are written with the ``D`` suffix so they
parse as DOUBLE, never DECIMAL). tests/test_sqlexpr_identity.py pins
old-vs-new equality value-by-value on real data; the DuckDB oracles
(queries_h3._hash_sql and friends) are untouched.

Inputs are SQL expression STRINGS (a column name or a sub-expression
this module produced). Callers that hold a Column object keep using
the Column builders — the two stay value-identical by the pinned
tests.
"""

from __future__ import annotations

import math
import re

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _is_ident(s: str) -> bool:
    return bool(_IDENT.match(s))


def _wrap(e: str) -> str:
    """Parenthesize a sub-expression unless it is a bare identifier or
    already a single function call/parenthesized unit — cheap safety
    so generated arithmetic never re-associates."""
    return e if _is_ident(e) else f"({e})"


# ---------------------------------------------------------------------
# tokens / shingles (pipeline.text.tokens, pipeline.dedup.shingles)
# ---------------------------------------------------------------------

def tokens_sql(text: str) -> str:
    """``F.split(F.trim(c), r"\\s+")`` as SQL."""
    return f"split(trim({_wrap(text)}), '\\\\s+')"


def shingles_sql(text: str, n: int = 3) -> str:
    """Word n-gram shingles — the SQL twin of ``dedup.shingles``.

    Mirrors the with_tokens binding (the token array bound ONCE as a
    higher-order-function lambda variable: Catalyst does not
    common-subexpression across lambda bodies, so inlining the split
    per element re-evaluates it — measured 15x slower) and the exact
    short-document fallback (< n tokens -> one joined shingle).
    """
    parts = ", ".join(
        f"element_at(t, cast(i + {j + 1} as int))" for j in range(n)
    )
    body = (
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(0, greatest(size(t) - {n}, 0)), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE array(concat_ws(' ', t)) END"
    )
    return f"element_at(transform(array({tokens_sql(text)}), t -> {body}), 1)"


# ---------------------------------------------------------------------
# md5 base hash + per-seed integer mix (dedup.shingle_base_hash,
# dedup._mix_hash; DuckDB twin queries_h3._hash_sql)
# ---------------------------------------------------------------------

def base_hash_sql(s: str) -> str:
    """``shingle_base_hash`` as SQL: first 15 md5 hex chars base-16.
    The input must already be a string expression."""
    return f"cast(conv(substring(md5({_wrap(s)}), 1, 15), 16, 10) as bigint)"


def hash_u60_sql(col: str) -> str:
    """``sketch.hash_u60`` as SQL (casts the value to string first)."""
    return base_hash_sql(f"cast({_wrap(col)} as string)")


def mix_hash_sql(h: str, seed: int) -> str:
    """``dedup._mix_hash`` as SQL. Literal types match the Column
    twin: 4294967295 parses BIGINT, the 29-bit odd multipliers parse
    INT (same as F.lit on an int32-range python int), the 60-bit xor
    constant parses BIGINT — so every intermediate is the same BIGINT
    arithmetic, overflow-free by construction (32-bit halves x 29-bit
    multipliers stay under 2^62)."""
    from h3ron_spark.pipeline.dedup import _mix_consts

    a, b, c = _mix_consts(seed)
    h = _wrap(h)
    return (
        f"((({h} & 4294967295) * {a}) ^ "
        f"(shiftrightunsigned({h}, 32) * {b})) ^ {c}"
    )


def shingle_hash_sql(s: str, seed: int) -> str:
    """``dedup._shingle_hash`` as SQL (base hash + per-seed mix)."""
    return mix_hash_sql(base_hash_sql(s), seed)


# ---------------------------------------------------------------------
# sketch bucket positions (sketch._cms_bucket, sketch._bloom_pos)
# ---------------------------------------------------------------------

def cms_bucket_sql(h: str, seed: int, w: int) -> str:
    """``sketch._cms_bucket`` as SQL: per-seed mix reduced mod w,
    made non-negative identically in both engines."""
    return f"(({mix_hash_sql(h, seed)}) % {w} + {w}) % {w}"


def bloom_pos_sql(value: str, seed: int, m_bits: int) -> str:
    """``sketch._bloom_pos`` as SQL: mix of the md5 base hash of a
    string value, reduced mod m_bits, non-negative."""
    return (
        f"(({mix_hash_sql(base_hash_sql(value), seed)}) % {m_bits} "
        f"+ {m_bits}) % {m_bits}"
    )


def bloom_pos_array_sql(value: str, m_bits: int, seeds) -> str:
    """The k probe positions of one value as one array expression —
    the SQL twin of ``F.array(*[_bloom_pos(c, s, m) for s in seeds])``."""
    return (
        "array("
        + ", ".join(bloom_pos_sql(value, s, m_bits) for s in seeds)
        + ")"
    )


def cms_probes_sql(value: str, w: int, seeds) -> str:
    """The d (row, bucket) probe structs of one value as one array
    expression — the SQL twin of the struct-array in
    ``sketch.cms_build``/``cms_lookup`` (field names and types match:
    j INT literal, bucket BIGINT)."""
    h = hash_u60_sql(value)
    structs = ", ".join(
        f"named_struct('j', {j}, 'bucket', {cms_bucket_sql(h, seed, w)})"
        for j, seed in enumerate(seeds)
    )
    return f"array({structs})"


# ---------------------------------------------------------------------
# simhash (dedup.simhash_df): per-bit vote aggregates + the fold
# ---------------------------------------------------------------------

def simhash_vote_sql(h: str, bit: int) -> str:
    """One bit's vote sum: ``sum(shiftrightunsigned(h, bit) & 1)``."""
    return f"sum(shiftrightunsigned({_wrap(h)}, {bit}) & 1)"


def simhash_fold_sql(bits: int, vote_fmt: str = "_b{b}",
                     n_col: str = "_n") -> str:
    """The majority-vote fold into one long — the SQL twin of the
    bitwiseOR/shiftleft chain in ``dedup.simhash_df``. ``vote_fmt``
    names the per-bit vote columns; the accumulator starts as
    CAST(0 AS BIGINT) exactly like ``F.lit(0).cast("long")``."""
    acc = "cast(0 as bigint)"
    for b in range(bits):
        vote = vote_fmt.format(b=b)
        bit = f"cast(({vote} * 2 > {n_col}) as bigint)"
        acc = f"({acc} | shiftleft({bit}, {b}))"
    return acc


# ---------------------------------------------------------------------
# minhash band keys (dedup._band_keys_from_sig)
# ---------------------------------------------------------------------

def band_keys_from_cols_sql(bands: int, rows: int,
                            col_fmt: str = "m{i}") -> str:
    """LSH band keys over signature COLUMNS m0..m{P-1} — the SQL twin
    of ``dedup._band_keys_from_sig`` (md5 of 'band,slice...' with the
    same concat_ws separator and string casts)."""
    keys = []
    for b in range(bands):
        cols = ", ".join(
            f"cast({col_fmt.format(i=b * rows + r)} as string)"
            for r in range(rows)
        )
        keys.append(f"md5(concat_ws(',', '{b}', {cols}))")
    return f"array({', '.join(keys)})"


# ---------------------------------------------------------------------
# embedding arithmetic (similarity.dot / similarity.l2_norm)
# ---------------------------------------------------------------------

def dot_sql(a: str, b: str) -> str:
    """``similarity.dot`` as SQL. The accumulator literal is written
    0.0D — a bare 0.0 would parse DECIMAL(1,1) and change the
    addition's type, which the Column twin (F.lit(0.0) = DOUBLE)
    never does."""
    return (
        f"aggregate(zip_with({_wrap(a)}, {_wrap(b)}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def l2_norm_sql(a: str) -> str:
    """``similarity.l2_norm`` as SQL (same 0.0D accumulator note)."""
    return (
        f"sqrt(aggregate(transform({_wrap(a)}, "
        f"x -> cast(x as double) * cast(x as double)), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def float_lit(x: float) -> str:
    """A double literal that round-trips exactly (repr + D suffix —
    the r10 PQ-fix convention). Rejects non-finite values at
    expression-BUILD time: 'nanD'/'infD' are parse errors at run time
    and a NaN/Inf here means degenerate upstream training (ADVICE
    r10)."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite literal {x!r} in a generated SQL expression — "
            "upstream model/plane values must be finite"
        )
    return repr(x) + "D"
