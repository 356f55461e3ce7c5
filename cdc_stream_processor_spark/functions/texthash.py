"""Deterministic text hashing primitives, Spark + DuckDB-SQL twin forms.

Everything here is pure JVM-side column expression (higher-order array
functions — no Python UDFs) with an exactly-matching DuckDB SQL template, so
dedup/text operators are oracle-checkable: the polynomial char hash folds
left-to-right with the same modular arithmetic in both engines (verified
bit-identical).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P_MOD = 1_000_000_007
P_FACTOR = 31
FP_MOD = 2_147_483_647  # fingerprint fold modulus (2^31-1)
FP_FACTOR = 1_000_003


def let(bound: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``bound`` ONCE per row and
    pass the result to ``body`` as a true lambda variable.

    Reusing a Python ``Column`` variable duplicates its expression subtree
    at every reference, and Spark's common-subexpression elimination does
    not reach inside higher-order-function lambdas (they evaluate
    interpreted, outside whole-stage codegen). A builder like shingles()
    that references an O(len) token array from every element of a
    ``transform(sequence(...), ...)`` therefore re-tokenizes the document
    per gram per position — O(k·n) full tokenizations per row. Binding the
    array through a single-element ``transform`` makes it a lambda
    variable, which IS evaluated once (measured 17-20× on the shingle
    kernel at sf0.1, identical output).
    """
    return F.get(F.transform(F.array(bound), body), 0)


def tokens(text: Column) -> Column:
    """Whitespace tokenization, lowercased, empties dropped."""
    return F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != F.lit("")
    )


TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower(trim({text})), '\\s+'), x -> x != '')"
)


def char_polyhash(s: Column) -> Column:
    """Polynomial rolling hash over characters: fold (acc*31 + ascii) % P."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * P_FACTOR + F.ascii(c)) % P_MOD,
    )


def _char_polyhash_sql(var: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({var}, ''), c -> ascii(c)::BIGINT)), "
        f"(acc, x) -> (acc * {P_FACTOR} + x) % {P_MOD})"
    )


CHAR_POLYHASH_SQL = _char_polyhash_sql  # callable template


def token_hashes(text: Column) -> Column:
    """array<long> of per-token polynomial hashes (oracle-matched)."""
    return F.transform(tokens(text), char_polyhash)


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram strings (space-joined).

    Sub-k-token docs yield an EMPTY array (the shingles_py / DuckDB
    generate_series twin behavior). The n >= k guard is load-bearing:
    Spark's sequence(start, stop) REVERSES (default step -1) when
    stop < start, so the unguarded sequence(1, n-k+1) of a short doc
    produced [1, 0, ...] and element_at indexed past the token array —
    one sub-k-token document (titles, tweets — ubiquitous in web
    corpora) crashed the whole query under ANSI mode. Found by the
    containment_pairs hypothesis differential."""
    def grams_of(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
        return F.when(n >= F.lit(k), F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    # let-bind the token array: referenced k times per gram plus twice in
    # the guard, an unbound reference would re-run the whole regex
    # tokenize per element — O(n²) per document (r12 optimization; output
    # bit-identical, asserted by test_shingles_let_binding_parity)
    return let(tokens(text), grams_of)


def SHINGLES_SQL(toks_col: str, k: int = 3) -> str:
    """DuckDB twin of shingles(); `toks_col` must be a column/CTE field that
    already holds the token list (1-indexed in DuckDB).

    NULL-text parity (probed in DuckDB, r11): a NULL token list (TOKENS_SQL
    of NULL text is NULL) yields the EMPTY array here, same as shingles() —
    DuckDB's greatest() IGNORES NULL arguments, so
    greatest(len(NULL) - k + 1, 0) = 0, generate_series(1, 0) = [], and
    list_transform/list_distinct of [] stay []. The twin does NOT propagate
    NULL; the column values (not just the explode-equivalence) are
    identical across engines for NULL, sub-k-token, and normal text,
    pinned by test_shingles_sql_null_parity."""
    joined = " || ' ' || ".join(f"{toks_col}[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks_col}) - {k - 1}, 0)), "
        f"i -> {joined}))"
    )


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """array<long> of hashed distinct word k-grams."""
    return F.transform(shingles(text, k), char_polyhash)
