"""Text-column primitives for the dedup / text-analysis operators.

[EXT] — north-star additions; the reference computes nothing over its
stored strings (SURVEY.md §2.2). Everything here is built-in-function
composition (split / transform / filter / sequence) so it stays inside
whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: whitespace tokenizer — fixture texts are single-space separated
TOKEN_SEP = r"\s+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties dropped (safe on ''/trailing space)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, TOKEN_SEP), lambda t: t != "")


def distinct_tokens(text: Column | str) -> Column:
    return F.array_distinct(tokens(text))


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a pre-tokenized array column.

    IMPORTANT: pass a plain column reference (materialized by an
    upstream select), NOT the tokenization expression itself — Spark's
    higher-order functions are interpreted (CodegenFallback) and do no
    common-subexpression elimination, so an embedded split/filter tree
    would be re-evaluated for every produced shingle (O(tokens²) per
    document). With a column reference each element access is O(1).

    Documents shorter than n tokens yield a single shingle of the
    whole text so they still participate in similarity.
    """
    k = F.size(toks)
    whole = F.array(F.concat_ws(" ", toks))
    grams = F.transform(
        F.sequence(F.lit(1), k - n + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(k >= n, grams).otherwise(whole)


def token_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles straight from a text column (convenience;
    see ``shingles_of_tokens`` for the two-step form that avoids
    re-tokenizing per element in interpreted higher-order functions)."""
    return shingles_of_tokens(tokens(text), n)


def canonical_text(text: Column | str) -> Column:
    """Canonical form for near-exact dedup: lowercase, trim, collapse
    internal whitespace. The standard first pass of an LLM-corpus
    dedup pipeline (case/whitespace variants are the same document)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def minhash_signatures_df(
    df, id_col: str = "doc_id", shingles_col: str = "s", num_hashes: int = 64
):
    """MinHash signatures as a DataFrame op: ``(id, sig array<long>)``.

    An array-expression form (transform + array_min per seed) would
    run inside Spark's higher-order functions, which are
    CodegenFallback — interpreted per element, ~10x slower than
    generated code. This form stays entirely in whole-stage codegen:
    explode the shingle set, hash each shingle once (string hash),
    then ``num_hashes`` seeded rehashes of the fixed 8-byte base
    inside ONE hash-aggregate with min states. Map-side partial
    aggregation collapses each partition to one row per document
    before the only shuffle (by document id, narrow rows) — the
    scalable signature plan.

    Hash family: seed ``i``'s function is a full-avalanche rehash
    ``xxhash64(i, base)`` — NOT a cheap ``h1 + i*h2`` double-hash
    family, whose shared ``argmin(h2)`` correlates the signature slots
    and breaks the min-wise independence MinHash needs (observed as
    missed true near-duplicates).

    CAVEAT (measured 6x): exploding a shingle array that is itself an
    interpreted higher-order EXPRESSION re-evaluates that expression
    inside the Generate per emitted row. Callers with expression-built
    shingles should feed pre-hashed rows to
    ``minhash_signatures_from_hashes`` instead (see
    operators/llm._shingle_hashes for the window-lead construction).
    """
    ex = df.select(id_col, F.explode(shingles_col).alias("_sh")).select(
        id_col, F.xxhash64("_sh").alias("_b")
    )
    return minhash_signatures_from_hashes(ex, id_col, "_b", num_hashes)


def minhash_signatures_from_hashes(
    ex, id_col: str = "doc_id", hash_col: str = "_b", num_hashes: int = 64
):
    """Signature aggregate over pre-hashed shingles ``(id, hash)``.

    Duplicate shingle rows are harmless by construction: min over a
    multiset equals min over its set, so positional (non-distinct)
    shingle streams produce identical signatures to distinct sets —
    which is what lets the fast window-lead shingle path skip a
    dedup shuffle entirely.
    """
    h = F.col(hash_col)
    aggs = [F.min(F.xxhash64(F.lit(i), h)).alias(f"_s{i}") for i in range(num_hashes)]
    wide = ex.groupBy(id_col).agg(*aggs)
    return wide.select(id_col, F.array(*[F.col(f"_s{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_sig_of_set(hash_set: Column, num_hashes: int = 64) -> Column:
    """MinHash signature COLUMN from an ``array<long>`` of distinct
    shingle hashes: slot ``i`` = ``min over set of xxhash64(i, h)``.

    The projection twin of ``minhash_signatures_from_hashes`` for
    callers that already aggregated the shingle-hash set (e.g. because
    verification needs it anyway): one nested ``transform`` instead of
    ``num_hashes`` separate min-aggregates. Same hash family, same
    signatures — but the generated code is one short expression, where
    the 64-aggregate form compiles a huge codegen stage (measured 10x
    the whole query's runtime in JIT/janino compile alone at small SF).
    Trade-off: the mins are computed post-shuffle from the full set, so
    callers that DON'T need the set downstream should prefer the
    aggregate form (its shuffle carries 64 longs instead of the set).
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hash_set, lambda h: F.xxhash64(i, h))),
    )


def lsh_band_keys(signature: Column, bands: int = 16, rows: int = 4) -> Column:
    """Banded LSH keys: array of ``(band, key)`` structs.

    Each band hashes ``rows`` consecutive signature slots into one
    64-bit key; two documents collide in a band iff that slice of
    their signatures agrees exactly. With Jaccard ``j``, detection
    probability is ``1 - (1 - j^rows)^bands`` — at (16, 4), j=0.9
    documents are missed with probability ~4e-8 while j=0.2 noise
    almost never collides. The downstream candidate join shuffles only
    ``docs x bands`` tiny rows, never all-pairs.
    """
    keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[signature[b * rows + r] for r in range(rows)]).alias("key"),
        )
        for b in range(bands)
    ]
    return F.array(*keys)
