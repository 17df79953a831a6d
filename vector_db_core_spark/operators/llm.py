"""LLM-data-pipeline operators [EXT] over ``documents``/``embeddings``.

The north-star surface (BASELINE.json ``north_star``): deduplication
(exact, canonical, MinHash-LSH, n-gram Jaccard), similarity
search (exact cosine top-k + LSH-bucketed ANN), text analysis
(token/doc stats, quality scoring, language heuristic, fingerprinting)
and multimodal columns. The reference computes nothing over its stored
payloads (SURVEY.md §2.2) — this whole module is new design.

Everything stays JVM-side (higher-order functions: transform /
aggregate / zip_with / filter) — no row-at-a-time Python UDFs in any
registered query, so plans are whole-stage-codegen'd. The deliberate
exception is the PQ family (r13): its 16-candidate block argmin runs
as ONE Arrow-batched pandas_udf over the shared numpy kernel
(``_pq_block_dists``), because a 16x interpreted HOF fold measured
~0.34 ms/vector while the vectorized kernel is ~0.11 — Arrow batch
transfer is the fast path there, exactly the "Pandas UDFs beat
row-at-a-time by 10-100x" rule. Oracle-checkability decisions:

* cosine / jaccard / ratios: computed as the SAME sequence of IEEE
  double ops on both engines (Spark ``F.aggregate`` left fold ==
  DuckDB ``list_reduce`` left fold), verified bit-identical — no
  rounding fudge needed.
* every registered query carries a DuckDB oracle. Hash families
  DuckDB lacks (``xxhash64``) only appear where the output does not
  depend on them: the banded MinHash-LSH dedup's *verified* output
  provably equals the exact-Jaccard answer (miss probability ~4e-8 at
  the planted similarity levels), so it carries the exact oracle.
  Where the hash decides the answer, it is md5 (``md5`` in both
  engines) — e.g. the sign-LSH planes of ``sim_ann_lsh_topk``.

Scale design is per-operator (docstrings), the cross-cutting rule:
signatures/buckets/fingerprints are per-row map work (no shuffle);
candidate generation shuffles only (id, band/bucket key) pairs; exact
verification touches only candidates. All-pairs exact variants exist
as the correctness baseline and are labeled as such.
"""

from __future__ import annotations

import math
import textwrap

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from vector_db_core_spark.functions.text import (
    canonical_text,
    distinct_tokens,
    lsh_band_keys,
    minhash_sig_of_set,
    shingles_of_tokens,
    tokens,
)
from vector_db_core_spark.functions.vectors import (
    cosine_similarity,
    hyperplane_buckets_pandas,
)
from vector_db_core_spark.checkpoint import loop_checkpoint
from vector_db_core_spark.operators.registry import register
from vector_db_core_spark.sources import load_table


# --------------------------------------------------------------- SQL fragments
# DuckDB mirrors of the Spark helpers. Tokens/shingles must produce the
# exact same string sets on both engines; ratios and similarities must
# be the same IEEE ops in the same order (list_reduce == F.aggregate).

_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"

_SHINGLES = f"""
CASE WHEN len({_TOKS}) >= 3
     THEN list_distinct(list_transform(generate_series(1, len({_TOKS}) - 2),
                                       i -> array_to_string(({_TOKS})[i:i+2], ' ')))
     ELSE [array_to_string({_TOKS}, ' ')] END
"""

# exact all-pairs 3-gram Jaccard >= 0.5 — the oracle for BOTH the exact
# query and the banded MinHash-LSH query (whose verified output equals
# it up to a ~4e-8 LSH miss probability at the planted j>=0.9 levels).
_JACCARD_PAIRS_SQL = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.5
"""

#: the exact near-dup pairs ``p``, their symmetric ``edges`` and the
#: reachability closure ``reach(src, dst)`` — the connected-components
#: fixpoint the near-dup cluster oracles start from
_NEAR_DUP_REACH_SQL = f"""WITH RECURSIVE p AS ({_JACCARD_PAIRS_SQL}),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b, doc_a FROM p),
    reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )"""

# left-fold dot/norm mirroring F.aggregate exactly (0.0 + x1 == x1)
def _duck_dot(a: str, b: str) -> str:
    return f"list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), (p, q) -> p + q)"


def _duck_norm(a: str) -> str:
    return f"sqrt(list_reduce(list_transform({a}, x -> x * x), (p, q) -> p + q))"


def _duck_cosine(a: str, b: str) -> str:
    return f"{_duck_dot(a, b)} / ({_duck_norm(a)} * {_duck_norm(b)})"


#: an embedding in integer micro units, ``round(x * 1e6)`` per element
_MICRO_XM_SQL = """list_transform(embedding,
                                 v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0)
                                           AS BIGINT)) AS xm"""


def _micro_seed_ctes(k) -> str:
    """Opening CTEs of the integer PQ / k-means oracles: the micro-unit
    corpus ``x(vec_id, xm)`` and the ``k`` seed vectors
    ``init(vec_id, cid)``, taken in md5(vec_id) order."""
    return f"""WITH x AS (SELECT vec_id,
                  {_MICRO_XM_SQL}
           FROM embeddings),
init AS (SELECT vec_id,
                CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                        vec_id) AS INT) - 1 AS cid
         FROM embeddings
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}),"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: Hard ceiling for the deliberately-quadratic correctness baselines.
#: 50k rows → ~1.25e9 candidate pairs, the outer edge of what a
#: correctness run should ever attempt; production scale must use a
#: banded/bucketed operator instead.
ALL_PAIRS_ROW_CAP = 50_000


#: memoized source-table row counts, keyed (sf_dir, table) — the guard
#: below runs once per fixture per process instead of re-executing the
#: (expensive, derived) shingle/tokenize job on every plan build.
_SOURCE_COUNT_CACHE: dict[tuple[str, str], int] = {}


def _guard_all_pairs_source(
    spark: SparkSession, sf_dir: str, table: str, query: str, scale_path: str | None = None
) -> None:
    """Scale-cap an all-pairs baseline on its SOURCE table's row count.

    The baselines are row-preserving upstream of the quadratic join
    (one shingle-set / projection row per source row), so counting the
    raw parquet table gives the same bound as counting the derived
    frame — without executing the derived job once for the guard and
    again for the query (the derived frame is not cached), and without
    paying any job at all after the first call for a given fixture
    (parquet count() is footer-metadata-only, but plan-building contexts
    like tests/test_plans.py shouldn't trigger even that repeatedly).
    ``scale_path`` names the banded/bucketed operator that answers the
    same question at scale, where one exists.
    """
    key = (sf_dir, table)
    n = _SOURCE_COUNT_CACHE.get(key)
    if n is None:
        n = load_table(spark, sf_dir, table).count()
        _SOURCE_COUNT_CACHE[key] = n
    if n > ALL_PAIRS_ROW_CAP:
        hint = f" At scale, run {scale_path!r} instead." if scale_path else ""
        raise ValueError(
            f"{query} is an exact all-pairs O(n^2) correctness baseline and is "
            f"capped at {ALL_PAIRS_ROW_CAP} input rows (got {n} in {table}).{hint}"
        )


def _adjacent_bigrams(w):
    """``array<struct<w1, w2>>`` of the adjacent token pairs of token
    array ``w`` (empty below 2 tokens: ``sequence(1, 0)`` would count
    DOWN to [1, 0] in Spark, not yield an empty range)."""
    return F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, s: array<string>) — distinct 3-gram shingle sets.

    Pure per-row map work: at 100 TB this is a scan + project with no
    shuffle, and the shingle arrays never leave the executor that read
    the document. Two projections on purpose: tokens materialize as a
    real column first, so the interpreted shingle lambda does O(1)
    element accesses instead of re-running split/filter per shingle
    (Catalyst refuses to collapse projections that would duplicate the
    expensive tokenize expression — that refusal is what we rely on).
    """
    toksdf = docs.select("doc_id", tokens("text").alias("_toks"))
    return toksdf.select(
        "doc_id", F.array_distinct(shingles_of_tokens(F.col("_toks"), 3)).alias("s")
    )


def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, _b: long) — xxhash64 of every 3-gram shingle, one row
    per POSITION (duplicates retained; hash universe identical to
    ``xxhash64`` of the ``_shingle_sets`` strings).

    The fast signature input. Exploding ``_shingle_sets``'s
    expression-built array re-evaluates the interpreted shingle lambda
    inside the Generate per emitted row (measured ~6x the whole
    signature cost at sf0.1), and the r13 window-lead path paid a full
    (doc_id, pos, token) EXCHANGE + SORT to sidestep that. r14: both
    costs go — explode a POSITION SEQUENCE and rebuild each shingle by
    indexing the carried token array (``element_at`` is codegen'd and
    O(1); the Generate carries the array by reference). Zero shuffle,
    zero interpreted lambda, one corpus scan (alternating A/B on the
    grouped signature build: min 1.87 -> 1.57 s, med 2.92 -> 2.02 s;
    output multiset-identical). At 100 TB this removes one corpus-wide
    shuffle from every MinHash/SimHash consumer (guide §2.1).
    Duplicates are fine for MinHash (min over multiset == min over
    set); SimHash callers must ``.distinct()`` first.
    """
    t = docs.select("doc_id", tokens("text").alias("_toks"))
    long_docs = (
        t.where(F.size("_toks") >= 3)
        .select(
            "doc_id",
            "_toks",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - 2)).alias("i"),
        )
        .select(
            "doc_id",
            F.xxhash64(
                F.concat_ws(
                    " ",
                    F.element_at("_toks", F.col("i")),
                    F.element_at("_toks", F.col("i") + 1),
                    F.element_at("_toks", F.col("i") + 2),
                )
            ).alias("_b"),
        )
    )
    # <3-token documents: single whole-text shingle (same rule as
    # shingles_of_tokens); the filter is codegen'd so this branch costs
    # one cheap scan even when it matches nothing
    short_docs = (
        t.where(F.size("_toks") < 3)
        .select("doc_id", F.xxhash64(F.array_join("_toks", " ")).alias("_b"))
    )
    return long_docs.unionByName(short_docs)


def _jaccard(sa, sb) -> F.Column:
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = (F.size(sa) + F.size(sb)).cast("double") - F.size(F.array_intersect(sa, sb)).cast(
        "double"
    )
    return inter / union


# ------------------------------------------------------------------ exact dedup
@register(
    "dedup_exact_documents",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100)
    SELECT sha256(text) AS content_sha256,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM corpus GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest, with a deterministic survivor.

    The corpus is the documents table plus a re-keyed copy of its
    first 100 docs (the fixture texts are all distinct, so duplicates
    are introduced by construction to make the operator observable).
    One hash-groupBy: partial aggregation collapses duplicates
    map-side, so the shuffle carries one row per distinct digest — at
    100 TB this is the cheapest possible dedup (no sort, no window,
    no self-join), and ``sha2`` beats raw-text grouping because the
    shuffle key is 32 bytes instead of document bytes.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return (
        docs.unionByName(dupes)
        .groupBy(F.sha2("text", 256).alias("content_sha256"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_canonical_documents",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, upper(text) || '  ' AS text
      FROM documents WHERE doc_id < 100)
    SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS canon_sha256,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM corpus GROUP BY 1
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (near-exact) dedup: case/whitespace variants collapse.

    The injected duplicates are UPPERCASED with trailing whitespace —
    invisible to exact hashing, caught by canonicalization
    (lower+trim+collapse, ``functions/text.canonical_text``). Same
    single hash-groupBy shape as exact dedup; canonicalization is
    per-row expression work that rides the scan.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    return (
        docs.unionByName(variants)
        .groupBy(F.sha2(canonical_text("text"), 256).alias("canon_sha256"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ------------------------------------------------------------------- near-dedup
@register("dedup_ngram_jaccard_pairs", oracle=_JACCARD_PAIRS_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs — the correctness BASELINE.

    All-pairs O(n²) by construction; it exists to define ground truth
    (and the oracle) for the LSH variant below, and is only run at
    correctness scale. At 100 TB you never run this plan — you run
    ``dedup_minhash_lsh_pairs``, which produces the same verified
    pairs without the quadratic join.

    Even a quarantined baseline shouldn't waste its quadratic budget,
    so the per-pair work is minimized without changing ONE output bit
    (sf0.1: 433 s -> ~40 s):
      * shingle strings are dictionary-coded to ints once (27k-row
        sorted vocab, ``row_number`` — deterministic and collision-free
        by construction, unlike hashing), so the 12.5M-pair intersect
        compares longs instead of ~15-char strings;
      * the join condition carries the exact size-ratio bound
        (jaccard >= 0.5 implies 2*min(|a|,|b|) >= max(|a|,|b|)), which
        prunes ~40% of pairs for integer-compare cost before any
        intersect runs;
      * ``array_intersect`` is projected ONCE and jaccard derives from
        (inter, |a|, |b|) — the naive inter/union formula evaluates the
        intersect twice (Catalyst does not subexpression-eliminate
        array functions across the division).
    Jaccard counts are over distinct shingles, and coding is a
    bijection on the vocab, so values are bit-identical to the
    string-set oracle.
    """
    _guard_all_pairs_source(
        spark, sf_dir, "documents", "dedup_ngram_jaccard_pairs", "dedup_minhash_lsh_pairs"
    )
    sh = _shingle_sets(_t(spark, sf_dir, "documents"))
    ex = sh.select("doc_id", F.explode("s").alias("sng"))
    vocab = (
        ex.select("sng")
        .distinct()
        .withColumn("code", F.row_number().over(W.orderBy("sng")))
    )
    coded = (
        ex.join(F.broadcast(vocab), "sng")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("code")).alias("s"))
    )
    a, b = coded.alias("a"), coded.alias("b")
    na, nb = F.size(F.col("a.s")), F.size(F.col("b.s"))
    return (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.lit(2) * F.least(na, nb) >= F.greatest(na, nb)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.size(F.array_intersect("a.s", "b.s")).alias("_i"),
            (na + nb).alias("_ab"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("_i").cast("double") / (F.col("_ab") - F.col("_i")).cast("double")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= 0.5)
    )


@register("dedup_minhash_lsh_pairs", oracle=_JACCARD_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup detection — the 100 TB scale path.

    Pipeline (shuffle budget in brackets):
      1. shingle hashes via the window-lead path (_shingle_hashes)
         [one narrow (doc_id, pos, token) shuffle], then ONE aggregate
         collects the distinct shingle-hash set and the 64-slot MinHash
         signature derives from it in a single projection
         (minhash_sig_of_set) [aggregated rows only] — materialized
         once (persist) for all four downstream consumers (both band
         join sides, both verify sides) instead of re-running the
         corpus scan per consumer;
      2. 16 bands x 4 rows → band keys; explode to (doc_id, band, key)
         [shuffle of docs x 16 TINY rows];
      3. self-join on (band, key) → candidate pairs, distinct
         [shuffle of candidates only];
      4. exact Jaccard verification on candidates — re-join the two
         shingle-hash sets, filter >= 0.5 [candidate-sized; Jaccard
         over 64-bit shingle hashes equals Jaccard over the string
         shingles up to a ~2^-64 per-pair collision, and long-array
         intersection beats string-array intersection].
    Detection probability at j=0.9 is 1-(1-0.9^4)^16 ≈ 1-4e-8, and
    verification removes all false positives, so the output equals the
    exact all-pairs answer (same oracle) without the O(n²) join.
    Hash family is fully deterministic (xxhash64 with literal seeds) —
    reruns and the driver see identical results.
    """
    docs = _t(spark, sf_dir, "documents")
    hashes = _shingle_hashes(docs)
    # One aggregate produces the shingle-hash set; the 64 signature
    # slots derive from it as a single short expression
    # (minhash_sig_of_set — the 64-separate-aggregates form spends 10x
    # the query's runtime compiling its huge codegen stage). Persisted
    # because FOUR consumers read it (two band-join sides, two verify
    # sides) — the signature table a production LSH job would
    # materialize; column pruning would otherwise specialize each
    # consumer's plan and defeat exchange reuse. CacheManager keys on
    # the logical plan, so repeated calls (e.g. the
    # connected-components query on top of this one) share one cache
    # entry rather than leaking.
    grouped = (
        hashes.groupBy("doc_id")
        .agg(F.collect_set("_b").alias("hs"))
        .withColumn("sig", minhash_sig_of_set(F.col("hs"), num_hashes=64))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = grouped.select(
        "doc_id",
        F.explode(lsh_band_keys(F.col("sig"), bands=16, rows=4)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = grouped.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sa"))
    sb = grouped.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", _jaccard(F.col("sa"), F.col("sb")).alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
    p AS (SELECT a.doc_id AS batch_doc_id, b.doc_id AS corpus_doc_id,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
                   AS jaccard
          FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
    SELECT batch_doc_id, corpus_doc_id, jaccard FROM p WHERE jaccard >= 0.5
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) MinHash dedup — the shape a
    CONTINUOUS-ingest pipeline actually runs. A full-corpus LSH pass
    per arriving crawl re-pays the whole corpus every day; production
    instead keeps the corpus signature/band table materialized and
    joins only the NEW batch's bands against it, so per-ingest cost is
    O(|batch| + matching buckets), independent of corpus size. Here
    documents with ``doc_id % 10 == 0`` play the arriving batch and
    the rest the standing corpus; both sides share ONE signature
    build (the persisted table both daily jobs would read), and the
    band join is restricted to batch x corpus — no corpus x corpus
    candidate is ever generated or verified. Verification and the
    detection-probability argument are identical to
    ``dedup_minhash_lsh_pairs``, so the exact cross-side Jaccard
    oracle applies.
    """
    docs = _t(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == 0
    grouped = (
        _shingle_hashes(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("_b").alias("hs"))
        .withColumn("sig", minhash_sig_of_set(F.col("hs"), num_hashes=64))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = grouped.select(
        "doc_id",
        F.explode(lsh_band_keys(F.col("sig"), bands=16, rows=4)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        bands.where(is_batch).alias("x")
        .join(bands.where(~is_batch).alias("y"), ["band", "key"])
        .select(
            F.col("x.doc_id").alias("batch_doc_id"),
            F.col("y.doc_id").alias("corpus_doc_id"),
        )
        .distinct()
    )
    sa = grouped.select(F.col("doc_id").alias("batch_doc_id"), F.col("hs").alias("sa"))
    sb = grouped.select(F.col("doc_id").alias("corpus_doc_id"), F.col("hs").alias("sb"))
    return (
        cand.join(sa, "batch_doc_id")
        .join(sb, "corpus_doc_id")
        .select(
            "batch_doc_id",
            "corpus_doc_id",
            _jaccard(F.col("sa"), F.col("sb")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------- text analysis
@register(
    "text_stats_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars, {_TOKS} AS toks FROM documents)
    SELECT doc_id, lang, n_chars,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS type_token_ratio,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS avg_token_len,
           CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS stopword_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — the text-quality raw signals.

    Single projection over the scan (no shuffle, no UDF): token
    counts, type-token ratio, average token length, stopword ratio.
    Ratios are int/int divisions in double — bit-identical on any
    engine and at any parallelism.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n.cast("double")).alias(
            "type_token_ratio"
        ),
        (
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
            ).cast("double")
            / n.cast("double")
        ).alias("avg_token_len"),
        (
            F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("double")
            / n.cast("double")
        ).alias("stopword_ratio"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_tokens,
                 CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
                 CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS stop_ratio
          FROM t)
    SELECT doc_id,
           0.5 * ttr + 0.3 * (1.0 - stop_ratio)
             + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality_score,
           CASE WHEN 0.5 * ttr + 0.3 * (1.0 - stop_ratio)
                     + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) >= 0.5
                THEN 'keep' ELSE 'filter' END AS quality_bucket
    FROM s
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (lexical diversity + stopword balance +
    length saturation) with a keep/filter bucket — the shape of a
    corpus-filtering pass. Identical double arithmetic on identical
    int inputs on both engines, so even the CASE boundary is stable.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    stop = F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("double") / n.cast("double")
    score = (
        F.lit(0.5) * ttr
        + F.lit(0.3) * (F.lit(1.0) - stop)
        + F.lit(0.2) * F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        F.when(score >= 0.5, "keep").otherwise("filter").alias("quality_bucket"),
    )


@register(
    "text_lang_profile",
    oracle=f"""
    WITH t AS (SELECT lang, source, n_chars, {_TOKS} AS toks FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
           CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT) AS total_tokens
    FROM t GROUP BY lang
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by language — integer-exact aggregates (counts
    and bigint sums commute), one tiny-keyspace groupBy."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", "source", "n_chars", F.size(tokens("text")).alias("nt"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count("*").cast("double")).alias("avg_chars"),
            F.sum(F.col("nt").cast("long")).alias("total_tokens"),
        )
    )


@register(
    "text_token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens,
           CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT) AS n_ws_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (letter runs / digit runs / single non-alnum symbols) — the cheap
    pre-tokenizer estimate used to budget LLM training tokens.
    Per-row regex work on the scan; both engines run the same pattern.
    """
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
        ).alias("n_bpe_tokens"),
        F.size(tokens("text")).alias("n_ws_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform(generate_series(1, length(text)),
                                         i -> CAST(unicode(text[i]) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 1000000007) AS rolling_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: content digest + 31-polynomial rolling
    hash mod 1e9+7 over code points. The rolling fold is exact integer
    arithmetic, so Spark's ``aggregate`` and DuckDB's ``list_reduce``
    agree exactly; per-row work only."""
    docs = _t(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c).cast("long")) % 1000000007,
    )
    return docs.select("doc_id", F.md5("text").alias("content_md5"), fp.alias("rolling_fp"))


@register(
    "text_lang_id_heuristic",
    oracle=r"""
    SELECT doc_id, lang AS lang_label,
           CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                WHEN regexp_matches(text, '[а-яА-Я]') THEN 'ru'
                WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
                ELSE 'en' END AS lang_guess
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class language-ID heuristic (CJK / Cyrillic / Spanish
    diacritics / default-Latin) next to the fixture's label. A real
    pipeline would use char-n-gram profiles; the operator shape — one
    per-row CASE over regexes, no shuffle — is the same."""
    docs = _t(spark, sf_dir, "documents")
    guess = (
        F.when(F.col("text").rlike(r"[一-鿿]"), "zh")
        .when(F.col("text").rlike("[а-яА-Я]"), "ru")
        .when(F.col("text").rlike("[áéíóúñ¿¡]"), "es")
        .otherwise("en")
    )
    return docs.select("doc_id", F.col("lang").alias("lang_label"), guess.alias("lang_guess"))


@register(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
                  FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
         df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (SELECT tf.doc_id, tf.term,
                           CAST(tf.tf AS DOUBLE)
                             * ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))
                             AS tfidf
                    FROM tf JOIN df USING (term) CROSS JOIN n),
         ranked AS (SELECT doc_id, term, tfidf,
                           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                                   ORDER BY tfidf DESC, term) AS INT) AS rnk
                    FROM scored)
    SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with per-document top-3 terms — the classic text-analysis
    kernel as three aggregations: term frequency (explode + groupBy,
    map-side combined), document frequency (same explode, distinct
    docs per term — at corpus scale a bounded-vocabulary aggregate),
    and a smoothed idf ``ln((N+1)/(df+1))`` identical in both engines.
    The df side is vocabulary-sized — small relative to the corpus but
    unbounded (Heaps' law), so it carries NO broadcast hint: AQE
    broadcasts it at runtime when its actual size allows and falls
    back to a shuffle join when it doesn't. N is a scalar cross join.
    Ranking is deterministic (tfidf desc, term)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # tiny metadata count; a literal in the plan
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        (
            F.col("tf").cast("double")
            * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df").cast("double") + 1.0))
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        # ln() differs by 1 ulp between JVM and libm — rank on the full
        # value (flip-safe: unequal tfidf means different (tf, df), a
        # gap far above 1 ulp), round only the emitted column
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rnk")
    )


# ----------------------------------------------------------- similarity search
_COS_AB = _duck_cosine("a.v", "b.v")

#: top-5 neighbors per query of a scored pair CTE
#: ``p(query_id, neighbor_id, cosine_sim)``, ties broken by neighbor id.
_COSINE_TOP5_SQL = """r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rank
          FROM p)
    SELECT query_id, neighbor_id, cosine_sim, rank FROM r WHERE rank <= 5
    """

@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_AB} AS cosine_sim
          FROM e a JOIN e b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < 10),
    {_COSINE_TOP5_SQL}""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k — the ANN baseline.

    The query set (10 vectors) is broadcast, so scoring is a map-only
    pass over the corpus: each candidate partition scores 10xN pairs
    locally with codegen'd ``zip_with``/``aggregate`` folds. Top-k is
    TWO-PHASE: a local rank per (query, input partition) keeps <= k
    rows per partition before the only shuffle, then the global rank
    runs over <= k * n_partitions survivors — per-query data never
    concentrates on one node, which is what makes this plan survive a
    100 TB corpus (a single window over all pairs would funnel every
    query's N rows through one task).
    """
    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qv"), F.col("v")).alias("cosine_sim"),
        )
    )
    local = W.partitionBy("query_id", F.spark_partition_id()).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    final = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("lrank", F.row_number().over(local))
        .where(F.col("lrank") <= 5)
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= 5)
        .drop("lrank")
    )


@register(
    "sim_embedding_near_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_AB} AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS_AB} >= 0.35
    """,
)
def sim_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.35), exact all-pairs
    — the correctness baseline for embedding-space dedup, run at
    correctness scale only (like ``dedup_ngram_jaccard_pairs``; the
    scale path is ``sim_ann_lsh_topk``'s bucketed candidates)."""
    _guard_all_pairs_source(
        spark, sf_dir, "embeddings", "sim_embedding_near_pairs", "sim_ann_lsh_topk"
    )
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    cs = cosine_similarity(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cs.alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= 0.35)
    )


#: sign-LSH index shape: ``_LSH_TABLES`` independent hash tables of
#: ``_LSH_PLANES`` hyperplanes each. Recall for a neighbor at per-bit
#: collision probability p is ``1-(1-p^planes)^tables``; more tables →
#: more recall AND more candidates (the LSH tradeoff). 4x16 is tuned
#: for this fixture's similarity regime (top-5 neighbors at cosine
#: 0.26-0.49 → measured recall@5 0.92); corpora whose near-dups sit at
#: cosine >= 0.8 should RAISE planes (sharper buckets) and can lower
#: tables — the parameters are the knob, the plan shape is fixed.
_LSH_PLANES = 4
_LSH_TABLES = 16


#: plane sign of (plane p, dimension d) in the oracle: +1 when the last
#: hex digit of md5('p|d') is even — ``hyperplane_buckets_pandas``'s planes
_LSH_SIGN_SQL = "1 - 2 * (('0x' || right(md5(CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1))::INT % 2)"


@register(
    "sim_ann_lsh_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_MICRO_XM_SQL}
               FROM embeddings),
    pl AS (SELECT p, list({_LSH_SIGN_SQL} ORDER BY d) AS w
           FROM range(0, {_LSH_PLANES * _LSH_TABLES}) t(p),
                (SELECT DISTINCT unnest(generate_series(0, len(embedding) - 1)) AS d
                 FROM embeddings)
           GROUP BY p),
    bk AS (SELECT e.vec_id, pl.p // {_LSH_PLANES} AS tbl,
                  SUM(CASE WHEN list_sum(list_transform(list_zip(e.xm, pl.w), x -> x[1] * x[2])) > 0
                           THEN 1 << (pl.p % {_LSH_PLANES}) ELSE 0 END) AS bucket
           FROM e CROSS JOIN pl
           GROUP BY e.vec_id, pl.p // {_LSH_PLANES}),
    c AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
          FROM bk q JOIN bk n ON n.tbl = q.tbl AND n.bucket = q.bucket
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
    p AS (SELECT c.query_id, c.neighbor_id, {_COS_AB} AS cosine_sim
          FROM c JOIN e a ON a.vec_id = c.query_id JOIN e b ON b.vec_id = c.neighbor_id),
    {_COSINE_TOP5_SQL}""",
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via multi-table sign-random-projection LSH — the
    scale path. Every vector gets ``_LSH_TABLES`` bucket ids (one per
    independent hyperplane table — per-row map work, all tables from a
    single Arrow-batched matmul kernel); a query's candidates
    are the UNION over tables of its bucket-mates, found by ONE
    (table, bucket) equi-join against the broadcast query set, then
    deduped per (query, neighbor) before exact cosine re-ranks them
    (approximation = recall loss only, never wrong scores — a row the
    index surfaces always gets its true similarity). Recall@5 >= 0.8
    vs the exact baseline is pinned in tests/test_llm.py.

    Oracle: each bucket bit is the sign of an exact integer dot
    product (micro-unit embedding x md5-parity ±1 plane), so DuckDB
    recomputes the same buckets with list folds, the same candidate
    set, and the same cosine re-rank as ``sim_cosine_topk``'s oracle."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # (vec_id, table, bucket) postings — the index. All T buckets come
    # from ONE Arrow-batched matmul kernel (hyperplane_buckets_pandas).
    postings = e.select(
        "vec_id",
        "v",
        F.posexplode(
            hyperplane_buckets_pandas(F.col("v"), planes=_LSH_PLANES, tables=_LSH_TABLES)
        ).alias("table", "bucket"),
    )
    q = postings.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "table",
        "bucket",
    )
    # Score FIRST (map-side, inside the bucket-join stage), dedup
    # SECOND: a pair colliding in several tables is re-scored per
    # collision (cheap codegen folds), but the dedup groupBy then
    # shuffles only (query_id, neighbor_id, double) — and map-side
    # combine collapses the duplicates before they ever hit the wire.
    # The first cut of this operator deduped first via
    # agg(first(qv), first(v)), which dragged two full vectors per
    # candidate pair through the shuffle and went 16.8x on a 10x
    # scale-up (BASELINE.md slope row); this shape is sub-linear.
    scored = (
        postings.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.max(cosine_similarity(F.col("qv"), F.col("v"))).alias("cosine_sim")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


@register(
    "sim_label_centroids",
    oracle="""
    WITH ex AS (SELECT label, CAST(g.i - 1 AS INT) AS dim,
                       CAST(embedding[g.i] AS DOUBLE) AS x
                FROM embeddings,
                     UNNEST(generate_series(1, len(embedding))) AS g(i))
    SELECT label, dim,
           round(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 9) AS centroid,
           COUNT(*) AS n_vectors
    FROM ex GROUP BY label, dim
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (class prototypes — the building
    block of prototype classifiers, cluster seeding and drift checks).

    posexplode fans each vector into (label, dim, x) rows map-side;
    ONE partial/final aggregate by (label, dim) computes the mean —
    the shuffle carries (n_labels x dim) aggregated rows, never
    vectors. Sums accumulate in exact DECIMAL (order-independent);
    the mean divides in IEEE double. The two engines round float→
    decimal casts differently on exact ties (half-up vs half-even,
    ~1 element in 20k), so the output rounds to 9 decimals — same
    policy as agg_corr_covar_lineitem."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    return ex.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(27,12)")).cast("double") / F.count("*"), 9
        ).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


@register(
    "dedup_connected_clusters",
    oracle=f"""
    {_NEAR_DUP_REACH_SQL}
    SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src
    """,
)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERS: connected components over the verified near-dup
    pairs, labeling every clustered document with the min doc_id of its
    component — the step that turns pairwise matches into "keep one
    representative per group" decisions (pairs alone can't: near-dup is
    not transitive, components are).

    Iterative min-label propagation over the pair graph, the same
    fixpoint ``graph_connected_components`` computes
    (``analytics._min_label_fixpoint``): each round joins the pairs to
    the broadcast label frame and takes a min per document, so a round
    moves only (node, label) pairs, never documents or pairs, and the
    loop stops when the label sum stops falling. Rounds needed =
    component diameter (tiny for dedup graphs: duplicates cluster
    tightly), capped at 20. The DuckDB oracle computes the same
    fixpoint with a recursive CTE.
    """
    from vector_db_core_spark.operators.analytics import _min_label_fixpoint

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels = _min_label_fixpoint(pairs, 20)  # >= diameter of any real dedup component
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_rep"))


#: rare-shingle blocking threshold: candidate pairs must share at least
#: one shingle appearing in <= this many documents. Caps per-shingle
#: join fanout at df² pairs, so candidate volume is bounded by
#: construction — no hot-shingle blow-up ("the quick brown" never
#: generates pairs).
_CONTAINMENT_RARE_DF = 10

_CONTAINMENT_SQL = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
ex AS (SELECT doc_id, unnest(s) AS sng FROM sh),
df AS (SELECT sng, COUNT(*) AS c FROM ex GROUP BY sng),
rare AS (SELECT ex.doc_id, ex.sng FROM ex JOIN df ON ex.sng = df.sng
         WHERE df.c <= {_CONTAINMENT_RARE_DF}),
cand AS (SELECT DISTINCT a.doc_id AS inner_doc, b.doc_id AS outer_doc
         FROM rare a JOIN rare b ON a.sng = b.sng AND a.doc_id <> b.doc_id),
v AS (SELECT c.inner_doc, c.outer_doc,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / CAST(len(sa.s) AS DOUBLE) AS containment
      FROM cand c
      JOIN sh sa ON c.inner_doc = sa.doc_id
      JOIN sh sb ON c.outer_doc = sb.doc_id)
SELECT inner_doc, outer_doc, containment FROM v WHERE containment >= 0.8
"""


@register("dedup_containment_pairs", oracle=_CONTAINMENT_SQL)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT detection: ordered pairs where >= 80% of the
    inner document's 3-gram shingles appear in the outer document —
    the partial-copy / quote-expansion case symmetric Jaccard
    structurally misses (a paragraph embedded in a 100x longer doc has
    tiny Jaccard but containment ~1.0; it is still training-set
    leakage). Emits (inner_doc, outer_doc, containment), both
    directions when two docs contain each other.

    Scale shape — candidates are generated by RARE-shingle blocking,
    not all-pairs: a pair qualifies only via a shingle shared by <=
    {df} documents, so each blocking shingle contributes at most df²
    candidate pairs and common shingles contribute none — candidate
    volume is bounded by construction, no cap-guard needed (contrast
    ``dedup_ngram_jaccard_pairs``). Verification then fetches the two
    shingle arrays for CANDIDATE pairs only (the minhash-LSH verify
    pattern) and computes exact containment with a codegen
    array_intersect. The DuckDB oracle applies the IDENTICAL blocking,
    so results match exactly by construction — the blocking is part of
    the operator's declared semantics (a contained doc sharing only
    ubiquitous shingles is undetectable by ANY shingle method and out
    of scope). At 100 TB swap shingle strings for xxhash64 shingle
    hashes (``_shingle_hashes``) — same plan, 8-byte join keys.
    """
    sh = _shingle_sets(_t(spark, sf_dir, "documents"))
    ex = sh.select("doc_id", F.explode("s").alias("sng"))
    dfreq = ex.groupBy("sng").agg(F.count("*").alias("c"))
    rare = ex.join(dfreq.where(F.col("c") <= _CONTAINMENT_RARE_DF), "sng")
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(b, "sng")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("inner_doc"),
            F.col("b.doc_id").alias("outer_doc"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("inner_doc"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("outer_doc"), F.col("s").alias("sb"))
    return (
        cand.join(sa, "inner_doc")
        .join(sb, "outer_doc")
        .select(
            "inner_doc",
            "outer_doc",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size("sa").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= 0.8)
    )


dedup_containment_pairs.__doc__ = dedup_containment_pairs.__doc__.format(
    df=_CONTAINMENT_RARE_DF
)


@register(
    "dedup_cluster_survivors",
    oracle=f"""
    {_NEAR_DUP_REACH_SQL},
    lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src),
    t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_tokens,
                 CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
                 CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS stop_ratio
          FROM t),
    q AS (SELECT doc_id,
                 0.5 * ttr + 0.3 * (1.0 - stop_ratio)
                   + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality_score
          FROM s),
    m AS (SELECT d.doc_id, COALESCE(l.cluster_rep, d.doc_id) AS cluster_rep,
                 q.quality_score
          FROM documents d
          LEFT JOIN lab l ON d.doc_id = l.doc_id
          JOIN q ON d.doc_id = q.doc_id),
    r AS (SELECT cluster_rep, doc_id, quality_score,
                 ROW_NUMBER() OVER (PARTITION BY cluster_rep
                                    ORDER BY quality_score DESC, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY cluster_rep) AS n_members
          FROM m)
    SELECT cluster_rep, doc_id AS survivor_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           quality_score AS survivor_quality
    FROM r WHERE rk = 1
    """,
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that turns dedup clusters into a DEDUPLICATED CORPUS:
    one survivor per near-dup cluster — the highest-quality member
    (text_quality_score's heuristic; doc_id tie-break) — plus every
    unclustered document as its own singleton survivor. Output is the
    keep-list a curation pipeline feeds downstream: (cluster_rep,
    survivor_doc_id, n_members, survivor_quality).

    Scale shape (the reason this isn't one window over the corpus):
    cluster labels exist only for CLUSTERED docs — a tiny table (bounded
    by the number of near-dups, not the corpus). Singleton survivors
    come from a broadcast LEFT ANTI join (map-only over the corpus, no
    shuffle of document rows); the best-member window runs only over
    the clustered slice. Partitioning a 100 TB corpus by cluster_rep
    just to rank mostly-singleton groups would shuffle everything for
    nothing. Quality arithmetic is identical double math on identical
    int inputs on both engines (same policy as text_quality_score), so
    the survivor choice — including the CASE boundary — is stable.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    stop = F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("double") / n.cast(
        "double"
    )
    quality = (
        F.lit(0.5) * ttr
        + F.lit(0.3) * (F.lit(1.0) - stop)
        + F.lit(0.2) * F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    )
    scored = docs.select("doc_id", quality.alias("quality_score"))
    labels = dedup_connected_clusters(spark, sf_dir)  # (doc_id, cluster_rep), tiny

    clustered = scored.join(F.broadcast(labels), "doc_id")
    w = W.partitionBy("cluster_rep").orderBy(F.col("quality_score").desc(), "doc_id")
    best = (
        clustered.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(W.partitionBy("cluster_rep")))
        .where(F.col("rk") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("quality_score").alias("survivor_quality"),
        )
    )
    singles = scored.join(F.broadcast(labels), "doc_id", "left_anti").select(
        F.col("doc_id").alias("cluster_rep"),
        F.col("doc_id").alias("survivor_doc_id"),
        F.lit(1).cast("bigint").alias("n_members"),
        F.col("quality_score").alias("survivor_quality"),
    )
    return best.unionByName(singles)


def _doc_avg_logprob(docs: DataFrame) -> DataFrame:
    """Per-document average unigram log-probability, built the way a
    production job materializes it: ONE corpus scan reduces to the
    doc-term-frequency table ``tf`` (persisted — three consumers read
    it: the vocab frequencies, the corpus total, and the scoring
    join, and branch-local column pruning would otherwise clone the
    scan+explode subtree per consumer — the ``pipeline_dsir_weights``
    replan, applied to the LM-scoring family). Scoring weights each
    distinct (doc, term) row by ``tf`` instead of re-exploding
    occurrences: ``tf * DECIMAL(ln p)`` is exact repeated addition,
    so the result is bit-identical to the per-occurrence oracle sum
    at any parallelism. The scoring join is left UNHINTED: the vocab
    table is far below the broadcast threshold at any fixture scale
    (Catalyst broadcasts it on its own — plan-pinned), but web-scale
    vocabularies grow with the corpus (Heaps' law) and a FORCED
    broadcast would hit the 8 GB ceiling and fail where the
    statistics-driven planner degrades to a shuffle join."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    total = tf.agg(F.sum("tf").cast("double").alias("_n"))
    return (
        tf.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn("lp", F.log(F.col("c") / F.col("_n")).cast("decimal(27,15)"))
        .groupBy("doc_id")
        .agg(
            F.round(
                # tf as DECIMAL(10,0): 27+10+1 = 38 precision keeps the
                # product at scale 15 (a BIGINT factor would push past
                # 38 and Spark silently truncates the scale)
                F.sum(F.col("tf").cast("decimal(10,0)") * F.col("lp")).cast("double")
                / F.sum("tf"),
                6,
            ).alias("avg_logprob")
        )
    )


@register(
    "text_unigram_logprob",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
                 FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok),
    freq AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token)
    SELECT doc_id,
           round(CAST(SUM(CAST(ln(c / (SELECT n FROM tot)) AS DECIMAL(27,15))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_logprob
    FROM tok JOIN freq USING (token)
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the perplexity-style quality
    filter (docs whose tokens are improbable under the corpus unigram
    distribution are boilerplate/garbage candidates; the cheap stand-in
    for model-based perplexity filtering).

    Self-training plan: see ``_doc_avg_logprob`` — one corpus scan
    reduces to the persisted doc-term-frequency table, everything
    else (vocab frequencies, corpus total, scoring) reduces from it;
    per-token ``ln`` values are cast to DECIMAL before summing so the
    per-doc sum is order-independent; round(6) absorbs the engines'
    last-ulp ``ln`` and cast-tie differences (same policy as
    text_tfidf_top_terms).
    """
    return _doc_avg_logprob(_t(spark, sf_dir, "documents"))


@register(
    "dedup_decontaminate_benchmark",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
    bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 5),
    corpus AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 5)
    SELECT DISTINCT doc_id AS contaminated_doc_id
    FROM corpus WHERE shingle IN (SELECT shingle FROM bench)
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    3-gram shingle with a held-out evaluation set (docs 0-4 stand in
    for the benchmark) — the standard pre-training hygiene pass that
    keeps eval answers out of the training corpus.

    The benchmark side is tiny by nature (eval sets are thousands of
    documents, not billions), so its distinct shingles BROADCAST and
    the contamination test is a map-side left-semi join against the
    exploded corpus shingles: no corpus shuffle at all — this plan
    runs unchanged at 100 TB.
    """
    sh = _shingle_sets(_t(spark, sf_dir, "documents"))
    bench = (
        sh.where(F.col("doc_id") < 5)
        .select(F.explode("s").alias("shingle"))
        .distinct()
    )
    corpus = sh.where(F.col("doc_id") >= 5).select(
        "doc_id", F.explode("s").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(bench), "shingle", "left_semi")
        .select(F.col("doc_id").alias("contaminated_doc_id"))
        .distinct()
    )


# ------------------------------------------------------------------- multimodal
@register(
    "multimodal_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column plumbing: payloads as ``binary`` with typed
    metadata (size, digest) computed JVM-side. The fixture has no real
    image/audio bytes, so the UTF-8 encoding of the text plays the
    payload; the schema/partitioning story is identical for real
    media. Decode/feature-extraction (the part that needs
    image/audio libs) lives in ``functions/multimodal.py`` as
    Arrow-batched ``mapInPandas`` plumbing with a stubbed decoder,
    exercised in tests."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


@register(
    "multimodal_doc_embedding_join",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
    SELECT d.doc_id, d.lang, e.label,
           CAST(len(e.v) AS INT) AS emb_dim,
           {_duck_norm("e.v")} AS emb_norm
    FROM documents d JOIN e ON d.doc_id = e.vec_id
    """,
)
def multimodal_doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A multimodal record = text row + embedding column in one frame:
    equi-join documents to embeddings (same key space), carrying the
    ``array<float>`` column with typed metadata beside text fields.
    At scale both sides shuffle on the key once (or co-located
    bucketing removes even that); the norm is a per-row fold."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    from vector_db_core_spark.functions.vectors import l2_norm

    return (
        docs.join(e, docs.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "label",
            F.size(F.col("v")).alias("emb_dim"),
            l2_norm(F.col("v")).alias("emb_norm"),
        )
    )


@register(
    "text_repetition_ratio",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM documents),
    g AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS max_tok_freq,
           round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
             AS rep_ratio
    FROM g GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals — the quality filter that
    catches boilerplate, keyword-stuffed spam, and decoding loops
    (pages that repeat one token hundreds of times): per document the
    token count, distinct-token count, the hottest token's frequency,
    and the repeated-mass ratio ``1 − distinct/total``.

    Two aggregations keyed by (doc_id, token) then doc_id — both
    high-cardinality, both map-side combinable, so the explode's fan-
    out collapses before the shuffle. The ratio divides two exact
    integers (identical IEEE result in both engines); round(6) is
    cosmetic. At 100 TB this rides the same explode as vocabulary/
    TF-IDF building — one corpus pass for the whole signal family."""
    from vector_db_core_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    per_tok = docs.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").cast("bigint").alias("max_tok_freq"),
        F.round(
            F.lit(1.0) - F.count("*").cast("double") / F.sum("c").cast("double"), 6
        ).alias("rep_ratio"),
    )


@register(
    "sim_quantize_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings),
    m AS (
      SELECT vec_id, vd,
             list_aggregate(list_transform(vd, x -> abs(x)), 'max') AS scale
      FROM v)
    SELECT vec_id,
           CAST(len(vd) AS INT) AS n_dims,
           scale,
           array_to_string(
             CASE WHEN scale > 0
                  THEN list_transform(vd, x -> CAST(floor(x * CAST(127 AS DOUBLE) / scale) AS INT))
                  ELSE list_transform(vd, x -> 0) END, ',') AS q_int8
    FROM m
    """,
)
def sim_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the 4×
    compression every large-scale ANN index applies before storage
    (scale = max|x| per vector, q = floor(x·127/scale)). Pure per-row
    ``transform``/``array_max`` higher-order functions — no UDF, no
    shuffle; at 100 TB this is a free column in the embedding-ingest
    pass, and the quantized array feeds the IVF/LSH index builds.

    Determinism: float32→double widening is exact, and both engines
    then evaluate the same IEEE expression tree — floor boundaries
    cannot disagree. Zero vectors quantize to zeros (guarded against
    the 0/0 scale)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vd")
    )
    scale = F.array_max(F.transform("vd", lambda x: F.abs(x)))
    m = e.withColumn("scale", scale)
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            "vd", lambda x: F.floor(x * F.lit(127.0) / F.col("scale")).cast("int")
        ),
    ).otherwise(F.transform("vd", lambda x: F.lit(0)))
    return m.select(
        "vec_id",
        F.size("vd").alias("n_dims"),
        "scale",
        # CSV-joined for gate comparability (registry.py policy); the
        # typed int8 array is what a real index build would keep
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q_int8"),
    )


@register(
    "text_boilerplate_phrases",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
      FROM documents),
    g AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
      FROM t, UNNEST(generate_series(1, len(w) - 4)) AS u(i))
    SELECT gram,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM g GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def text_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-phrase detection — the C4/RefinedWeb cleaning step
    that finds word 5-grams shared by many distinct documents
    (navigation chrome, cookie banners, license footers) so a later
    pass can strip or down-weight them. Emits every phrase in >= 3
    documents with its document frequency and occurrence count.

    The tokens array is materialized BEFORE the shingle transform
    (higher-order functions do no CSE — an inline tokenizer would
    re-split per emitted gram), then one explode feeds a single
    (gram)-keyed aggregate: count and distinct-doc count share the
    shuffle, map-side combined. The HAVING threshold cuts the long
    unique-gram tail before any further join. Same explode family as
    vocabulary/TF-IDF/decontamination — at 100 TB they share one
    corpus pass."""
    from vector_db_core_spark.functions.text import tokens

    t = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    grams = F.when(
        F.size("w") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 4),
            lambda i: F.concat_ws(" ", F.slice("w", i, 5)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", F.explode(grams).alias("gram"))
    return (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 3)
    )


@register(
    "text_bigram_lm",
    oracle=r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
      FROM documents),
    g AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM t, UNNEST(generate_series(1, len(w) - 1)) AS u(i)),
    c AS (SELECT w1, w2, COUNT(*) AS c FROM g GROUP BY w1, w2)
    SELECT w1, w2,
           CAST(c AS BIGINT) AS n,
           round(CAST(c AS DOUBLE)
                 / CAST(SUM(c) OVER (PARTITION BY w1) AS DOUBLE), 6) AS cond_p
    FROM c
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table: corpus-wide (w1, w2) counts and the
    conditional probability P(w2 | w1) — the next step up from the
    unigram model (text_unigram_logprob) and the classic cheap scorer
    for fluency filtering and domain classification.

    One explode fans each document into its adjacent token pairs;
    counts aggregate on the high-cardinality (w1, w2) key (map-side
    combined — the heavy lifting), then the normalizing sum runs as a
    window over the ALREADY-aggregated bigram table partitioned by w1
    — vocabulary-sized input, so the second shuffle is tiny at any
    corpus size. The probability divides two exact integers: identical
    IEEE doubles in both engines, round(6) cosmetic."""
    from vector_db_core_spark.functions.text import tokens

    t = _t(spark, sf_dir, "documents").select(tokens(F.col("text")).alias("w"))
    pairs = _adjacent_bigrams(F.col("w"))
    g = t.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    c = g.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    wsum = F.sum("c").over(W.partitionBy("w1"))
    return c.select(
        "w1",
        "w2",
        F.col("c").cast("bigint").alias("n"),
        F.round(F.col("c").cast("double") / wsum.cast("double"), 6).alias("cond_p"),
    )


# ------------------------------------------------------------- PMI collocation
@register(
    "text_word_pmi",
    oracle=r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
      FROM documents),
    uni AS (
      SELECT u AS tok, COUNT(*) AS c
      FROM t, UNNEST(w) AS s(u) GROUP BY u),
    n_tok AS (SELECT SUM(c) AS n FROM uni),
    big AS (
      SELECT w[i] AS w1, w[i + 1] AS w2, COUNT(*) AS c12
      FROM t, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
      GROUP BY w[i], w[i + 1]),
    n_big AS (SELECT SUM(c12) AS n FROM big)
    SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS n_pair,
           round(ln((CAST(b.c12 AS DOUBLE) / nb.n)
                    / ((CAST(u1.c AS DOUBLE) / nt.n)
                       * (CAST(u2.c AS DOUBLE) / nt.n))), 6) AS pmi
    FROM big b
    JOIN uni u1 ON b.w1 = u1.tok
    JOIN uni u2 ON b.w2 = u2.tok
    CROSS JOIN n_tok nt CROSS JOIN n_big nb
    WHERE b.c12 >= 5
    """,
)
def text_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — the
    collocation detector ("new york" vs chance co-occurrence) used for
    phrase mining and tokenizer-merge candidates. Composes the two LM
    aggregates this module already ships (unigram + bigram counts):
    each is one map-side-combined shuffle over the corpus; the PMI
    join then runs over VOCABULARY-sized tables (the corpus rows are
    gone), with the two scalar totals broadcast as one-row frames.
    The unigram lookups carry no broadcast hint — vocabulary grows
    sublinearly (Heaps' law) but without a hard bound, so AQE decides
    at runtime whether each lookup broadcasts or shuffles; the
    c12 >= 5 floor cuts the noisy singleton tail that PMI is
    notoriously biased toward. ln() is the same IEEE call in both
    engines; round(6) absorbs the last ulp."""
    from vector_db_core_spark.functions.text import tokens

    t = _t(spark, sf_dir, "documents").select(tokens(F.col("text")).alias("w"))
    uni = (
        t.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    pairs = _adjacent_bigrams(F.col("w"))
    big_all = (
        t.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    big = big_all.where(F.col("c12") >= 5)
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    # identical subtree to `big`'s parent → Spark's ReuseExchange
    # serves both from one shuffle
    n_big = big_all.agg(F.sum("c12").alias("n_big"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    out = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
    )
    p12 = F.col("c12").cast("double") / F.col("n_big")
    p1 = F.col("c1").cast("double") / F.col("n_tok")
    p2 = F.col("c2").cast("double") / F.col("n_tok")
    return out.select(
        "w1",
        "w2",
        F.col("c12").cast("bigint").alias("n_pair"),
        F.round(F.log(p12 / (p1 * p2)), 6).alias("pmi"),
    )


_CONTAMINATION_SCORE_SQL = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 5),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 5),
ex AS (SELECT doc_id, unnest(s) AS shingle FROM corpus),
hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM ex
         WHERE shingle IN (SELECT shingle FROM bench) GROUP BY doc_id)
SELECT c.doc_id,
       CAST(len(c.s) AS INT) AS n_shingles,
       CAST(COALESCE(h.n_hit, 0) AS INT) AS n_contaminated,
       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(len(c.s) AS DOUBLE)
         AS contamination
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


@register("pipeline_contamination_score", oracle=_CONTAMINATION_SCORE_SQL)
def pipeline_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination: per-document FRACTION of distinct
    3-gram shingles shared with the held-out benchmark (docs 0-4),
    for every corpus document — the scored companion to
    ``dedup_decontaminate_benchmark``'s boolean flag. Real pipelines
    threshold this (e.g. drop >= 10% overlap, keep a paper-trail for
    1-9%) rather than dropping on a single shared shingle, so the
    score itself is the deliverable.

    Scale shape identical to the boolean pass — benchmark shingles
    are tiny by nature and BROADCAST; corpus shingles are tested
    map-side (left-semi against the broadcast set) and counted per
    document with a map-side-combined aggregate; the final left join
    back to (doc_id, n_shingles) is a key join on doc_id. The corpus
    text itself never shuffles. Zero-overlap documents report 0.0
    explicitly (LEFT join + coalesce), so the output is a total
    per-document audit column ready to join into a curation gate.
    """
    sh = _shingle_sets(_t(spark, sf_dir, "documents"))
    bench = (
        sh.where(F.col("doc_id") < 5).select(F.explode("s").alias("shingle")).distinct()
    )
    corpus = sh.where(F.col("doc_id") >= 5)
    hits = (
        corpus.select("doc_id", F.explode("s").alias("shingle"))
        .join(F.broadcast(bench), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return (
        corpus.select("doc_id", F.size("s").alias("n_shingles"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_hit.cast("int").alias("n_contaminated"),
            (n_hit.cast("double") / F.col("n_shingles").cast("double")).alias("contamination"),
        )
    )


_DECODE_FEATURES_SQL = """
WITH h AS (SELECT doc_id, md5(text) || md5(text || '#f2') AS hx FROM documents),
b AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, 32),
                                   i -> ('0x' || substr(hx, 2*i - 1, 2))::INT)) AS byte
      FROM h),
s AS (SELECT doc_id,
             SUM(byte) AS sb,
             SUM(CASE WHEN least(byte * 5 // 256, 4) = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN least(byte * 5 // 256, 4) = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN least(byte * 5 // 256, 4) = 2 THEN 1 ELSE 0 END) AS c2,
             SUM(CASE WHEN least(byte * 5 // 256, 4) = 3 THEN 1 ELSE 0 END) AS c3,
             SUM(CASE WHEN least(byte * 5 // 256, 4) = 4 THEN 1 ELSE 0 END) AS c4
      FROM b GROUP BY doc_id)
SELECT doc_id,
       CAST(sb AS DOUBLE) / (255.0 * 32) AS mean_pixel,
       CAST(c0 AS DOUBLE) / 32.0 AS h0,
       CAST(c1 AS DOUBLE) / 32.0 AS h1,
       CAST(c2 AS DOUBLE) / 32.0 AS h2,
       CAST(c3 AS DOUBLE) / 32.0 AS h3,
       CAST(c4 AS DOUBLE) / 32.0 AS h4
FROM s
"""


@register("multimodal_decode_features", oracle=_DECODE_FEATURES_SQL)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the driver's hash gate: every document
    becomes a valid 8×4 grayscale netpbm (P5) image whose raster is
    the 32 bytes of ``md5(text) || md5(text || '#f2')`` (salted-suffix
    second half, NOT ``md5(reverse(text))`` — Spark's ``reverse()``
    walks code points while DuckDB's walks grapheme clusters, so a
    non-ASCII document would silently diverge per engine) — built
    JVM-side with binary concat — then ``extract_features`` runs the
    actual Arrow-batched ``mapInPandas`` → ``image_features`` path
    (header parse, raster decode, per-channel means + 5-bin luminance
    histogram). Because the construction is content-deterministic, the
    pixel features are EXACTLY SQL-computable: the oracle re-derives
    each raster byte from the same md5 hex and replicates the integer
    histogram/mean arithmetic (one int sum per doc, one double
    division — bit-identical). This is the full multimodal plumbing —
    schema, batching, UDF signature, real decoder — under an exact
    oracle.

    100 TB: the payload column stands in for stored media blobs;
    mapInPandas streams Arrow batches with no shuffle, so the plan is
    scan → project → mapInPandas → project, partition-parallel.
    """
    from vector_db_core_spark.functions.multimodal import (
        extract_features,
        image_features,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    hexs = F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("#f2"))))
    payload = F.concat(F.lit(b"P5\n8 4\n255\n"), F.unhex(hexs))
    imgs = docs.select("doc_id", payload.alias("payload"))
    feats = extract_features(imgs, "payload", decoder=image_features)
    f = F.col("features")
    return feats.select(
        "doc_id",
        f[0].alias("mean_pixel"),
        f[3].alias("h0"),
        f[4].alias("h1"),
        f[5].alias("h2"),
        f[6].alias("h3"),
        f[7].alias("h4"),
    )


_HASHING_TF_SQL = r"""
WITH tok AS (SELECT doc_id,
                    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                      AS token
             FROM documents),
bk AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 4))::INT % 16 AS b FROM tok),
c AS (SELECT doc_id, b, COUNT(*) AS n FROM bk GROUP BY doc_id, b),
spine AS (SELECT DISTINCT doc_id FROM tok),
g AS (SELECT spine.doc_id, gs.b
      FROM spine, UNNEST(generate_series(0, 15)) AS gs(b))
SELECT g.doc_id,
       string_agg(CAST(COALESCE(c.n, 0) AS VARCHAR), ',' ORDER BY g.b) AS tf_vector
FROM g LEFT JOIN c ON g.doc_id = c.doc_id AND g.b = c.b
GROUP BY g.doc_id
"""


@register("text_hashing_vectorizer", oracle=_HASHING_TF_SQL)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK (HashingTF): fixed 16-dim term-frequency
    vectors with bucket = md5-prefix of the token mod 16 — no
    vocabulary pass at all, which is its scale story versus
    ``pipeline_tokenizer_apply``: vectorization becomes stateless
    per-row work (no learned artifact to broadcast, no OOV concept),
    the standard trade when the corpus is too churny to re-learn a
    vocab per snapshot. Collisions are the accepted cost.

    One map-side-combined count on (doc_id, bucket), then per-doc
    reassembly into a dense CSV vector via a map lookup over the
    16-bucket spine (missing buckets emit 0 explicitly so the vector
    is dense and fixed-width). md5-prefix buckets, not xxhash64, so
    both engines derive identical buckets and the gate hash-matches;
    at 100 TB swap in xxhash64 for cheaper hashing — same plan.
    """
    tok = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    bucket = (F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("int") % 16).alias("b")
    counts = tok.select("doc_id", bucket).groupBy("doc_id", "b").agg(
        F.count("*").alias("n")
    )
    m = F.map_from_entries(F.collect_list(F.struct("b", "n")))
    return counts.groupBy("doc_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda b: F.coalesce(F.element_at(m, b), F.lit(0)).cast("string"),
            ),
        ).alias("tf_vector")
    )


def _pq_block_dists(xb, cb):
    """THE shared PQ assignment kernel: squared distances of every
    vector's every sub-block to every centroid of that block.
    ``xb`` is (n, n_blocks, subdim), ``cb`` is (n_blocks, k, subdim);
    returns (n, n_blocks, k), in the input dtype — the PQ queries
    feed micro-quantized int64, so distances are exact (argmin ties
    resolve to the FIRST minimum = the lowest cid, which is exactly
    the oracles' ORDER BY dist, cid tie-break)."""
    return ((xb[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)


#: The exact PQ twin's geometry: 8 sub-blocks of 8 dims over the 64-d
#: embedding, 16 centroids per block (one PQ code byte = 4 bits here).
_PQ_NB = 8
_PQ_SD = 8
_PQ_K = 16


def _pq_int_inputs(spark: SparkSession, sf_dir: str):
    """Shared inputs of the hash-gated PQ twins: the micro-quantized
    corpus frame (vec_id, xm BIGINT array) and the seeded integer
    codebook as a driver-side (n_blocks, k, subdim) int64 array —
    the 16 vectors in deterministic md5(vec_id) order, each
    contributing its 8 sub-blocks as centroid cid of every block.
    Collecting 16 rows is the production PQ recipe (codebooks are a
    tiny bounded model even at 100 TB; only assignment distributes);
    micro-quantization stays a SPARK expression so round-half-up
    matches the oracle's round() exactly."""
    import numpy as np

    x = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(cast(embedding as array<double>),"
            " v -> cast(round(v * 1000000.0, 0) as bigint))"
        ).alias("xm"),
    )
    seeds = (
        x.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_PQ_K)
        .collect()
    )
    cb = (
        np.array([s.xm for s in seeds], dtype=np.int64)
        .reshape(_PQ_K, _PQ_NB, _PQ_SD)
        .transpose(1, 0, 2)
        .copy()
    )
    return x, cb

_PQ_EXACT_SQL = f"""
{_micro_seed_ctes(_PQ_K)}
c AS (SELECT i.cid, x.xm AS cm FROM init i JOIN x ON x.vec_id = i.vec_id),
nxs AS (SELECT vec_id, CAST(list_sum(list_transform(xm, v -> v * v)) AS BIGINT)
               AS nx
        FROM x),
d AS (SELECT x.vec_id, g.b, c.cid,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_SD}),
                  j -> (x.xm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])
                     * (x.xm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])))
                  AS BIGINT) AS dist,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_SD}),
                  j -> x.xm[g.b * {_PQ_SD} + j] * c.cm[g.b * {_PQ_SD} + j]))
                  AS BIGINT) AS dt,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_SD}),
                  j -> c.cm[g.b * {_PQ_SD} + j] * c.cm[g.b * {_PQ_SD} + j]))
                  AS BIGINT) AS nr
      FROM x
      CROSS JOIN c
      CROSS JOIN UNNEST(generate_series(0, {_PQ_NB - 1})) AS g(b)),
a AS (SELECT vec_id, b, cid, dist, dt, nr FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id, b
                                      ORDER BY dist, cid) AS rn FROM d)
      WHERE rn = 1),
f AS (SELECT vec_id,
             string_agg(CAST(cid AS VARCHAR), ',' ORDER BY b) AS codes,
             CAST(SUM(dist) AS BIGINT) AS quant_error,
             CAST(SUM(dt) AS BIGINT) AS sdt,
             CAST(SUM(nr) AS BIGINT) AS snr
      FROM a GROUP BY vec_id)
SELECT f.vec_id, f.codes, f.quant_error,
       CASE WHEN nxs.nx > 0 AND f.snr > 0
            THEN round(CAST(f.sdt AS DOUBLE)
                       / (sqrt(CAST(nxs.nx AS DOUBLE))
                          * sqrt(CAST(f.snr AS DOUBLE))), 6)
            END AS recon_cosine
FROM f JOIN nxs ON nxs.vec_id = f.vec_id
"""


@register("sim_pq_codes_exact", oracle=_PQ_EXACT_SQL)
def sim_pq_codes_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION under the FULL hash gate — the compression
    half of an IVF-PQ index, in integer form (trained float k-means
    codebooks are something no DuckDB SQL can replay): the standard
    encode geometry (8 sub-blocks x 8 dims, 16 codes per block,
    Jégou et al. 2011's PQ) but with FIXED SEEDED codebooks — the 16
    vectors in deterministic md5(vec_id) order (the
    ``sim_kmeans_lloyd_exact`` seeding device), each contributing its
    8 sub-vectors as centroid cid of every block — and micro-quantized
    integer distances, so per-block argmin assignments, the total
    quantization error, AND the reconstruction cosine are all
    DuckDB-derivable. Per vector: the 8-code word (comma-joined
    string — identical tie-break: min squared distance, then lowest
    cid), exact BIGINT quantization error, and the reconstruction
    cosine an index maintainer monitors.

    Exactness: coordinates micro-quantize at 1e6 IN SPARK (the shared
    kmeans pin: round-then-cast half-up, stated identically in both
    engines) before any numpy touches them; block distances / dot
    products / norms are exact int64 arithmetic (max ~6.4e13, far
    under overflow) inside the shared ``_pq_block_dists`` kernel —
    numpy argmin resolves ties to the
    first minimum == the lowest cid == the oracle's row_number ORDER
    BY dist, cid; the cosine stays a fixed SPARK double expression
    over the kernel's three exact integers (IEEE sqrt/division are
    correctly rounded — bit-identical cross-engine) + round(6),
    NULL-guarded on zero norms in both engines.

    Plan/scale (r12-verdict task 3 — the interpreted-HOF fold at
    ~0.34 ms/vector was the bench's heaviest new row): the seeded
    codebook is a driver-side bounded model (16 rows — the universal
    PQ recipe) broadcast into ONE Arrow-batched pandas_udf that
    assigns all 8 codes per vector with one vectorized integer
    distance computation — map-only over the corpus, NO shuffle at
    all (the previous form fanned out 16x through a broadcast join
    and folded back with a min-struct aggregate; same integers, same
    hashes, ~an order of magnitude less per-vector time). At 100 TB
    this is the standard PQ encode shape: model broadcast, map-side
    Arrow assignment, linear scan."""
    from pyspark.sql.functions import pandas_udf

    x, cb = _pq_int_inputs(spark, sf_dir)
    bcb = spark.sparkContext.broadcast(cb)

    @pandas_udf(
        "struct<codes: string, quant_error: bigint,"
        " sdt: bigint, snr: bigint, nx: bigint>"
    )
    def _enc(xs):
        import numpy as np
        import pandas as pd

        cbv = bcb.value  # (nb, k, sd) int64
        nb, k, sd = cbv.shape
        xi = np.array([np.asarray(v, dtype=np.int64) for v in xs], dtype=np.int64)
        n = xi.shape[0]
        xb = xi.reshape(n, nb, sd)
        d2 = _pq_block_dists(xb, cbv)  # (n, nb, k) exact int64
        codes = d2.argmin(axis=2)  # ties -> lowest cid
        qerr = np.take_along_axis(d2, codes[:, :, None], axis=2)[:, :, 0].sum(axis=1)
        rec = cbv[np.arange(nb)[None, :], codes]  # (n, nb, sd)
        return pd.DataFrame(
            {
                "codes": [",".join(map(str, c)) for c in codes],
                "quant_error": qerr,
                "sdt": (xb * rec).sum(axis=(1, 2)),
                "snr": (rec * rec).sum(axis=(1, 2)),
                "nx": (xb * xb).sum(axis=(1, 2)),
            }
        )

    enc = x.select("vec_id", _enc("xm").alias("e"))
    return enc.select(
        "vec_id",
        F.col("e.codes").alias("codes"),
        F.col("e.quant_error").alias("quant_error"),
        F.when(
            (F.col("e.nx") > 0) & (F.col("e.snr") > 0),
            F.round(
                F.col("e.sdt").cast("double")
                / (
                    F.sqrt(F.col("e.nx").cast("double"))
                    * F.sqrt(F.col("e.snr").cast("double"))
                ),
                6,
            ),
        ).alias("recon_cosine"),
    )

#: ADC serving depth.
_PQ_ADC_TOPK = 20

_PQ_ADC_SQL = f"""
{_micro_seed_ctes(_PQ_K)}
c AS (SELECT i.cid, x.xm AS cm FROM init i JOIN x ON x.vec_id = i.vec_id),
q AS (SELECT xm AS qm FROM x WHERE vec_id = 0),
d AS (SELECT x.vec_id, g.b, c.cid,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_SD}),
                  j -> (x.xm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])
                     * (x.xm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])))
                  AS BIGINT) AS dist,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_SD}),
                  j -> (q.qm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])
                     * (q.qm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])))
                  AS BIGINT) AS qd
      FROM x
      CROSS JOIN q
      CROSS JOIN c
      CROSS JOIN UNNEST(generate_series(0, {_PQ_NB - 1})) AS g(b)
      WHERE x.vec_id <> 0),
a AS (SELECT vec_id, qd FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id, b
                                      ORDER BY dist, cid) AS rn FROM d)
      WHERE rn = 1),
s AS (SELECT vec_id, CAST(SUM(qd) AS BIGINT) AS adc_dist
      FROM a GROUP BY vec_id),
t AS (SELECT x.vec_id,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_NB * _PQ_SD}),
                  j -> (x.xm[j] - q.qm[j]) * (x.xm[j] - q.qm[j])))
                  AS BIGINT) AS true_dist
      FROM x CROSS JOIN q WHERE x.vec_id <> 0),
top AS (SELECT s.vec_id, s.adc_dist, t.true_dist
        FROM s JOIN t ON t.vec_id = s.vec_id
        ORDER BY s.adc_dist, s.vec_id LIMIT {_PQ_ADC_TOPK})
SELECT CAST(row_number() OVER (ORDER BY adc_dist, vec_id) AS INT) AS rank,
       vec_id, adc_dist, true_dist
FROM top
"""


@register("sim_pq_adc_topk", oracle=_PQ_ADC_SQL)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ASYMMETRIC-DISTANCE top-k — the SERVING half of a PQ index
    (Jégou et al. 2011 §IV: the query stays unquantized; each corpus
    vector is represented only by its code word, and its distance to
    the query is the sum over blocks of the query-to-centroid
    distance of the ASSIGNED centroid — what a real index computes
    from an 8-entry-per-vector lookup instead of touching raw
    vectors). Same seeded integer construction as
    ``sim_pq_codes_exact`` (md5-ordered codebooks, micro-quantized
    BIGINT distances), query = vector 0, corpus = everything else;
    emits the ADC top-20 with each hit's TRUE integer distance beside
    the ADC estimate — the recall-debugging view an index maintainer
    reads (ADC error = quantization error of the hit). Composed with
    coarse cell partitioning this is IVF-PQ (``sim_ivfpq_topk``), the
    standard billion-scale ANN index.

    Exactness: per-block code assignment rides the PQ twin's exact
    int64 ``_pq_block_dists`` kernel (numpy argmin tie -> first
    minimum == lowest cid == the oracle's row_number ORDER BY dist,
    cid); the 16x8 query-to-centroid LUT is precomputed driver-side
    from the same exact integers (it is what a real ADC scan
    precomputes), so the kernel looks the assigned centroid's query
    distance up directly — no LUT join; ADC and true distances are
    exact integer sums; top-k ties break on vec_id.

    Plan/scale: the codebook + query + LUT are a driver-side bounded
    model broadcast into ONE Arrow-batched pandas_udf (r12-verdict
    task 3 — replaces the interpreted 16x fan-out/min-struct fold);
    scoring is map-only, and the serving read is
    TakeOrderedAndProject over |corpus| (vec_id, adc) rows — the
    only shuffle is the top-k. At 100 TB the codes table is
    precomputed once (the twin) and ADC scans codes — 8 bytes a
    vector — never embeddings; here both halves run inline so the op
    is self-contained."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    x, cb = _pq_int_inputs(spark, sf_dir)
    (qrow,) = x.where(F.col("vec_id") == 0).select("xm").collect()
    qm = np.asarray(qrow.xm, dtype=np.int64)
    # the 16x8 LUT a real ADC scan precomputes: query-to-centroid
    # block distances, exact int64 through the shared kernel
    cqd = _pq_block_dists(qm.reshape(1, _PQ_NB, _PQ_SD), cb)[0]  # (nb, k)
    bmodel = spark.sparkContext.broadcast((cb, qm, cqd))

    @pandas_udf("struct<adc_dist: bigint, true_dist: bigint>")
    def _score(xs):
        import pandas as pd

        cbv, qv, lut = bmodel.value
        nb, k, sd = cbv.shape
        xi = np.array([np.asarray(v, dtype=np.int64) for v in xs], dtype=np.int64)
        n = xi.shape[0]
        codes = _pq_block_dists(xi.reshape(n, nb, sd), cbv).argmin(axis=2)
        return pd.DataFrame(
            {
                "adc_dist": lut[np.arange(nb)[None, :], codes].sum(axis=1),
                "true_dist": ((xi - qv[None, :]) ** 2).sum(axis=1),
            }
        )

    scored = (
        x.where(F.col("vec_id") != 0)
        .select("vec_id", _score("xm").alias("s"))
        .select(
            "vec_id",
            F.col("s.adc_dist").alias("adc_dist"),
            F.col("s.true_dist").alias("true_dist"),
        )
    )
    top = scored.orderBy("adc_dist", "vec_id").limit(_PQ_ADC_TOPK)
    return top.select(
        F.row_number()
        .over(W.orderBy("adc_dist", "vec_id"))
        .cast("int")
        .alias("rank"),
        "vec_id",
        "adc_dist",
        "true_dist",
    )

#: IVF probe width and serving depth for the composed index.
_IVFPQ_NPROBE = 2
_IVFPQ_TOPK = 10

_IVFPQ_SQL = f"""
{_micro_seed_ctes(_PQ_K)}
c AS (SELECT i.cid, x.xm AS cm FROM init i JOIN x ON x.vec_id = i.vec_id),
q AS (SELECT xm AS qm FROM x WHERE vec_id = 0),
cd AS (SELECT x.vec_id, c.cid,
              CAST(list_sum(list_transform(generate_series(1, {_PQ_NB * _PQ_SD}),
                   j -> (x.xm[j] - c.cm[j]) * (x.xm[j] - c.cm[j])))
                   AS BIGINT) AS dist
       FROM x CROSS JOIN c WHERE x.vec_id <> 0),
cell AS (SELECT vec_id, cid AS cell FROM
           (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS rn FROM cd)
         WHERE rn = 1),
qcells AS (SELECT c.cid AS cell FROM c CROSS JOIN q
           ORDER BY CAST(list_sum(list_transform(
                         generate_series(1, {_PQ_NB * _PQ_SD}),
                         j -> (q.qm[j] - c.cm[j]) * (q.qm[j] - c.cm[j])))
                         AS BIGINT), c.cid
           LIMIT {_IVFPQ_NPROBE}),
surv AS (SELECT cell.vec_id, cell.cell FROM cell
         JOIN qcells ON qcells.cell = cell.cell),
d AS (SELECT s.vec_id, s.cell, g.b, c.cid,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_SD}),
                  j -> (x.xm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])
                     * (x.xm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])))
                  AS BIGINT) AS dist,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_SD}),
                  j -> (q.qm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])
                     * (q.qm[g.b * {_PQ_SD} + j] - c.cm[g.b * {_PQ_SD} + j])))
                  AS BIGINT) AS qd
      FROM surv s
      JOIN x ON x.vec_id = s.vec_id
      CROSS JOIN q
      CROSS JOIN c
      CROSS JOIN UNNEST(generate_series(0, {_PQ_NB - 1})) AS g(b)),
a AS (SELECT vec_id, cell, qd FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id, b
                                      ORDER BY dist, cid) AS rn FROM d)
      WHERE rn = 1),
s AS (SELECT vec_id, CAST(MIN(cell) AS INT) AS cell,
             CAST(SUM(qd) AS BIGINT) AS adc_dist
      FROM a GROUP BY vec_id),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_scanned FROM surv),
t AS (SELECT x.vec_id,
             CAST(list_sum(list_transform(generate_series(1, {_PQ_NB * _PQ_SD}),
                  j -> (x.xm[j] - q.qm[j]) * (x.xm[j] - q.qm[j])))
                  AS BIGINT) AS true_dist
      FROM x CROSS JOIN q WHERE x.vec_id <> 0),
top AS (SELECT s.vec_id, s.cell, s.adc_dist, t.true_dist
        FROM s JOIN t ON t.vec_id = s.vec_id
        ORDER BY s.adc_dist, s.vec_id LIMIT {_IVFPQ_TOPK})
SELECT CAST(row_number() OVER (ORDER BY adc_dist, vec_id) AS INT) AS rank,
       vec_id, cell, adc_dist, true_dist, n.n_scanned
FROM top, n
"""


@register("sim_ivfpq_partitioned_topk", oracle=_IVFPQ_SQL)
@register("sim_ivfpq_topk", oracle=_IVFPQ_SQL)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ COMPOSED — the standard billion-scale ANN index (Jégou
    et al. 2011; the FAISS IVFPQ shape) under the full hash gate: the
    16 seeded centroids double as the COARSE quantizer (every corpus
    vector assigns to its nearest cell by full-vector integer
    distance), the query probes its nprobe=2 nearest cells, and only
    the survivors are ADC-scored per block (same micro-quantized
    construction as ``sim_pq_adc_topk``; plain-vector PQ rather than
    residual encoding — the standard simplification, stated). Emits
    the top-10 with each hit's cell, true distance, and the probed
    candidate count — the pruning evidence (n_scanned ≪ corpus is
    the whole point of IVF).

    Exactness: coarse assignment, probe selection, per-block codes,
    and ADC sums are all exact int64 arithmetic through the shared
    ``_pq_block_dists`` kernel (full-vector distance == sum of the
    per-block distances — the blocks tile the vector; numpy argmin
    tie -> first minimum == lowest cid); the candidate count is an
    exact integer broadcast onto the bounded output.

    Plan/scale: the codebook, query, probe list, and ADC LUT are a
    driver-side bounded model broadcast into ONE Arrow-batched
    pandas_udf (r12-verdict task 3) that coarse-assigns, codes, and
    ADC-scores each vector in a single vectorized pass — map-only;
    the probe filter keeps only nprobe-cell members before the top-k
    shuffle (an index maintains coarse assignment incrementally —
    here it runs inline to stay self-contained), so serving cost
    ∝ corpus/cells × nprobe. This is the geometry that turns a
    100 TB scan into a per-query partition read; at real scale the
    cell becomes the partition key the codes table is written under,
    and partition pruning does the probe filter.

    Also registered as ``sim_ivfpq_partitioned_topk``. Serving from a
    cell-partitioned codes table gives the same rows; measured, it
    ties this path once the table exists and costs twice as much when
    the table is rebuilt per run, so this is the one implementation."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    x, cb = _pq_int_inputs(spark, sf_dir)
    (qrow,) = x.where(F.col("vec_id") == 0).select("xm").collect()
    qm = np.asarray(qrow.xm, dtype=np.int64)
    cqd = _pq_block_dists(qm.reshape(1, _PQ_NB, _PQ_SD), cb)[0]  # (nb, k)
    # probe list: the nprobe cells nearest the query by full-vector
    # distance (= per-block distances summed — the blocks tile the
    # vector), ties to the lowest cid
    qfull = cqd.sum(axis=0)  # (k,)
    probe = sorted(range(_PQ_K), key=lambda c: (qfull[c], c))[:_IVFPQ_NPROBE]
    bmodel = spark.sparkContext.broadcast((cb, qm, cqd))

    @pandas_udf("struct<cell: int, adc_dist: bigint, true_dist: bigint>")
    def _score(xs):
        import pandas as pd

        cbv, qv, lut = bmodel.value
        nb, k, sd = cbv.shape
        xi = np.array([np.asarray(v, dtype=np.int64) for v in xs], dtype=np.int64)
        n = xi.shape[0]
        d2 = _pq_block_dists(xi.reshape(n, nb, sd), cbv)  # (n, nb, k)
        codes = d2.argmin(axis=2)
        return pd.DataFrame(
            {
                "cell": d2.sum(axis=1).argmin(axis=1).astype("int32"),
                "adc_dist": lut[np.arange(nb)[None, :], codes].sum(axis=1),
                "true_dist": ((xi - qv[None, :]) ** 2).sum(axis=1),
            }
        )

    scored = (
        x.where(F.col("vec_id") != 0)
        .select("vec_id", _score("xm").alias("s"))
        .select(
            "vec_id",
            F.col("s.cell").alias("cell"),
            F.col("s.adc_dist").alias("adc_dist"),
            F.col("s.true_dist").alias("true_dist"),
        )
    )
    # two consumers (the candidate count and the top-k) would re-run
    # the scoring UDF over the corpus; the survivor set is the small
    # post-prune slice (corpus/cells x nprobe), so cache IT — the
    # n_scanned broadcast job is the materialization, and the top-k
    # reads the cache (the k-core two-action discipline)
    surv = scored.where(F.col("cell").isin([int(c) for c in probe])).persist()
    n_scanned = surv.agg(F.count("*").cast("bigint").alias("n_scanned"))
    top = surv.orderBy("adc_dist", "vec_id").limit(_IVFPQ_TOPK)
    return top.crossJoin(F.broadcast(n_scanned)).select(
        F.row_number()
        .over(W.orderBy("adc_dist", "vec_id"))
        .cast("int")
        .alias("rank"),
        "vec_id",
        "cell",
        "adc_dist",
        "true_dist",
        "n_scanned",
    )


def _ivfpq_serve_from_codes(codes, x, qm, cqd, probe) -> DataFrame:
    """THE IVF-PQ serving read of the streaming cell-maintenance
    replay: probe-filter the codes table, ADC-score via the embedded
    16x8 LUT literals (8 ``element_at`` lookups per stored code word —
    pure codegen, no raw vectors), count the pruned candidates, take
    the top-k, and rerank-fetch true distances for just those k rows
    from the embeddings frame ``x``. Emits the ``_IVFPQ_SQL`` shape."""
    probed = codes.where(
        (F.col("vec_id") != 0)
        & F.col("cell").isin([int(c) for c in probe])
    )
    lut_cols = [
        F.array(*[F.lit(int(v)).cast("bigint") for v in cqd[b]])
        for b in range(_PQ_NB)
    ]
    adc = sum(
        F.element_at(lut_cols[b], F.col("codes").getItem(b) + 1)
        for b in range(_PQ_NB)
    )
    scored = probed.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        adc.cast("bigint").alias("adc_dist"),
    )
    # the pruned slice is corpus/cells x nprobe rows; cache it for its
    # two consumers (count + top-k) like sim_ivfpq_topk's survivor set
    scored = scored.persist()
    n_scanned = scored.agg(F.count("*").cast("bigint").alias("n_scanned"))
    top = scored.orderBy("adc_dist", "vec_id").limit(_IVFPQ_TOPK)
    qlit = F.array(*[F.lit(int(v)).cast("bigint") for v in qm])
    true_fold = F.expr(
        "aggregate(zip_with(xm, qlit, (u, w) -> (u - w) * (u - w)),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    rerank = (
        x.join(F.broadcast(top), "vec_id")
        .withColumn("qlit", qlit)
        .withColumn("true_dist", true_fold)
    )
    return rerank.crossJoin(F.broadcast(n_scanned)).select(
        F.row_number()
        .over(W.orderBy("adc_dist", "vec_id"))
        .cast("int")
        .alias("rank"),
        "vec_id",
        "cell",
        "adc_dist",
        "true_dist",
        "n_scanned",
    )


# ------------------------------------------------- exact repeated spans
#: span width in tokens, and the per-span document-frequency cap that
#: bounds the quadratic pair fanout (C(cap,2)=190 pairs max per span).
_SPAN_W = 8
_SPAN_MAX_DOCS = 20

#: every document's distinct ``_SPAN_W``-token spans, ``sp(doc_id, span)``
_DOC_SPANS_SQL = f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sp AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(toks) - {_SPAN_W - 1}),
             i -> array_to_string(toks[i:i+{_SPAN_W - 1}], ' ')))) AS span
  FROM t WHERE len(toks) >= {_SPAN_W}
),"""

_SPAN_PAIRS_SQL = f"""
WITH {_DOC_SPANS_SQL}
keep AS (SELECT span FROM sp GROUP BY span
         HAVING COUNT(*) BETWEEN 2 AND {_SPAN_MAX_DOCS}),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id < b.doc_id
      JOIN keep k ON k.span = a.span)
SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS shared_spans
FROM p GROUP BY doc_a, doc_b
"""


@register("dedup_span_pairs", oracle=_SPAN_PAIRS_SQL)
def dedup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING span dedup (the suffix-array family, Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): document pairs sharing at least one verbatim
    8-token span, with the count of distinct shared spans — the
    copy-paste detector that set-similarity (Jaccard/MinHash) and
    containment both blur away, because a single long verbatim quote
    inside two otherwise-unrelated documents moves neither metric but
    IS the training-data leak span dedup exists to catch.

    Spark plan instead of a suffix array: every document emits its
    distinct 8-token sliding windows (map-only, inside codegen — the
    window enumeration is a transform over a materialized token
    array, so each slice is O(1) array access, not a re-tokenize);
    ONE shuffle groups span -> sorted doc set; spans seen in 2..20
    documents generate their C(k,2) doc pairs inside codegen (the
    assoc_part_pairs construction — zero self-joins); a second
    shuffle counts pairs. Each span contributes at most once per pair
    (per-doc windows are distinct), so COUNT(*) per pair == distinct
    shared spans, matching the oracle's semantics exactly.

    The 20-doc frequency cap is the scale contract, not a garnish: a
    boilerplate span present in 10^6 documents would alone emit
    5*10^11 pairs. Real span-dedup pipelines drop such spans (they
    are template/boilerplate, handled by text_boilerplate_phrases and
    the quality filters, not pairwise dedup); the cap makes the
    worst-case fanout per span 190 pairs. At 100 TB the span string
    itself would be replaced by xxhash64(span) to shrink the shuffle
    ~10x (same plan; kept as strings here so DuckDB can mirror the
    query for the hash gate)."""
    t = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= _SPAN_W)
    )
    spans = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (_SPAN_W - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, _SPAN_W)),
                )
            )
        ).alias("span"),
    )
    # COUNT-GATE before any per-group object state: on organic corpora
    # ~99% of distinct spans occur once, and a direct
    # collect_set-then-filter pays ObjectHashAggregate's sort-based
    # fallback (one mutable set allocated per group past the 128-group
    # threshold) for MILLIONS of groups that are about to be dropped —
    # measured 10x+ the whole query at ~sf1 on the perturbed fixture.
    # The gate is a window count over the span partitioning: ONE
    # exchange of the generated stream (the interpreted span
    # generation runs once), one partition-local sort, and the [2,cap]
    # filter drops ~99% of rows BEFORE collect_set, which then
    # aggregates co-partitioned survivors with no further shuffle —
    # same join-free two-exchange plan as before, minus the per-group
    # object state for singleton spans.
    n_docs = F.count("*").over(W.partitionBy("span"))
    groups = (
        spans.withColumn("n_docs", n_docs)
        .where(F.col("n_docs").between(2, _SPAN_MAX_DOCS))
        .groupBy("span")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
    )
    pair_arrays = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + 2, F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        groups.select(F.explode(pair_arrays).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_spans"))
    )


# ---------------------------------------------------- character entropy
_CHAR_ENTROPY_SQL = r"""
WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
n AS (SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n FROM documents),
c AS (SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS cnt FROM ch GROUP BY doc_id, ch)
SELECT c.doc_id,
       round(CAST(-SUM(CAST((cnt / n) * log2(cnt / n) AS DECIMAL(27,15))) AS DOUBLE), 6)
         AS char_entropy_bits
FROM c JOIN n ON c.doc_id = n.doc_id
GROUP BY c.doc_id
"""


@register("text_char_entropy", oracle=_CHAR_ENTROPY_SQL)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    cheap garbage detector a corpus quality pass runs before anything
    tokenizes: binary blobs and base64 spill read near 6-8 bits/char,
    key-mashing and repeated-char padding collapse toward 0, natural
    English sits ~4. Complements the word-level quality panel
    (text_quality_score) with a signal that needs no tokenizer at all.

    Exactness across engines follows the unigram-logprob recipe: each
    (doc, char) term (p * log2 p) is computed as the same IEEE double
    expression on both sides, truncated to DECIMAL(27,15) — absorbing
    any last-ulp log2 library difference — and summed IN DECIMAL, so
    the per-doc total is order-independent at any parallelism; the
    final round(6) is presentation.

    100 TB plan: one map-side-combined count on (doc_id, char) —
    per-doc alphabet is bounded (<= 256 for bytes, small for text), so
    partial aggregation collapses each partition to at most
    |alphabet| rows per doc before the only wide shuffle; the doc
    length joins back from the source (no second scan of the char
    explosion); final per-doc fold touches |alphabet| rows."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count("*").cast("double").alias("cnt")
    )
    n = docs.select("doc_id", F.length("text").cast("double").alias("n"))
    p = F.col("cnt") / F.col("n")
    return (
        counts.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(
                (-F.sum((p * F.log2(p)).cast("decimal(27,15)"))).cast("double"), 6
            ).alias("char_entropy_bits")
        )
    )


# ---------------------------------------------- tf-idf cosine rerank
_TFIDF_RERANK_SQL = rf"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
               >= 0.5),
toks AS (SELECT doc_id,
                UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
         FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (SELECT doc_id, term,
             CAST(ROUND(CAST(tf AS DOUBLE)
                        * ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
                        * 1e6) AS BIGINT) AS wq
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
norms AS (SELECT doc_id, SUM(CAST(wq * wq AS DECIMAL(38,0))) AS sq
          FROM w GROUP BY doc_id),
dots AS (SELECT c.doc_a, c.doc_b, SUM(CAST(wa.wq * wb.wq AS DECIMAL(38,0))) AS dot
         FROM cand c
         JOIN w wa ON wa.doc_id = c.doc_a
         JOIN w wb ON wb.doc_id = c.doc_b AND wb.term = wa.term
         GROUP BY c.doc_a, c.doc_b)
SELECT d.doc_a, d.doc_b,
       ROUND(CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))), 6) AS cos_sim
FROM dots d JOIN norms na ON na.doc_id = d.doc_a
            JOIN norms nb ON nb.doc_id = d.doc_b
"""


@register("sim_tfidf_rerank_pairs", oracle=_TFIDF_RERANK_SQL)
def sim_tfidf_rerank_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED re-rank of the near-dup candidates: TF-IDF cosine for
    every MinHash-LSH-verified duplicate pair — the two-stage shape a
    production dedup/retrieval pass actually runs (cheap set-based
    candidate generation, then a weighted score that distinguishes
    "same words, same emphasis" from "same words, different mix",
    which Jaccard cannot see). The similarity family's third scorer
    alongside set-based Jaccard and dense embedding cosine.

    A first cut banded this query on document frequency (df in
    [2, 50]) to bound a term self-join; the sf0.1 sweep showed the
    fixture's 31-term vocabulary makes any df band vacuous at scale
    (every term's df grows with N — 0 rows at sf0.1, the q11 lesson:
    absolute thresholds rot under scale-up). Candidates therefore come
    from the LSH pair set instead, which is scale-correct BY
    CONSTRUCTION (banded signatures, candidates-only shuffles) and
    already carries the exact-Jaccard oracle; the rerank then touches
    only |pairs| rows, so no df cap is needed at all.

    Exactness discipline: the only float op is the idf ln(), absorbed
    immediately by quantizing each weight to INTEGER MICRO-UNITS
    (round(tf*idf*1e6) -> BIGINT); dot products and squared norms are
    then exact DECIMAL(38,0) integer sums, so every cosine is
    bit-identical at any parallelism and the final double division is
    the same exact-integer ratio on both engines — the streaming cents
    discipline applied to a similarity score.

    100 TB plan: candidate generation is the banded-LSH plan
    (dedup_minhash_lsh_pairs); tf/df are the inverted-index aggregates
    (map-side combined, vocabulary-sized df side, AQE-sized join); the
    rerank joins weights to the bounded pair set on (doc, term). The
    oracle's all-pairs Jaccard CTE is quadratic on the ORACLE side
    only (same status as _JACCARD_PAIRS_SQL — gate-scale checks at
    sf0.01; exclude from routine sf0.1 sweeps)."""
    cand = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # tiny metadata count; a literal in the plan
    w = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf").cast("double")
            * F.log(
                (F.lit(float(n_docs)) + 1.0) / (F.col("df").cast("double") + 1.0)
            )
            * 1e6
        )
        .cast("long")
        .alias("wq"),
    )
    norms = w.groupBy("doc_id").agg(
        F.sum((F.col("wq") * F.col("wq")).cast("decimal(38,0)")).alias("sq")
    )
    wa, wb = w.alias("wa"), w.alias("wb")
    dots = (
        cand.join(wa, F.col("wa.doc_id") == F.col("doc_a"))
        .join(
            wb,
            (F.col("wb.doc_id") == F.col("doc_b"))
            & (F.col("wb.term") == F.col("wa.term")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("wa.wq") * F.col("wb.wq")).cast("decimal(38,0)")).alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    return (
        dots.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na.sq").cast("double"))
                    * F.sqrt(F.col("nb.sq").cast("double"))
                ),
                6,
            ).alias("cos_sim"),
        )
    )


# ------------------------------------------------------ segment splitting
# Segment-splitting rule: split each document on the literal delimiter
# token " a " (the synthetic corpus has no sentence punctuation, so a
# frequent stopword stands in for the boundary). Literal leftmost
# non-overlapping split behaves identically in Java regex (Spark),
# DuckDB string_split, and Python str.split; segment indices count ALL
# split parts (empties included) and empty parts are filtered
# afterwards, so the formulations stay bit-identical.

_SEG_SQL = """
WITH s AS (
  SELECT doc_id, string_split(text, ' a ') AS parts
  FROM documents WHERE doc_id < 200),
e AS (SELECT doc_id, CAST(idx - 1 AS INT) AS segment_idx, parts[idx] AS segment
      FROM s, unnest(generate_series(1, len(parts))) AS t(idx))
SELECT doc_id, segment_idx, segment FROM e WHERE segment <> ''
"""


def _seg_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id", "text")


@register("text_split_segments_udtf", oracle=_SEG_SQL)
@register("text_split_segments", oracle=_SEG_SQL)
def text_split_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document segmentation, BUILT-IN path: ``split`` + ``posexplode``
    — two codegen'd expressions riding the scan, the plan you want at
    100 TB (no Python in the loop, Generate fans out JVM-side, filters
    and column pruning still push into the parquet scan below the
    Generate).

    Also registered as ``text_split_segments_udtf``. A Python UDTF
    gives the same rows but sends every row through a Python worker
    and breaks codegen (measured 2x slower), so this is the one
    implementation; a UDTF is for fan-out logic that can't be said in
    expressions (stateful parsers, per-row trees).
    """
    return (
        _seg_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.posexplode(F.split("text", " a ", -1)).alias("segment_idx", "segment"),
        )
        .where(F.col("segment") != "")
        .select("doc_id", F.col("segment_idx").cast("int"), "segment")
    )


@register(
    "text_bigram_fluency",
    oracle=r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
               FROM documents),
    g AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM t, UNNEST(generate_series(1, len(w) - 1)) AS u(i)),
    c AS (SELECT w1, w2, COUNT(*) AS c FROM g GROUP BY w1, w2),
    r AS (SELECT w1, w2, c,
                 SUM(c) OVER (PARTITION BY w1) AS w1_total
          FROM c)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(CAST(ln(CAST(r.c AS DOUBLE) / CAST(r.w1_total AS DOUBLE))
                               AS DECIMAL(27,15))) AS DOUBLE)
                 / -COUNT(*), 6) AS avg_nll
    FROM g JOIN r ON g.w1 = r.w1 AND g.w2 = r.w2
    GROUP BY g.doc_id
    """,
)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score per document: average negative
    log-likelihood of the doc's adjacent token pairs under the
    corpus-trained conditional model P(w2|w1) — the step UP from
    unigram scoring (``text_unigram_logprob``): unigrams can't see
    scrambled word order, bigram NLL can, which is what separates
    fluent text from bag-of-frequent-words garbage. Self-trained
    (the LM table and the scored docs are the same corpus), the
    standard bootstrap for a first-pass quality filter.

    Plan: one explode builds the (doc, w1, w2) pair stream; the LM is
    the bigram-count aggregate plus a window over the ALREADY-aggregated
    (vocabulary-sized) table — the same two-shuffle shape as
    ``text_bigram_lm``; scoring joins the pair stream back to the tiny
    LM table (broadcast at real vocab sizes) and aggregates per doc.
    Exactness: conditional probabilities divide exact BIGINTs; per-pair
    ``ln`` outputs are absorbed to DECIMAL(27,15) before the per-doc
    sum (the unigram-ln recipe), so the aggregate is
    parallelism/order-independent; round(6) absorbs last-ulp ``ln``
    differences between libms.
    """
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    pairs = _adjacent_bigrams(F.col("w"))
    g = t.select("doc_id", F.explode(pairs).alias("p")).select("doc_id", "p.w1", "p.w2")
    lm = (
        g.groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .withColumn("w1_total", F.sum("c").over(W.partitionBy("w1")))
    )
    nll = F.log(F.col("c").cast("double") / F.col("w1_total").cast("double")).cast(
        "decimal(27,15)"
    )
    return (
        g.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(nll).cast("double") / -F.count("*"), 6).alias("avg_nll"),
        )
    )


@register(
    "text_gopher_quality_flags",
    oracle=rf"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_words,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                        (a, b) -> a + b) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS mean_word_len,
                 CAST(len(list_filter(toks,
                        x -> x IN ('the','be','to','of','and','that','have','with')))
                      AS INT) AS stopword_hits,
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                      AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS alpha_word_ratio,
                 CAST(len(regexp_extract_all(text, '#')) +
                      len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS symbol_word_ratio
          FROM t)
    SELECT doc_id, n_words, mean_word_len, stopword_hits,
           alpha_word_ratio, symbol_word_ratio,
           (n_words BETWEEN 50 AND 100000) AS pass_word_count,
           (mean_word_len BETWEEN 3.0 AND 10.0) AS pass_mean_word_len,
           (stopword_hits >= 2) AS pass_stopwords,
           (alpha_word_ratio >= 0.8) AS pass_alpha_ratio,
           (symbol_word_ratio <= 0.1) AS pass_symbol_ratio,
           ((n_words BETWEEN 50 AND 100000)
            AND (mean_word_len BETWEEN 3.0 AND 10.0)
            AND (stopword_hits >= 2)
            AND (alpha_word_ratio >= 0.8)
            AND (symbol_word_ratio <= 0.1)) AS gopher_keep
    FROM s
    """,
)
def text_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveWeb rule-based quality filter (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A) — the published
    heuristic suite behind most web-corpus curation stacks, as
    per-rule boolean flags plus the conjunctive keep decision, so a
    pipeline can audit WHICH rule dropped a document (the thing the
    single-score ``text_quality_score`` cannot answer).

    Rules carried (published thresholds): word count in [50, 1e5];
    mean word length in [3, 10]; >= 2 stop words; >= 80% of words
    contain an alphabetic character; symbol-to-word ratio ('#' or
    '...') <= 0.1. The remaining Gopher rules are line-shaped
    (bullet/ellipsis lines, duplicate lines) — this fixture's
    documents are single-line word streams, so they are vacuous on
    the RAW text and are registered separately over a deterministic
    multi-line reconstruction (``text_gopher_line_rules``; decision
    made explicit per the r8 verdict task 8). On this fixture the word-count
    and stop-word rules genuinely discriminate (277/500 and 224/500
    pass at sf0.01 — pinned non-vacuous in tests/test_llm.py).

    Plan/scale: pure per-row projection over the scan — no shuffle, no
    UDF, whole-stage codegen'd; at 100 TB this is the map pass that
    runs fused with ingest. Exactness: ratios are int/int divisions in
    double (identical IEEE ops both engines); flags compare those
    exact doubles, so even the boundaries hash-match.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    mwl = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long"))
        .cast("double")
        / n.cast("double")
    )
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin("the", "be", "to", "of", "and", "that", "have", "with"))
    )
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).cast("double") / n.cast(
        "double"
    )
    sym = (
        F.regexp_count(F.col("text"), F.lit("#")) + F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
    ).cast("double") / n.cast("double")
    s = docs.select(
        "doc_id",
        n.alias("n_words"),
        mwl.alias("mean_word_len"),
        stop_hits.alias("stopword_hits"),
        alpha.alias("alpha_word_ratio"),
        sym.alias("symbol_word_ratio"),
    )
    p_wc = F.col("n_words").between(50, 100000)
    p_mwl = F.col("mean_word_len").between(3.0, 10.0)
    p_stop = F.col("stopword_hits") >= 2
    p_alpha = F.col("alpha_word_ratio") >= 0.8
    p_sym = F.col("symbol_word_ratio") <= 0.1
    return s.select(
        "*",
        p_wc.alias("pass_word_count"),
        p_mwl.alias("pass_mean_word_len"),
        p_stop.alias("pass_stopwords"),
        p_alpha.alias("pass_alpha_ratio"),
        p_sym.alias("pass_symbol_ratio"),
        (p_wc & p_mwl & p_stop & p_alpha & p_sym).alias("gopher_keep"),
    )


_SEMDEDUP_FIXED_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
sc AS (SELECT e.vec_id, e.v, c.cell, {_duck_cosine("e.v", "c.cv")} AS csim
       FROM e CROSS JOIN c),
asg AS (SELECT vec_id, v, cell, csim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cell) AS rn
        FROM sc),
r AS (SELECT vec_id, v, cell, csim,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY csim ASC, vec_id) AS rank
      FROM asg WHERE rn = 1),
d AS (SELECT b.vec_id AS vec_id,
             CAST(COUNT(*) AS INT) AS n_dominators,
             arg_min(a.vec_id, a.rank) AS pruned_by
      FROM r a JOIN r b ON a.cell = b.cell AND a.rank < b.rank
             AND {_duck_cosine("a.v", "b.v")} >= 0.35
      GROUP BY b.vec_id)
SELECT r.vec_id, r.cell, r.csim AS centroid_sim,
       COALESCE(d.n_dominators, 0) AS n_dominators, d.pruned_by,
       CASE WHEN d.pruned_by IS NULL THEN 'keep' ELSE 'prune' END AS action
FROM r LEFT JOIN d ON r.vec_id = d.vec_id
"""


@register("sim_semdedup_fixed_cells", oracle=_SEMDEDUP_FIXED_ORACLE)
def sim_semdedup_fixed_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus — partition into cells, then
    inside each cell prune every vector that has a semantically
    near-identical neighbor (cosine >= tau), keeping the most diverse
    representative (the member with the LOWEST cosine to its
    centroid, as the paper does).

    The cells are DETERMINISTIC and SQL-expressible instead of
    k-means: the 16 lowest-vec_id vectors serve as fixed centroids and
    every vector joins the centroid it is most cosine-similar to (ties
    → lowest cell id). One deliberate deviation from the paper's
    greedy-sequential prune: the one-round DOMINANCE rule — a vector
    is pruned iff some better-ranked vector in its cell (rank =
    centroid-cosine ascending, vec_id tiebreak) is within tau of it.
    Dominance needs one self-join instead of a sequential scan, is
    order- and partitioning-independent, and keeps the paper's two
    invariants (pinned in tests/test_llm.py): no two KEPT vectors in a
    cell are within tau, and every PRUNED vector names a better-ranked
    dominator within tau. The ranking, the dominance self-join, the
    dominator attribution and the keep/prune verdict all hash-match a
    DuckDB window-SQL re-derivation. centroid_sim is emitted
    UNROUNDED: both engines compute the identical left-fold dot/norm
    (``_duck_dot`` mirrors ``F.aggregate``'s seed-first order), the
    same bit-reproducibility contract ``sim_cosine_topk`` relies on.

    Plan/scale: the centroid table is 16 rows (broadcast); assignment
    is one map-side cross join + per-vector argmax window; quadratic
    work is confined within cells, so the cell count is the scale
    knob (the paper uses 50k cells for LAION; k grows with n), and
    the all-pairs cap guards the correctness-scale contract at fixed
    k=16.
    """
    tau = 0.35
    _guard_all_pairs_source(spark, sf_dir, "embeddings", "sim_semdedup_fixed_cells")
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "cell", cosine_similarity(F.col("v"), F.col("cv")).alias("csim")
    )
    ranked = (
        scored.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cell")),
        )
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "cell", "csim")
        .withColumn(
            "rank",
            F.row_number().over(W.partitionBy("cell").orderBy(F.col("csim").asc(), "vec_id")),
        )
    )
    # one LEFT join from every member to its (possibly absent)
    # dominators folds the dominance detection AND the verdict into a
    # single pass — `ranked` appears twice in the lineage, not three
    # times as a dominated-set + re-join shape would cost
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        b.join(
            a,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.rank") < F.col("b.rank"))
            & (cosine_similarity(F.col("a.v"), F.col("b.v")) >= tau),
            "left",
        )
        .groupBy(
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.cell").alias("cell"),
            F.col("b.csim").alias("centroid_sim"),
        )
        .agg(
            F.count(F.col("a.vec_id")).cast("int").alias("n_dominators"),
            F.min_by(F.col("a.vec_id"), F.col("a.rank")).alias("pruned_by"),
        )
        .select(
            "vec_id",
            "cell",
            "centroid_sim",
            "n_dominators",
            "pruned_by",
            F.when(F.col("pruned_by").isNull(), "keep").otherwise("prune").alias("action"),
        )
    )


@register(
    "sim_knn_label_vote",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    p AS (SELECT a.vec_id AS query_id, a.label AS true_label,
                 b.vec_id AS neighbor_id, b.label AS neighbor_label,
                 {_COS_AB} AS cosine_sim
          FROM e a JOIN e b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < 10),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine_sim DESC, neighbor_id) AS rank
          FROM p),
    v AS (SELECT query_id, true_label, neighbor_label,
                 CAST(COUNT(*) AS INT) AS n_votes,
                 MAX(cosine_sim) AS best_sim
          FROM r WHERE rank <= 5
          GROUP BY query_id, true_label, neighbor_label),
    w AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY n_votes DESC, best_sim DESC, neighbor_label) AS vr
          FROM v)
    SELECT query_id, CAST(true_label AS INT) AS true_label,
           CAST(neighbor_label AS INT) AS predicted_label, n_votes, best_sim
    FROM w WHERE vr = 1
    """,
)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by majority vote over the exact cosine
    top-5 — the canonical APPLIED end-task of the similarity family
    (auto-labeling / weak supervision over an embedding corpus): each
    query takes the plurality label of its 5 nearest neighbors, ties
    broken by best cosine then label — fully deterministic, so the
    whole pipeline (scoring, ranking, voting, tie-breaks) sits under
    the hash gate, which none of the ANN variants can offer.

    Plan: reuses ``sim_cosine_topk``'s scale shape — broadcast query
    set, map-side scoring, TWO-PHASE top-k (per-partition prune to
    <= k before the only wide shuffle) — then the vote is a groupBy
    over <= k rows per query and a one-row-per-query window. At
    100 TB the neighbor lists come from the ANN index
    (``sim_ann_lsh_topk`` candidates, exact re-rank) and the vote
    stage is unchanged — approximation lives in candidate selection
    only, never in the vote.
    """
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("true_label"),
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "true_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        cosine_similarity(F.col("qv"), F.col("v")).alias("cosine_sim"),
    )
    local = W.partitionBy("query_id", F.spark_partition_id()).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    final = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    knn = (
        scored.withColumn("lrank", F.row_number().over(local))
        .where(F.col("lrank") <= 5)
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= 5)
    )
    votes = knn.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count("*").cast("int").alias("n_votes"),
        F.max("cosine_sim").alias("best_sim"),
    )
    vw = W.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("best_sim").desc(), F.col("neighbor_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .where(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("neighbor_label").cast("int").alias("predicted_label"),
            "n_votes",
            "best_sim",
        )
    )


_RESIZE_THUMB_SQL = """
WITH h AS (SELECT doc_id, md5(text) || md5(text || '#t2') AS hx FROM documents)
SELECT doc_id,
       4 AS out_width, 2 AS out_height,
       upper(substr(hx, 1, 2) || substr(hx, 5, 2) || substr(hx, 9, 2) ||
             substr(hx, 13, 2) || substr(hx, 33, 2) || substr(hx, 37, 2) ||
             substr(hx, 41, 2) || substr(hx, 45, 2)) AS raster_hex
FROM h
"""


@register("multimodal_resize_thumbnail", oracle=_RESIZE_THUMB_SQL)
def multimodal_resize_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL raster resize under the hash gate — the thumbnailing pass
    of a media curation pipeline, on the ``multimodal_decode_features``
    construction (salted-suffix raster ``md5(text) || md5(text ||
    '#t2')`` — engine-stable on any input, unlike ``reverse()`` whose
    code-point/grapheme split diverges on non-ASCII text): every
    document becomes the same content-derived 8x4
    grayscale netpbm, then ``resize_media`` runs the Arrow-batched
    ``mapInPandas`` path with the REAL resizer
    (``functions.multimodal.resize_image``: decode -> nearest-neighbor
    resample -> netpbm re-encode) down to 4x2, and the query emits the
    resized raster bytes as hex. Nearest-neighbor with the floor
    convention ``src = floor(dst * src_dim / dst_dim)`` picks source
    pixel (2y, 2x) for every target (y, x) here, so the 8 output bytes
    are raster positions 0,2,4,6,16,18,20,22 — which the oracle
    re-derives directly from the md5 hex. Real decoder, real
    resampler, real re-encode, byte-exact across engines.

    100 TB: scan -> project -> mapInPandas -> project, shuffle-free,
    payload bytes never leave the executor that read them; the
    metadata columns (width/height) are rewritten in the same pass —
    the schema discipline a media pipeline needs so downstream
    consumers trust dimensions without re-decoding.
    """
    from vector_db_core_spark.functions.multimodal import resize_image, resize_media

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    hexs = F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("#t2"))))
    imgs = docs.select(
        "doc_id",
        F.concat(F.lit(b"P5\n8 4\n255\n"), F.unhex(hexs)).alias("payload"),
        F.lit(8).alias("width"),
        F.lit(4).alias("height"),
    )
    resized = resize_media(imgs, width=4, height=2, resizer=resize_image)
    # strip the fixed 11-byte "P5\n4 2\n255\n" header → 8 raster bytes
    return resized.select(
        "doc_id",
        F.col("width").alias("out_width"),
        F.col("height").alias("out_height"),
        F.substring(F.hex("payload"), 23, 16).alias("raster_hex"),
    )


@register(
    "text_top_bigram_char_fraction",
    oracle=r"""
    WITH t AS (SELECT doc_id, n_chars,
                      list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
               FROM documents),
    g AS (SELECT doc_id, n_chars, w[i] AS w1, w[i + 1] AS w2
          FROM t, UNNEST(generate_series(1, len(w) - 1)) AS u(i)),
    c AS (SELECT doc_id, n_chars, w1, w2, CAST(COUNT(*) AS INT) AS c
          FROM g GROUP BY doc_id, n_chars, w1, w2),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY c DESC, w1, w2) AS rn
          FROM c)
    SELECT doc_id,
           w1 || ' ' || w2 AS top_bigram,
           c AS top_count,
           CAST(c * (length(w1) + length(w2) + 1) AS DOUBLE)
             / CAST(n_chars AS DOUBLE) AS char_fraction,
           (CAST(c * (length(w1) + length(w2) + 1) AS DOUBLE)
             / CAST(n_chars AS DOUBLE) <= 0.20) AS pass_top_bigram
    FROM r WHERE rn = 1
    """,
)
def text_top_bigram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rule: fraction of a document's characters
    occupied by occurrences of its MOST FREQUENT word bigram
    (Rae et al. 2021 App. A caps it at 0.20 — boilerplate and
    template spam repeat one phrase until it dominates the byte
    count, which per-word measures like ``text_repetition_ratio``
    underweight). Completes the rule family next to
    ``text_gopher_quality_flags``'s word-shape rules: characters per
    occurrence = len(w1) + len(w2) + 1 (the joining space), over the
    fixture's ``n_chars``.

    Plan: the bigram pair stream (one explode), a per-doc pair count
    with map-side combine, and the argmax as a per-doc window with
    fully deterministic tie-breaks (count desc, then lexicographic) —
    two shuffles, both keyed on doc_id (+bigram), no join back to the
    corpus because ``n_chars`` rides the aggregation key. Integer
    counts and int/int double division — hash-exact on both engines.
    """
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", "n_chars", tokens(F.col("text")).alias("w"))
    pairs = _adjacent_bigrams(F.col("w"))
    g = t.select("doc_id", "n_chars", F.explode(pairs).alias("p")).select(
        "doc_id", "n_chars", "p.w1", "p.w2"
    )
    c = g.groupBy("doc_id", "n_chars", "w1", "w2").agg(
        F.count("*").cast("int").alias("c")
    )
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("c").desc(), "w1", "w2")
    )
    frac = (
        F.col("c") * (F.length("w1") + F.length("w2") + 1)
    ).cast("double") / F.col("n_chars").cast("double")
    return (
        c.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.concat_ws(" ", "w1", "w2").alias("top_bigram"),
            F.col("c").alias("top_count"),
            frac.alias("char_fraction"),
            (frac <= 0.20).alias("pass_top_bigram"),
        )
    )


@register(
    "text_top_ngram_char_fractions",
    oracle=rf"""
    WITH t AS (SELECT doc_id, n_chars, {_TOKS} AS w FROM documents),
    g AS (SELECT doc_id, n_chars, 3 AS n, array_to_string(w[i:i+2], ' ') AS s
          FROM t, UNNEST(generate_series(1, len(w) - 2)) AS u(i)
          UNION ALL
          SELECT doc_id, n_chars, 4 AS n, array_to_string(w[i:i+3], ' ') AS s
          FROM t, UNNEST(generate_series(1, len(w) - 3)) AS u(i)),
    c AS (SELECT doc_id, n_chars, n, s, CAST(COUNT(*) AS INT) AS c
          FROM g GROUP BY doc_id, n_chars, n, s),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                       ORDER BY c DESC, s) AS rn
          FROM c)
    SELECT doc_id, n, s AS top_ngram, c AS top_count,
           CAST(c * length(s) AS DOUBLE) / CAST(n_chars AS DOUBLE)
             AS char_fraction,
           (CAST(c * length(s) AS DOUBLE) / CAST(n_chars AS DOUBLE)
            <= CASE n WHEN 3 THEN 0.18 ELSE 0.16 END) AS pass_cap
    FROM r WHERE rn = 1
    """,
)
def text_top_ngram_char_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules, n-gram tail (Rae et al. 2021 App. A):
    fraction of a document's characters occupied by its MOST FREQUENT
    word 3-gram (cap 0.18) and 4-gram (cap 0.16), one output row per
    (doc, n) — completing the top-n-gram family next to
    ``text_top_bigram_char_fraction`` (n=2, cap 0.20). The remaining
    App. A repetition rules — duplicate line / paragraph fractions and
    duplicate 5..10-gram char fractions — are STRUCTURALLY VACUOUS on
    this fixture (single-line documents; zero within-doc duplicate
    5-grams or 10-grams at sf0.01, measured), so carrying them would
    ship all-constant oracles; at production they compose the same
    gram-stream plan with a (count-1)-weighted sum instead of an
    argmax. Short docs can exceed a cap with a single occurrence
    (4-gram chars > 16% of a tiny doc) — the published pipeline
    applies these AFTER the 50-word minimum, which is exactly how
    ``text_gopher_quality_flags.pass_word_count`` composes here.

    Plan/scale: BOTH gram sizes ride ONE corpus scan — per row the
    3-gram and 4-gram strings concatenate into a single
    array<struct<n,s>> and explode once (a union of two per-n
    branches would scan the corpus twice; at 100 TB the scan is the
    cost), then a per-(doc, n, gram) count with map-side combine and
    a per-(doc, n) argmax window with deterministic tie-breaks
    (count desc, gram lexicographic) — the identical two-shuffle
    shape as the bigram rule, both keyed on doc_id(+n). Integer
    counts, int/int double division: hash-exact.
    """
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", "n_chars", tokens(F.col("text")).alias("w"))

    def grams(n: int):
        return F.when(
            F.size("w") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.struct(
                    F.lit(n).alias("n"), F.array_join(F.slice("w", i, n), " ").alias("s")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,s:string>>"))

    g = t.select(
        "doc_id", "n_chars", F.explode(F.concat(grams(3), grams(4))).alias("p")
    ).select("doc_id", "n_chars", "p.n", "p.s")
    c = g.groupBy("doc_id", "n_chars", "n", "s").agg(F.count("*").cast("int").alias("c"))
    rn = F.row_number().over(
        W.partitionBy("doc_id", "n").orderBy(F.col("c").desc(), "s")
    )
    frac = (F.col("c") * F.length("s")).cast("double") / F.col("n_chars").cast("double")
    cap = F.when(F.col("n") == 3, F.lit(0.18)).otherwise(F.lit(0.16))
    return (
        c.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "n",
            F.col("s").alias("top_ngram"),
            F.col("c").alias("top_count"),
            frac.alias("char_fraction"),
            (frac <= cap).alias("pass_cap"),
        )
    )


@register(
    "text_span_novelty",
    oracle=f"""
    WITH {textwrap.indent(_DOC_SPANS_SQL, "    ").lstrip()}
    df AS (SELECT span, CAST(COUNT(*) AS INT) AS span_df FROM sp GROUP BY span)
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN span_df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_spans,
           CAST(SUM(CASE WHEN span_df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_fraction
    FROM sp JOIN df USING (span)
    GROUP BY sp.doc_id
    """,
)
def text_span_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOCUMENT span novelty / memorization-risk score (Lee et al.
    2021, arXiv:2107.06499 §5's doc-level aggregate): for each
    document, the fraction of its DISTINCT 8-token spans that occur
    verbatim in at least one other document. This is the production
    answer to pair-emitting span dedup's output blow-up (BASELINE.md
    §D): the verdict on a document needs only its duplicated-span
    COUNT, not the identity of every partner, so output is one row per
    doc — LINEAR in corpus size no matter how duplicated the corpus
    is, where ``dedup_span_pairs`` legitimately grows with C(n,2) on
    twin-heavy data. Curation uses it as "drop/trim docs whose
    dup_fraction exceeds tau" (the Lee et al. policy at corpus scale).

    Plan: ONE corpus scan explodes per-doc DISTINCT spans; the span
    doc-frequency rides a window count over the span partitioning
    (the ``dedup_span_pairs`` count-gate shape, r14): one exchange of
    the generated span stream + a partition-local sort, then the
    per-doc aggregate — where the r13 groupBy-then-join form
    BROADCAST the df aggregate and therefore scanned, tokenized and
    span-generated the corpus TWICE (two Generate subtrees over
    documents.parquet in the executed plan; the span generation is
    the query's dominant cost). Two shuffles total (span, doc_id); no
    pair join anywhere. At 100 TB the span string key can swap for
    ``xxhash64(span)`` to shrink the widest shuffle (string keys here
    keep the integer counts DuckDB-exact under the hash gate). Counts are integers; dup_fraction is one
    int/int double division — exact."""
    t = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= _SPAN_W)
    )
    spans = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (_SPAN_W - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, _SPAN_W)),
                )
            )
        ).alias("span"),
    )
    span_df = F.count("*").over(W.partitionBy("span"))
    dup = (F.col("span_df") > 1).cast("long")
    return (
        spans.withColumn("span_df", span_df)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(dup).alias("dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_spans",
            (F.col("dup_spans").cast("double") / F.col("n_spans").cast("double")).alias(
                "dup_fraction"
            ),
        )
    )


@register(
    "sim_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    p AS (SELECT a.vec_id AS query_id, a.label AS query_label,
                 b.vec_id AS negative_id, b.label AS negative_label,
                 {_COS_AB} AS cosine_sim
          FROM e a JOIN e b ON b.label <> a.label
          WHERE a.vec_id < 10),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine_sim DESC, negative_id) AS rank
          FROM p)
    SELECT query_id, CAST(query_label AS INT) AS query_label,
           negative_id, CAST(negative_label AS INT) AS negative_label,
           CAST(rank AS INT) AS rank, cosine_sim
    FROM r WHERE rank <= 3
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training (the SimCSE /
    sentence-transformers / FlagEmbedding data-prep step): for each
    query vector, the top-3 most-similar vectors carrying a DIFFERENT
    label — the negatives that sit closest to the decision boundary
    and therefore teach a contrastive loss the most. The similarity
    family's second applied end-task next to ``sim_knn_label_vote``
    (same scoring, opposite selection: the vote wants agreeing
    neighbors, mining wants confusable non-members).

    Plan: ``sim_cosine_topk``'s scale shape verbatim — broadcast query
    set, map-side exact-cosine scoring with the label filter FUSED
    into the broadcast-join condition (non-matching labels never
    leave the scoring task), then the TWO-PHASE top-k: per-partition
    ``row_number`` prunes each task's stream to <= 3 rows before the
    only wide shuffle ranks the global top-3. Deterministic ties
    (cosine desc, negative_id), raw-double cosine in the identical
    fold order as the DuckDB oracle — fully under the hash gate. At
    100 TB candidates come from the ANN index (``sim_ann_lsh_topk``)
    with the label predicate pushed into the bucket join; the mining
    selection is unchanged."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("query_label"),
    )
    scored = e.join(F.broadcast(q), F.col("label") != F.col("query_label")).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cosine_similarity(F.col("qv"), F.col("v")).alias("cosine_sim"),
    )
    local = W.partitionBy("query_id", F.spark_partition_id()).orderBy(
        F.col("cosine_sim").desc(), F.col("negative_id")
    )
    final = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("negative_id"))
    return (
        scored.withColumn("lrank", F.row_number().over(local))
        .where(F.col("lrank") <= 3)
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= 3)
        .select(
            "query_id",
            F.col("query_label").cast("int").alias("query_label"),
            "negative_id",
            F.col("negative_label").cast("int").alias("negative_label"),
            F.col("rank").cast("int").alias("rank"),
            "cosine_sim",
        )
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text,
                      greatest(1, length(text) // 4) AS step
               FROM documents),
    f AS (SELECT media_id, i AS frame_idx,
                 substr(text, i * step + 1, step) AS fr
          FROM m, UNNEST(generate_series(0, 3)) AS u(i))
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(fr) AS INT) AS frame_len, md5(fr) AS frame_md5
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video FRAME SAMPLING plumbing under the hash gate: every media
    row fans out to 4 frames via ``functions.multimodal.sample_frames``
    — the REAL Arrow-batched ``mapInPandas`` 1→N path a video curation
    pipeline runs (demux → sample keyframes → per-frame features), with
    the container-appropriate stub sampler (contiguous byte slices,
    step = len//4 — deterministic, so the emitted frame BYTES are
    oracle-checkable; a real demuxer drops in behind the same
    signature, `functions/multimodal.py` FRAMES_SCHEMA). The digest +
    length projection keeps the comparison row-sized while pinning
    every payload byte.

    Plan/scale: the 1→N fan-out happens INSIDE the Arrow batch — no
    join, no explode shuffle; frames inherit the input partitioning
    (frames of one video stay in one task, the locality every
    per-frame feature step wants), and downstream md5/length are
    codegen'd JVM expressions. The fixture's text bytes play the
    payload (no media libs in the container) — schema, batch shape,
    and partitioning are exactly the production ones."""
    from vector_db_core_spark.functions.multimodal import (
        media_table_from_documents,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    media = media_table_from_documents(docs).select("media_id", "payload")
    frames = sample_frames(media, 4)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length("frame_payload").alias("frame_len"),
        F.md5("frame_payload").alias("frame_md5"),
    )


@register(
    "text_quality_threshold_sweep",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE))
               + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a')))
                                   AS DOUBLE) / CAST(len(toks) AS DOUBLE))
               + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS q
          FROM t),
    g AS (SELECT lang, q, i AS step FROM s, UNNEST(generate_series(0, 9)) AS u(i))
    SELECT lang, CAST(step AS INT) AS step,
           round(step / 10.0, 1) AS threshold,
           CAST(SUM(CASE WHEN q >= step / 10.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN q >= step / 10.0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS pass_rate
    FROM g GROUP BY lang, step
    """,
)
def text_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION SWEEP over the quality filter: per (lang,
    threshold in 0.0..0.9) the keep-rate the ``text_quality_score``
    classifier would produce — the table a curation team reads to pick
    an operating point (and to spot a threshold that silently drops a
    whole language, the classic multilingual-filter failure the
    sweep's per-lang breakdown exists to catch).

    Plan/scale: one corpus scan computes the score per doc (identical
    expression to text_quality_score, shared derivation); a 10-way
    threshold fan-out rides the SAME scan (explode of a literal
    sequence — 10x rows of a 2-column projection, far cheaper than 10
    scans), then one map-side-combined groupBy over (lang, step) —
    output is |langs| x 10 rows. Integer counts, one int/int division:
    hash-exact. The CASE boundary (q >= step/10) is stable because
    both engines evaluate the identical double expression on identical
    int inputs."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    stop = F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("double") / n.cast("double")
    q = (
        F.lit(0.5) * ttr
        + F.lit(0.3) * (F.lit(1.0) - stop)
        + F.lit(0.2) * F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    )
    s = docs.select("lang", q.alias("q"))
    g = s.select("lang", "q", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("step"))
    thr = F.col("step").cast("double") / 10.0
    return (
        g.groupBy("lang", "step")
        .agg(
            F.sum((F.col("q") >= thr).cast("long")).alias("n_pass"),
            F.count("*").alias("n_docs"),
        )
        .select(
            "lang",
            F.col("step").cast("int").alias("step"),
            F.round(F.col("step").cast("double") / 10.0, 1).alias("threshold"),
            "n_pass",
            "n_docs",
            (F.col("n_pass").cast("double") / F.col("n_docs").cast("double")).alias(
                "pass_rate"
            ),
        )
    )


@register(
    "text_perplexity_buckets",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
                 FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok),
    freq AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    lp AS (SELECT doc_id,
                  round(CAST(SUM(CAST(ln(c / (SELECT n FROM tot)) AS DECIMAL(27,15))) AS DOUBLE)
                        / COUNT(*), 6) AS avg_logprob
           FROM tok JOIN freq USING (token)
           GROUP BY doc_id),
    q AS (SELECT quantile_cont(avg_logprob, 2.0 / 3.0) AS q_head,
                 quantile_cont(avg_logprob, 1.0 / 3.0) AS q_mid
          FROM lp)
    SELECT doc_id, avg_logprob,
           CASE WHEN avg_logprob >= q_head THEN 'head'
                WHEN avg_logprob >= q_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lp, q
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score every document under a language model and
    split the corpus into head / middle / tail TERCILES by score — the
    standard pre-training recipe that keeps the well-formed third,
    samples the middle, and drops (or down-weights) the tail. The LM
    here is the corpus unigram model (the same cheap perplexity
    stand-in ``text_unigram_logprob`` uses and shares its derivation
    with); CCNet's 5-gram KenLM drops in by replacing the scoring
    join, the bucketing algebra is identical. Higher avg token
    log-probability == lower perplexity == 'head'.

    Plan/scale: the score table comes from ``_doc_avg_logprob`` (one
    corpus scan reduced to a persisted doc-term-frequency table,
    DECIMAL-cast order-free sums) and is itself PERSISTED because two
    consumers read it (the tercile aggregate and the final tagging
    select). The tercile cut points are ONE exact two-quantile
    aggregate broadcast back as a one-row frame, so the bucket tag is
    a map-side CASE — at 100 TB swap in ``approx_percentile`` for the
    cut points (the documented exact/approx twin policy) and nothing
    else changes. Spark exact ``percentile`` == DuckDB
    ``quantile_cont`` bit-for-bit (the contract
    ``pipeline_curriculum_phases`` pins)."""
    lp = _doc_avg_logprob(_t(spark, sf_dir, "documents")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    q = lp.agg(
        F.percentile("avg_logprob", 2.0 / 3.0).alias("q_head"),
        F.percentile("avg_logprob", 1.0 / 3.0).alias("q_mid"),
    )
    return lp.crossJoin(F.broadcast(q)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("q_head"), "head")
        .when(F.col("avg_logprob") >= F.col("q_mid"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@register(
    "dedup_paragraph_keep_first",
    oracle=r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
               FROM documents),
    segs AS (SELECT doc_id, i AS seg_idx,
                    array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg
             FROM t, UNNEST(generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS u(i)
             WHERE len(toks) >= 1),
    r AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
          FROM segs)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paragraphs,
           round(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS dup_fraction
    FROM r GROUP BY doc_id
    """,
)
def dedup_paragraph_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level exact dedup with keep-first semantics — the C4
    recipe (Raffel et al. 2020, arXiv:1910.10683 §2.2: "discard all
    but one of any three-sentence span occurring more than once") on
    the fixture's sentence-free text: paragraphs are non-overlapping
    8-token segments, the FIRST occurrence corpus-wide (ordered by
    doc_id, seg_idx) owns the paragraph, every later occurrence is a
    removal. Output is the per-document removal ledger (counts +
    fraction) a curation run records before rewriting the corpus —
    unlike ``dedup_span_pairs`` (which reports pairs) this decides WHO
    KEEPS the text.

    Plan/scale: segment enumeration is codegen array slicing on the
    scan (map-only); ONE hash shuffle on the paragraph key feeds the
    keep-first ``row_number`` (per-key ordering, no global sort); the
    per-doc rollup is a second map-side-combined shuffle. At 100 TB
    the paragraph string shuffles as ``xxhash64(seg)`` (~10x smaller
    exchange; kept as strings so DuckDB can mirror the query) and a
    boilerplate frequency cap like ``dedup_span_pairs``' bounds
    worst-case key skew; AQE's skew split handles the rest."""
    t = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 1)
    )
    segs = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("toks") / F.lit(8.0)).cast("int") - 1,
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i * 8 + 1, 8)),
            )
        ).alias("seg_idx", "seg"),
    )
    w = W.partitionBy("seg").orderBy("doc_id", "seg_idx")
    r = segs.withColumn("rn", F.row_number().over(w))
    dup = (F.col("rn") > 1).cast("long")
    return r.groupBy("doc_id").agg(
        F.count("*").alias("n_paragraphs"),
        F.sum(dup).alias("n_dup_paragraphs"),
        F.round(
            F.sum(dup).cast("double") / F.count("*"), 6
        ).alias("dup_fraction"),
    )


@register(
    "text_zipf_fit",
    oracle=r"""
    WITH tok AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
                 FROM documents),
    vocab AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
                   CAST(SUM(c) AS BIGINT) AS total_tokens
            FROM vocab),
    r AS (SELECT c, rank FROM
            (SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rank
             FROM vocab)
          WHERE rank <= 10000),
    fit AS (SELECT round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS zipf_slope,
                   round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS log_intercept,
                   round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS r2,
                   CAST(COUNT(*) AS BIGINT) AS n_ranked
            FROM r)
    SELECT zipf_slope, log_intercept, r2, n_ranked, vocab_size, total_tokens
    FROM fit CROSS JOIN tot
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope
    / intercept / R² of ln(frequency) on ln(rank) — the one-row corpus
    health statistic curation teams track (natural text fits slope
    ≈ −1; synthetic, templated, or tokenizer-broken corpora bend the
    curve, and a slope drifting round-over-round means the ingest mix
    changed). SQL-standard ``regr_*`` co-moment aggregates; ln
    magnitudes are small and well-conditioned so round(6) absorbs
    accumulation-order drift (the ``agg_linear_regression`` policy).

    Plan/scale: the corpus reduces to the vocab table in one
    map-side-combined shuffle — everything after runs on |vocab| rows.
    The fit uses only the TOP-10,000 terms: Zipf fits are
    head-dominated (the ln-ln least squares over the full vocabulary
    is swamped by the hapax tail anyway, a known estimator bias —
    Clauset/Shalizi/Newman 2009 recommend truncation), and the cap
    turns the rank assignment into ``orderBy.limit`` =
    TakeOrderedAndProject (per-partition heaps, never a vocab-sized
    single-partition sort; the residual row_number window runs on
    <= 10k rows — constant-bounded at any corpus size). The
    tail-truncation is part of the operator's DEFINITION, stated
    identically in the oracle (``rank <= 10000``); full-corpus
    ``vocab_size`` / ``total_tokens`` come from a separate one-row
    aggregate of the whole vocab table, broadcast-cross-joined."""
    tok = _t(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = vocab.agg(
        F.count("*").alias("vocab_size"), F.sum("c").alias("total_tokens")
    )
    head = vocab.orderBy(F.desc("c"), F.asc("token")).limit(10000)
    r = head.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("c"), F.asc("token")))
    )
    y = F.log(F.col("c").cast("double"))
    x = F.log(F.col("rank").cast("double"))
    fit = r.agg(
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("log_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.count("*").alias("n_ranked"),
    )
    return fit.crossJoin(F.broadcast(tot))


@register(
    "text_distinct_ngrams",
    oracle=f"""
    WITH t AS (SELECT source, {_TOKS} AS w FROM documents),
    g AS (SELECT source,
                 unnest(list_transform(generate_series(1, len(w) - 2),
                        i -> array_to_string(w[i:i+2], ' '))) AS tri,
                 NULL AS uni, NULL AS bi
          FROM t WHERE len(w) >= 3
          UNION ALL
          SELECT source, NULL,
                 unnest(w), NULL
          FROM t
          UNION ALL
          SELECT source, NULL, NULL,
                 unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> array_to_string(w[i:i+1], ' ')))
          FROM t WHERE len(w) >= 2),
    s AS (SELECT source,
                 CAST(COUNT(uni) AS BIGINT) AS n_uni,
                 CAST(COUNT(DISTINCT uni) AS BIGINT) AS d_uni,
                 CAST(COUNT(bi) AS BIGINT) AS n_bi,
                 CAST(COUNT(DISTINCT bi) AS BIGINT) AS d_bi,
                 CAST(COUNT(tri) AS BIGINT) AS n_tri,
                 CAST(COUNT(DISTINCT tri) AS BIGINT) AS d_tri
          FROM g GROUP BY source)
    SELECT source, n_uni AS total_unigrams,
           round(CAST(d_uni AS DOUBLE) / NULLIF(n_uni, 0), 6) AS distinct_1,
           round(CAST(d_bi AS DOUBLE) / NULLIF(n_bi, 0), 6) AS distinct_2,
           round(CAST(d_tri AS DOUBLE) / NULLIF(n_tri, 0), 6) AS distinct_3
    FROM s
    """,
)
def text_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-N DIVERSITY per source (Li et al. 2016, "A
    Diversity-Promoting Objective Function for Neural Conversation
    Models" — distinct-1/distinct-2 became the standard corpus- and
    generation-diversity read): the ratio of DISTINCT n-grams to
    total n-grams for n = 1, 2, 3, per document source. Low
    distinct-2/3 flags a templated or self-repeating source (the
    corpus-level cousin of ``text_repetition_ratio``'s per-document
    read; MATTR reads within-document diversity — three different
    questions). Bigrams/trigrams use the shared space-joined shingle
    construction.

    Exactness: counts and distinct counts are exact integers (one
    stacked explode; COUNT(col)/COUNT(DISTINCT col) skip the other
    grams' NULL rows identically in both engines); the ratios are
    single divisions + round(6). Documents shorter than n emit no
    n-grams, stated identically via the length guards.

    Plan/scale: the explode is map-side (3x token fan-out); the one
    shuffle is the per-(source, gram) distinct — high-cardinality and
    evenly spread (gram keys), the same shape as the vocab builds. At
    100 TB swap exact distinct for approx_count_distinct per the
    documented exact/approx twin policy; output is |sources| rows.
    STRICT windows only (docs shorter than n emit no n-grams) — NOT
    ``shingles_of_tokens``, whose whole-text fallback for short docs
    is a similarity-recall device this diversity ratio must not
    inherit."""
    from vector_db_core_spark.functions.text import tokens

    t = _t(spark, sf_dir, "documents").select(
        "source", tokens("text").alias("w")
    )

    def grams(n: int) -> F.Column:
        win = F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> array_join(slice(w, i, {n}), ' '))"
        )
        # sequence(1, k) DESCENDS for k < 1 — guard empties explicitly
        return F.when(F.size("w") >= n, win).otherwise(
            F.expr("array()").cast("array<string>")
        )

    uni = t.select("source", F.explode(grams(1)).alias("g")).withColumn(
        "n", F.lit(1)
    )
    bi = t.select("source", F.explode(grams(2)).alias("g")).withColumn(
        "n", F.lit(2)
    )
    tri = t.select("source", F.explode(grams(3)).alias("g")).withColumn(
        "n", F.lit(3)
    )
    s = (
        uni.unionByName(bi)
        .unionByName(tri)
        .groupBy("source", "n")
        .agg(
            F.count("*").cast("bigint").alias("tot"),
            F.countDistinct("g").cast("bigint").alias("dst"),
        )
    )
    ratio = F.round(F.col("dst").cast("double") / F.col("tot"), 6)
    return (
        s.groupBy("source")
        .agg(
            F.max(F.when(F.col("n") == 1, F.col("tot"))).alias("total_unigrams"),
            F.max(F.when(F.col("n") == 1, ratio)).alias("distinct_1"),
            F.max(F.when(F.col("n") == 2, ratio)).alias("distinct_2"),
            F.max(F.when(F.col("n") == 3, ratio)).alias("distinct_3"),
        )
    )


#: Linear-counting grid width for the distinct-n approx twin.
_LC_M = 65536

_DISTINCT_NGRAMS_APPROX_SQL = f"""
WITH t AS (SELECT source, {_TOKS} AS w FROM documents),
g AS (SELECT source, 1 AS n, unnest(w) AS gr FROM t
      UNION ALL
      SELECT source, 2,
             unnest(list_transform(generate_series(1, len(w) - 1),
                    i -> array_to_string(w[i:i+1], ' ')))
      FROM t WHERE len(w) >= 2
      UNION ALL
      SELECT source, 3,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> array_to_string(w[i:i+2], ' ')))
      FROM t WHERE len(w) >= 3),
b AS (SELECT source, n,
             ('0x' || substr(md5(gr || '|lcng'), 1, 4))::INT AS bkt,
             COUNT(*) AS c
      FROM g GROUP BY 1, 2, 3),
s AS (SELECT source, n,
             CAST(COUNT(*) AS BIGINT) AS occupied,
             CAST(SUM(c) AS BIGINT) AS tot
      FROM b GROUP BY 1, 2),
e AS (SELECT source, n, tot,
             CASE WHEN occupied < {_LC_M}
                  THEN -CAST({_LC_M} AS DOUBLE)
                       * ln((CAST({_LC_M} AS DOUBLE) - occupied)
                            / CAST({_LC_M} AS DOUBLE))
             END AS est_d
      FROM s)
SELECT source,
       MAX(CASE WHEN n = 1 THEN tot END) AS total_unigrams,
       round(MAX(CASE WHEN n = 1 THEN est_d / tot END), 6) AS distinct_1,
       round(MAX(CASE WHEN n = 2 THEN est_d / tot END), 6) AS distinct_2,
       round(MAX(CASE WHEN n = 3 THEN est_d / tot END), 6) AS distinct_3
FROM e GROUP BY source
"""


@register("text_distinct_ngrams_approx", oracle=_DISTINCT_NGRAMS_APPROX_SQL)
def text_distinct_ngrams_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-N DIVERSITY, the SCALE TWIN (r12-verdict task 4):
    ``text_distinct_ngrams``'s per-(source, gram) exact distinct is
    vocab-sized by definition — its ladder slope (3.3x/decade) IS the
    vocabulary growth. This twin replaces the exact distinct with
    LINEAR PROBABILISTIC COUNTING (Whang, Vander-Zanden & Taylor
    1990): hash every gram into a fixed m={_LC_M}-bucket md5 grid,
    count OCCUPIED buckets per (source, n), and estimate
    D = -m * ln(empty fraction). Same output shape as the exact op
    (total unigrams + distinct-1/2/3 ratios), estimates in place of
    exact ratios.

    Exactness (the md5-bucket device, the
    ``profile_column_entropy_bucketed`` precedent — Spark's native
    ``approx_count_distinct`` HLL has no DuckDB analog, so the
    estimator itself is re-expressed in shared primitives): buckets
    are the first 4 hex digits of salted md5 (16 bits = the grid,
    engine-stable); occupied counts and totals are exact integers;
    the estimator is one fixed double expression over two integers
    (m CAST AS DOUBLE on the DuckDB side — the decimal-literal
    trap) + round(6); a saturated grid (occupied == m) emits NULL in
    both engines rather than ln(0).

    Plan/scale: ONE aggregation pass — groupBy (source, n, bucket)
    map-side-combines the 3x token fan-out straight down to a grid
    BOUNDED at |sources| x 3 x m rows regardless of corpus size (the
    exact twin's shuffle grows with the vocabulary; this one never
    does), then |sources| x 3 estimator rows. Accuracy is a load
    question: at ~30k distinct trigrams per source (~sf1) the load is
    0.5 and the estimator sits within ~1%; the pytest pins approx vs
    exact within 2% at gate scale. At true 100 TB loads you widen m
    or swap in approx_count_distinct (HLL) — the same plan shape with
    a mergeable sketch, stated."""
    from vector_db_core_spark.functions.text import tokens

    t = _t(spark, sf_dir, "documents").select(
        "source", tokens("text").alias("w")
    )

    def grams(n: int) -> F.Column:
        win = F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> array_join(slice(w, i, {n}), ' '))"
        )
        return F.when(F.size("w") >= n, win).otherwise(
            F.expr("array()").cast("array<string>")
        )

    stack = None
    for n in (1, 2, 3):
        part = t.select(
            "source", F.lit(n).alias("n"), F.explode(grams(n)).alias("gr")
        )
        stack = part if stack is None else stack.unionByName(part)
    bkt = F.conv(
        F.substring(F.md5(F.concat(F.col("gr"), F.lit("|lcng"))), 1, 4), 16, 10
    ).cast("int")
    b = stack.groupBy("source", "n", bkt.alias("bkt")).agg(
        F.count("*").alias("c")
    )
    s = b.groupBy("source", "n").agg(
        F.count("*").cast("bigint").alias("occupied"),
        F.sum("c").cast("bigint").alias("tot"),
    )
    m = F.lit(float(_LC_M))
    est_d = F.when(
        F.col("occupied") < _LC_M,
        -m * F.log((m - F.col("occupied")) / m),
    )
    e = s.select("source", "n", "tot", est_d.alias("est_d"))
    ratio = F.round(F.col("est_d") / F.col("tot"), 6)
    return e.groupBy("source").agg(
        F.max(F.when(F.col("n") == 1, F.col("tot"))).alias("total_unigrams"),
        F.max(F.when(F.col("n") == 1, ratio)).alias("distinct_1"),
        F.max(F.when(F.col("n") == 2, ratio)).alias("distinct_2"),
        F.max(F.when(F.col("n") == 3, ratio)).alias("distinct_3"),
    )


@register(
    "text_mattr_diversity",
    oracle=r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
               FROM documents),
    p AS (SELECT doc_id, w, len(w) AS n,
                 least(25, len(w)) AS win
          FROM t WHERE len(w) >= 1)
    SELECT doc_id,
           CAST(n AS INT) AS n_tokens,
           CAST(win AS INT) AS window_size,
           CAST(n - win + 1 AS INT) AS n_windows,
           round(CAST(list_sum(list_transform(generate_series(1, n - win + 1),
                                              i -> len(list_distinct(w[i : i + win - 1]))))
                      AS DOUBLE)
                 / (win * (n - win + 1)), 6) AS mattr
    FROM p
    """,
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — Moving-Average Type-Token Ratio (Covington & McFall
    2010, JQL 17:94): mean TTR over every sliding 25-token window, the
    length-INDEPENDENT lexical-diversity score (plain TTR falls with
    document length, so filtering on it silently biases against long
    documents — the failure mode MATTR exists to fix; docs shorter
    than the window fall back to their exact TTR via
    ``window = min(25, n)``).

    Plan/scale: entirely inside whole-stage codegen on the scan — the
    token array materializes once per row and every window is an O(w)
    ``slice`` + ``array_distinct`` over it (O(n*w) character work per
    document, zero shuffles, zero joins; at 100 TB this is the
    map-only shape that scales embarrassingly). Exactness: per-window
    distinct counts are INTEGERS, summed exactly; one final integer /
    integer division then round(6) — no float accumulation anywhere."""
    t = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .where(F.size("w") >= 1)
    )
    n = F.size("w")
    win = F.least(F.lit(25), n)
    counts = F.transform(
        F.sequence(F.lit(1), n - win + 1),
        lambda i: F.size(F.array_distinct(F.slice(F.col("w"), i, win))),
    )
    total = F.aggregate(counts, F.lit(0).cast("long"), lambda a, x: a + x)
    return t.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        win.cast("int").alias("window_size"),
        (n - win + 1).cast("int").alias("n_windows"),
        F.round(
            total.cast("double") / (win * (n - win + 1)).cast("double"), 6
        ).alias("mattr"),
    )


def _pca_power_sql(iters: int = 8) -> str:
    """Integer power-iteration oracle: covariance accumulation and all
    8 matrix-vector steps as chained CTEs running the IDENTICAL
    integer recurrence (DuckDB ``//`` and Spark ``div`` both truncate
    toward zero — verified; all products bounded inside BIGINT)."""
    head = """
    WITH x AS (SELECT label, vec_id, i,
                      -- CAST to DOUBLE first: DuckDB multiplies FLOAT by a
                      -- literal IN FLOAT, and float32 resolution at ~3e5 is
                      -- coarser than the .5 rounding boundary
                      CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS xm
               FROM embeddings,
                    UNNEST(generate_series(0, len(embedding) - 1)) AS u(i)),
    mu AS (SELECT label, i, CAST(SUM(xm) // COUNT(*) AS BIGINT) AS mu
           FROM x GROUP BY label, i),
    c AS (SELECT x.label, x.vec_id, x.i, x.xm - mu.mu AS cx
          FROM x JOIN mu ON mu.label = x.label AND mu.i = x.i),
    cm AS (SELECT a.label, a.i AS i, b.i AS j,
                  CAST(SUM(a.cx * b.cx) // 1000000 AS BIGINT) AS cij
           FROM c a JOIN c b ON a.label = b.label AND a.vec_id = b.vec_id
           GROUP BY a.label, a.i, b.i),
    v0 AS (SELECT DISTINCT label, j, CAST(1000000 AS BIGINT) AS v
           FROM (SELECT label, j FROM cm))"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    r{k} AS (SELECT cm.label, cm.i, SUM(cm.cij * v.v) AS raw
             FROM cm JOIN v{k - 1} v ON v.label = cm.label AND v.j = cm.j
             GROUP BY cm.label, cm.i),
    v{k} AS (SELECT label, i AS j,
                    CAST(raw // ((MAX(abs(raw)) OVER (PARTITION BY label)
                                  // 1000000) + 1) AS BIGINT) AS v
             FROM r{k})""")
    return head + "".join(steps) + f"""
    , sgn AS (SELECT label,
                     CASE WHEN MIN(CASE WHEN rn = 1 AND v < 0 THEN 1 ELSE 0 END) = 1
                          THEN -1 ELSE 1 END AS s
              FROM (SELECT label, v,
                           row_number() OVER (PARTITION BY label
                                              ORDER BY abs(v) DESC, j) AS rn
                    FROM v{iters})
              WHERE rn = 1 GROUP BY label)
    SELECT v.label, CAST(v.j AS INT) AS dim,
           CAST(v.v * sgn.s AS BIGINT) AS loading_micro
    FROM v{iters} v JOIN sgn ON sgn.label = v.label
    """


@register("sim_pca_power_iteration_exact", oracle=_pca_power_sql())
def sim_pca_power_iteration_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL decomposition under the FULL hash gate — per-label
    top principal component of the embedding cloud: per label, 8 power
    iterations toward the covariance top eigenvector, every step pure
    integer (micro-quantized embeddings; centered co-moments
    accumulated exactly; per-step renormalization by truncating
    division with the label's max-|component| — both engines'
    integer division truncates toward zero, verified) — so the
    loading VECTOR hash-matches DuckDB, the same boundary-removal as
    the integer PageRank / EWMA / sketch twins. Sign fixed by making
    the largest-|loading| dimension positive (ties to the lowest
    dim). The pytest pins its direction against a numpy float power
    iteration from the same start.

    Plan/scale: the covariance build is the only corpus-sized work,
    and it runs with ZERO row fan-out — a treeAggregate-style
    ``F.aggregate`` over outer-product arrays.
    The centered micro-vector stays a d-length ARRAY column (mean
    vector broadcast back as an array, ``zip_with`` subtraction);
    vectors fold into d²-cell co-moment partials in two bounded
    micro-group levels (64 raw 512-byte vectors per level-1 group —
    partition-local contiguous ids, so collect_list partials complete
    map-side; the outer product is computed INSIDE the fold lambda,
    transient per vector, never a shuffled column), so shuffled bytes
    stay ~corpus-sized and the only generate is the level-2 partials
    exploding to ~corpus/4096·d² ≈ 1× corpus rows straight into a
    map-side-combined (label, i, j) cell aggregate. Grouping is
    arbitrary-safe: integer addition is exact and commutative, so any
    micro-group assignment yields the identical cells. The partials
    then reduce to ONE d×d MATRIX PER LABEL inside a single Arrow
    kernel that runs all 8 mat-vec iterations in exact int64 numpy —
    the r14 rewrite: the first cut kept cm as a |labels|·d² CELL
    TABLE and paid a join + groupBy + window PER ITERATION (~24
    exchanges of a corpus-independent frame; measured 10.4 s at sf0.1
    with the mat-vec loop dominating), where the per-label matrix was
    always bounded (d² cells, independent of corpus size) — the
    distributed iteration bought nothing. Same integer recurrence
    (divisions as sign·(|a| div m), trunc toward zero — matching
    Spark `div`/DuckDB `//`), same oracle, hashes unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    ).withColumn(
        "xm_arr", F.expr("transform(e, v -> cast(round(v * 1000000.0, 0) as bigint))")
    )
    x = emb.select("label", F.posexplode("xm_arr").alias("i", "xm"))
    mu = x.groupBy("label", "i").agg(F.expr("sum(xm) div count(*)").alias("mu"))
    mu_arr = mu.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, mu))), s -> s.mu)"
        ).alias("mu_arr")
    )
    cx = (
        emb.join(F.broadcast(mu_arr), "label")
        .select(
            "label",
            F.expr("zip_with(xm_arr, mu_arr, (x, m) -> x - m)").alias("cx_arr"),
        )
        .withColumn("g", F.expr("monotonically_increasing_id() div 64"))
    )
    p1 = (
        cx.groupBy("label", "g")
        .agg(F.collect_list("cx_arr").alias("vs"))
        .select(
            "label",
            F.expr("g div 64").alias("g2"),
            F.size(F.expr("vs[0]")).alias("d"),
            F.expr(
                "aggregate(vs,"
                " array_repeat(cast(0 as bigint), size(vs[0]) * size(vs[0])),"
                " (acc, v) -> zip_with(acc,"
                "   flatten(transform(v, a -> transform(v, b -> a * b))),"
                "   (p, q) -> p + q))"
            ).alias("ps"),
        )
    )
    p2 = (
        p1.groupBy("label", "g2")
        .agg(F.min("d").alias("d"), F.collect_list("ps").alias("pss"))
        .select(
            "label",
            "d",
            F.expr(
                "aggregate(pss, array_repeat(cast(0 as bigint), size(pss[0])),"
                " (acc, v) -> zip_with(acc, v, (p, q) -> p + q))"
            ).alias("ps"),
        )
    )
    # r15 (ADVICE): one more Spark-side cell-wise reduce per label —
    # the same aggregate/zip_with sum fold p2 runs over pss — so the
    # Arrow kernel receives exactly ONE d² row per label. Without it
    # the kernel pulled every per-4096-vector g2 partial for a label
    # into one in-memory pandas group (row count linear in corpus
    # size); now the linear-in-corpus reduction happens inside Spark's
    # aggregation machinery and the Python boundary is truly
    # |labels|-bounded.
    p3 = (
        p2.groupBy("label")
        .agg(F.min("d").alias("d"), F.collect_list("ps").alias("pss"))
        .select(
            "label",
            "d",
            F.expr(
                "aggregate(pss, array_repeat(cast(0 as bigint), size(pss[0])),"
                " (acc, v) -> zip_with(acc, v, (p, q) -> p + q))"
            ).alias("ps"),
        )
    )
    # Per-label finish in ONE Arrow kernel (the r13 PQ-family pattern):
    # sum the (already label-total) partial array cell-wise, quantize
    # (sum div 1e6 — trunc toward zero), then run all 8 mat-vec
    # iterations in int64 numpy. The first r14 cut kept the loop as higher-order-function
    # column algebra, but Catalyst's CollapseProject inlines each
    # iteration's once-referenced v_t into the next iteration's lambda
    # (interpreted HOFs do no CSE, and explicit repartition barriers
    # are themselves optimized away as redundant), nesting the 8
    # steps into one ~850 KB expression whose cost multiplies by d per
    # level — measured runaway, killed at 4 min. The kernel crosses
    # the Python boundary once with exactly |labels| rows of d² longs
    # (corpus-independent — p3 above reduces the per-4096-vector
    # partials to one row per label before the boundary), every op
    # exact int64 (matmul products
    # bounded in BIGINT per the oracle's argument; divisions
    # implemented as sign·(|a| div m) — trunc toward zero, matching
    # Spark `div` and DuckDB `//`).
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("label", p2.schema["label"].dataType),
            StructField("dim", IntegerType()),
            StructField("loading_micro", LongType()),
        ]
    )

    def power_iter(pdf):
        import numpy as np
        import pandas as pd

        d = int(pdf["d"].iloc[0])
        tot = np.zeros(d * d, dtype=np.int64)
        for ps in pdf["ps"]:
            tot += np.asarray(ps, dtype=np.int64)
        cm = (np.sign(tot) * (np.abs(tot) // 1_000_000)).reshape(d, d)
        v = np.full(d, 1_000_000, dtype=np.int64)
        for _ in range(8):
            raw = cm @ v
            m = int(np.abs(raw).max()) // 1_000_000 + 1
            v = np.sign(raw) * (np.abs(raw) // m)
        best = int(np.argmax(np.abs(v)))  # first max == lowest dim on ties
        s = -1 if v[best] < 0 else 1
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "dim": np.arange(d, dtype=np.int32),
                "loading_micro": v * s,
            }
        )

    return p3.groupBy("label").applyInPandas(power_iter, out_schema)


_MINHASH_MD5_SQL = f"""
WITH d AS (SELECT doc_id, {_SHINGLES} AS ss FROM documents),
sh AS (SELECT DISTINCT doc_id, u.s FROM d, UNNEST(ss) AS u(s)),
hs AS (SELECT doc_id, seed.i AS seed,
              MIN(('0x' || substr(md5(s || '#' || CAST(seed.i AS VARCHAR)), 1, 12))::BIGINT)
                AS sig
       FROM sh, UNNEST(generate_series(0, 15)) AS seed(i)
       GROUP BY doc_id, seed.i),
bands AS (SELECT doc_id, seed // 4 AS band,
                 string_agg(CAST(sig AS VARCHAR), ',' ORDER BY seed) AS key
          FROM hs GROUP BY doc_id, seed // 4),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                                  AND a.doc_id < b.doc_id),
agree AS (SELECT c.doc_a, c.doc_b,
                 CAST(SUM(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree
          FROM cand c
          JOIN hs x ON x.doc_id = c.doc_a
          JOIN hs y ON y.doc_id = c.doc_b AND y.seed = x.seed
          GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b, n_agree, round(n_agree / 16.0, 6) AS est_jaccard
FROM agree
"""


#: Session-shared MinHash estimator scratch (r10 verdict task 3): the
#: estimator's candidate-pair table is consumed by BOTH the registered
#: estimator row and the threshold operating curve (and is the natural
#: feed for any future dedup-knob query); before the scratch, the
#: curve lazily re-ran the whole 16-seed signature+banding pipeline
#: per call (5.5 s of the sf0.1 headline). Same contract as the NB
#: scored frame and the co-purchase edges (scratch.cached_table).
_MINHASH_EST_SCRATCH_KEY = "minhash_est"


def _minhash_est_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_agree, est_jaccard) candidate-pair table,
    built at most once per (process, sf_dir)."""
    from vector_db_core_spark import scratch

    return scratch.cached_table(
        spark,
        _MINHASH_EST_SCRATCH_KEY,
        sf_dir,
        lambda: _minhash_est_build(spark, sf_dir),
    )


@register("dedup_minhash_md5_estimate", oracle=_MINHASH_MD5_SQL)
def dedup_minhash_md5_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATION itself under the full hash gate: a 16-seed
    md5-family MinHash (seeded-suffix hashes, the
    ``sketch_count_min_md5_topk`` exactness machinery applied to
    MinHash) with 4×4 banding, emitting every candidate pair's
    signature-agreement count and estimated Jaccard — so the DuckDB
    oracle verifies the SKETCH VALUES (signatures, band keys,
    candidate set, estimates), not just a verified-output equivalence
    like ``dedup_minhash_lsh_pairs`` (whose xxhash64 family DuckDB
    cannot reproduce, hence its exact-Jaccard oracle). Together the
    two queries pin both halves of the MinHash story: the production
    op's OUTPUT is exact, and the twin's ESTIMATOR algebra is
    cross-engine bit-identical.

    Plan/scale: identical asymptotics to the production LSH — shingle
    set explode × 16 seeds map-side-combines to |docs|·16 signature
    rows; banding groups to |docs|·4; the self-join keys on (band,
    key) (candidates only, never all pairs); agreement re-joins the
    16-row signatures for candidate pairs only. The 48-bit hash
    (first 12 md5 hex digits) keeps min-collisions ~2^-48 while
    staying inside BIGINT on both engines.

    Served from the session-shared scratch (``_minhash_est_table``):
    the registered row and the operating curve read one
    materialization per (process, sf_dir); parquet round-trips the
    long/long/long/double schema bit-exactly, so the hash gate is
    unaffected."""
    return _minhash_est_table(spark, sf_dir)


def _minhash_est_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure estimator plan (see ``dedup_minhash_md5_estimate`` for
    semantics; this is the DataFrame the scratch materializes)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    sh = (
        toks.select(
            "doc_id",
            F.explode(F.array_distinct(shingles_of_tokens(F.col("_toks"), 3))).alias("s"),
        )
    )
    # r15 floor note (VERDICT item 2, third and FINAL attempt): hashing
    # per DISTINCT shingle — 9.6x fewer md5 evals at sf0.1 — was
    # measured in BOTH prescribed skeletons (16-hash array via
    # transform joined back on the shingle key, and distinct + seed
    # explode + codegen md5 joined back) against this per-occurrence
    # form, 6-run alternating noop A/B at sf0.1: old min 4.81 / med
    # 5.70 vs array-join 8.66/12.12 vs explode-join 6.89/7.97. An
    # xxhash64 probe pins the split: the explode+groupBy skeleton
    # below is 1.2 s and the md5 tree 3.9 s, but the dedup skeleton's
    # added machinery (distinct exchange over shingle strings + the
    # join back + re-deriving the shingle stream for the build side)
    # costs MORE than the 3.5 s of md5 it saves at 32 cores. The
    # md5-seeded family is the oracle contract, so the hash itself
    # cannot be swapped; this form is the measured floor — stop here.
    hs = (
        sh.select("doc_id", "s", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("seed"))
        .withColumn(
            "h",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("s"), F.lit("#"), F.col("seed").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("sig"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = hs.groupBy("doc_id", F.expr("seed div 4").alias("band")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "sig"))),
                lambda x: x["sig"].cast("string"),
            ),
            ",",
        ).alias("key")
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = hs.select(F.col("doc_id").alias("doc_a"), "seed", F.col("sig").alias("sig_a"))
    y = hs.select(F.col("doc_id").alias("doc_b"), "seed", F.col("sig").alias("sig_b"))
    return (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("sig_a") == F.col("sig_b")).cast("long")).alias("n_agree"))
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.round(F.col("n_agree") / 16.0, 6).alias("est_jaccard"),
        )
    )


def _kmeans_exact_sql(iters: int = 2, k: int = 4) -> str:
    """Unrolled-CTE Lloyd oracle: micro-quantized integer distances,
    argmin ties to the lowest centroid id, integer-division centroid
    updates — the same recurrence the Spark loop runs."""
    head = f"""
{_micro_seed_ctes(k)}
c0 AS (SELECT i.cid, x.xm AS cm FROM init i JOIN x ON x.vec_id = i.vec_id)"""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f""",
d{t} AS (SELECT x.vec_id, c.cid, x.xm,
               CAST(list_sum(list_transform(generate_series(1, len(x.xm)),
                    j -> (x.xm[j] - c.cm[j]) * (x.xm[j] - c.cm[j])))
                    AS BIGINT) AS dist
        FROM x CROSS JOIN c{t - 1} c),
a{t} AS (SELECT vec_id, cid, xm FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist, cid) AS rn FROM d{t})
        WHERE rn = 1),
c{t} AS (SELECT cid, list(s ORDER BY j) AS cm FROM
          (SELECT cid, g.j AS j,
                  CAST(SUM(xm[g.j]) // COUNT(*) AS BIGINT) AS s
           FROM a{t}, UNNEST(generate_series(1, len(xm))) AS g(j)
           GROUP BY cid, g.j)
        GROUP BY cid)""")
    return head + "".join(steps) + f"""
SELECT x.vec_id, f.cid AS cluster, f.dist AS dist_sq FROM
  (SELECT vec_id, cid, dist,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
   FROM (SELECT x.vec_id, c.cid,
                CAST(list_sum(list_transform(generate_series(1, len(x.xm)),
                     j -> (x.xm[j] - c.cm[j]) * (x.xm[j] - c.cm[j])))
                     AS BIGINT) AS dist
         FROM x CROSS JOIN c{iters} c) q) f
JOIN x ON x.vec_id = f.vec_id
WHERE f.rn = 1
"""


@register("sim_kmeans_lloyd_exact", oracle=_kmeans_exact_sql())
def sim_kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS (Lloyd) under the FULL hash gate — float k-means
    (MLlib's) has no DuckDB replay, so this is the integer form: 2
    Lloyd iterations with micro-quantized coordinates, squared
    distances and centroid updates all in BIGINT (sum div count —
    truncation identical both engines), argmin ties to the lowest
    centroid id, k=4 seeds chosen by the deterministic md5 order of
    vec_id (the seeded-hash-family device again). Per vector the final cluster and exact integer
    distance hash-match DuckDB's unrolled-CTE replica of the same
    recurrence. Empty clusters drop identically on both engines
    (no-row groups vanish from the centroid table).

    Plan/scale: per iteration ONE broadcast of the k-row centroid
    table against the corpus (k× row fan-out from the crossJoin — k
    is the algorithm's constant, not data), distance as a zero-fanout
    ``aggregate(zip_with(...))`` fold inside codegen, argmin as a
    ``min(struct(dist, cid))`` aggregate (no window over the corpus),
    centroid update via d-wide posexplode map-side-combined to k·d
    cells and re-collected to arrays — the linear-fanout mu pattern
    from the exact-PCA build. Iteration tables are k rows; nothing
    grows with corpus size except the two linear passes."""
    k = 4
    # r14: persist the micro-quantized vector table — SEVEN subtrees
    # consume it (the seed join, each iteration's assign + centroid
    # re-join, the final assign) and the unpersisted plan re-ran the
    # scan + per-element quantize transform for every one (14 parquet
    # scans in the executed plan). Released by the registry-wide
    # clearCache contract.
    x = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr(
                "transform(cast(embedding as array<double>),"
                " v -> cast(round(v * 1000000.0, 0) as bigint))"
            ).alias("xm"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    init = (
        x.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .withColumn(
            "cid",
            (
                F.row_number().over(
                    W.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
                )
                - 1
            ).cast("int"),
        )
    )
    cent = init.join(x, "vec_id").select("cid", F.col("xm").alias("cm"))

    # r14: the assignment argmin folds over the k-row centroid table
    # collapsed to ONE array row — the old crossJoin fanned the corpus
    # out k× and re-collapsed it with a groupBy(vec_id) EXCHANGE per
    # assign (three assigns = three corpus shuffles). array_min over
    # (dist, cid) structs is the same lexicographic argmin (ties to
    # the lowest cid) evaluated per row with zero fanout and zero
    # shuffle; only the k-row centroid aggregate moves between stages.
    def assign(c):
        cs = c.agg(F.collect_list(F.struct("cid", "cm")).alias("cs"))
        m = F.expr(
            "array_min(transform(cs, c -> struct("
            " aggregate(zip_with(xm, c.cm, (a, b) -> (a - b) * (a - b)),"
            "           cast(0 as bigint), (acc, v) -> acc + v) as dist,"
            " c.cid as cid)))"
        )
        return (
            x.crossJoin(F.broadcast(cs))
            .select("vec_id", m.alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))
        )

    for _ in range(2):
        a = assign(cent).join(x, "vec_id")
        cent = (
            a.select("cid", F.posexplode("xm").alias("j", "v"))
            .groupBy("cid", "j")
            .agg(F.expr("sum(v) div count(*)").alias("s"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(j, s))), p -> p.s)"
                ).alias("cm")
            )
        )
    return assign(cent).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("dist").alias("dist_sq")
    )


_STOPWORD_SQL = r"""
WITH t AS (SELECT doc_id,
                  list_distinct(list_filter(string_split_regex(text, '\s+'),
                                            x -> x <> '')) AS toks
           FROM documents),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t),
df AS (SELECT u.tok AS token, CAST(COUNT(*) AS BIGINT) AS doc_freq
       FROM t, UNNEST(toks) AS u(tok) GROUP BY u.tok)
SELECT token, doc_freq,
       round(CAST(doc_freq AS DOUBLE) / n_docs, 6) AS df_ratio,
       round(ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS idf,
       (doc_freq * 2 > n_docs) AS is_stopword
FROM df CROSS JOIN n
"""


@register("text_stopword_discovery", oracle=_STOPWORD_SQL)
def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-DERIVED STOPWORD LIST: per token its document frequency,
    df-ratio, idf, and the classic df > 50% stopword flag — the
    data-driven replacement for hand-curated stopword lists
    (language- and domain-adaptive: a code corpus's 'return' is a
    stopword, English's isn't), feeding the quality-scoring family
    which currently hardcodes its stopword set. The flag compares
    EXACT integers (doc_freq·2 > n_docs — no float threshold), idf is
    one double ln + round(6) per token row.

    Plan/scale: per-doc DISTINCT tokens inside codegen
    (array_distinct before the explode — df counts documents, not
    occurrences), one map-side-combined shuffle to the df table,
    one-row corpus count broadcast. The zipf/filter-funnel shape."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", distinct_tokens(F.col("text")).alias("toks")
    )
    n = t.agg(F.count("*").alias("n_docs"))
    df = (
        t.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
    )
    j = df.crossJoin(F.broadcast(n))
    return j.select(
        "token",
        "doc_freq",
        F.round(F.col("doc_freq").cast("double") / F.col("n_docs"), 6).alias("df_ratio"),
        F.round(F.log(F.col("n_docs").cast("double") / F.col("doc_freq")), 6).alias("idf"),
        (F.col("doc_freq") * 2 > F.col("n_docs")).alias("is_stopword"),
    )


_GOPHER_LINE_SQL = r"""
WITH t AS (SELECT doc_id, substr(md5(text), 1, 1) = '0' AS all_bullets,
                  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
c AS (SELECT doc_id, all_bullets, toks,
             CAST(ceil(len(toks) / 8.0) AS INT) AS n_chunks
      FROM t WHERE len(toks) > 0),
l AS (SELECT doc_id,
             (CASE WHEN i % 7 = 3 OR all_bullets THEN '- ' ELSE '' END)
             || (CASE WHEN i % 11 = 5 AND i > 0
                      THEN array_to_string(list_slice(toks, 1, 8), ' ')
                      ELSE array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ')
                 END)
             || (CASE WHEN i % 5 = 2 THEN ' ...' ELSE '' END) AS line
      FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)),
per AS (SELECT doc_id, line, COUNT(*) AS cnt,
               ends_with(line, '...') AS is_ellipsis,
               starts_with(line, '- ') AS is_bullet
        FROM l GROUP BY doc_id, line),
a AS (SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_lines,
             CAST(SUM(CASE WHEN is_ellipsis THEN cnt ELSE 0 END) AS BIGINT) AS n_ellipsis_lines,
             CAST(SUM(CASE WHEN is_bullet THEN cnt ELSE 0 END) AS BIGINT) AS n_bullet_lines
      FROM per GROUP BY doc_id)
SELECT doc_id, n_lines, n_dup_lines, n_ellipsis_lines, n_bullet_lines,
       round(CAST(n_dup_lines AS DOUBLE) / n_lines, 6) AS dup_line_frac,
       round(CAST(n_ellipsis_lines AS DOUBLE) / n_lines, 6) AS ellipsis_line_frac,
       round(CAST(n_bullet_lines AS DOUBLE) / n_lines, 6) AS bullet_line_frac,
       (CAST(n_dup_lines AS DOUBLE) / n_lines <= 0.30) AS pass_dup_lines,
       (CAST(n_ellipsis_lines AS DOUBLE) / n_lines <= 0.30) AS pass_ellipsis_lines,
       (CAST(n_bullet_lines AS DOUBLE) / n_lines < 0.90) AS pass_bullet_lines,
       ((CAST(n_dup_lines AS DOUBLE) / n_lines <= 0.30)
        AND (CAST(n_ellipsis_lines AS DOUBLE) / n_lines <= 0.30)
        AND (CAST(n_bullet_lines AS DOUBLE) / n_lines < 0.90)) AS line_rules_keep
FROM a
"""


@register("text_gopher_line_rules", oracle=_GOPHER_LINE_SQL)
def text_gopher_line_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINE-SHAPED Gopher rules (Rae et al. 2021, Appendix A) the
    flag suite ``text_gopher_quality_flags`` had to exclude as
    structurally vacuous — this fixture's documents are single-line
    word streams — now registered over a DETERMINISTIC multi-line
    reconstruction, the decision the r8 verdict asked to make
    explicitly (task 8; the PII/URL ops' synthesize-the-missing-column
    pattern). Line synthesis, stated identically in the oracle: the
    token stream chunks into 8-token lines; line i duplicates line 0
    when i % 11 == 5 (duplicate-line signal), takes a '- ' bullet
    prefix when i % 7 == 3 — or on EVERY line for the ~1/16 of docs
    whose content md5 starts '0', the all-bullets pathology the rule
    exists to drop — and an ' ...' suffix when i % 5 == 2. Rules at
    the published thresholds: duplicate-line fraction <= 0.30,
    ellipsis-line fraction <= 0.30, bullet-line fraction < 0.90.
    Every rule discriminates on this fixture (some docs pass, some
    fail — pinned in tests/test_llm.py).

    Plan/scale: line construction is pure codegen (sequence +
    transform + slice — no UDF, no extra scan); duplicate detection
    needs line identity across a document, so the explode shuffles
    (doc_id, line) once (map-side combined) and the per-doc rollup
    reuses that partitioning (subset key) — the
    ``dedup_paragraph_keep_first`` shape. Output linear in docs;
    state per group is one line string."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.substring(F.md5("text"), 1, 1) == "0").alias("all_bullets"),
        tokens("text").alias("toks"),
    ).where(F.size("toks") > 0)
    toks = F.col("toks")
    idx = F.sequence(
        F.lit(0), F.ceil(F.size(toks) / F.lit(8.0)).cast("int") - 1
    )
    base0 = F.array_join(F.slice(toks, 1, 8), " ")

    def _line(i):
        body = F.when((i % 11 == 5) & (i > 0), base0).otherwise(
            F.array_join(F.slice(toks, i * 8 + 1, 8), " ")
        )
        return F.concat(
            F.when((i % 7 == 3) | F.col("all_bullets"), F.lit("- ")).otherwise(
                F.lit("")
            ),
            body,
            F.when(i % 5 == 2, F.lit(" ...")).otherwise(F.lit("")),
        )

    l = docs.select(
        "doc_id", F.explode(F.transform(idx, _line)).alias("line")
    )
    per = l.groupBy("doc_id", "line").agg(
        F.count("*").alias("cnt"),
        F.max(F.col("line").endswith("...")).alias("is_ellipsis"),
        F.max(F.col("line").startswith("- ")).alias("is_bullet"),
    )
    a = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0)).alias(
            "n_dup_lines"
        ),
        F.sum(F.when(F.col("is_ellipsis"), F.col("cnt")).otherwise(0)).alias(
            "n_ellipsis_lines"
        ),
        F.sum(F.when(F.col("is_bullet"), F.col("cnt")).otherwise(0)).alias(
            "n_bullet_lines"
        ),
    )
    dup = F.col("n_dup_lines").cast("double") / F.col("n_lines")
    ell = F.col("n_ellipsis_lines").cast("double") / F.col("n_lines")
    bul = F.col("n_bullet_lines").cast("double") / F.col("n_lines")
    return a.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        "n_ellipsis_lines",
        "n_bullet_lines",
        F.round(dup, 6).alias("dup_line_frac"),
        F.round(ell, 6).alias("ellipsis_line_frac"),
        F.round(bul, 6).alias("bullet_line_frac"),
        (dup <= 0.30).alias("pass_dup_lines"),
        (ell <= 0.30).alias("pass_ellipsis_lines"),
        (bul < 0.90).alias("pass_bullet_lines"),
        ((dup <= 0.30) & (ell <= 0.30) & (bul < 0.90)).alias("line_rules_keep"),
    )


_DEDUP_CURVE_SQL = (
    "WITH est AS (" + _MINHASH_MD5_SQL + """),
t AS (SELECT u.m AS min_agree FROM UNNEST([4, 8, 12, 16]) AS u(m)),
f AS (SELECT t.min_agree, est.doc_b
      FROM t JOIN est ON est.n_agree >= t.min_agree)
SELECT min_agree,
       round(min_agree / 16.0, 6) AS threshold,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_flagged
FROM f GROUP BY min_agree
"""
)


@register("dedup_threshold_operating_curve", oracle=_DEDUP_CURVE_SQL)
def dedup_threshold_operating_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP OPERATING CURVE: for each candidate similarity threshold
    (signature agreement 4/16, 8/16, 12/16, 16/16 — the estimator's
    native quantization), the surviving candidate-pair count and how
    many documents a keep-lowest-id dedup would flag — the table a
    curation run reads to PICK its near-dup threshold (how much corpus
    do I lose at 0.5 vs 0.75?), the same evaluate-the-knob discipline
    NB_KEEP_CUT applies to the language filter. Composes the
    registered ``dedup_minhash_md5_estimate`` (same oracle text as a
    CTE; same session-shared scratch table, so the curve pays a
    candidate-pair scan, never a second signature build — r10 verdict
    task 3), so the whole curve inherits the estimator's cross-engine
    bit-identical sketch algebra.

    Plan/scale: the candidate pairs come from LSH banding (never
    all-pairs); the curve adds one 4-way threshold explode over the
    CANDIDATE-PAIR reduction and a distinct-count per threshold —
    output is 4 rows whatever the corpus. At 100 TB the same query
    runs on the banded candidates, which is the whole point of
    publishing the curve before committing to a deletion pass."""
    est = dedup_minhash_md5_estimate(spark, sf_dir)
    t = spark.range(1, 5).select((F.col("id") * 4).cast("int").alias("min_agree"))
    f = est.join(F.broadcast(t), F.col("n_agree") >= F.col("min_agree"))
    return f.groupBy("min_agree").agg(
        F.round(F.col("min_agree") / 16.0, 6).alias("threshold"),
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_b").alias("n_docs_flagged"),
    )


_EMB_DRIFT_SQL = """
WITH h AS (SELECT vec_id, label,
                  COALESCE(substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= '7',
                           FALSE) AS in_a,
                  embedding
           FROM embeddings),
n AS (SELECT label,
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM h GROUP BY label),
e AS (SELECT label, in_a, CAST(i - 1 AS INT) AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS micro
      FROM h, UNNEST(generate_series(1, len(embedding))) AS u(i)),
m AS (SELECT label, dim,
             SUM(CASE WHEN in_a THEN micro ELSE 0 END)
               // NULLIF(SUM(CASE WHEN in_a THEN 1 ELSE 0 END), 0) AS mu_a,
             SUM(CASE WHEN in_a THEN 0 ELSE micro END)
               // NULLIF(SUM(CASE WHEN in_a THEN 0 ELSE 1 END), 0) AS mu_b
      FROM e GROUP BY label, dim),
d AS (SELECT label,
             CAST(SUM((mu_a - mu_b) * (mu_a - mu_b)) AS BIGINT) AS shift_sq_micro
      FROM m GROUP BY label)
SELECT d.label, n.n_a, n.n_b, d.shift_sq_micro,
       round(sqrt(CAST(d.shift_sq_micro AS DOUBLE)) / 1000000.0, 6) AS drift_l2
FROM d JOIN n ON n.label = d.label
"""


@register("sim_embedding_drift_halves", oracle=_EMB_DRIFT_SQL)
def sim_embedding_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE DRIFT between the content-hash halves of the
    corpus, per label: the L2 distance between each half's centroid —
    the vector-column member of the drift trio
    (``pipeline_unigram_drift_kl`` for tokens, ``agg_ks_two_sample``
    for scalar values, this for embeddings): a retraining pipeline
    runs exactly this before trusting that a new batch's embedding
    distribution matches the index it is about to join, and per-LABEL
    shifts localize which class moved. The split is the deterministic
    ``md5(vec_id)`` nibble rule (same device as the train/val split),
    so both engines compare identical halves. Exactness: per-dim
    micro-quantized integer means with truncating division (verified
    identical toward-zero semantics on negatives in both engines —
    the ``profile_embedding_dims`` convention), the squared shift
    summed as exact BIGINT, and ONE sqrt + round(6) per label row.

    Plan/scale: one posexplode pass to (label, half, dim, micro) —
    the linear d-fanout every centroid op here pays — into a
    map-side-combined (label, dim) aggregate (|labels|·d rows), then
    a |labels|-row rollup joined to the half counts. The corpus is
    touched twice (counts + dims) on column-pruned scans; at 100 TB
    both passes are map-side-combined reductions."""
    h = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        # COALESCE(..., false): a NULL vec_id yields NULL from md5 and
        # would otherwise be skipped by the n_a/n_b sums while the
        # CASE-based centroid divisors route it to B — the half
        # assignment must be one total, NULL-safe rule in both engines
        # (round-9 review finding)
        F.coalesce(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) <= "7",
            F.lit(False),
        ).alias("in_a"),
        "embedding",
    )
    n = h.groupBy("label").agg(
        F.sum(F.col("in_a").cast("long")).alias("n_a"),
        F.sum((~F.col("in_a")).cast("long")).alias("n_b"),
    )
    e = h.select(
        "label",
        "in_a",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    ).select(
        "label",
        "in_a",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("v") * 1_000_000.0, 0).cast("long").alias("micro"),
    )
    m = e.groupBy("label", "dim").agg(
        F.expr(
            "sum(CASE WHEN in_a THEN micro ELSE 0 END)"
            " div nullif(sum(CASE WHEN in_a THEN 1 ELSE 0 END), 0)"
        ).alias("mu_a"),
        F.expr(
            "sum(CASE WHEN in_a THEN 0 ELSE micro END)"
            " div nullif(sum(CASE WHEN in_a THEN 0 ELSE 1 END), 0)"
        ).alias("mu_b"),
    )
    diff = F.col("mu_a") - F.col("mu_b")
    d = m.groupBy("label").agg(F.sum(diff * diff).alias("shift_sq_micro"))
    return d.join(n, "label").select(
        "label",
        "n_a",
        "n_b",
        "shift_sq_micro",
        F.round(
            F.sqrt(F.col("shift_sq_micro").cast("double")) / 1_000_000.0, 6
        ).alias("drift_l2"),
    )


#: Byte budget per multimodal transfer batch: 2 KiB — deliberately
#: small relative to a shard's fixture payload total (~7 KB of utf-8
#: "media" per shard at sf0.01, ~300 B per payload) so every scale
#: produces multi-batch shards and the rollover arithmetic is
#: exercised; a real run sets its GPU-transfer granularity here.
MM_BATCH_BYTES = 2048

_MM_PACKING_SQL = rf"""
WITH k AS (SELECT doc_id, md5(text) AS h,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           FROM documents),
s AS (SELECT doc_id, n_bytes,
             CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                   + instr('0123456789abcdef', substr(h, 2, 1)) - 1) % 32
                  AS INT) AS shard_id
      FROM k),
c AS (SELECT *,
             SUM(n_bytes) OVER (PARTITION BY shard_id ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_bytes
               AS bytes_before
      FROM s),
p AS (SELECT shard_id, CAST(bytes_before // {MM_BATCH_BYTES} AS BIGINT) AS batch_id,
             doc_id, n_bytes
      FROM c)
SELECT shard_id, batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_payloads,
       CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
       CAST(MAX(n_bytes) AS BIGINT) AS max_payload_bytes,
       round(CAST(SUM(n_bytes) AS DOUBLE) / {MM_BATCH_BYTES}, 6) AS fill
FROM p GROUP BY shard_id, batch_id
"""


@register("multimodal_byte_packing", oracle=_MM_PACKING_SQL)
def multimodal_byte_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-BUDGET BATCH LAYOUT for opaque media payloads — the
    multimodal sibling of ``pipeline_sequence_packing``: a GPU decode/
    feature-extract stage wants batches of roughly constant BYTES (not
    constant row count — payload sizes vary wildly for real media), so
    the loader packs payloads in shard doc order until the cumulative
    byte budget rolls over (``batch_id = bytes_before div
    MM_BATCH_BYTES``). Output per (shard, batch): payload count, byte
    total, the largest single payload (the batch's memory high-water
    mark), and the fill ratio. Same opaque-binary convention as
    ``multimodal_binary_metadata`` (utf-8 text bytes play the payload;
    the arithmetic is identical for real media) and the same
    md5-derived shard key as the shard layout family. Exactness: byte
    counts, cumulative sums and batch ids are exact integers; fill is
    one division + round(6).

    Plan/scale: one corpus scan, one shard-keyed shuffle, a PER-SHARD
    window cumsum (|shards|-way parallel — no single-partition stage),
    and a map-side-combinable (shard, batch) aggregate. The batch
    manifest is what the decode stage's ``mapInPandas`` iterates —
    this op IS its input contract."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    k = docs.select(
        "doc_id",
        F.md5(payload).alias("h"),
        F.length(payload).cast("long").alias("n_bytes"),
    )
    shard = F.expr(
        "CAST(((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16"
        " + instr('0123456789abcdef', substring(h, 2, 1)) - 1) % 32 AS INT)"
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = k.withColumn("shard_id", shard).select(
        "shard_id",
        "doc_id",
        "n_bytes",
        (F.sum("n_bytes").over(w) - F.col("n_bytes")).alias("bytes_before"),
    )
    p = c.select(
        "shard_id",
        F.expr(f"bytes_before div {MM_BATCH_BYTES}").alias("batch_id"),
        "doc_id",
        "n_bytes",
    )
    return p.groupBy("shard_id", "batch_id").agg(
        F.count("*").alias("n_payloads"),
        F.sum("n_bytes").alias("n_bytes"),
        F.max("n_bytes").alias("max_payload_bytes"),
        F.round(F.sum("n_bytes").cast("double") / MM_BATCH_BYTES, 6).alias("fill"),
    )


_FLESCH_SQL = r"""
WITH d AS (SELECT source,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS BIGINT) AS words,
                  CAST(GREATEST(len(list_filter(
                         string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')), 1) AS BIGINT) AS sentences,
                  CAST(GREATEST(len(regexp_extract_all(lower(text),
                                                       '[aeiouy]+')), 1)
                       AS BIGINT) AS syllables
           FROM documents
           WHERE len(list_filter(string_split_regex(text, '\s+'),
                                 x -> x <> '')) > 0),
s AS (SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             SUM(CAST(CAST(words AS DOUBLE) / sentences
                      AS DECIMAL(27,15))) AS wps_acc,
             SUM(CAST(CAST(syllables AS DOUBLE) / words
                      AS DECIMAL(27,15))) AS spw_acc,
             SUM(CAST(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                      - 84.6 * (CAST(syllables AS DOUBLE) / words)
                      AS DECIMAL(27,15))) AS flesch_acc
      FROM d GROUP BY source)
SELECT source, n_docs,
       round(CAST(wps_acc AS DOUBLE) / n_docs, 6) AS avg_words_per_sentence,
       round(CAST(spw_acc AS DOUBLE) / n_docs, 6) AS avg_syllables_per_word,
       round(CAST(flesch_acc AS DOUBLE) / n_docs, 6) AS avg_flesch
FROM s
"""


@register("text_flesch_readability", oracle=_FLESCH_SQL)
def text_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING-EASE profile per source — the classical
    readability signal curation stacks next to the Gopher shape rules
    (a source whose ease score collapses is boilerplate, OCR noise,
    or code, not prose). Heuristic components per document, all from
    one scan: words (the shared whitespace tokenizer), sentences
    (non-empty [.!?]+ segments, floored at 1), syllables (vowel-group
    runs [aeiouy]+ in the lowercased text — the standard cheap proxy,
    floored at 1), then the textbook formula 206.835 − 1.015·(W/S) −
    84.6·(Syl/W). Exactness: the three counts are exact integers in
    both engines (identical regex semantics for these character-class
    patterns across Java regex and RE2); each per-document ratio /
    score is one fixed double expression DECIMAL-cast before the
    order-independent per-source sum; one division + round(6) per
    output cell. Zero-word documents are excluded in both engines
    (the W/S and Syl/W ratios are undefined); the fixture has none,
    so the guard is a stated boundary, not a live filter.

    Plan/scale: map-only per-document expression work (codegen'd
    regexes, no explode — counting needs sizes, not tokens as rows)
    into ONE map-side-combined per-source aggregate; |sources| output
    rows."""
    from vector_db_core_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    words = F.size(tokens("text")).cast("long")
    sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), r"[.!?]+"),
                lambda x: F.trim(x) != "",
            )
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    syllables = F.greatest(
        F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast(
            "long"
        ),
        F.lit(1).cast("long"),
    )
    d = docs.select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).where(F.col("words") > 0)
    wps = F.col("words").cast("double") / F.col("sentences")
    spw = F.col("syllables").cast("double") / F.col("words")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(wps.cast("decimal(27,15)")).alias("wps_acc"),
        F.sum(spw.cast("decimal(27,15)")).alias("spw_acc"),
        F.sum(flesch.cast("decimal(27,15)")).alias("flesch_acc"),
    )
    n = F.col("n_docs")
    return s.select(
        "source",
        "n_docs",
        F.round(F.col("wps_acc").cast("double") / n, 6).alias(
            "avg_words_per_sentence"
        ),
        F.round(F.col("spw_acc").cast("double") / n, 6).alias(
            "avg_syllables_per_word"
        ),
        F.round(F.col("flesch_acc").cast("double") / n, 6).alias("avg_flesch"),
    )


# ------------------------------------------------- image perceptual near-dup
MM_PHASH_MAX_HAMMING = 3

_PHASH_NEARDUP_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, upper(text) || '  ' AS text
  FROM documents WHERE doc_id < 100),
h AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             || md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || '#r2')
               AS hx
      FROM corpus),
b AS (SELECT doc_id, i, ('0x' || substr(hx, 2 * i + 1, 2))::BIGINT AS byte
      FROM h, UNNEST(generate_series(0, 31)) AS g(i)),
bits AS (SELECT a.doc_id,
                (a.i // 8) * 7 + (a.i % 8) AS idx,
                CASE WHEN a.byte < c.byte THEN 1 ELSE 0 END AS bit
         FROM b a JOIN b c ON c.doc_id = a.doc_id AND c.i = a.i + 1
         WHERE a.i % 8 <> 7),
sig AS (SELECT doc_id, CAST(SUM(CAST(bit AS BIGINT) << idx) AS BIGINT) AS s
        FROM bits GROUP BY doc_id),
bands AS (SELECT doc_id, s, k, (s >> (7 * k)) & 127 AS bv
          FROM sig, UNNEST(generate_series(0, 3)) AS g(k)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                a.s AS sig_a, b2.s AS sig_b
         FROM bands a JOIN bands b2 ON a.k = b2.k AND a.bv = b2.bv
                                   AND a.doc_id < b2.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


@register("multimodal_phash_neardup", oracle=_PHASH_NEARDUP_SQL)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE NEAR-DUP DETECTION by perceptual difference hash — the
    multimodal member of the dedup family (SimHash is to text what
    dHash is to pixels): every document becomes a valid 8×4 grayscale
    netpbm whose raster derives from the md5 of its CANONICAL text
    (so the uppercase/whitespace variants injected by the dedup
    fixtures produce bit-identical images — observable ground truth),
    the REAL Arrow ``mapInPandas`` decode path computes the 28-bit
    dHash from decoded pixels (``functions/multimodal.dhash_signature``
    — one bit per horizontally adjacent luminance pair), and
    candidate pairs surface through 4×7-bit LSH BANDS exactly like
    ``dedup_minhash_lsh_pairs``: only docs agreeing on at least one
    band are compared, then the full Hamming distance gates at <= 3.

    Exactness: the payload construction is content-deterministic, so
    the oracle re-derives every raster byte from the same md5 hex and
    replicates the bit/band/XOR integer arithmetic bit-for-bit; the
    engine-side hash still comes from REAL decoded pixels (the full
    multimodal plumbing under an exact oracle, the
    ``multimodal_decode_features`` discipline).

    Plan/scale: signature extraction is partition-parallel
    (scan → project → mapInPandas), 8 bytes per image thereafter;
    banding explodes ×4 and self-joins on (band, value) — the LSH
    contract bounds comparisons to genuine collisions, never
    all-pairs; Hamming is one codegen'd xor+bit_count per candidate.
    At 100 TB band values are the shuffle keys; a skewed band bucket
    (monochrome crops) would salt or cap, the same knob as the text
    LSH."""
    from vector_db_core_spark.functions.multimodal import append_dhash
    from vector_db_core_spark.functions.text import canonical_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    canon = canonical_text("text")
    # Second raster half = md5(canon || salt), NOT md5(reverse(canon)):
    # Spark's reverse() walks code points while DuckDB's walks grapheme
    # clusters, so combining sequences would silently diverge per
    # engine (r10 advice). Salted-suffix md5 is engine-stable on any
    # input — the seeded-hash-family trick the MinHash estimator uses.
    hexs = F.concat(F.md5(canon), F.md5(F.concat(canon, F.lit("#r2"))))
    payload = F.concat(F.lit(b"P5\n8 4\n255\n"), F.unhex(hexs))
    imgs = docs.unionByName(variants).select("doc_id", payload.alias("payload"))
    sigs = append_dhash(imgs, "payload").select("doc_id", "dhash")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.shiftright(F.col("dhash"), 7 * k)
                .bitwiseAND(F.lit(127))
                .alias("bv"),
            )
            for k in range(4)
        ]
    )
    bands = sigs.select(
        "doc_id", F.col("dhash").alias("s"), F.explode(band_structs).alias("band")
    ).select("doc_id", "s", F.col("band.k").alias("k"), F.col("band.bv").alias("bv"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["k", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sig_a"),
            F.col("b.s").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select(
            "doc_a", "doc_b", hamming.cast("bigint").alias("hamming")
        ).where(F.col("hamming") <= MM_PHASH_MAX_HAMMING)
    )


_JS_DIVERGENCE_SQL = r"""
WITH tok AS (SELECT source,
                    unnest(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS token
             FROM documents),
cnt AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY source, token),
nt AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nt FROM cnt GROUP BY source),
srcs AS (SELECT source FROM nt),
pairs AS (SELECT a.source AS sa, b.source AS sb
          FROM srcs a JOIN srcs b ON a.source < b.source),
ca AS (SELECT p.sa, p.sb, c.token, c.n AS na
       FROM pairs p JOIN cnt c ON c.source = p.sa),
cb AS (SELECT p.sa, p.sb, c.token, c.n AS nb
       FROM pairs p JOIN cnt c ON c.source = p.sb),
u AS (SELECT COALESCE(ca.sa, cb.sa) AS sa, COALESCE(ca.sb, cb.sb) AS sb,
             COALESCE(ca.token, cb.token) AS token,
             COALESCE(ca.na, 0) AS na, COALESCE(cb.nb, 0) AS nb
      FROM ca FULL OUTER JOIN cb
        ON cb.sa = ca.sa AND cb.sb = ca.sb AND cb.token = ca.token),
t AS (SELECT u.sa, u.sb, u.token,
             CAST(u.na AS DOUBLE) / xa.nt AS p,
             CAST(u.nb AS DOUBLE) / xb.nt AS q
      FROM u JOIN nt xa ON xa.source = u.sa
             JOIN nt xb ON xb.source = u.sb)
SELECT sa AS src_a, sb AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_tokens_union,
       round(CAST(SUM(CAST(
                 (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END
                  + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END)
                 / (2 * ln(2)) AS DECIMAL(38,15))) AS DOUBLE), 6) AS jsd_bits
FROM t GROUP BY sa, sb
"""


@register("text_js_divergence_sources", oracle=_JS_DIVERGENCE_SQL)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE JENSEN-SHANNON DIVERGENCE between source unigram
    distributions, in bits — the symmetric, bounded ([0,1]) cousin of
    the KL drift read (``pipeline_unigram_drift_kl`` compares one
    epoch to a reference and is asymmetric/unbounded; JSD is the
    metric-grade distance mixture planners put in a source-by-source
    matrix, and with ``text_source_vocab_overlap`` it separates
    "different vocabulary" from "same vocabulary, different usage
    rates"). JSD(P,Q) = (KL(P||M) + KL(Q||M)) / 2 with M the
    midpoint; log base 2 via ln/ln(2).

    Exactness: token counts are exact integers; each union token's
    contribution is one fixed double expression (0*ln(0) stated as 0
    via CASE in both engines, never relying on NULL/NaN propagation)
    DECIMAL(38,15)-cast before the order-independent per-pair sum;
    one round(6) finish.

    Plan/scale: the (source, token) count is the same aggregate every
    tf/idf op pays; the pair expansion joins that vocab table against
    the tiny source-pair grid (|pairs| x vocab rows, vocab-bounded),
    the FULL OUTER union-of-vocabularies join keys on (pair, token),
    and per-source totals broadcast. Output is C(|sources|, 2)
    rows."""
    from vector_db_core_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    nt = cnt.groupBy("source").agg(F.sum("n").cast("bigint").alias("nt"))
    srcs = nt.select("source")
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
    )
    ca = pairs.join(cnt, F.col("source") == F.col("sa")).select(
        "sa", "sb", "token", F.col("n").alias("na")
    )
    cb = pairs.join(cnt, F.col("source") == F.col("sb")).select(
        "sa", "sb", "token", F.col("n").alias("nb")
    )
    u = (
        ca.join(cb, ["sa", "sb", "token"], "full_outer")
        .select(
            "sa",
            "sb",
            "token",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
    )
    xa = nt.select(F.col("source").alias("sa"), F.col("nt").alias("nta"))
    xb = nt.select(F.col("source").alias("sb"), F.col("nt").alias("ntb"))
    t = (
        u.join(F.broadcast(xa), "sa")
        .join(F.broadcast(xb), "sb")
        .select(
            "sa",
            "sb",
            (F.col("na").cast("double") / F.col("nta")).alias("p"),
            (F.col("nb").cast("double") / F.col("ntb")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
        + F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    ) / (2 * math.log(2.0))
    return t.groupBy("sa", "sb").agg(
        F.count("*").alias("n_tokens_union"),
        F.round(
            F.sum(term.cast("decimal(38,15)")).cast("double"), 6
        ).alias("jsd_bits"),
    ).select(
        F.col("sa").alias("src_a"),
        F.col("sb").alias("src_b"),
        "n_tokens_union",
        "jsd_bits",
    )


ASPECT_BUCKETS = (0.5, 0.75, 1.0, 1.5, 2.0)

_ASPECT_BUCKET_SQL = rf"""
WITH d AS (SELECT doc_id,
                  CAST(4 + (doc_id % 5) * 2 AS INT) AS w,
                  CAST(4 + doc_id % 7 AS INT) AS h
           FROM documents),
bkt AS (SELECT CAST(u.b AS DOUBLE) AS bucket
        FROM UNNEST([{", ".join(str(b) for b in ASPECT_BUCKETS)}]) AS u(b)),
scored AS (SELECT d.doc_id, d.w, d.h,
                  CAST(d.w AS DOUBLE) / d.h AS aspect,
                  bkt.bucket,
                  row_number() OVER (
                      PARTITION BY d.doc_id
                      ORDER BY abs(ln(CAST(d.w AS DOUBLE) / d.h)
                                   - ln(bkt.bucket)), bkt.bucket) AS rk
           FROM d, bkt)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(CAST(w AS BIGINT) * h) AS BIGINT) AS total_pixels,
       round(CAST(SUM(CAST(aspect AS DECIMAL(38,15))) AS DOUBLE)
             / COUNT(*), 6) AS avg_aspect
FROM scored WHERE rk = 1
GROUP BY bucket
"""


@register("multimodal_aspect_bucketing", oracle=_ASPECT_BUCKET_SQL)
def multimodal_aspect_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASPECT-RATIO BUCKETING for image batching — the NaViT/SDXL
    preprocessing step: variable-size images are grouped into a fixed
    grid of aspect buckets (each batch then crops/pads only within
    its bucket, so batched tensors share a shape without destroying
    geometry). Every document becomes a valid VARIABLE-SIZE grayscale
    netpbm (width 4-12 x height 4-10, both derived from doc_id so the
    corpus genuinely spans the bucket grid; raster bytes from the
    salted-md5 chain as in the phash family), the REAL Arrow
    ``mapInPandas`` decode path reads back width/height
    (``functions/multimodal.append_dims`` — the engine never peeks at
    the arithmetic), and each image lands in the log-nearest bucket
    of {0.5, 0.75, 1.0, 1.5, 2.0} (distance in ln space — the
    scale-free metric, so 2:1 and 1:2 sit symmetric around square;
    ties break to the smaller bucket, stated identically in both
    engines). Output per bucket: image count, total pixels (the
    batch-budget denominator), mean aspect.

    Exactness: dimensions are exact integers re-derived by the oracle
    from the same doc_id arithmetic the payload constructor states
    (the phash discipline: engine hashes REAL decoded headers, oracle
    replicates the construction); aspect sums DECIMAL(38,15)-cast
    per-term; one division + round(6) per bucket row.

    Plan/scale: payload construction and decode are map-only
    partition-parallel; the bucket assignment is a 5-row broadcast
    grid with a per-doc window over 5 rows (doc-keyed partitions,
    never a global sort); one map-side-combined aggregate to
    |buckets| rows."""
    from vector_db_core_spark.functions.multimodal import append_dims
    from vector_db_core_spark.functions.text import canonical_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    canon = canonical_text("text")
    hexs = F.concat(*[F.md5(F.concat(canon, F.lit(f"#a{i}"))) for i in range(8)])
    w = (F.lit(4) + (F.col("doc_id") % 5) * 2).cast("int")
    h = (F.lit(4) + F.col("doc_id") % 7).cast("int")
    imgs = docs.select(
        "doc_id",
        w.alias("w"),
        h.alias("h"),
        hexs.alias("hx"),
    ).select(
        "doc_id",
        F.concat(
            F.encode(
                F.concat(
                    F.lit("P5\n"),
                    F.col("w").cast("string"),
                    F.lit(" "),
                    F.col("h").cast("string"),
                    F.lit("\n255\n"),
                ),
                "utf-8",
            ),
            F.unhex(F.expr("substr(hx, 1, 2 * w * h)")),
        ).alias("payload"),
    )
    dims = append_dims(imgs, "payload").select("doc_id", "width", "height")
    bkt = spark.createDataFrame(
        [(float(b),) for b in ASPECT_BUCKETS], schema="bucket DOUBLE"
    )
    aspect = F.col("width").cast("double") / F.col("height")
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            F.abs(F.log(aspect) - F.log(F.col("bucket"))), F.col("bucket")
        )
    )
    scored = (
        dims.crossJoin(F.broadcast(bkt))
        .select(
            "doc_id",
            "width",
            "height",
            aspect.alias("aspect"),
            "bucket",
            rk.alias("rk"),
        )
        .where(F.col("rk") == 1)
    )
    return scored.groupBy("bucket").agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("width").cast("bigint") * F.col("height"))
        .cast("bigint")
        .alias("total_pixels"),
        F.round(
            F.sum(F.col("aspect").cast("decimal(38,15)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_aspect"),
    )


MMR_POOL = 50
MMR_K = 10
#: lambda and (1 - lambda) as LITERAL STRINGS shared by both engines:
#: Python's 1 - 0.7 is 0.30000000000000004, which would silently
#: diverge from a SQL-side 0.3 literal — both sides parse the same
#: decimal text instead.
MMR_LAM_TXT = "0.7"
MMR_ONE_MINUS_LAM_TXT = "0.3"


def _mmr_sql() -> str:
    """Unrolled greedy MMR oracle: K chained top-1 CTEs, each scoring
    the remaining pool against the union of prior picks (the
    k-core/PageRank bounded-loop discipline — a fixed pick count
    needs no recursion)."""
    head = f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       FROM embeddings),
q AS (SELECT v FROM e WHERE vec_id = 0),
rel AS MATERIALIZED (
       SELECT e.vec_id, {_duck_cosine("e.v", "q.v")} AS rel, e.v
       FROM e, q WHERE e.vec_id <> 0
       ORDER BY rel DESC, e.vec_id LIMIT {MMR_POOL}),
ps AS MATERIALIZED (
       SELECT a.vec_id AS pa, b.vec_id AS pb,
              {_duck_cosine("a.v", "b.v")} AS sim
       FROM rel a JOIN rel b ON a.vec_id <> b.vec_id),
s1 AS MATERIALIZED (
       SELECT vec_id, rel, CAST(1 AS INT) AS pick_rank,
              CAST({MMR_LAM_TXT} AS DOUBLE) * rel AS mmr
       FROM rel ORDER BY rel DESC, vec_id LIMIT 1)"""
    parts = [head]
    sels = ["s1"]
    for i in range(2, MMR_K + 1):
        picked = " UNION ALL ".join(f"SELECT vec_id FROM {s}" for s in sels)
        parts.append(
            f"""sc{i} AS MATERIALIZED (
          SELECT r.vec_id, r.rel,
                 CAST({MMR_LAM_TXT} AS DOUBLE) * r.rel
                 - CAST({MMR_ONE_MINUS_LAM_TXT} AS DOUBLE) * MAX(ps.sim) AS mmr
          FROM rel r JOIN ps ON ps.pb = r.vec_id
                            AND ps.pa IN ({picked})
          WHERE r.vec_id NOT IN ({picked})
          GROUP BY r.vec_id, r.rel),
s{i} AS MATERIALIZED (
         SELECT vec_id, rel, CAST({i} AS INT) AS pick_rank, mmr
         FROM sc{i} ORDER BY mmr DESC, vec_id LIMIT 1)"""
        )
        sels.append(f"s{i}")
    final = "\nUNION ALL\n".join(
        f"SELECT pick_rank, vec_id, round(rel, 6) AS relevance,"
        f" round(mmr, 6) AS mmr_score FROM {s}"
        for s in sels
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


@register("sim_mmr_diversified_topk", oracle=_mmr_sql())
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
    1998) — the diversified-retrieval serving shape the plain cosine
    top-k can't give: greedy over a retrieved pool, each pick
    maximizing lambda*rel(d,q) - (1-lambda)*max sim(d, already
    picked), so near-duplicate neighbors stop crowding the page (the
    retrieval-side cousin of SemDeDup's training-side pruning).
    Query = vec_id 0; pool = its exact-cosine top-50; K = 10 picks at
    lambda = 0.7; ties break on vec_id.

    Exactness: every cosine is the shared left-fold kernel
    (``cosine_similarity`` == ``_duck_cosine`` fold order, the
    sim-family contract), lambda and (1-lambda) are the same decimal
    TEXT in both engines (a Python ``1 - 0.7`` is not 0.3 in
    doubles), and the greedy is pure IEEE-double comparisons — so the
    pick sequence is bit-identical; round(6) only on the emitted
    columns. The oracle unrolls the K picks as chained top-1 CTEs.

    Plan/scale: the DISTRIBUTED work is pool selection — map-side
    cosine against the broadcast query, TakeOrdered top-50; the
    greedy then runs driver-side over the BOUNDED pool (50 relevance
    rows + 50x49 pairwise sims, constant whatever the corpus — the
    serving-time rerank-the-page shape, and the catalog's
    bounded-collect contract). A batched variant fans the same
    per-query rerank across queries with applyInPandas, pool-sized
    state per group."""
    from vector_db_core_spark.functions.vectors import cosine_similarity

    lam = float(MMR_LAM_TXT)
    one_minus = float(MMR_ONE_MINUS_LAM_TXT)
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # r14: persist the 50-row pool — THREE consumers re-ran the full
    # corpus cosine + TakeOrdered without it (the a/b pairwise arms and
    # the relevance collect each re-derived it: three corpus passes).
    # Bounded by MMR_POOL whatever the corpus; released by the
    # registry-wide clearCache contract.
    rel = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            cosine_similarity("embedding", "qv").alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = rel.select(F.col("vec_id").alias("pa"), F.col("embedding").alias("va"))
    b = rel.select(F.col("vec_id").alias("pb"), F.col("embedding").alias("vb"))
    ps = (
        a.crossJoin(b)
        .where(F.col("pa") != F.col("pb"))
        .select("pa", "pb", cosine_similarity("va", "vb").alias("sim"))
    )
    # bounded collects: the pool is 50 rows and 50x49 sims by
    # construction, independent of corpus size
    rel_rows = {r.vec_id: r.rel for r in rel.select("vec_id", "rel").collect()}
    sim_rows = {(r.pa, r.pb): r.sim for r in ps.collect()}
    picked: list[tuple[int, int, float, float]] = []
    chosen: list[int] = []
    for rank in range(1, MMR_K + 1):
        best = None
        for vid, rv in rel_rows.items():
            if vid in chosen:
                continue
            if chosen:
                mmr = lam * rv - one_minus * max(
                    sim_rows[(s, vid)] for s in chosen
                )
                key = (-mmr, vid)
            else:
                # pick 1 orders on raw relevance exactly as the
                # oracle's s1 does (lam*rel could collapse distinct
                # rel doubles; rel itself cannot)
                mmr = lam * rv
                key = (-rv, vid)
            if best is None or key < best[0]:
                best = (key, vid, rv, mmr)
        if best is None:
            # pool smaller than MMR_K (tiny fixture): emit fewer rows,
            # exactly like the oracle's empty pick-k CTE
            break
        picked.append((rank, best[1], best[2], best[3]))
        chosen.append(best[1])
    out = spark.createDataFrame(
        picked, schema="pick_rank INT, vec_id BIGINT, relevance DOUBLE, mmr_score DOUBLE"
    )
    return out.select(
        "pick_rank",
        "vec_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )


BM25_K1_TXT = "1.2"
BM25_B_TXT = "0.75"
BM25_TOP_N = 20

#: Shared BM25 CTE prefix: builds ``s(doc_id, n_matched, score)`` —
#: the unrounded Okapi scores of every document matching the
#: deterministic 3-term query. Consumed by ``_BM25_SQL`` (the ranking
#: op's oracle) and ``_RRF_SQL`` (the fusion op's lexical leg) so the
#: two oracles provably score identically.
_BM25_CTE = rf"""
WITH tok AS (SELECT doc_id,
                    unnest(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
qt AS (SELECT term FROM tf WHERE doc_id = 0
       ORDER BY tf DESC, term LIMIT 3),
df AS (SELECT tf.term, CAST(COUNT(*) AS BIGINT) AS df
       FROM tf JOIN qt ON qt.term = tf.term GROUP BY tf.term),
s AS (SELECT tf.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_matched,
             CAST(SUM(CAST(
                 ln((CAST(n.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1)
                 * (tf.tf * (CAST({BM25_K1_TXT} AS DOUBLE) + 1))
                 / (tf.tf + CAST({BM25_K1_TXT} AS DOUBLE)
                    * (1 - CAST({BM25_B_TXT} AS DOUBLE)
                       + CAST({BM25_B_TXT} AS DOUBLE) * dl.dl
                         / (CAST(n.tot AS DOUBLE) / n.n)))
                 AS DECIMAL(38,15))) AS DOUBLE) AS score
      FROM tf
      JOIN qt ON qt.term = tf.term
      JOIN df ON df.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id, n
      GROUP BY tf.doc_id)"""

_BM25_SQL = f"""{_BM25_CTE},
r AS (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT {BM25_TOP_N})
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       doc_id, n_matched, round(score, 6) AS bm25_score
FROM r
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrounded Okapi BM25 scores ``(doc_id, n_matched, score)`` of
    every document matching the deterministic 3-term query — the
    Spark replica of the shared ``_BM25_CTE`` prefix, consumed by
    ``text_bm25_ranking`` (ranking) and ``text_rrf_hybrid_topk``
    (the fusion op's lexical leg)."""
    from vector_db_core_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return _bm25_scored_from_tf(tf)


def _bm25_scored_from_tf(tf: DataFrame) -> DataFrame:
    """Okapi scoring over an already-materialized postings frame
    ``tf(doc_id, term, tf)`` — split out so the STREAMING twin
    (``streaming_bm25_stats_replay``: postings maintained
    incrementally by the streaming engine) provably scores through
    the identical code path as the batch op."""
    k1 = float(BM25_K1_TXT)
    b = float(BM25_B_TXT)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    n = dl.agg(
        F.count("*").alias("n"), F.sum("dl").cast("bigint").alias("tot")
    )
    qt = (
        tf.where(F.col("doc_id") == 0)
        .orderBy(F.col("tf").desc(), "term")
        .limit(3)
        .select("term")
    )
    df = tf.join(F.broadcast(qt), "term").groupBy("term").agg(
        F.count("*").alias("df")
    )
    idf = F.log(
        (F.col("n").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + k1 * (
        1 - b + b * F.col("dl") / (F.col("tot").cast("double") / F.col("n"))
    )
    contrib = (idf * (F.col("tf") * (k1 + 1)) / denom).cast("decimal(38,15)")
    return (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matched"),
            F.sum(contrib).cast("double").alias("score"),
        )
    )


@register("text_bm25_ranking", oracle=_BM25_SQL)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 DOCUMENT RANKING (Robertson et al., the Okapi weighting —
    the lexical-retrieval standard TF-IDF graduated into, and the
    baseline every dense retriever is still benchmarked against):
    score the whole corpus against a deterministic 3-term query (doc
    0's top tokens by (tf DESC, term) — data-derived so it exists at
    every scale) with the textbook formula — idf = ln((N-df+0.5)/
    (df+0.5)+1), saturation k1 = 1.2, length normalization b = 0.75
    against the exact corpus average length — and emit the global
    top-20 with per-doc matched-term counts. Complements
    ``sim_cosine_topk`` (dense) and ``sim_tfidf_rerank_pairs``
    (tf-idf): the three retrieval scorers a hybrid search stack runs
    side by side.

    Exactness: tf/df/dl/N are exact integers; k1 and b are shared
    decimal TEXT constants; each (doc, term) contribution is one
    fixed double expression DECIMAL(38,15)-cast before the per-doc
    sum; ranking compares unrounded doubles with doc_id ties, and
    only the emitted score rounds.

    Plan/scale: the tf table is the corpus's one data-sized aggregate
    (shared shape with the tf-idf family); the 3-term query semi-joins
    tf down to matching postings BEFORE any scoring work (the
    df/dl/n sides broadcast); the global top-20 is
    TakeOrderedAndProject. At 100 TB this is postings-list scoring:
    work ∝ documents containing query terms, not the corpus."""
    return _bm25_rank(_bm25_scored(spark, sf_dir))


def _bm25_rank(s: DataFrame) -> DataFrame:
    """Global top-N + dense rank over a scored frame — shared by the
    batch op and the streaming-postings twin."""
    r = s.orderBy(F.col("score").desc(), "doc_id").limit(BM25_TOP_N)
    rank = F.row_number().over(W.orderBy(F.col("score").desc(), "doc_id"))
    return r.select(
        rank.cast("int").alias("rank"),
        "doc_id",
        "n_matched",
        F.round("score", 6).alias("bm25_score"),
    )


#: Reciprocal-rank-fusion constant (Cormack, Clarke & Buettcher 2009
#: — k=60 is the paper's standard) and per-leg list depth.
_RRF_K = 60
_RRF_DEPTH = 20

_RRF_SQL = f"""{_BM25_CTE},
lex AS (SELECT doc_id, r_lex FROM
          (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                    AS r_lex
           FROM s WHERE doc_id <> 0)
        WHERE r_lex <= {_RRF_DEPTH}),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dn AS (SELECT b.vec_id AS doc_id, {_duck_cosine("a.v", "b.v")} AS cs
       FROM emb a JOIN emb b ON b.vec_id <> 0 WHERE a.vec_id = 0),
den AS (SELECT doc_id, r_cos FROM
          (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS INT)
                    AS r_cos
           FROM dn)
        WHERE r_cos <= {_RRF_DEPTH}),
fus AS (SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_cos,
               COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.r_lex),
                        CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + d.r_cos),
                          CAST(0.0 AS DOUBLE)) AS rrf
        FROM lex l FULL OUTER JOIN den d ON d.doc_id = l.doc_id),
top AS (SELECT * FROM fus ORDER BY rrf DESC, doc_id LIMIT {_RRF_DEPTH})
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank,
       doc_id, r_lex AS bm25_rank, r_cos AS cosine_rank,
       round(rrf, 6) AS rrf_score
FROM top
"""


@register("text_rrf_hybrid_topk", oracle=_RRF_SQL)
def text_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL-RANK-FUSION HYBRID RETRIEVAL (Cormack, Clarke &
    Buettcher 2009, k=60 — the fusion every production hybrid search
    stack ships): fuse the LEXICAL leg (Okapi BM25 top-20 for the
    deterministic doc-0 query, via the shared ``_bm25_scored``
    replica of ``text_bm25_ranking``) with the DENSE leg (exact
    cosine top-20 of embedding 0 against the corpus,
    ``sim_cosine_topk``'s scoring) over the shared doc_id == vec_id
    item space, score(d) = Σ_legs 1/(k + rank_d), and emit the fused
    top-20 with each leg's rank (NULL where a doc appears in only one
    list — exactly the case RRF exists for). Completes the retrieval
    wing: lexical (BM25), dense (cosine), diversified (MMR), and now
    fused. The query document itself is excluded from both legs
    (self-retrieval carries no signal).

    Exactness: both legs rank on their own exact contracts (BM25's
    DECIMAL(38,15)-summed contributions; the pinned cosine fold) with
    doc_id tie-breaks, so the integer ranks are cross-engine
    identical; the RRF score is a fixed two-term double expression
    over those integers (1.0/(60+r), DOUBLE-cast literals — the
    DuckDB decimal-literal trap), COALESCEd identically across the
    full outer join; final order compares unrounded doubles with
    doc_id ties; only the emitted score rounds.

    Plan/scale: each leg is its own op's 100 TB shape (postings-list
    scoring for BM25; broadcast-query brute-force scan for the dense
    leg — swap in the IVF/LSH variant above recall scale); the fusion
    itself joins two ≤20-row lists — constant-sized whatever the
    corpus, so the whole plan rides on the legs."""
    rterm = lambda c: F.coalesce(  # noqa: E731 - two-term RRF score
        F.lit(1.0) / (F.lit(_RRF_K) + F.col(c)), F.lit(0.0)
    )
    lex = (
        _bm25_scored(spark, sf_dir)
        .where(F.col("doc_id") != 0)
        .withColumn(
            "r_lex",
            F.row_number()
            .over(W.orderBy(F.col("score").desc(), "doc_id"))
            .cast("int"),
        )
        .where(F.col("r_lex") <= _RRF_DEPTH)
        .select("doc_id", "r_lex")
    )
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_similarity(F.col("qv"), F.col("v")).alias("cs"),
        )
    )
    # two-phase top-k: local rank caps each partition's survivors
    # before the single-partition global window (sim_cosine_topk's
    # scale device)
    local = W.partitionBy(F.spark_partition_id()).orderBy(
        F.col("cs").desc(), "doc_id"
    )
    den = (
        scored.withColumn("lrank", F.row_number().over(local))
        .where(F.col("lrank") <= _RRF_DEPTH)
        .withColumn(
            "r_cos",
            F.row_number()
            .over(W.orderBy(F.col("cs").desc(), "doc_id"))
            .cast("int"),
        )
        .where(F.col("r_cos") <= _RRF_DEPTH)
        .select("doc_id", "r_cos")
    )
    fus = (
        lex.join(den, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_cos",
            (rterm("r_lex") + rterm("r_cos")).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_DEPTH)
    )
    return fus.select(
        F.row_number()
        .over(W.orderBy(F.col("rrf").desc(), "doc_id"))
        .cast("int")
        .alias("rank"),
        "doc_id",
        F.col("r_lex").alias("bm25_rank"),
        F.col("r_cos").alias("cosine_rank"),
        F.round("rrf", 6).alias("rrf_score"),
    )


_PHASH_WIDE_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, upper(text) || '  ' AS text
  FROM documents WHERE doc_id < 100),
cn AS (SELECT doc_id,
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c
       FROM corpus),
h AS (SELECT doc_id,
             md5(c || '#w0') || md5(c || '#w1') || md5(c || '#w2')
             || md5(c || '#w3') || substr(md5(c || '#w4'), 1, 16) AS hx
      FROM cn),
b AS (SELECT doc_id, i, ('0x' || substr(hx, 2 * i + 1, 2))::BIGINT AS byte
      FROM h, UNNEST(generate_series(0, 71)) AS g(i)),
bits AS (SELECT a.doc_id,
                (a.i // 8) * 7 + (a.i % 8) AS idx,
                CASE WHEN a.byte < c.byte THEN 1 ELSE 0 END AS bit
         FROM b a JOIN b c ON c.doc_id = a.doc_id AND c.i = a.i + 1
         WHERE a.i % 8 <> 7),
sig AS (SELECT doc_id, CAST(SUM(CAST(bit AS BIGINT) << idx) AS BIGINT) AS s
        FROM bits GROUP BY doc_id),
bands AS (SELECT doc_id, s, k, (s >> (16 * k)) & 65535 AS bv
          FROM sig, UNNEST(generate_series(0, 3)) AS g(k)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                a.s AS sig_a, b2.s AS sig_b
         FROM bands a JOIN bands b2 ON a.k = b2.k AND a.bv = b2.bv
                                   AND a.doc_id < b2.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


@register("multimodal_phash_neardup_wide", oracle=_PHASH_WIDE_SQL)
def multimodal_phash_neardup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE TWIN of ``multimodal_phash_neardup`` (r10 verdict
    task 2): same construction — content-deterministic netpbm rasters,
    REAL Arrow ``mapInPandas`` dHash from decoded pixels, LSH banding,
    Hamming <= 3 — but over an 8×9 raster, giving a 63-bit signature
    split into 4×16-bit bands (the top band carries 15 bits). The
    28-bit op's 7-bit band values collapse into <= 128 buckets, so its
    banded self-join degenerates toward quadratic once the corpus
    outgrows the band space (~sf10 — the documented wall); 16-bit
    bands hold 65,536 values, pushing the same saturation point out
    ~512×. 63 bits rather than the naive 9×8=64 keeps the signature
    sign-free in BIGINT on BOTH engines (bit 63 would wrap Spark's
    shiftleft and DuckDB's << differently from an unsigned packer —
    the ``conv``-overflow class of trap); the wall→twin convention is
    the catalog's standing policy (span→hashed, triangles→DOULION,
    KS→binned).

    Exactness: raster bytes re-derive from salted-suffix md5 hexes
    (engine-stable on any input — no reverse(); the r10-advice trap
    class), and the oracle replicates the bit/band/XOR integer
    arithmetic bit-for-bit while the engine hashes REAL decoded
    pixels.

    Plan/scale: identical shape to the 28-bit op — partition-parallel
    signature extraction, ×4 band explode, equi-join on (band,
    value), codegen'd xor+bit_count per candidate. Band values remain
    the shuffle keys at 100 TB; skew knobs unchanged."""
    from vector_db_core_spark.functions.multimodal import append_dhash
    from vector_db_core_spark.functions.text import canonical_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    canon = canonical_text("text")
    hexs = F.concat(
        *[F.md5(F.concat(canon, F.lit(f"#w{i}"))) for i in range(4)],
        F.substring(F.md5(F.concat(canon, F.lit("#w4"))), 1, 16),
    )
    payload = F.concat(F.lit(b"P5\n8 9\n255\n"), F.unhex(hexs))
    imgs = docs.unionByName(variants).select("doc_id", payload.alias("payload"))
    sigs = append_dhash(imgs, "payload").select("doc_id", "dhash")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.shiftright(F.col("dhash"), 16 * k)
                .bitwiseAND(F.lit(65535))
                .alias("bv"),
            )
            for k in range(4)
        ]
    )
    bands = sigs.select(
        "doc_id", F.col("dhash").alias("s"), F.explode(band_structs).alias("band")
    ).select("doc_id", "s", F.col("band.k").alias("k"), F.col("band.bv").alias("bv"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["k", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sig_a"),
            F.col("b.s").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select(
            "doc_a", "doc_b", hamming.cast("bigint").alias("hamming")
        ).where(F.col("hamming") <= MM_PHASH_MAX_HAMMING)
    )


VOCAB_OVERLAP_TOP_K = 100

_VOCAB_OVERLAP_SQL = rf"""
WITH tok AS (SELECT source,
                    unnest(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS token
             FROM documents),
cnt AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY source, token),
top AS (SELECT source, token
        FROM (SELECT source, token,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n DESC, token) AS rk
              FROM cnt)
        WHERE rk <= {VOCAB_OVERLAP_TOP_K}),
vs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS kv
       FROM top GROUP BY source),
pairs AS (SELECT a.source AS src_a, b.source AS src_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM top a JOIN top b ON a.token = b.token
                                AND a.source < b.source
          GROUP BY a.source, b.source)
SELECT src_a, src_b, n_shared,
       round(CAST(n_shared AS DOUBLE)
             / (va.kv + vb.kv - n_shared), 6) AS jaccard
FROM pairs
JOIN vs va ON va.source = pairs.src_a
JOIN vs vb ON vb.source = pairs.src_b
"""


@register("text_source_vocab_overlap", oracle=_VOCAB_OVERLAP_SQL)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-LEVEL VOCABULARY OVERLAP MAP: pairwise Jaccard of each
    source's top-100 token vocabulary — the corpus-curation redundancy
    read ABOVE the document level (two sources whose working
    vocabularies coincide are candidates for mixture down-weighting
    or near-dup investigation BEFORE any pairwise document work; a
    source overlapping nothing is either a different language or
    noise — both findings route to different pipeline stages). Top-k
    by (count DESC, token) is a total order, so each source's
    vocabulary set is deterministic; Jaccard divides by the TRUE
    union |A| + |B| - shared, with each source's actual vocabulary
    size (<= k — a source with fewer than k distinct tokens gets its
    real set size, not a silently-understated 2k closure; r10
    advice) joined back from the top-k table itself.

    Exactness: counts and set sizes are exact integers; one double
    division + round(6) per pair row.

    Plan/scale: the (source, token) count is the only data-sized work
    (one map-side-combined aggregate — the shuffle carries distinct
    (source, token), not token instances); the per-source top-k is a
    bounded window over the count table; the pair join runs on
    |sources|·k rows and emits C(|sources|,2) rows. At 100 TB the
    vocabulary count is the same aggregate every tf/idf op already
    pays, and everything above it is constant-sized."""
    from vector_db_core_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("n").desc(), F.col("token").asc())
    )
    top = cnt.select("source", "token", rk.alias("rk")).where(
        F.col("rk") <= VOCAB_OVERLAP_TOP_K
    )
    a = top.select(F.col("source").alias("src_a"), "token")
    b = top.select(F.col("source").alias("src_b"), "token")
    vocab = top.groupBy("source").agg(F.count("*").alias("kv"))
    pairs = (
        a.join(b, "token")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    va = vocab.select(F.col("source").alias("src_a"), F.col("kv").alias("kv_a"))
    vb = vocab.select(F.col("source").alias("src_b"), F.col("kv").alias("kv_b"))
    return (
        pairs.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("kv_a") + F.col("kv_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


_HAPAX_SQL = rf"""
WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
cnt AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY source, token)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       round(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hapax_ratio,
       round(CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS sichel_s
FROM cnt
GROUP BY source
"""


@register("text_hapax_ratio", oracle=_HAPAX_SQL)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX LEGOMENA PROFILE per source — the vocabulary-growth read
    beside MATTR/Zipf in the text-quality family (Baayen 2001: the
    share of once-occurring words tracks productive vocabulary; a
    source whose hapax ratio collapses is template/boilerplate text,
    one whose ratio stays near 1 is noise or ID-like strings — both
    route to different curation actions). Per source: token count,
    vocabulary size, hapax (freq 1) and dis legomena (freq 2) counts,
    hapax/vocab ratio and Sichel's S = dis/vocab.

    Exactness: the shared whitespace-token contract; all counts exact
    integers from one (source, token) frequency frame; two double
    divisions + round(6).

    Plan/scale: ONE map-side-combined (source, token) count — the
    same aggregate every tf/idf op pays, shuffling distinct types,
    not token instances — then a map-side-combined source rollup
    with conditional sums. Vocab-sized like the exact distinct-n op;
    the same linear-counting device (``text_distinct_ngrams_approx``)
    is the documented swap if the type table itself is the bottleneck
    at 100 TB — frequency-BAND counts bucket the same way."""
    from vector_db_core_spark.functions.text import tokens

    cnt = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    one = F.when(F.col("n") == 1, 1).otherwise(0)
    two = F.when(F.col("n") == 2, 1).otherwise(0)
    return cnt.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(one).cast("bigint").alias("hapax"),
        F.sum(two).cast("bigint").alias("dis"),
        F.round(F.sum(one).cast("double") / F.count("*"), 6).alias(
            "hapax_ratio"
        ),
        F.round(F.sum(two).cast("double") / F.count("*"), 6).alias("sichel_s"),
    )


LOG_ODDS_GROUP = "src0"
LOG_ODDS_ALPHA0 = 1000.0
LOG_ODDS_TOP_K = 20

_LOG_ODDS_SQL = rf"""
WITH tok AS (SELECT CASE WHEN source = '{LOG_ODDS_GROUP}' THEN 1 ELSE 0 END
                      AS grp,
                    unnest({_TOKS}) AS token
             FROM documents),
cnt AS (SELECT token,
               CAST(SUM(grp) AS BIGINT) AS y1,
               CAST(SUM(1 - grp) AS BIGINT) AS y2
        FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(y1) AS BIGINT) AS n1,
               CAST(SUM(y2) AS BIGINT) AS n2,
               CAST(SUM(y1) + SUM(y2) AS BIGINT) AS nb
        FROM cnt),
z AS (SELECT c.token, c.y1, c.y2,
             ln((c.y1 + {LOG_ODDS_ALPHA0} * (c.y1 + c.y2)
                        / CAST(t.nb AS DOUBLE))
                / (t.n1 + {LOG_ODDS_ALPHA0}
                   - c.y1 - {LOG_ODDS_ALPHA0} * (c.y1 + c.y2)
                            / CAST(t.nb AS DOUBLE)))
             - ln((c.y2 + {LOG_ODDS_ALPHA0} * (c.y1 + c.y2)
                          / CAST(t.nb AS DOUBLE))
                  / (t.n2 + {LOG_ODDS_ALPHA0}
                     - c.y2 - {LOG_ODDS_ALPHA0} * (c.y1 + c.y2)
                              / CAST(t.nb AS DOUBLE))) AS delta,
             sqrt(1.0 / (c.y1 + {LOG_ODDS_ALPHA0} * (c.y1 + c.y2)
                                / CAST(t.nb AS DOUBLE))
                  + 1.0 / (c.y2 + {LOG_ODDS_ALPHA0} * (c.y1 + c.y2)
                                  / CAST(t.nb AS DOUBLE))) AS se
      FROM cnt c, tot t),
r AS (SELECT token, y1, y2,
             round(delta, 6) AS log_odds_delta,
             round(delta / se, 6) AS z_score
      FROM z)
SELECT token, y1 AS n_group, y2 AS n_rest, log_odds_delta, z_score
FROM (SELECT *, row_number() OVER (ORDER BY z_score DESC, token) AS rk
      FROM r)
WHERE rk <= {LOG_ODDS_TOP_K}
"""


@register("agg_log_odds_monroe", oracle=_LOG_ODDS_SQL)
def agg_log_odds_monroe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"FIGHTIN' WORDS" LOG-ODDS with informative Dirichlet prior
    (Monroe, Colaresi & Quinn 2008) — WHICH tokens distinguish one
    source from the rest of the corpus, the distribution-level drift
    ops (``pipeline_unigram_drift_kl``) can't name (KL says THAT the
    mixes differ; the z-scored log-odds ranks the words responsible,
    shrunk toward the corpus prior so rare words don't dominate the
    way raw PMI lets them). Group = '{LOG_ODDS_GROUP}' vs all other
    sources; prior alpha_w = a0 * p_w with p_w the token's corpus
    share and a0 = {LOG_ODDS_ALPHA0}; top-{LOG_ODDS_TOP_K} tokens by
    z = delta / sqrt(1/(y1+a_w) + 1/(y2+a_w)).

    Exactness: token counts are exact integers; the prior, delta and
    se are fixed double expressions stated in the same operation
    order in both engines (the corpus share p_w divides by nb CAST to
    double first); z and delta round(6) BEFORE the top-k order, so
    the ordering key (z_score DESC, token) compares identical rounded
    doubles — deterministic rank across engines, the
    ``text_source_vocab_overlap`` top-k discipline.

    Plan/scale: ONE (token) count aggregate with conditional sums
    (grp melts to 0/1 — no second scan for the rest-group), a 1-row
    total broadcast onto the type table, and a top-k
    TakeOrderedAndProject over vocab-sized input. At 100 TB the type
    table is the same aggregate the tf/idf family pays; nothing else
    is data-sized."""
    from vector_db_core_spark.functions.text import tokens

    grp = F.when(F.col("source") == LOG_ODDS_GROUP, 1).otherwise(0)
    cnt = (
        _t(spark, sf_dir, "documents")
        .select(grp.alias("grp"), F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.sum("grp").cast("bigint").alias("y1"),
            F.sum(1 - F.col("grp")).cast("bigint").alias("y2"),
        )
    )
    tot = cnt.agg(
        F.sum("y1").cast("bigint").alias("n1"),
        F.sum("y2").cast("bigint").alias("n2"),
        (F.sum("y1") + F.sum("y2")).cast("bigint").alias("nb"),
    )
    a0 = F.lit(LOG_ODDS_ALPHA0)
    j = cnt.join(F.broadcast(tot))
    aw = a0 * (F.col("y1") + F.col("y2")) / F.col("nb").cast("double")
    delta = F.log(
        (F.col("y1") + aw) / (F.col("n1") + a0 - F.col("y1") - aw)
    ) - F.log((F.col("y2") + aw) / (F.col("n2") + a0 - F.col("y2") - aw))
    se = F.sqrt(1.0 / (F.col("y1") + aw) + 1.0 / (F.col("y2") + aw))
    r = j.select(
        "token",
        F.col("y1").alias("n_group"),
        F.col("y2").alias("n_rest"),
        F.round(delta, 6).alias("log_odds_delta"),
        F.round(delta / se, 6).alias("z_score"),
    )
    rk = F.row_number().over(
        W.orderBy(F.col("z_score").desc(), F.col("token").asc())
    )
    return (
        r.select("*", rk.alias("rk"))
        .where(F.col("rk") <= LOG_ODDS_TOP_K)
        .drop("rk")
    )


COOCC_VOCAB_K = 50
COOCC_MIN_SUPPORT = 5

_COOCC_SQL = rf"""
WITH tok AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS token
             FROM documents),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token),
top AS (SELECT token, df
        FROM (SELECT token, df,
                     row_number() OVER (ORDER BY df DESC, token) AS rk
              FROM df)
        WHERE rk <= {COOCC_VOCAB_K}),
inc AS (SELECT t.doc_id, t.token
        FROM tok t JOIN top ON t.token = top.token),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
p AS (SELECT a.token AS t1, b.token AS t2, CAST(COUNT(*) AS BIGINT) AS n_both
      FROM inc a JOIN inc b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2)
SELECT t1, t2, n_both, da.df AS df1, db.df AS df2,
       round(ln(CAST(n_both AS DOUBLE) * nd.n
                / (da.df * CAST(db.df AS DOUBLE))), 6) AS pmi
FROM p
JOIN top da ON da.token = p.t1
JOIN top db ON db.token = p.t2, nd
WHERE n_both >= {COOCC_MIN_SUPPORT}
"""


@register("text_keyword_cooccurrence", oracle=_COOCC_SQL)
def text_keyword_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYWORD CO-OCCURRENCE PMI over the corpus top-{COOCC_VOCAB_K}
    vocabulary — which frequent terms appear in the SAME documents
    more than their individual frequencies predict (Church & Hanks
    1990's pointwise mutual information at document granularity): the
    topic-structure read between the per-source vocabulary map
    (``text_source_vocab_overlap``) and per-pair document similarity
    (a high-PMI term pair is a topic signature; a full grid of
    near-zero PMI says the corpus has no co-occurrence structure).
    PMI = ln(n_both * N / (df1 * df2)) over document-level incidence,
    pairs with support >= {COOCC_MIN_SUPPORT}.

    Exactness: document frequencies and pair supports are exact
    integers over the shared token contract (per-doc distinct
    tokens); the vocabulary is a deterministic top-k by (df DESC,
    token); PMI is one double expression stated in the same operation
    order in both engines + round(6).

    Plan/scale: the (token) df count and per-doc incidence are the
    data-sized stages (both map-side-combined / semi-joined against
    the broadcast {COOCC_VOCAB_K}-row vocabulary); pair generation is
    per-doc and BOUNDED — each doc contributes at most C({COOCC_VOCAB_K},2)
    pairs from its sorted present-vocabulary array (array pair
    expansion, NOT a row self-join: no second incidence shuffle, no
    join of the corpus against itself), straight into a map-side-
    combined pair count whose key space is also C({COOCC_VOCAB_K},2).
    The oracle spells the same pairs as a relational self-join —
    identical multiset. At 100 TB everything scales with corpus scan
    + bounded grids."""
    from vector_db_core_spark.functions.text import distinct_tokens

    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(distinct_tokens("text")).alias("token")
    )
    dfc = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    # top-k by (df DESC, token) via TakeOrderedAndProject (r14): the
    # old row_number window sorted the whole vocabulary in ONE task;
    # orderBy+limit computes per-partition partial top-k in parallel
    # and merges K rows — same deterministic set, total order
    top = dfc.orderBy(F.col("df").desc(), "token").limit(COOCC_VOCAB_K)
    inc = toks.join(F.broadcast(top.select("token")), "token")
    arr = inc.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("token")).alias("ts")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ts"),
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size("ts")),
                lambda y: F.struct(x.alias("t1"), y.alias("t2")),
            ),
        )
    )
    p = (
        arr.select(F.explode(pair_structs).alias("p"))
        .select("p.t1", "p.t2")
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .where(F.col("n_both") >= COOCC_MIN_SUPPORT)
    )
    nd = _t(spark, sf_dir, "documents").agg(
        F.count("*").cast("bigint").alias("n")
    )
    da = top.select(F.col("token").alias("t1"), F.col("df").alias("df1"))
    db = top.select(F.col("token").alias("t2"), F.col("df").alias("df2"))
    pmi = F.log(
        F.col("n_both").cast("double")
        * F.col("n")
        / (F.col("df1") * F.col("df2").cast("double"))
    )
    return (
        p.join(F.broadcast(da), "t1")
        .join(F.broadcast(db), "t2")
        .join(F.broadcast(nd))
        .select("t1", "t2", "n_both", "df1", "df2", F.round(pmi, 6).alias("pmi"))
    )


RPE_PLANES = 8
RPE_DIM = 64


def _rpe_signs() -> list:
    """Seeded Rademacher sign matrix (RPE_PLANES x RPE_DIM): +1 when
    the first md5 nibble of 'rpe|plane|dim' is <= '7' — the same
    deterministic-hash device as the sign-LSH planes, reproducible in
    any engine/process with no RNG."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"rpe|{j}|{d}".encode()).hexdigest()[0] <= "7"
            else -1
            for d in range(RPE_DIM)
        ]
        for j in range(RPE_PLANES)
    ]


def _rpe_sql() -> str:
    signs = _rpe_signs()
    projs = []
    for j, row in enumerate(signs):
        terms = " ".join(
            f"{'+' if s > 0 else '-'} m[{d + 1}]" for d, s in enumerate(row)
        )
        projs.append(f"({terms.lstrip('+ ')}) AS p{j}")
    psq = " + ".join(f"p{j} * p{j}" for j in range(RPE_PLANES))
    nsq = " + ".join(f"m[{d + 1}] * m[{d + 1}]" for d in range(RPE_DIM))
    return f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0)
                                AS BIGINT)) AS m
           FROM embeddings),
p AS (SELECT vec_id, label, {', '.join(projs)}, ({nsq}) AS normsq
      FROM e),
r AS (SELECT label,
             CASE WHEN normsq > 0
                  THEN (CAST({psq} AS DOUBLE) / {RPE_PLANES}.0)
                       / CAST(normsq AS DOUBLE) END AS ratio
      FROM p)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       round(CAST(SUM(CAST(ratio AS DECIMAL(27,15))) AS DOUBLE)
             / COUNT(ratio), 6) AS mean_energy_ratio,
       round(MIN(ratio), 6) AS min_energy_ratio,
       round(MAX(ratio), 6) AS max_energy_ratio
FROM r
GROUP BY label
"""


@register("sim_random_projection_energy", oracle=_rpe_sql())
def sim_random_projection_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS ENERGY-PRESERVATION PROFILE — how well
    the {RPE_PLANES}-plane seeded Rademacher projection (the
    sign-LSH family's plane construction, Achlioptas 2003's database-
    friendly JL variant) preserves each vector's squared norm:
    ratio = (sum_j p_j^2 / k) / ||v||^2, whose expectation is exactly
    1 for Rademacher planes. Per label: vector count and the
    mean/min/max ratio — the pre-flight check that tells you whether
    k projection dims are enough BEFORE you build the LSH/BRP index
    on them (a label whose min ratio collapses has structure the
    planes miss; widen k).

    Exactness: embeddings micro-quantize to BIGINT (the shared 1e6
    contract); each projection is an EXPLICIT +/- integer sum over
    the {RPE_DIM} dims (the sign matrix is md5-seeded, generated once
    and inlined as literals in BOTH engines — no RNG, no HOF fold);
    squared sums stay integer (|p_j| <= 64 * 5e6 keeps p^2 sums well
    inside int64); the ratio is one fixed double expression guarded
    by normsq > 0, DECIMAL-accumulated for the order-independent
    mean, round(6) everywhere.

    Plan/scale: pure map-side projection arithmetic inside
    whole-stage codegen (512 add/sub terms — wide but flat; vectors
    never shuffle), then ONE map-side-combined label aggregate. At
    100 TB this is a single scan at memory bandwidth; the same shape
    as the ANN family's map-side scoring."""
    signs = _rpe_signs()
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
        ).alias("m"),
    )
    projs = []
    for j, row in enumerate(signs):
        p = None
        for d, s in enumerate(row):
            term = F.element_at("m", d + 1)
            term = term if s > 0 else -term
            p = term if p is None else p + term
        projs.append(p.alias(f"p{j}"))
    nsq = None
    for d in range(RPE_DIM):
        t = F.element_at("m", d + 1) * F.element_at("m", d + 1)
        nsq = t if nsq is None else nsq + t
    p = e.select("vec_id", "label", *projs, nsq.alias("normsq"))
    psq = None
    for j in range(RPE_PLANES):
        t = F.col(f"p{j}") * F.col(f"p{j}")
        psq = t if psq is None else psq + t
    ratio = F.when(
        F.col("normsq") > 0,
        (psq.cast("double") / float(RPE_PLANES))
        / F.col("normsq").cast("double"),
    )
    r = p.select("label", ratio.alias("ratio"))
    return r.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(
            F.sum(F.col("ratio").cast("decimal(27,15)")).cast("double")
            / F.count("ratio"),
            6,
        ).alias("mean_energy_ratio"),
        F.round(F.min("ratio"), 6).alias("min_energy_ratio"),
        F.round(F.max("ratio"), 6).alias("max_energy_ratio"),
    )


_EXIF_ORIENT_SQL = """
WITH x AS (SELECT doc_id,
                  CAST((instr('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                       % 8 + 1 AS INT) AS orientation,
                  CAST(640 + (doc_id % 5) * 160 AS INT) AS raw_w,
                  CAST(480 + (doc_id % 3) * 120 AS INT) AS raw_h
           FROM documents)
SELECT doc_id, orientation,
       CASE orientation
            WHEN 1 THEN 'identity'      WHEN 2 THEN 'flip_horizontal'
            WHEN 3 THEN 'rotate_180'    WHEN 4 THEN 'flip_vertical'
            WHEN 5 THEN 'transpose'     WHEN 6 THEN 'rotate_90_cw'
            WHEN 7 THEN 'transverse'    ELSE 'rotate_270_cw' END
         AS transform,
       raw_w, raw_h,
       CASE WHEN orientation >= 5 THEN raw_h ELSE raw_w END AS norm_w,
       CASE WHEN orientation >= 5 THEN raw_w ELSE raw_h END AS norm_h,
       orientation >= 5 AS dims_swapped,
       orientation IN (2, 4, 5, 7) AS mirrored
FROM x
"""


@register("multimodal_exif_orientation_norm", oracle=_EXIF_ORIENT_SQL)
def multimodal_exif_orientation_norm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXIF ORIENTATION NORMALIZATION manifest — the metadata-side
    half of image ingestion (a training pipeline must rotate/mirror
    pixels AND swap the stored width/height for orientations 5-8
    before any aspect-ratio bucketing or resize math; feeding raw
    EXIF dims into ``multimodal_aspect_bucketing`` silently puts every
    rotated photo in the wrong bucket). Per image: the EXIF
    orientation code (1-8), its canonical transform name, raw and
    normalized dims, and the swap/mirror flags downstream ops branch
    on. The pixel-side transform belongs to the stubbed decoder in
    ``functions/multimodal.py`` (the declared media boundary — the
    fixture carries no real JPEG bytes); THIS op is the real
    Spark-side metadata plumbing that runs identically on real EXIF
    columns.

    Exactness: orientation and dims derive deterministically from
    doc_id (md5-nibble mod 8 + 1 — the shared seeded-hash device;
    arithmetic dims), the transform ladder is the EXIF standard's
    fixed CASE, and every output is an integer/string/boolean — no
    floats anywhere.

    Plan/scale: pure per-row projection in whole-stage codegen; no
    shuffle, no state. On a real corpus the orientation column
    arrives from the EXIF parser and this plan is unchanged."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    orient = (
        (
            F.expr(
                "instr('0123456789abcdef',"
                " substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1"
            )
            % 8
            + 1
        )
        .cast("int")
        .alias("orientation")
    )
    x = d.select(
        "doc_id",
        orient,
        (640 + (F.col("doc_id") % 5) * 160).cast("int").alias("raw_w"),
        (480 + (F.col("doc_id") % 3) * 120).cast("int").alias("raw_h"),
    )
    name = (
        F.when(F.col("orientation") == 1, "identity")
        .when(F.col("orientation") == 2, "flip_horizontal")
        .when(F.col("orientation") == 3, "rotate_180")
        .when(F.col("orientation") == 4, "flip_vertical")
        .when(F.col("orientation") == 5, "transpose")
        .when(F.col("orientation") == 6, "rotate_90_cw")
        .when(F.col("orientation") == 7, "transverse")
        .otherwise("rotate_270_cw")
    )
    swap = F.col("orientation") >= 5
    return x.select(
        "doc_id",
        "orientation",
        name.alias("transform"),
        "raw_w",
        "raw_h",
        F.when(swap, F.col("raw_h")).otherwise(F.col("raw_w")).alias("norm_w"),
        F.when(swap, F.col("raw_w")).otherwise(F.col("raw_h")).alias("norm_h"),
        swap.alias("dims_swapped"),
        F.col("orientation").isin(2, 4, 5, 7).alias("mirrored"),
    )


_BRIDGE_SQL = f"""
WITH RECURSIVE
{_DOC_SPANS_SQL}
keep AS (SELECT span FROM sp GROUP BY span
         HAVING COUNT(*) BETWEEN 2 AND {_SPAN_MAX_DOCS}),
e AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id < b.doc_id
      JOIN keep k ON k.span = a.span),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
reach AS (
  SELECT e.u AS eu, e.v AS ev, s.side,
         CASE WHEN s.side = 'a' THEN e.u ELSE e.v END AS node
  FROM e, (SELECT 'a' AS side UNION ALL SELECT 'b') s
  UNION
  SELECT r.eu, r.ev, r.side, s.v AS node
  FROM reach r JOIN sym s ON s.u = r.node
  WHERE NOT ((s.u = r.eu AND s.v = r.ev) OR (s.u = r.ev AND s.v = r.eu))
),
agg AS (SELECT eu, ev,
               CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_side_a,
               CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_side_b,
               MAX(CASE WHEN side = 'a' AND node = ev THEN 1 ELSE 0 END)
                 AS a_sees_b
        FROM reach GROUP BY eu, ev)
SELECT eu AS doc_a, ev AS doc_b, n_side_a, n_side_b,
       CAST(n_side_a + n_side_b AS BIGINT) AS component_size
FROM agg WHERE a_sees_b = 0
"""


@register("graph_bridge_edges", oracle=_BRIDGE_SQL)
def graph_bridge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIDGE EDGES of the span-sharing near-dup graph — the
    cluster-fragility read the connected-components labeling hides:
    transitive-closure dedup (``dedup_connected_clusters``) merges
    two document families into one cluster whenever a SINGLE weak
    pair links them, and a bridge (an edge whose removal disconnects
    its endpoints) IS that pair. Output: every bridge over the
    ``dedup_span_pairs`` edge set with the sizes of the two sides it
    holds together — the review queue for "is this one shared span
    really the same document family, or two families glued by a
    quote". Cycle edges (redundantly-connected pairs) never appear.

    Plan — components first, then Tarjan per component: (1) min-label
    propagation labels every node with its component
    (``analytics._min_label_fixpoint``, the loop
    ``dedup_connected_clusters`` runs: diameter rounds over the
    pairs, the |V|-row label frame broadcast); (2) edges group by component
    label and each component's edge list runs TARJAN'S linear
    low-link bridge algorithm inside ``applyInPandas`` — dedup
    components are duplicate-family-sized, so each fits one Arrow
    batch and components parallelize across executors. The subtree
    size at each bridge gives the child side; the component total
    gives the other — the split sizes come free from the DFS.

    This replaced a first-cut per-edge reachability fixpoint
    (state (edge, side, node), one distinct per round): correct and
    oracle-shaped, but its state is sum over components of
    2|E_c|x|V_c| and its round count the component diameter — on the
    perturbed ~sf1 fixture\'s dense near-twin families it measured
    145 s vs single-digit seconds for this form (the k-core lesson:
    measure the fold, keep the winner). The oracle keeps the
    recursion — a recursive CTE with UNION dedup computing the
    identical set.

    Exactness: pure set/integer computation; Tarjan emits exactly
    the edges whose low-link exceeds the parent\'s discovery index —
    the textbook characterization of bridges — independent of DFS
    order; sizes are exact integers; the pytest re-derives bridges
    with an INDEPENDENT Tarjan + union-find and pins equality.

    Plan/scale: the edge list is duplication-bounded (the [2,20]
    span doc-frequency cap); the CC loop shuffles per-node partial
    min labels only; the per-component work is linear in component edges.
    At 100 TB the shape is unchanged — millions of small components,
    each one Arrow batch."""
    from pyspark.sql.types import LongType, StructField, StructType

    from vector_db_core_spark.operators.analytics import _min_label_fixpoint

    pairs = (
        dedup_span_pairs(spark, sf_dir)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .persist()
    )
    try:
        labels = _min_label_fixpoint(pairs, 30)  # sanity cap >> any dedup component diameter
        lab = labels.select(F.col("node").alias("u"), "comp")
        edges_labeled = pairs.join(lab, "u").select("comp", "u", "v")

        schema = StructType(
            [
                StructField("doc_a", LongType()),
                StructField("doc_b", LongType()),
                StructField("n_side_a", LongType()),
                StructField("n_side_b", LongType()),
                StructField("component_size", LongType()),
            ]
        )

        def bridges_of_component(pdf):
            import pandas as pd

            adj = {}
            for u, v in zip(pdf["u"], pdf["v"]):
                adj.setdefault(int(u), []).append(int(v))
                adj.setdefault(int(v), []).append(int(u))
            n_comp = len(adj)
            disc, low, size = {}, {}, {}
            out = []
            t = 0
            for start in adj:
                if start in disc:
                    continue
                disc[start] = low[start] = t
                t += 1
                size[start] = 1
                stack = [(start, None, iter(adj[start]))]
                while stack:
                    node, parent, it = stack[-1]
                    advanced = False
                    for w in it:
                        if w not in disc:
                            disc[w] = low[w] = t
                            t += 1
                            size[w] = 1
                            stack.append((w, node, iter(adj[w])))
                            advanced = True
                            break
                        elif w != parent:
                            low[node] = min(low[node], disc[w])
                    if not advanced:
                        stack.pop()
                        if stack:
                            par = stack[-1][0]
                            low[par] = min(low[par], low[node])
                            size[par] += size[node]
                            if low[node] > disc[par]:
                                a, b = min(par, node), max(par, node)
                                child_side = size[node]
                                side_a = (
                                    child_side
                                    if a == node
                                    else n_comp - child_side
                                )
                                out.append(
                                    (a, b, side_a, n_comp - side_a, n_comp)
                                )
            cols = ["doc_a", "doc_b", "n_side_a", "n_side_b", "component_size"]
            if not out:  # bridge-free component: typed empty frame for Arrow
                return pd.DataFrame({c: pd.Series([], dtype="int64") for c in cols})
            return pd.DataFrame(out, columns=cols)

        out = edges_labeled.groupBy("comp").applyInPandas(
            bridges_of_component, schema
        )
        # loop_checkpoint, not collect+createDataFrame (r14, the r13
        # verdict's shape nit): the lineage break must not transit the
        # driver — at 100 TB the bridge list is the review QUEUE and
        # can be millions of rows. Eager: materialize before the
        # finally block unpersists the frames this plan reads.
        out = loop_checkpoint(out, eager=True)
    finally:
        pairs.unpersist()
    return out


MRL_PREFIX_DIMS = (8, 16, 32, 64)
MRL_TOP_K = 10


def _mrl_sql() -> str:
    def dist(d: int) -> str:
        terms = " + ".join(
            f"(m[{i}] - qm[{i}]) * (m[{i}] - qm[{i}])" for i in range(1, d + 1)
        )
        return f"CAST({terms} AS BIGINT)"

    dcols = ", ".join(f"{dist(d)} AS d{d}" for d in MRL_PREFIX_DIMS)
    rcols = ", ".join(
        f"row_number() OVER (ORDER BY d{d}, vec_id) AS r{d}"
        for d in MRL_PREFIX_DIMS
    )
    legs = "\nUNION ALL\n".join(
        f"SELECT CAST({d} AS INT) AS prefix_dim,"
        f" CAST(SUM(CASE WHEN r{d} <= {MRL_TOP_K} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_overlap,"
        f" round(SUM(CASE WHEN r{d} <= {MRL_TOP_K} THEN 1 ELSE 0 END)"
        f" / CAST({MRL_TOP_K} AS DOUBLE), 6) AS recall_at_k"
        f" FROM r WHERE r64 <= {MRL_TOP_K}"
        for d in MRL_PREFIX_DIMS
    )
    return f"""
WITH e AS (SELECT vec_id,
                  list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0)
                                AS BIGINT)) AS m
           FROM embeddings),
q AS (SELECT m AS qm FROM e WHERE vec_id = 0),
dist AS (SELECT e.vec_id, {dcols} FROM e, q WHERE e.vec_id <> 0),
r AS (SELECT vec_id, {rcols} FROM dist)
{legs}
"""


@register("sim_matryoshka_prefix_recall", oracle=_mrl_sql())
def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA PREFIX-DIMENSION RECALL (Kusupati et al. 2022, MRL)
    — the adaptive-retrieval tuning curve: if embeddings were trained
    so their leading dimensions carry a coarse version of the whole
    vector, serving can score with the first d dims and rerank few
    survivors at full width. This op measures what that costs HERE:
    exact top-{MRL_TOP_K} neighbors of the probe (vec_id 0) by full
    64-dim integer L2, then the same top-{MRL_TOP_K} using only the
    first 8/16/32/64 dims — one row per prefix width with its
    recall@{MRL_TOP_K} against the full-width truth (64 reads 1.0 by
    construction, the sanity row). The curve is the pre-flight that
    decides whether PQ/IVF (block-local codes) or prefix truncation
    (MRL) is the right compression for a given corpus.

    Exactness: micro-quantized BIGINT distances (the PQ family's 1e6
    contract) summed as EXPLICIT codegen terms (no interpreted HOF
    fold — the round-13 RPE device); every ranking orders by
    (distance, vec_id), a total order, so top-k membership is
    engine-stable; recall is one double division + round(6).

    Plan/scale: ONE map-side scan computes all four prefix distances
    — each dimension's product appears in exactly one SEGMENT sum and
    wider prefixes chain on the narrower column (64 products total;
    a first cut restated every prefix from scratch — 120 products in
    four separate scans — and its ladder showed a compile-dominated
    ~19 s constant); the tiny (vec_id, d8..d64) frame persists and
    each width closes with ``orderBy().limit({MRL_TOP_K})`` —
    TakeOrderedAndProject, the distributed two-phase top-k — so
    vectors are scanned once and never shuffle; the overlap join runs
    on 4x{MRL_TOP_K} rows against the broadcast full-width truth. The
    oracle spells the same rankings as window functions
    (single-threaded is fine oracle-side)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
        ).alias("m"),
    )
    qrow = e.where(F.col("vec_id") == 0).select(F.col("m").alias("qm"))
    base = e.where(F.col("vec_id") != 0).join(F.broadcast(qrow))

    def seg(lo: int, hi: int):
        # term sum over dims (lo, hi] — each dim's product appears in
        # exactly ONE segment; wider prefixes CHAIN on the narrower
        # column instead of restating it (64 products total, not 120,
        # and the per-column expression stays far from codegen limits)
        s = None
        for i in range(lo + 1, hi + 1):
            t = (F.element_at("m", i) - F.element_at("qm", i)) * (
                F.element_at("m", i) - F.element_at("qm", i)
            )
            s = t if s is None else s + t
        return s

    dists = base.select("vec_id", "m", "qm", seg(0, 8).alias("d8"))
    prev = 8
    for d in MRL_PREFIX_DIMS[1:]:
        dists = dists.select(
            "*", (F.col(f"d{prev}") + seg(prev, d)).alias(f"d{d}")
        )
        prev = d
    dists = dists.select(
        "vec_id", *[F.col(f"d{d}").cast("bigint").alias(f"d{d}") for d in MRL_PREFIX_DIMS]
    ).persist()
    tops = {}
    for d in MRL_PREFIX_DIMS:
        tops[d] = (
            dists.select("vec_id", F.col(f"d{d}").alias("dd"))
            .orderBy("dd", "vec_id")
            .limit(MRL_TOP_K)
            .select("vec_id")
        )
    truth = tops[64].select(F.col("vec_id").alias("tv"))
    cand = None
    for d in MRL_PREFIX_DIMS:
        leg = tops[d].select(
            F.lit(d).cast("int").alias("prefix_dim"), "vec_id"
        )
        cand = leg if cand is None else cand.unionByName(leg)
    hit = cand.join(F.broadcast(truth), cand.vec_id == F.col("tv"), "left")
    n_hit = F.sum(F.when(F.col("tv").isNotNull(), 1).otherwise(0))
    return hit.groupBy("prefix_dim").agg(
        n_hit.cast("bigint").alias("n_overlap"),
        F.round(n_hit / F.lit(float(MRL_TOP_K)), 6).alias("recall_at_k"),
    )
