"""Semantic checks for the training-data pipeline operators (the
oracle gate in test_oracle.py covers value equality; these pin the
*behavioral* contracts: split stability, real downsampling, lossless
chunking)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE
from vector_db_core_spark.operators import QUERIES


def test_split_proportions_and_duplicate_stability(spark):
    rows = QUERIES["pipeline_train_val_test_split"](spark, SF_ORACLE).collect()
    n = len(rows)
    frac = {s: sum(r.split == s for r in rows) / n for s in ("train", "val", "test")}
    # 75/12.5/12.5 nominal; fixture is small so allow slack
    assert 0.6 < frac["train"] < 0.9
    assert frac["val"] > 0 and frac["test"] > 0
    # the assignment is a pure function of CONTENT (the no-leakage
    # property: any duplicate of a text, anywhere, gets this split) —
    # verified against a driver-side md5 recomputation
    import hashlib

    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_ORACLE}/documents.parquet").collect()
    }
    for r in rows:
        nib = hashlib.md5(texts[r.doc_id].encode()).hexdigest()[0]
        expect = "train" if nib <= "b" else ("val" if nib <= "d" else "test")
        assert r.split == expect


def test_mixture_downsamples_tail_sources_only(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    kept = QUERIES["pipeline_source_mixture"](spark, SF_ORACLE).collect()
    total = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept_n: dict[str, int] = {}
    for r in kept:
        kept_n[r.source] = kept_n.get(r.source, 0) + 1
    head = {s for s in total if len(s) <= 4}
    for s in head:
        assert kept_n.get(s, 0) == total[s]  # head kept in full
    tail_total = sum(total[s] for s in total if s not in head)
    tail_kept = sum(kept_n.get(s, 0) for s in total if s not in head)
    assert tail_total > 0
    assert tail_kept < tail_total  # actually downsampled
    assert 0.1 < tail_kept / tail_total < 0.45  # ~25% nominal


def test_chunking_is_lossless_and_sized(spark):
    from vector_db_core_spark.operators.pipeline import CHUNK_TOKENS

    chunks = QUERIES["pipeline_chunk_tokens"](spark, SF_ORACLE).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_ORACLE}/documents.parquet").collect()
    }
    by_doc: dict[int, dict[int, str]] = {}
    for r in chunks:
        assert 1 <= r.n_tokens <= CHUNK_TOKENS
        assert len(r.chunk.split()) == r.n_tokens
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk
    for doc_id, parts in by_doc.items():
        rebuilt = " ".join(parts[i] for i in sorted(parts))
        assert rebuilt.split() == docs[doc_id].split()  # lossless reassembly
    assert set(by_doc) == set(docs)  # every document chunked


def test_normalize_masks_articles_and_collapses_space(spark):
    out = QUERIES["pipeline_normalize_text"](spark, SF_ORACLE).collect()
    masked = sum("<ART>" in r.clean_text for r in out)
    assert masked > 0
    for r in out:
        assert "  " not in r.clean_text
        toks = r.clean_text.split(" ")
        assert "a" not in toks and "the" not in toks


def test_shuffle_shards_dense_positions_and_stability(spark):
    rows = QUERIES["pipeline_shuffle_shards"](spark, SF_ORACLE).collect()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard_id < 32
        by_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
    # every shard's positions are dense 1..n (a loader can stream them)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # the assignment is a pure function of content: repartitioning the
    # input must not move any document
    again = {
        (r.doc_id): (r.shard_id, r.pos_in_shard)
        for r in QUERIES["pipeline_shuffle_shards"](spark, SF_ORACLE).collect()
    }
    for r in rows:
        assert again[r.doc_id] == (r.shard_id, r.pos_in_shard)


def test_stratified_sample_rates_per_language(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    total = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept: dict[str, int] = {}
    for r in QUERIES["pipeline_stratified_sample"](spark, SF_ORACLE).collect():
        kept[r.lang] = kept.get(r.lang, 0) + 1
    # en sampled at ~50%, everything else at ~25% (md5 nibble threshold;
    # slack for small strata)
    assert 0.35 < kept.get("en", 0) / total["en"] < 0.65
    for lang, n in total.items():
        if lang == "en":
            continue
        assert 0.08 < kept.get(lang, 0) / n < 0.45, lang


def test_bpe_train_merges_match_python_reference(spark):
    """The iterative BPE trainer must learn the IDENTICAL 8-merge
    sequence a plain-Python BPE produces from the same word counts
    (same argmax tiebreak: count desc, then lexicographic) — including
    second-order merges whose pairs only exist because an earlier
    round's merge was applied. Runs at smoke scale: the algorithm is
    vocabulary-bound, so SF only changes the counts."""
    rows = QUERIES["pipeline_bpe_train_merges"](spark, SF_SMOKE).collect()
    got = [(r.round, r.left, r.right, r.merged, r.pair_count) for r in rows]
    assert len(got) == 8
    # at least one learned merge must consume a previous round's output
    prior = set()
    second_order = False
    for _, l, r, merged, _ in got:
        if l in prior or r in prior:
            second_order = True
        prior.add(merged)
    assert second_order, got

    toks = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("w"))
    )
    words = {
        tuple(r.w): r.n
        for r in toks.groupBy("w").agg(F.count("*").alias("n")).collect()
    }
    ref = []
    for rnd in range(1, 9):
        pc: dict = {}
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + n
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((rnd, l, r, l + r, cnt))
        new: dict = {}
        for syms, n in words.items():
            out: list = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            t = tuple(out)
            new[t] = new.get(t, 0) + n
        words = new
    assert got == ref


def test_cluster_safe_folds_colocate_near_dups(spark):
    """The leakage guarantee itself: every MinHash-verified near-dup
    pair must land in the SAME fold under cluster-safe assignment —
    and the plain content-keyed kfold must NOT already guarantee this
    (otherwise the op is redundant)."""
    from tests.conftest import SF_ORACLE
    from vector_db_core_spark.operators import QUERIES

    pairs = QUERIES["dedup_minhash_lsh_pairs"](spark, SF_ORACLE).collect()
    assert len(pairs) > 0
    safe = {
        r.doc_id: r.fold
        for r in QUERIES["pipeline_cluster_safe_folds"](spark, SF_ORACLE).collect()
    }
    assert all(safe[p.doc_a] == safe[p.doc_b] for p in pairs)
    plain = {
        r.doc_id: r.fold
        for r in QUERIES["pipeline_kfold_assign"](spark, SF_ORACLE).collect()
    }
    assert any(plain[p.doc_a] != plain[p.doc_b] for p in pairs), (
        "fixture's near-dups are all exact twins — leak demo vacuous"
    )


def test_dsir_weights_numpy_rederivation(spark):
    """Re-derive the smoothed unigram log-ratio weights in pure python
    for a sample of documents and require exact integer equality of
    the micro-unit scores — plus the directional sanity check that the
    average per-token weight of 'en' documents exceeds that of non-en
    documents (the weight must actually point toward the target)."""
    import math

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").collect()
    c_src, c_tgt = {}, {}
    n_src = n_tgt = 0
    for d in docs:
        for t in d.text.split():
            if not t:
                continue
            c_src[t] = c_src.get(t, 0) + 1
            n_src += 1
            if d.lang == "en":
                c_tgt[t] = c_tgt.get(t, 0) + 1
                n_tgt += 1
    v = len(c_src)
    w = {
        t: round(
            (
                math.log((c_tgt.get(t, 0) + 1) / float(n_tgt + v))
                - math.log((c + 1) / float(n_src + v))
            )
            * 1e6
        )
        for t, c in c_src.items()
    }
    got = {r.doc_id: r for r in QUERIES["pipeline_dsir_weights"](spark, SF_ORACLE).collect()}
    en_avg, other_avg = [], []
    for d in docs:
        toks = [t for t in d.text.split() if t]
        r = got[d.doc_id]
        assert r.n_toks == len(toks)
        if d.doc_id < 60:
            assert r.logw_micro == sum(w[t] for t in toks), d.doc_id
        (en_avg if d.lang == "en" else other_avg).append(r.logw_micro / r.n_toks)
    assert sum(en_avg) / len(en_avg) > sum(other_avg) / len(other_avg)


def test_filter_funnel_conserves_and_every_stage_bites(spark):
    rows = sorted(
        QUERIES["pipeline_filter_funnel"](spark, SF_ORACLE).collect(),
        key=lambda r: r.stage_idx,
    )
    n_docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").count()
    assert rows[0].n_in == n_docs
    for a, b in zip(rows, rows[1:]):
        # funnel conservation: what survives stage i enters stage i+1
        assert a.n_out == a.n_in - a.n_rejected
        assert b.n_in == a.n_out
    # non-vacuity pin: every gate rejects something on this fixture
    assert all(r.n_rejected > 0 for r in rows), rows


def test_nb_language_filter_beats_majority_baseline(spark):
    rows = QUERIES["pipeline_nb_language_filter"](spark, SF_ORACLE).collect()
    n = len(rows)
    correct = sum(r.pred_en == r.is_en for r in rows)
    majority = max(sum(r.is_en for r in rows), sum(not r.is_en for r in rows))
    # the classifier must have learned signal from the per-lang token
    # frequency profiles, not just the prior
    assert correct > majority, (correct, majority, n)


def test_nb_language_filter_operating_point_recall_floors(spark):
    """The calibration-derived keep cut (NB_KEEP_CUT) must hold the
    measured operating point: English recall materially above the
    raw-log-odds-0 cut's 0.41 (round-8 finding), non-English
    rejection still discriminating, and balanced accuracy above
    chance (the prior-free signal pin — measured 0.702 / 0.475 /
    0.589 at sf0.01)."""
    rows = QUERIES["pipeline_nb_language_filter"](spark, SF_ORACLE).collect()
    en = [r for r in rows if r.is_en]
    ot = [r for r in rows if not r.is_en]
    en_recall = sum(r.pred_en for r in en) / len(en)
    ot_rejection = sum(not r.pred_en for r in ot) / len(ot)
    assert en_recall >= 0.65, en_recall
    assert ot_rejection >= 0.45, ot_rejection
    assert (en_recall + ot_rejection) / 2 >= 0.55
    # the CHOSEN precision trade (r9 verdict task 5): the confident
    # 'keep' band must lift precision materially over the corpus
    # prior (measured 0.586 vs prior 0.436 = 1.34x at sf0.01), while
    # the drop boundary preserves survivor recall (the floors above).
    kept = [r for r in rows if r.verdict == "keep"]
    keep_precision = sum(r.is_en for r in kept) / len(kept)
    prior = len(en) / len(rows)
    assert keep_precision >= 0.55, keep_precision
    assert keep_precision >= 1.25 * prior, (keep_precision, prior)
    # score is the length-invariant per-token log-odds, and both the
    # keep decision and the band are exactly the documented cuts on it
    from vector_db_core_spark.operators.pipeline import (
        NB_CONFIDENT_CUT,
        NB_KEEP_CUT,
    )

    for r in rows:
        # tolerance, not equality: Python's round() is half-even while
        # Spark's F.round is HALF_UP (the engines agree with each
        # other via the shared SQL text; this pin is only the shape)
        assert abs(r.score - r.log_odds / r.n_tokens) < 1e-6, r
        assert r.pred_en == (r.score >= NB_KEEP_CUT), r
        want = (
            "keep"
            if r.score >= NB_CONFIDENT_CUT
            else ("review" if r.score >= NB_KEEP_CUT else "drop")
        )
        assert r.verdict == want, r
        assert r.pred_en == (r.verdict != "drop"), r


def test_review_queue_consumes_the_band(spark):
    """The review queue must be exactly the review band under the
    documented capacity: every queued doc scores inside
    [NB_KEEP_CUT, NB_CONFIDENT_CUT), ranks follow (dist_to_keep,
    doc_id) with both distances consistent with the score, and the
    band SHARES are pinned — the review band holds a real,
    non-degenerate slice of the corpus (it exists to be consumed,
    not to hide drops)."""
    from vector_db_core_spark.operators.pipeline import (
        NB_CONFIDENT_CUT,
        NB_KEEP_CUT,
        REVIEW_QUEUE_K,
    )

    scored = QUERIES["pipeline_nb_language_filter"](spark, SF_ORACLE).collect()
    band = {r.doc_id: r for r in scored if r.verdict == "review"}
    shares = {
        v: sum(r.verdict == v for r in scored) / len(scored)
        for v in ("keep", "review", "drop")
    }
    assert 0.02 <= shares["review"] <= 0.60, shares
    assert shares["keep"] >= 0.15 and shares["drop"] >= 0.15, shares
    q = sorted(
        QUERIES["pipeline_review_queue"](spark, SF_ORACLE).collect(),
        key=lambda r: r.queue_rank,
    )
    assert len(q) == min(REVIEW_QUEUE_K, len(band))
    assert [r.queue_rank for r in q] == list(range(1, len(q) + 1))
    order = [(r.dist_to_keep, r.doc_id) for r in q]
    assert order == sorted(order)
    for r in q:
        src = band[r.doc_id]  # queued docs ARE review-band docs
        assert NB_KEEP_CUT <= src.score < NB_CONFIDENT_CUT
        assert abs(r.dist_to_keep - (NB_CONFIDENT_CUT - r.score)) < 1e-6
        assert abs(r.dist_to_drop - (r.score - NB_KEEP_CUT)) < 1e-6


def test_nb_trio_fits_once_per_session(spark):
    """The filter-evaluation trio shares ONE fit per (process,
    sf_dir): after a scratch reset, the first consumer pays the fit
    and the other two read the materialized scored frame (round-8
    verdict task 5). The post-fit queries must plan as parquet scans
    of the scratch — no re-explode of the corpus."""
    from vector_db_core_spark import scratch
    from vector_db_core_spark.operators import pipeline as P

    scratch.reset(P._NB_SCRATCH_KEY)
    before = scratch.build_count(P._NB_SCRATCH_KEY)
    QUERIES["pipeline_quality_calibration"](spark, SF_ORACLE).collect()
    assert scratch.build_count(P._NB_SCRATCH_KEY) == before + 1
    QUERIES["pipeline_lang_confusion"](spark, SF_ORACLE).collect()
    df = QUERIES["pipeline_nb_language_filter"](spark, SF_ORACLE)
    df.collect()
    assert scratch.build_count(P._NB_SCRATCH_KEY) == before + 1  # no further fits
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode: reading the scratch
    assert scratch.path_for(P._NB_SCRATCH_KEY, SF_ORACLE) in plan


def test_tokenizer_fertility_bounds(spark):
    rows = QUERIES["pipeline_tokenizer_fertility"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        # the BPE-ish pre-tokenizer never merges across whitespace, so
        # it can only split words further: fertility >= 1
        assert r.fertility >= 1.0, r
        assert r.chars_per_token > 0, r


def test_shard_manifest_checksum_is_row_order_independent(spark):
    """Python re-derivation of one shard's checksum from the raw
    parquet in doc_id order vs reversed order — both must equal the
    engine's value (addition commutes; the whole point of the fold)."""
    import hashlib

    import pandas as pd

    rows = {r.shard_id: r for r in QUERIES["pipeline_shard_manifest"](spark, SF_ORACLE).collect()}
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    by_shard = {}
    for t in docs.itertuples():
        h = hashlib.md5(t.text.encode()).hexdigest()
        sid = int(h[:2], 16) % 32
        by_shard.setdefault(sid, []).append(int(h[:12], 16))
    for sid, vals in by_shard.items():
        fwd = sum(vals) % 2147483647
        rev = sum(reversed(vals)) % 2147483647
        assert fwd == rev == rows[sid].checksum, sid
        assert rows[sid].n_docs == len(vals)


def test_unigram_drift_kl_terms_form_valid_kl(spark):
    """Per-token KL terms re-derivable from the exact counts; the
    summed KL (what a consumer computes) must be >= 0 (Gibbs) and the
    smoothed probabilities must each sum to 1."""
    rows = QUERIES["pipeline_unigram_drift_kl"](spark, SF_ORACLE).collect()
    assert rows
    t_train = sum(r.n_train for r in rows)
    t_val = sum(r.n_val for r in rows)
    v = len(rows)
    p_sum = sum((r.n_train + 1) / (t_train + v) for r in rows)
    q_sum = sum((r.n_val + 1) / (t_val + v) for r in rows)
    assert abs(p_sum - 1.0) < 1e-9 and abs(q_sum - 1.0) < 1e-9
    assert sum(r.kl_term for r in rows) >= 0.0


def test_oversample_factors_and_copies(spark):
    """Every (doc, copy) pair present exactly once; minority classes
    replicate more than the majority; factor == min(4, max//cnt)."""
    rows = QUERIES["pipeline_oversample_minority"](spark, SF_ORACLE).collect()
    by_doc: dict[int, list] = {}
    factors: dict[str, int] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.copy_id)
        factors[r.lang] = r.factor
    for doc, copies in by_doc.items():
        assert sorted(copies) == list(range(1, len(copies) + 1)), doc
    assert factors["en"] == 1
    assert all(f >= 2 for lang, f in factors.items() if lang != "en"), factors
    counts: dict[str, int] = {}
    for r in rows:
        if r.copy_id == 1:
            counts[r.lang] = counts.get(r.lang, 0) + 1
    mx = max(counts.values())
    for lang, cnt in counts.items():
        assert factors[lang] == min(4, mx // cnt), lang


def test_nb_calibration_consistent_with_filter(spark):
    """Bin totals must re-aggregate the registered filter output, and
    the extreme bins must separate the classes (calibration signal)."""
    nb = {r.doc_id: r for r in QUERIES["pipeline_nb_language_filter"](spark, SF_ORACLE).collect()}
    cal = QUERIES["pipeline_quality_calibration"](spark, SF_ORACLE).collect()
    assert sum(r.n_docs for r in cal) == len(nb)
    assert sum(r.n_actual_en for r in cal) == sum(1 for r in nb.values() if r.is_en)
    top = max(cal, key=lambda r: r.bin)
    bot = min(cal, key=lambda r: r.bin)
    assert top.observed_en_rate > bot.observed_en_rate


def test_nb_calibration_diagram_discriminates(spark):
    """The reliability diagram must actually say WHERE to move the
    cut (round-8 verdict: the raw-log-odds bins saturated to 2): at
    least 8 populated bins, an observed-rate trend (the pooled rate
    at/above the keep cut strictly above the pooled rate below), and
    near-pure confident-English top bins."""
    cal = sorted(
        QUERIES["pipeline_quality_calibration"](spark, SF_ORACLE).collect(),
        key=lambda r: r.bin,
    )
    assert len(cal) >= 8, [r.bin for r in cal]
    lo = [r for r in cal if r.bin < -1]
    hi = [r for r in cal if r.bin >= -1]
    rate = lambda rows: sum(r.n_actual_en for r in rows) / sum(r.n_docs for r in rows)
    assert rate(hi) > rate(lo)
    # the two highest bins are confidently English (>= 0.7 observed)
    assert all(r.observed_en_rate >= 0.7 for r in cal[-2:]), cal[-2:]
    # prediction column consistent with the cut: every doc in a bin
    # strictly below -1 is predicted non-English, bins >= 0 all kept
    for r in cal:
        if r.bin < -1:
            assert r.n_pred_en == 0, r
        if r.bin >= 0:
            assert r.n_pred_en == r.n_docs, r


def test_lang_confusion_cells_complete_and_english_separable(spark):
    """Cells re-aggregate the filter output; per-lang shares sum to
    1; English must be predicted English at a higher rate than any
    other language (the per-class separation signal)."""
    rows = QUERIES["pipeline_lang_confusion"](spark, SF_ORACLE).collect()
    by_lang: dict[str, dict] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.pred_en] = (r.n_docs, r.frac_of_lang)
    for lang, cells in by_lang.items():
        assert abs(sum(f for _, f in cells.values()) - 1.0) < 1e-6, lang
    # the separation signal is RELATIVE: English must be predicted
    # English at a strictly higher rate than every other language
    # (absolute recall is a threshold-tuning question — exactly what
    # the matrix exists to expose, not what this pin asserts)
    en_rate = by_lang["en"].get(True, (0, 0.0))[1]
    for lang, cells in by_lang.items():
        if lang != "en":
            assert cells.get(True, (0, 0.0))[1] < en_rate, (lang, en_rate)


def test_token_budget_packing_invariants(spark):
    """No sequence may exceed the budget; no document straddles; slots
    within a (shard, bucket, seq) are dense from 0; oversize docs are
    reported, never placed; pad is bucket - tokens."""
    rows = QUERIES["pipeline_token_budget_packing"](spark, SF_ORACLE).collect()
    from collections import defaultdict

    seqs = defaultdict(list)
    n_over = 0
    for r in rows:
        if r.bucket == -1:
            n_over += 1
            assert r.seq_id is None and r.slot is None and r.offset is None
            assert r.n_tokens > 64
            continue
        assert r.n_tokens <= r.bucket <= 64
        assert r.pad_tokens == r.bucket - r.n_tokens
        assert r.offset == r.slot * r.bucket
        assert r.offset + r.bucket <= 64, "placement exceeds the budget"
        seqs[(r.shard_id, r.bucket, r.seq_id)].append(r.slot)
    assert n_over > 0, "fixture must exercise the oversize branch"
    for key, slots in seqs.items():
        cap = 64 // key[1]
        assert sorted(slots) == list(range(len(slots))), key
        assert len(slots) <= cap, key


def test_contamination_against_independent_recompute(spark):
    """Re-derive the contamination table in DuckDB-free Python sets
    from raw parquet and require exact per-doc agreement, plus the
    split-rule sanity: every reported doc is in the md5-'f' held-out
    split and both branches of the flag are exercised."""
    import hashlib as _h

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM '{SF_ORACLE}/documents.parquet'"
    ).fetchall()
    spans = {}
    for doc_id, text in rows:
        toks = [t for t in text.split() if t]
        if len(toks) < 8:
            continue
        spans[doc_id] = {
            " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
        }
    is_test = {
        d: _h.md5(str(d).encode()).hexdigest()[0] == "f" for d in spans
    }
    train = set()
    for d, s in spans.items():
        if not is_test[d]:
            train |= s
    got = QUERIES["pipeline_contamination_ngram_overlap"](
        spark, SF_ORACLE
    ).collect()
    assert {r.doc_id for r in got} == {d for d in spans if is_test[d]}
    flags = set()
    for r in got:
        s = spans[r.doc_id]
        hits = sum(1 for sp in s if sp in train)
        assert (r.n_spans, r.n_contaminated) == (len(s), hits), r.doc_id
        assert r.flagged == (hits * 5 >= len(s)), r.doc_id
        flags.add(bool(r.flagged))
    assert flags == {True, False}, "fixture must exercise both flag branches"
