"""Invariant tests for the approximate dedup / similarity operators —
the verification layer the oracle can't provide (randomized banding and
LSH candidate generation aren't SQL-expressible in DuckDB because they
depend on Spark's xxhash64):

- simhash_pairs: output == brute-force pairwise Hamming ≤ max_hamming
  (candidate generation is COMPLETE with blocks = max_hamming + 1), and
  the baked corpus contains pairs the old 4×16-bit block scheme provably
  missed — a regression pin on the pigeonhole bound.
- lsh_topk: recall ≥ 0.6 against brute_force_topk on the sf0.001
  embeddings (cited by plans/queries_similarity.py q_ann_lsh).
- embedding_near_dupes: output ⊆ brute-force cosine pairs at the same
  threshold, no false positives (cited by q_dedup_embedding).
- minhash_lsh_pairs: output ⊆ exact ngram_jaccard_pairs at the same
  threshold with identical jaccard values (cited by plans/queries_text.py).
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from assignment_2_dataengineering_spark.operators import dedup as DD
from assignment_2_dataengineering_spark.operators import similarity as SIM
from assignment_2_dataengineering_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_VOCAB = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _simhash_corpus() -> list[str]:
    """12 base docs of 30 words + 3 light mutations each (1-3 word
    replacements) — deterministic, and dense in the Hamming 1-12 range
    where the banding guarantee actually gets exercised."""
    rng = random.Random(7)
    docs = []
    for _ in range(12):
        base = [rng.choice(_VOCAB) for _ in range(30)]
        docs.append(" ".join(base))
        for k in (1, 2, 3):
            toks = list(base)
            for _ in range(k):
                toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
            docs.append(" ".join(toks))
    return docs


def _hamming(a: list[int], b: list[int]) -> int:
    return sum(x != y for x, y in zip(a, b))


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """simhash_pairs == exact pairwise Hamming ≤ max_hamming: banding
    with blocks = max_hamming + 1 loses nothing (pigeonhole), and the
    exact verify adds nothing false."""
    docs = _simhash_corpus()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    # unpack the signature long (two's complement) into a bit list
    bits = {
        r.doc_id: [(r.simhash & ((1 << 64) - 1)) >> i & 1 for i in range(64)]
        for r in DD.simhash64(df).collect()
    }
    n = len(docs)
    exact = {
        (i, j): _hamming(bits[i], bits[j])
        for i in range(n)
        for j in range(i + 1, n)
        if _hamming(bits[i], bits[j]) <= 8
    }
    got = {(r.id_a, r.id_b): r.hamming for r in DD.simhash_pairs(df, max_hamming=8).collect()}
    assert got == exact
    assert len(exact) > 50  # non-degenerate corpus

    # Regression pin: the corpus contains distance-4..8 pairs whose
    # differing bits span all four 16-bit blocks of the OLD blocks=4
    # scheme — pairs that scheme provably dropped. The new default
    # (9 blocks) must report them; `got == exact` above proves it does.
    def legacy_shares_block(a, b):
        return any(a[k * 16 : (k + 1) * 16] == b[k * 16 : (k + 1) * 16] for k in range(4))

    legacy_missed = [
        p for p, d in exact.items() if 4 <= d <= 8 and not legacy_shares_block(bits[p[0]], bits[p[1]])
    ]
    assert len(legacy_missed) >= 10


def test_simhash_pairs_rejects_unsound_blocks(spark):
    """blocks ≤ max_hamming would silently violate the completeness
    contract — the operator refuses instead."""
    df = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_pairs(df, max_hamming=8, blocks=4)


def test_simhash_pairs_skew_cap_passthrough(spark):
    """max_bucket_size routes to bucket_pairs: a degenerate corpus of
    identical docs (every bucket holds all ids) stays bounded to the
    capped smallest-id prefix instead of O(n²) pairs."""
    docs = [(i, "alpha beta gamma") for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = DD.simhash_pairs(df, max_hamming=8, max_bucket_size=4).collect()
    from itertools import combinations

    assert {(r.id_a, r.id_b) for r in capped} == set(combinations(range(4), 2))
    assert all(r.hamming == 0 for r in capped)


# ---------------------------------------------------------------------------
# Hyperplane-LSH top-k recall (cited at plans/queries_similarity.py q_ann_lsh)
# ---------------------------------------------------------------------------


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    """lsh_topk (16 planes, 4 bands) recall ≥ 0.6 against the exact
    brute-force top-10 on the sf0.001 embeddings, and never invents a
    neighbor: every (query, match) it returns scores the exact cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(queries, emb, k=10).collect()
    approx = SIM.lsh_topk(queries, emb, k=10).collect()
    exact_set = {(r.query_id, r.match_id) for r in exact}
    approx_set = {(r.query_id, r.match_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH recall {recall:.2f} < 0.6"
    # cos_sim values on the intersection are the exact scores
    exact_cos = {(r.query_id, r.match_id): r.cos_sim for r in exact}
    for r in approx:
        if (r.query_id, r.match_id) in exact_cos:
            assert abs(r.cos_sim - exact_cos[(r.query_id, r.match_id)]) < 1e-9


# ---------------------------------------------------------------------------
# Embedding near-dup subset (cited at queries_similarity.py q_dedup_embedding)
# ---------------------------------------------------------------------------


def test_embedding_near_dupes_subset_of_bruteforce(spark, sf_dir):
    """embedding_near_dupes output ⊆ brute-force cosine pairs at the
    same threshold (LSH trades recall, never precision — the exact
    verify guarantees no false positives), with cos_sim matching numpy
    to rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = SIM.embedding_near_dupes(emb, threshold=0.45).collect()
    assert out, "threshold 0.45 should yield candidates on sf0.001"

    rows = emb.select("vec_id", "embedding").collect()
    V = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    ids = [r.vec_id for r in rows]
    N = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = N @ N.T
    idx = {v: i for i, v in enumerate(ids)}
    brute = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if C[idx[min(a, b)], idx[max(a, b)]] >= 0.45 - 1e-6
    }
    brute = {(min(a, b), max(a, b)) for a, b in brute}
    for r in out:
        assert r.id_a < r.id_b
        assert r.cos_sim >= 0.45
        assert (r.id_a, r.id_b) in brute
        assert abs(r.cos_sim - C[idx[r.id_a], idx[r.id_b]]) < 2e-6


# ---------------------------------------------------------------------------
# MinHash-LSH ⊆ exact Jaccard (cited in plans/queries_text.py module doc)
# ---------------------------------------------------------------------------


def test_minhash_lsh_subset_of_exact_jaccard(spark, sf_dir):
    """On the real sf0.001 documents table: minhash_lsh_pairs ⊆
    ngram_jaccard_pairs at the same threshold, with identical jaccard
    per pair (both run the same exact-verify math)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    lsh = DD.minhash_lsh_pairs(docs, threshold=0.3).collect()
    assert lsh, "sf0.001 documents should contain near-dup pairs"
    for r in lsh:
        assert (r.id_a, r.id_b) in exact
        assert r.jaccard == exact[(r.id_a, r.id_b)]


# ---------------------------------------------------------------------------
# Production cap defaults: no-ops on the healthy synthetic corpus
# ---------------------------------------------------------------------------


def test_minhash_bucket_cap_is_noop_on_healthy_corpus(spark, sf_dir):
    """The registered query's max_bucket_size=512 production skew cap
    changes NOTHING on the synthetic corpus (no degenerate buckets) —
    recall loss only ever happens inside a pathological bucket."""
    docs = load_table(spark, sf_dir, "documents")
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=512).collect()
    }
    assert capped == uncapped and uncapped


def test_ngram_doc_freq_cap_semantics(spark, sf_dir):
    """max_doc_freq (the O(df²) fan-out guard): a cap at/above the
    corpus's max shingle document frequency is a no-op; a tight cap
    yields a subset (precision kept — dropped shingles only lower
    jaccard numerators, never invent pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    max_df = (
        DD.shingle_index(docs)
        .groupBy("shingle")
        .count()
        .agg(F.max("count").alias("m"))
        .first()
        .m
    )
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    loose = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=max_df).collect()
    }
    assert loose == uncapped and uncapped
    tight = DD.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=2).collect()
    assert {(r.id_a, r.id_b) for r in tight} <= set(uncapped)


class TestSpanDedup:
    """operators/dedup.span_dedup — exact substring dedup invariants."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "a b c d e f g h i j k l"),  # globally-first occurrence
                (2, "a b c d e f g h i j k l"),  # exact dup -> fully removed
                (3, "x y a b c d e f g h i j z"),  # embeds the repeated span
                (4, "p q r s"),  # shorter than n -> no shingles, untouched
            ],
            ["doc_id", "text"],
        )

    def test_planted_spans(self, spark):
        out = {
            r["doc_id"]: r.asDict()
            for r in DD.span_dedup(self._docs(spark), n=10).collect()
        }
        assert out[1]["text"] == "a b c d e f g h i j k l"
        assert out[1]["n_removed"] == 0
        # A fully duplicated doc surfaces as empty text, not a dropped row.
        assert out[2]["text"] == "" and out[2]["n_removed"] == 12
        # Only the covered span is removed; surrounding tokens survive
        # in order.
        assert out[3]["text"] == "x y z" and out[3]["n_removed"] == 10
        assert out[4]["text"] == "p q r s" and out[4]["n_removed"] == 0

    def test_idempotent(self, spark):
        once = DD.span_dedup(self._docs(spark), n=10).select("doc_id", "text")
        twice = DD.span_dedup(once, n=10)
        assert {
            (r["doc_id"], r["text"], r["n_removed"]) for r in twice.collect()
        } == {(r["doc_id"], r["text"], 0) for r in once.collect()}

    def test_partitioning_invariant(self, spark):
        base = {
            (r["doc_id"], r["text"])
            for r in DD.span_dedup(self._docs(spark), n=10).collect()
        }
        shuffled = {
            (r["doc_id"], r["text"])
            for r in DD.span_dedup(self._docs(spark).repartition(7), n=10).collect()
        }
        assert base == shuffled


# ---------------------------------------------------------------------------
# containment_pairs: the asymmetric quote/subset detector
# ---------------------------------------------------------------------------


def test_containment_catches_subset_jaccard_misses(spark):
    # doc 2 = the first 6 words of doc 1 (4 shingles, all shared);
    # doc 1 has 18 shingles → jaccard = 4/18 ≈ 0.22 but containment = 1.0
    long_text = " ".join(f"w{i}" for i in range(20))
    short_text = " ".join(f"w{i}" for i in range(6))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "x y z q r s")],
        "doc_id long, text string",
    )
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in DD.containment_pairs(df, threshold=0.5).collect()
    }
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert cont[(1, 2)] == 1.0
    assert (1, 2) not in jac  # symmetric jaccard structurally misses it
    assert (1, 3) not in cont and (2, 3) not in cont


def test_containment_bounded_below_by_jaccard(spark, sf_dir):
    # containment >= jaccard always (min(|A|,|B|) <= |A|+|B|-shared), so
    # every jaccard pair at t appears in containment pairs at t
    docs = load_table(spark, sf_dir, "documents")
    jac = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    cont = {
        (r.id_a, r.id_b)
        for r in DD.containment_pairs(docs, threshold=0.4).collect()
    }
    assert jac <= cont


def _span_hot_corpus(spark):
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [
            (1, boiler + " unique one two three four five six seven"),
            (2, "alpha beta " + boiler + " gamma delta epsilon zeta eta theta"),
            (3, boiler),  # fully duplicated after doc 1 claims the span
            (4, "iota kappa " + boiler + " lambda mu nu xi omicron pi rho"),
            (5, "totally unrelated words that share nothing with the rest at all"),
        ],
        "doc_id long, text string",
    )


def test_span_dedup_cap_routing_is_noop(spark):
    """max_shingle_freq changes the PLAN (hot shingles route through a
    broadcast first-occurrence table instead of the per-key window),
    never the OUTPUT — pinned on a corpus with a genuinely hot repeated
    span so the hot path actually executes (cap=2 < its frequency).
    The cap only exists on the window strategy (the join strategy is
    skew-immune by construction), so both sides pin window mode
    explicitly — under the round-9 "auto" default (which resolves to
    window at this tiny scale, but is policy, not a pin) the test
    could otherwise silently compare some other path to itself."""
    from assignment_2_dataengineering_spark.operators.dedup import span_dedup

    docs = _span_hot_corpus(spark)
    uncapped = {
        tuple(r)
        for r in span_dedup(docs, n=10, first_occurrence="window").collect()
    }
    capped = {
        tuple(r)
        for r in span_dedup(
            docs, n=10, max_shingle_freq=2, first_occurrence="window"
        ).collect()
    }
    assert capped == uncapped
    # sanity: the hot span really repeats > cap times
    assert any(r[3] > 0 for r in uncapped)


def test_span_dedup_join_and_window_strategies_agree(spark, sf_dir):
    """The sort-free aggregate+shuffle-hash-join first-occurrence (the
    round-8 alternative, which the round-9 "auto" default selects above
    the "span_first_occurrence" scale-rule threshold) must be
    value-identical to the min-over-window form — on the hot-span
    corpus (where doc 3 empties entirely) AND on the real documents
    table. Both strategies are pinned explicitly here; "auto" only ever
    picks between these two, so this equivalence covers every selector
    outcome."""
    from assignment_2_dataengineering_spark.operators.dedup import span_dedup

    for docs in (
        _span_hot_corpus(spark),
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
    ):
        join_out = {
            tuple(r)
            for r in span_dedup(docs, n=10, first_occurrence="join").collect()
        }
        win_out = {
            tuple(r)
            for r in span_dedup(docs, n=10, first_occurrence="window").collect()
        }
        assert join_out == win_out


def test_span_dedup_rejects_unknown_strategy(spark):
    """Round-8 ADVICE: a typo'd SPARK_GRAFT_SPAN_FIRST_OCC used to fall
    through to the window path and silently benchmark the wrong plan."""
    import pytest

    from assignment_2_dataengineering_spark.operators.dedup import span_dedup

    docs = _span_hot_corpus(spark)
    with pytest.raises(ValueError, match="first_occurrence"):
        span_dedup(docs, n=10, first_occurrence="Join")


def test_span_auto_strategy_policy(spark, sf_dir):
    """Round-9 scale-aware selection: the plan-stat probe reads the
    optimizer estimate of the document scan — positive, and far below
    the threshold at test scale, so the default resolves to the window
    plan here (the rule's own boundary is in tests/test_scale_policy.py)."""
    from assignment_2_dataengineering_spark.operators.scale_policy import (
        RULES,
        plan_bytes,
    )
    from assignment_2_dataengineering_spark.sources.tables import load_table

    est = plan_bytes(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    assert 0 < est < RULES["span_first_occurrence"].threshold


def test_shingle_index_hashed_and_exact_keys_agree(spark, sf_dir):
    """Round-9 key-width policy on the inverted index: the default
    8-byte xxhash64 shingle keys must yield EXACTLY the same Jaccard
    and containment pairs as raw-string keys (absent a 64-bit
    collision, which the sf-tier corpora are ~1e-10 away from) — the
    same hashed-vs-exact pin boilerplate scoring got in round 8."""
    docs = load_table(spark, sf_dir, "documents")
    for fn, kw in (
        (DD.ngram_jaccard_pairs, {"threshold": 0.3}),
        (DD.containment_pairs, {"threshold": 0.5}),
    ):
        hashed = {tuple(r) for r in fn(docs, **kw).collect()}
        exact = {tuple(r) for r in fn(docs, exact_keys=True, **kw).collect()}
        assert hashed == exact
        assert hashed  # non-degenerate on the sf0.001 corpus


def test_shingle_index_key_is_8_bytes_by_default(spark):
    """The index's shuffle/self-join key must stay a LongType (the whole
    point of the policy); exact_keys=True keeps the string."""
    from pyspark.sql.types import LongType, StringType

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    assert isinstance(
        DD.shingle_index(docs).schema["shingle"].dataType, LongType
    )
    assert isinstance(
        DD.shingle_index(docs, exact_keys=True).schema["shingle"].dataType,
        StringType,
    )
