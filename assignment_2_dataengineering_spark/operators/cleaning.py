"""Corpus-hygiene operators: cross-document boilerplate detection.

Web-crawl corpora are full of template text (navigation, cookie
banners, license footers) that appears verbatim in a large fraction of
documents; C4/Gopher-style pipelines measure and strip it before
training. The detector here works at word-n-gram granularity because
the synthetic corpus is single-line (no newline-delimited lines to
dedup) — the plan shape is identical for line-granularity boilerplate:
swap the shingle generator for split(text, '\\n').

No counterpart in the reference (a pandas NEM dashboard — see
SURVEY.md §2.12); this is part of the engine's LLM-pipeline tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from .materialize import materialize


def boilerplate_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    ratio_num: int = 1,
    ratio_den: int = 5,
    exact_keys: bool = False,
) -> DataFrame:
    """Per-document boilerplate ratio: the fraction of a doc's DISTINCT
    word n-grams that are corpus-common, where "common" means the gram
    appears in ≥ ratio_num/ratio_den of all documents (integer
    threshold — df·den ≥ n_docs·num — so Spark and any SQL oracle agree
    bit-for-bit with no decimal-vs-double drift).

    Scale shape: ONE shuffle total — the map-side-combined document
    frequency count. The common set is BROADCAST: by pigeonhole it
    holds at most den/num · avg_grams_per_doc entries (each common
    gram is backed by ≥ num/den · n_docs index rows), i.e. a few
    hundred strings regardless of corpus size, so per-doc scoring is a
    narrow array_intersect against the broadcast array. Docs shorter
    than n words have no grams and drop out, matching SQL `unnest`
    semantics.

    Token arrays are materialized behind an explode(array(x)) Generate
    barrier (operators/dedup.py:_with_shingle_set) so the n-gram
    builder's element_at references don't re-split the text per gram.

    Key width (round-8, after a STAGED sf100 profile pinned the cost):
    the document-frequency aggregate shuffles and hash-groups on
    **xxhash64(gram) — 8 bytes** — instead of the raw ~25-char gram
    string, and the broadcast common set becomes a long array probed
    by array_intersect over the doc's hashed gram array. The profile
    (`git show 375d17f:scripts/profile_boilerplate.py`, sf100 =
    25M-doc corpus): scan 1.05 s, shingle-only 11.9 s, string-key
    dfreq 65.6 s, full 70.8 s
    — the string-key aggregate was ~80% of the query, and its 107 s
    cold-JIT first run is what the r7 ledger's 106-138 s protocol
    spread was measuring. This is span_dedup's occurrence-shuffle
    policy (operators/dedup.py) applied to the gram aggregate.
    Collision budget: P ≈ D²/2^65 (D = distinct grams; 1.7e-5 at
    sf100's D≈2.5e7) and a collision only merges two grams' df counts
    or their common-set membership — it can slightly INFLATE one
    gram's commonness, never lose a common gram, and moves one doc's
    4dp ratio only if the collided gram sits in that doc.
    `exact_keys=True` keeps the raw-string path for corpora where that
    budget is unacceptable; the oracle groups by raw string and stays
    hash-green for both key widths at every test SF.

    Round-10 (guide §2.4: remove shuffled/recomputed passes outright):
    the per-doc gram-KEY table — (id, n_grams, hashed-gram array), 8
    bytes per gram plus the id — is eagerly localCheckpointed between
    the two consumers. Catalyst does not share common subtrees, so the
    previous pure-plan form scanned and shingled the text TWICE (once
    under the doc-frequency aggregate, once in the scoring branch);
    materializing the key table makes shingling a once-per-corpus cost,
    which is exactly the "persist the gram arrays between the two
    passes" production note the round-8 docstring carried — now the
    shipped shape rather than advice (sf0.1: 3.08 → 1.41 s; the before/
    after plans, `git show 142017c:plans/r10/q_boilerplate_before.txt`
    and `_after.txt`, show the documents scan count drop 6 → 3
    and the second shingle pipeline replaced by a checkpoint scan).
    The gram STRINGS never materialize — only their 8-byte keys do, so
    the checkpoint holds ~1/3 the bytes of the raw text it replaces.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array(TX.tokens_ws(F.col(text_col)))).alias("__w")
    )
    gram_arr = toks.select(
        F.col(id_col),
        F.explode(
            F.array(F.array_distinct(TX.shingles_from_tokens(F.col("__w"), n)))
        ).alias("__g"),
    )
    if not exact_keys:
        # hash each distinct gram ONCE per doc, JVM-side; everything
        # downstream (shuffle, group keys, broadcast set, membership
        # probe) moves 8-byte longs instead of gram strings
        gram_arr = gram_arr.withColumn(
            "__gk", F.transform("__g", lambda g: F.xxhash64(g))
        )
    else:
        gram_arr = gram_arr.withColumn("__gk", F.col("__g"))
    # one shingling pass for both consumers (see docstring): n_grams is
    # size(__g) == size(__gk) (array_distinct upstream), the strings
    # are dropped before the checkpoint
    gram_keys = materialize(
        gram_arr.select(F.col(id_col), F.size("__g").alias("__n"), "__gk")
    )
    dfreq = (
        gram_keys.select(F.explode("__gk").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    tot = df.agg(F.count(F.lit(1)).alias("n_docs"))
    # The pigeonhole bound above means the whole common set fits ONE
    # broadcast array row, so per-doc scoring is a narrow
    # array_intersect against the doc's (already materialized) distinct
    # gram-key array — the previous left-join + per-doc re-aggregation
    # pushed the exploded gram stream through a SECOND gram-volume
    # exchange just to count membership (sf100: 72.5 → ~55 s). The
    # empty-gram filter preserves the unnest drop-out semantics.
    common_arr = (
        dfreq.crossJoin(F.broadcast(tot))
        .filter(F.col("df") * ratio_den >= F.col("n_docs") * ratio_num)
        .agg(F.collect_list("gram").alias("__common"))
    )
    return (
        gram_keys.filter(F.col("__n") > 0)
        .crossJoin(F.broadcast(common_arr))
        .select(
            F.col(id_col),
            F.col("__n").cast("long").alias("n_grams"),
            F.size(F.array_intersect("__gk", "__common"))
            .cast("long")
            .alias("n_common"),
        )
        .withColumn(
            "boilerplate_ratio", F.round(F.col("n_common") / F.col("n_grams"), 4)
        )
    )
