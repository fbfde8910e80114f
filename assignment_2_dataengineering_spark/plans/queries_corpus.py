"""Corpus-preparation queries over `documents` — the second tier of
training-data-pipeline operators (beyond queries_text's per-doc signals
and queries_text/queries_similarity's dedup): character-entropy
gibberish detection, eval-set decontamination, and token-budget
sequence packing.

Every query here is a pure Catalyst plan with an exact DuckDB oracle.
The reference (a pandas/paho NEM dashboard) has no corpus surface;
these extend the engine toward what a 100 TB pretraining pipeline
actually runs, per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.materialize import materialize
from ..sources.tables import load_table
from .registry import register


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch FROM documents
    ),
    cnt AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
    tot AS (
        SELECT doc_id, sum(c) AS total, sum(c * log2(c)) AS s FROM cnt GROUP BY 1
    )
    SELECT doc_id,
           CAST(total AS BIGINT) AS n_chars,
           round((total * log2(total) - s) / total, 4) AS entropy
    FROM tot
    """,
    tags=("text", "quality"),
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish / encoding-garbage detector (low entropy = repeated
    filler, high = random bytes). Computed distributed: explode chars →
    per-(doc, char) count (shuffle 1, map-side combined) → per-doc
    reduction (shuffle 2, tiny). Uses the algebraic identity
    H = (C·log2 C − Σ c·log2 c)/C so both engines sum the same terms.
    Linear in corpus size; no per-row O(alphabet²) expression trees."""
    d = T(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.regexp_extract_all("text", F.lit("."), 0)).alias("ch")
    )
    cnt = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    s = F.sum(F.col("c") * F.log2("c"))
    return cnt.groupBy("doc_id").agg(
        total.cast("bigint").alias("n_chars"),
        F.round((total * F.log2(total) - s) / total, 4).alias("entropy"),
    )


# Eval-set membership: every 97th doc stands in for a held-out benchmark
# suite. Real pipelines load the eval shingle set from the benchmark
# files; the plan shape (tiny broadcast side) is identical.
_EVAL_MOD = 97
_DECON_N = 5


@register(
    "q_decontaminate",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(w) - {_DECON_N - 2}),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                           w[i+3] || ' ' || w[i+4])) AS shingle
        FROM words WHERE len(w) >= {_DECON_N}
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0)
    SELECT s.doc_id, count(*) AS n_shared
    FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % {_EVAL_MOD} <> 0
    GROUP BY 1
    """,
    tags=("text", "dedup"),
    bench=True,  # broadcast-probe family in the headline set
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 5-gram with the eval set (the n-gram-overlap rule used for
    pretraining-corpus decontamination). Plan: distinct shingles per
    doc (explode→distinct, 1 shuffle), eval side reduced to a distinct
    shingle set and BROADCAST — eval suites are tiny (KBs–MBs) next to
    a 100 TB corpus, so the training side never shuffles for the probe;
    contamination is a map-side hash-join followed by one count
    aggregation on doc_id.

    The token array is materialized behind an explode(array(x)) Generate
    barrier before shingling (operators/dedup.py _with_shingle_set
    pattern): shingles_from_tokens references the token array 5× per
    shingle position via element_at, and CollapseProject would otherwise
    inline the split() so every reference re-splits the text — measured
    22 s → ~3 s at sf0.1."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array(TX.tokens_ws(F.col("text")))).alias("__w")
    )
    # The shingle text never crosses an exchange: the (doc, shingle)
    # distinct — ~190 rows per doc — and the eval-set broadcast both
    # key on xxhash64 of the shingle (8 bytes vs the ~30-byte 5-gram
    # string; round 8, completing the key-width policy span_dedup and
    # boilerplate_scores already carry): the distinct's shuffle rows
    # shrink 24 → 16 B and the corpus-wide hash (4.75B shingles at
    # sf100) drops the cryptographic md5 CPU term. Collision budget is
    # the documented P ≈ D²/2^65, and the direction is conservative
    # FOR DECONTAMINATION: a train↔eval collision can only FLAG one
    # extra (doc, shingle) as shared — contamination is never missed.
    # Counts are value-identical absent a collision, so the
    # string-keyed DuckDB oracle still matches. (The pre-r8 md5 path
    # measured 94.5/95.0 s at sf100, matched-condition.)
    sh = (
        toks.select(
            "doc_id",
            F.explode(TX.shingles_from_tokens(F.col("__w"), _DECON_N)).alias("__s"),
        )
        .select("doc_id", F.xxhash64(F.col("__s")).alias("shingle"))
        .distinct()
    )
    ev = (
        sh.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("shingle")
        .distinct()
    )
    return (
        sh.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


_PACK_BUDGET = 2048


@register(
    "q_sequence_pack",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
           CAST(floor((sum(n_tokens) OVER w - n_tokens) / {_PACK_BUDGET}) AS BIGINT)
               AS chunk_id
    FROM sized
    WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    """,
    tags=("text", "window"),
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign each document a chunk id by
    its running token offset within its source stream (budget 2048
    whitespace tokens) — the deterministic contiguous packing used to
    build fixed-length pretraining batches. One shuffle on `source`,
    one local sort by doc_id; the window never materializes the frame
    (running sum). Skew note: a single dominant source serializes its
    partition — production sub-buckets the source key (hash(doc_id) %
    k) exactly like stratified sampling, at the cost of k boundary
    chunks per source."""
    d = T(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "source", TX.token_count_ws(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return sized.select(
        "doc_id",
        "source",
        "n_tokens",
        off.cast("bigint").alias("start_offset"),
        F.floor(off / _PACK_BUDGET).cast("bigint").alias("chunk_id"),
    )


_TFIDF_TOPK = 5


@register(
    "q_tfidf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT doc_id, token, tf,
               round(tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 4) AS tfidf
        FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
        FROM scored
    )
    SELECT doc_id, token, tf, tfidf FROM ranked WHERE rn <= {_TFIDF_TOPK}
    """,
    tags=("text", "agg"),
    bench=True,  # multi-agg + ranking-window family
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF keywords, top 5 per document (ln((N+1)/(df+1))
    idf): term frequencies and document frequencies are two hash
    aggregations; N arrives as a broadcast scalar (no collect); ranking
    orders by the ROUNDED score then token so the top-k cut is
    deterministic cross-engine. Two shuffles total (tf agg, doc
    window) — each keyed, none quadratic.

    The df side is EXPLICITLY broadcast (round-7 fix, SCALE.md §6j):
    left unhinted, AQE's runtime re-planning would intermittently flip
    the build side and broadcast the FACT-DERIVED tf aggregate (11.6M
    rows / 224 MB at sf10 — a 1 GiB humongous allocation on the
    driver) while streaming the tiny df table through a single
    coalesced task that re-emits every tf row alone: 4 s → 30 s,
    bimodal on identical code/data because the flip depends on which
    subtree's exchange materializes first. The hint pins build=df.
    Scale dial: a corpus whose whitespace vocabulary outgrows executor
    memory (≥ ~10^8 types) swaps the hint for
    dfreq.hint(\"shuffle_hash\") — distributed df join, one extra
    tf-by-token exchange; every measured tier (31-3.1k types; real web
    corpora sit at 10^6-10^7) fits broadcast comfortably.

    Round-11 exchange-fold experiment, tried and REVERTED: explicitly
    hash-partitioning the occurrence stream by doc_id before the tf
    aggregate (repartition("doc_id") — a grouping-key prefix satisfies
    the aggregate's clustered distribution AND the final ranking
    window, deleting the window's Exchange + re-sort; plan diff
    preserved in `git show f069018:plans/r11/q_tfidf_before.txt` and
    its `_after.txt` sibling). Measured,
    fresh-JVM min(first, post-GC repeat) alternating old/new, 6 reps
    each at sf10/256 partitions: old 5.63-9.06 s (median 7.14), new
    4.88-17.61 s (median 7.49 with a BIMODAL worse tail — two reps at
    15.8/17.6). Mechanism: the window exchange it deletes was already
    pruned to ~top-k rows per partition by the partial
    WindowGroupLimit, while the doc_id exchange it adds carries RAW
    occurrences with no map-side combine — little to win, an unstable
    tail to lose. At sf0.1 the new form also lost (0.825 → 0.917 s
    interleaved). The two-exchange aggregate shape stays."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens_ws(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf") * F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _TFIDF_TOPK)
        .drop("__rn")
    )


@register(
    "q_token_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    d AS (
        SELECT doc_id,
               list_filter(w, (x, i) -> list_position(w, x) = i) AS dd,
               len(w) AS n_tokens
        FROM t
    )
    SELECT doc_id,
           array_to_string(dd, ' ') AS dedup_text,
           n_tokens,
           len(dd) AS n_unique,
           round(len(dd) / n_tokens, 4) AS unique_ratio
    FROM d
    """,
    tags=("corpus", "dedup"),
)
def q_token_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving within-document token dedup (first occurrence
    wins) — intra-doc repetition removal at word granularity, the
    line/paragraph analog for this single-line corpus. Entirely per-row
    codegen (functions/text.py:dedup_tokens_ordered): a lambda filter
    keeping token i iff array_position == i+1, mirrored exactly by
    DuckDB's 1-based list_filter/list_position. Two explode(array(x))
    Generate barriers materialize the token array and the deduped array
    so neither is recomputed per downstream reference. No shuffle at
    all — this runs at scan speed over 100 TB."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array(TX.tokens_ws(F.col("text")))).alias("__w")
    )
    dd = toks.select(
        "doc_id",
        F.size("__w").cast("long").alias("n_tokens"),
        F.explode(F.array(TX.dedup_tokens_ordered(F.col("__w")))).alias("__d"),
    )
    return dd.select(
        "doc_id",
        F.array_join("__d", " ").alias("dedup_text"),
        "n_tokens",
        F.size("__d").cast("long").alias("n_unique"),
        F.round(F.size("__d") / F.col("n_tokens"), 4).alias("unique_ratio"),
    )


@register(
    "q_boilerplate",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        FROM words
    ),
    dfreq AS (SELECT gram, count(*) AS df FROM sh GROUP BY 1),
    tot AS (SELECT count(*) AS n_docs FROM documents),
    common AS (SELECT gram FROM dfreq, tot WHERE df * 5 >= n_docs)
    SELECT s.doc_id,
           count(*) AS n_grams,
           count(c.gram) AS n_common,
           round(count(c.gram) / count(*), 4) AS boilerplate_ratio
    FROM sh s LEFT JOIN common c ON s.gram = c.gram
    GROUP BY 1
    """,
    tags=("corpus", "quality"),
    bench=True,
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate ratio per doc: the fraction of each
    document's distinct word 3-grams that appear in ≥ 20% of all
    documents (integer threshold df·5 ≥ n_docs — no decimal-vs-double
    drift between engines). See operators/cleaning.py:boilerplate_scores
    for the scale argument: the common set is pigeonhole-bounded to a
    few hundred grams, so the flagging join is a broadcast regardless
    of corpus size."""
    from ..operators.cleaning import boilerplate_scores

    d = T(spark, sf_dir, "documents")
    return boilerplate_scores(d, "text", "doc_id", n=3, ratio_num=1, ratio_den=5)


@register(
    "q_ngram_topk",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
        SELECT unnest(list_transform(range(1, len(w)),
                      i -> w[i] || ' ' || w[i+1])) AS gram
        FROM words
    )
    SELECT gram, count(*) AS n
    FROM g GROUP BY 1
    ORDER BY n DESC, gram
    LIMIT 20
    """,
    tags=("corpus", "text"),
)
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams — the frequency table behind
    tokenizer / LM diagnostics. One map-side-combined count aggregation
    then a 20-row TakeOrdered (deterministic ties: count desc, gram
    asc); the full gram table never sorts globally. At 100 TB the
    aggregation is the only shuffle and combines locally first."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array(TX.tokens_ws(F.col("text")))).alias("__w")
    )
    grams = toks.select(
        F.explode(TX.shingles_from_tokens(F.col("__w"), 2)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(20)
    )


@register(
    "q_pii_redact",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               substr(text, 1, 40) || ' contact user' || doc_id ||
               '@example.com or 10.0.' || (doc_id % 256) || '.42 call +61 2 9' ||
               lpad(CAST(doc_id AS VARCHAR), 6, '0') || ' end' AS synth
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(synth,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '[IP]', 'g'),
               '\\+?\\d[\\d\\-]{7,}\\d', '[PHONE]', 'g') AS redacted,
           CAST(len(regexp_extract_all(synth,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(synth,
               '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(synth,
               '\\+?\\d[\\d\\-]{7,}\\d')) AS BIGINT) AS n_phones
    FROM s
    """,
    tags=("corpus", "quality"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.py:pii_scrub): email / IPv4 /
    phone spans replaced in one regexp_replace chain, plus per-type
    match counts. The synthetic corpus contains no PII, so the query
    plants a deterministic PII-bearing suffix (built identically in
    both engines from doc_id) after a 40-char document prefix — the
    oracle then verifies the Java-regex and RE2 engines agree on real
    matches, not just on finding nothing. Scan-speed codegen; the
    patterns live in the RE2 ∩ java.util.regex common subset."""
    d = T(spark, sf_dir, "documents")
    synth = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".42 call +61 2 9"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0"),
        F.lit(" end"),
    )
    s = d.select("doc_id", synth.alias("__synth"))
    return s.select(
        "doc_id",
        TX.pii_scrub(F.col("__synth")).alias("redacted"),
        TX.pattern_count(F.col("__synth"), TX.EMAIL_PATTERN).cast("long").alias("n_emails"),
        TX.pattern_count(F.col("__synth"), TX.IPV4_PATTERN).cast("long").alias("n_ips"),
        TX.pattern_count(F.col("__synth"), TX.PHONE_PATTERN).cast("long").alias("n_phones"),
    )


@register(
    "q_hash_split",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               ((doc_id * 1103515245 + 12345) % 2147483648) % 100 AS bucket
        FROM documents
    )
    SELECT doc_id,
           CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 98 THEN 'train'
                WHEN bucket < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    tags=("corpus", "sampling"),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment from the id hash
    (operators/sampling.py:split_label) — reproducible across runs,
    partitionings, and engines, which is what keeps a held-out set
    held out. Pure scan predicate: no shuffle, no state."""
    from ..operators.sampling import hash_bucket, split_label

    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        hash_bucket(F.col("doc_id")).cast("long").alias("bucket"),
        split_label(F.col("doc_id")).alias("split"),
    )


@register(
    "q_shuffle_order",
    oracle="""
    SELECT doc_id,
           row_number() OVER (
               ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id
           ) AS shuffle_rank
    FROM documents
    """,
    tags=("corpus", "sampling"),
)
def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (operators/sampling.py:global_shuffle_rank): a reproducible
    pseudo-random permutation rank over (lcg_hash(id), id). The naive
    form is a single global row_number window — one partition holding
    the whole corpus; the operator instead range-buckets by hash
    (bucket monotone in hash, so concatenated bucket order IS the hash
    order), broadcasts per-bucket prefix offsets (1024 longs), and
    row_numbers within buckets distributed. The oracle is the naive
    global window, proving the two-phase plan computes the identical
    permutation."""
    from ..operators.sampling import global_shuffle_rank

    d = T(spark, sf_dir, "documents")
    return global_shuffle_rank(d.select("doc_id"), "doc_id").select(
        "doc_id", "shuffle_rank"
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    "q_chunk",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
        SELECT doc_id, w,
               unnest(range(1, len(w) + 1, {_CHUNK_STRIDE})) AS start,
               generate_subscripts(range(1, len(w) + 1, {_CHUNK_STRIDE}), 1) AS chunk_id
        FROM t
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           array_to_string(w[start : start + {_CHUNK_SIZE - 1}], ' ') AS chunk_text,
           len(w[start : start + {_CHUNK_SIZE - 1}]) AS n_tokens
    FROM c
    """,
    tags=("corpus", "packing"),
)
def q_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context-window chunking with overlap — the tokenize-and-
    chunk step that turns documents into training sequences: windows of
    32 tokens every 24 (8-token overlap so no span is ever split
    without context). Pure per-row codegen: sequence() of starts →
    posexplode → slice; row count grows by len/stride but nothing
    shuffles — at 100 TB this is a scan-speed map with output
    partitioning inherited from the input. DuckDB mirrors slice
    semantics exactly (1-based, end-inclusive, clamped ==
    F.slice(w, start, size))."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array(TX.tokens_ws(F.col("text")))).alias("__w")
    )
    starts = F.sequence(F.lit(1), F.size("__w"), F.lit(_CHUNK_STRIDE))
    ex = toks.select(
        "doc_id", "__w", F.posexplode(starts).alias("__pos", "__start")
    )
    chunk = F.slice(F.col("__w"), F.col("__start"), _CHUNK_SIZE)
    return ex.select(
        "doc_id",
        (F.col("__pos") + 1).cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


@register(
    "q_upsample",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               1 + (CAST(substr(source, 4) AS INTEGER) % 3) AS repeats
        FROM documents
    )
    SELECT doc_id, source, CAST(unnest(range(1, repeats + 1)) AS BIGINT) AS copy_id
    FROM r
    """,
    tags=("corpus", "sampling"),
)
def q_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight upsampling: replicate each document `repeats`
    times according to its source's mixing weight (here a deterministic
    1–3× derived from the source id; production passes a weights map
    the same way stratified_sample takes rates). explode(sequence())
    row replication — no shuffle, no state; the downstream
    global_shuffle_rank (q_shuffle_order) is what interleaves the
    copies into training order. Epoch-style temperature sampling at
    100 TB is exactly this map."""
    d = T(spark, sf_dir, "documents")
    rep = 1 + (F.substring("source", 4, 10).cast("int") % 3)
    return d.select(
        "doc_id", "source", F.explode(F.sequence(F.lit(1), rep)).alias("__c")
    ).select("doc_id", "source", F.col("__c").cast("long").alias("copy_id"))


@register(
    "q_corpus_pipeline",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
                   '\\b\\d{{1,3}}(\\.\\d{{1,3}}){{3}}\\b', '[IP]', 'g'),
                   '\\+?\\d[\\d\\-]{{7,}}\\d', '[PHONE]', 'g') AS text,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents
        WHERE n_chars BETWEEN 100 AND 5000
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept
        ) WHERE rn = 1
    ),
    train AS (
        SELECT doc_id, text
        FROM deduped
        WHERE ((doc_id * 1103515245 + 12345) % 2147483648) % 100 < 98
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM train),
    chunks AS (
        SELECT doc_id, w,
               unnest(range(1, len(w) + 1, {_CHUNK_STRIDE})) AS start,
               generate_subscripts(range(1, len(w) + 1, {_CHUNK_STRIDE}), 1) AS chunk_id
        FROM toks
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           array_to_string(w[start : start + {_CHUNK_SIZE - 1}], ' ') AS chunk_text,
           len(w[start : start + {_CHUNK_SIZE - 1}]) AS n_tokens
    FROM chunks
    """,
    tags=("corpus", "pipeline"),
    bench=True,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled training-data pipeline as ONE Catalyst plan:
    length gate → canonical-fingerprint exact dedup (keep lowest doc_id
    per raw-text fingerprint) → PII scrub of the survivors →
    deterministic 98% train split → 32/24 context-window chunking.
    Everything around the dedup window is per-row codegen; the dedup is
    the pipeline's single shuffle
    (hash-partition by 16-byte fingerprint); split + chunk are again
    shuffle-free, so the whole corpus-to-training-sequences path costs
    ONE exchange at 100 TB. The oracle replays the identical five
    stages in SQL — the hash match certifies the composition, not just
    each stage alone."""
    from ..operators.sampling import hash_bucket

    d = T(spark, sf_dir, "documents").filter(F.col("n_chars").between(100, 5000))
    # The fingerprint is computed BEFORE the dedup exchange and the PII
    # scrub AFTER it — deliberately, for two scale reasons. (1) The
    # scrub then runs only on dedup SURVIVORS (identical output: fp is
    # of the RAW text in both engines, and scrubbing a row commutes
    # with dropping its duplicates). (2) JVM regex pathology, measured
    # at sf10: fingerprint's [^a-z0-9]+ and the scrub's email class
    # [A-Za-z0-9._%+-]+ are two structurally different large character
    # classes — hot in the SAME task they degrade java.util.regex
    # ~15-30x (email+norm in one projection: 28.9 s; each alone ≤2 s;
    # same-shape pairs like email+email stay fast — JIT inline caches
    # at the per-char predicate call sites go megamorphic; possessive
    # quantifiers and codegen on/off don't change it). Splitting them
    # across the window's exchange keeps each task's JIT profile
    # single-shaped: 30.4 s → ~3 s for the whole pipeline at sf10.
    fped = d.select("doc_id", "text", TX.fingerprint(F.col("text")).alias("fp"))
    from pyspark.sql import Window

    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        fped.withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .select("doc_id", TX.pii_scrub(F.col("text")).alias("text"))
    )
    train = deduped.filter(hash_bucket(F.col("doc_id")) < 98)
    toks = train.select(
        "doc_id", F.explode(F.array(TX.tokens_ws(F.col("text")))).alias("__w")
    )
    ex = toks.select(
        "doc_id",
        "__w",
        F.posexplode(
            F.sequence(F.lit(1), F.size("__w"), F.lit(_CHUNK_STRIDE))
        ).alias("__pos", "__start"),
    )
    chunk = F.slice(F.col("__w"), F.col("__start"), _CHUNK_SIZE)
    return ex.select(
        "doc_id",
        (F.col("__pos") + 1).cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


@register(
    "q_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    uni AS (
        SELECT t AS token, CAST(count(*) AS BIGINT) AS c1
        FROM toks, unnest(w) AS u(t)
        GROUP BY t
    ),
    v AS (SELECT count(*) AS vsize FROM uni),
    bigs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                      i -> w[i] || ' ' || w[i + 1])) AS bg
        FROM toks WHERE len(w) >= 2
    ),
    bgc AS (
        SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bigs GROUP BY bg
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(ln((bgc.c12 + 1.0) / (uni.c1 + v.vsize))), 4) AS nll
    FROM bigs b
    JOIN bgc ON b.bg = bgc.bg
    JOIN uni ON split_part(b.bg, ' ', 1) = uni.token
    CROSS JOIN v
    GROUP BY b.doc_id
    """,
    tags=("corpus", "quality"),
    bench=True,  # distributed count-table joins (the LM scoring path)
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model scoring: add-one-smoothed
    P(t2|t1) = (c(t1,t2)+1)/(c(t1)+V) from the corpus's own counts,
    per-doc quality score = mean negative log-likelihood over its
    bigrams — the statistical cousin of q_char_entropy for gibberish /
    boilerplate detection, and the shape of real LM-based quality
    filters (train counts once, score every doc).

    Plan: token and bigram count tables are keyed aggregates. The
    per-bigram score log((c12+1)/(c1+V)) is computed ONCE on the
    |distinct bigrams| count table (bgc ⋈ uni on the first token + the
    1-row broadcast V), and that one score table is EXPLICITLY
    BROADCAST into the occurrence stream (round-7, SCALE.md §6j): the
    occurrence-volume rows now cross exactly ONE exchange (the per-doc
    aggregate). The previous "count tables stay distributed" policy
    sort-merge-joined 12M occurrence rows by bigram STRING — measured
    6.5x the whole query at sf10 (44.5 → 6.8 s); the score table is
    |distinct bigrams| ≈ Heaps-sublinear in corpus size and fits
    broadcast at every measurable tier. Scale dial (same as q_tfidf's
    df table): a corpus whose bigram vocabulary outgrows executor
    memory swaps the broadcast for .hint(\"shuffle_hash\"). Bigrams
    reuse shingles_from_tokens(w, 2) — identical tokenization to the
    dedup tier."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("__t")
    )
    toks = docs.select("doc_id", TX.tokens_ws(F.col("__t")).alias("w"))
    uni = (
        toks.select(F.explode("w").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vsize = uni.agg(F.count(F.lit(1)).alias("vsize"))
    bigs = toks.select(
        "doc_id", F.explode(TX.shingles_from_tokens(F.col("w"), 2)).alias("bg")
    )
    bgc = bigs.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    # uni (the unigram count table, strictly smaller than the bigram
    # table it conditions) is EXPLICITLY broadcast — round-8 sweep of
    # the count-table join class whose unhinted AQE flip SCALE.md §6j
    # documents; same ≥10^8-type-vocabulary shuffle_hash dial as the
    # downstream score_tbl broadcast.
    score_tbl = (
        bgc.withColumn("__t1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(uni), F.col("__t1") == F.col("token"))
        .crossJoin(F.broadcast(vsize))
        .select(
            "bg",
            F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("vsize"))).alias("__s"),
        )
    )
    return (
        bigs.join(F.broadcast(score_tbl), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("__s"), 4).alias("nll"),
        )
    )


@register(
    "q_domain_cap",
    oracle="""
    SELECT doc_id, source, cap_rank
    FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id
               ) AS INTEGER) AS cap_rank
        FROM documents
    ) ranked
    WHERE cap_rank <= 10
    """,
    tags=("corpus", "sampling"),
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/sampling.cap_per_group): at
    most 10 docs per source, picked by deterministic id-hash order so
    the kept set survives repartitioning and reruns. The canonical
    anti-domain-dominance op for web corpora; one window shuffle on
    source, no state, no collect."""
    from ..operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", k=10, id_col="doc_id")


@register(
    "q_weighted_sample",
    oracle="""
    SELECT doc_id, source, n_chars, sample_key
    FROM (
        SELECT doc_id, source, n_chars,
               round(-ln((((doc_id * 1103515245 + 12345) % 2147483648) + 0.5)
                         / 2147483648.0) / n_chars, 9) AS sample_key
        FROM documents
    ) keyed
    ORDER BY sample_key, doc_id
    LIMIT 100
    """,
    tags=("corpus", "sampling"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample (operators/sampling.
    weighted_sample): Efraimidis–Spirakis keys with weight = n_chars,
    k = 100 — longer documents proportionally likelier, yet the picked
    set is bit-reproducible across engines and runs. TakeOrdered top-k:
    no global sort, no shuffle of the corpus."""
    from ..operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(docs, "n_chars", k=100, id_col="doc_id")


@register(
    "q_span_dedup",
    oracle="""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
        SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(len(w)),
                       i -> struct_pack(pos := i, tok := w[i + 1])
                   )) AS u
            FROM arrs)
    ),
    sh AS (
        SELECT doc_id, u.pos AS pos, u.g AS g FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(greatest(len(w) - 9, 0)),
                       i -> struct_pack(pos := i,
                                        g := array_to_string(w[i + 1 : i + 10], ' '))
                   )) AS u
            FROM arrs)
    ),
    occ AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM sh
    ),
    cov AS (
        SELECT DISTINCT doc_id, cpos FROM (
            SELECT doc_id, unnest(range(pos, pos + 10)) AS cpos
            FROM occ WHERE rn > 1)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM toks t
        LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
        WHERE c.doc_id IS NULL
    ),
    kept_agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(k.text, '') AS text, t.n_tokens,
           t.n_tokens - coalesce(k.n_kept, 0) AS n_removed
    FROM totals t LEFT JOIN kept_agg k USING (doc_id)
    """,
    tags=("corpus", "dedup"),
    bench=True,  # the three-shuffle substring-dedup path
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (span) dedup over the corpus
    (operators/dedup.span_dedup): every repeated 10-gram span is
    removed except its globally-first occurrence, and documents are
    reassembled from their surviving tokens — the substring-level tier
    between exact-doc hashing and MinHash, per Lee et al. 2021. Fully
    duplicated documents come back as empty text rather than
    disappearing. Exactly SQL-expressible, so unlike the randomized
    banding tiers this one is hash-checked against DuckDB.

    First-occurrence strategy is SCALE-AWARE by default (round-9):
    "auto" picks the measured sf-tier winner from the optimizer's size
    estimate of the document scan (the "span_first_occurrence" rule
    in operators/scale_policy.py — window below 120 MB of plan-stat
    bytes, the sort-free join form at or above; crossover in SCALE.md
    §6k/§6l). SPARK_GRAFT_SPAN_FIRST_OCC overrides with an explicit
    "window"/"join"; anything else fails loudly (round-8 ADVICE)
    instead of silently falling through to the window plan."""
    from ..operators.dedup import span_dedup
    from ..operators.scale_policy import override

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    strategy = override("span_first_occurrence") or "auto"
    return span_dedup(docs, n=10, first_occurrence=strategy)


@register(
    "q_split_leakage",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         splits AS (SELECT doc_id,
                           CASE WHEN ((doc_id * 1103515245 + 12345) % 2147483648) % 100 < 80
                                THEN 'train'
                                WHEN ((doc_id * 1103515245 + 12345) % 2147483648) % 100 < 90
                                THEN 'val'
                                ELSE 'test' END AS split
                    FROM documents)
    SELECT id_a, id_b,
           round(shared * 1.0 / (x.n + y.n - shared), 4) AS jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs
    JOIN sizes x ON id_a = x.doc_id
    JOIN sizes y ON id_b = y.doc_id
    JOIN splits sa ON id_a = sa.doc_id
    JOIN splits sb ON id_b = sb.doc_id
    WHERE round(shared * 1.0 / (x.n + y.n - shared), 4) >= 0.3
      AND sa.split <> sb.split
    """,
    tags=("corpus", "dedup", "sampling"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: near-duplicate pairs (exact
    3-gram Jaccard ≥ 0.3) whose members landed in DIFFERENT train/val/
    test splits — the leakage an eval is silently invalidated by when
    dedup runs after splitting instead of before. Pure composition of
    engine pieces: the deterministic hash split (operators/sampling.
    split_label, 80/10/10 here so cross pairs exist at test scale) over
    the inverted-index Jaccard pairs (operators/dedup.
    ngram_jaccard_pairs). At 100 TB the pair generation is the same
    df-capped scale path as q_dedup_ngram_jaccard; the split labels are
    scan-local expressions joined after pairing, so the audit costs one
    extra broadcast-sized join over the (tiny) pair set."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.sampling import split_label

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, threshold=0.3)
    splits = docs.select(
        "doc_id", split_label(F.col("doc_id"), train_pct=80, val_pct=10).alias("split")
    )
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


@register(
    "q_corpus_pipeline_v2",
    oracle="""
    WITH capped AS (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY (doc_id * 1103515245 + 12345) % 2147483648,
                                doc_id
                   ) AS rk
            FROM documents
        ) r WHERE rk <= 20
    ),
    arrs AS (SELECT doc_id, string_split(text, ' ') AS w FROM capped),
    toks AS (
        SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
            SELECT doc_id,
                   unnest(list_transform(range(len(w)),
                          i -> struct_pack(pos := i, tok := w[i + 1]))) AS u
            FROM arrs)
    ),
    sh AS (
        SELECT doc_id, u.pos AS pos, u.g AS g FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(greatest(len(w) - 9, 0)),
                       i -> struct_pack(pos := i,
                                        g := array_to_string(w[i + 1 : i + 10], ' '))
                   )) AS u
            FROM arrs)
    ),
    occ AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM sh
    ),
    cov AS (
        SELECT DISTINCT doc_id, cpos FROM (
            SELECT doc_id, unnest(range(pos, pos + 10)) AS cpos
            FROM occ WHERE rn > 1)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM toks t
        LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
        WHERE c.doc_id IS NULL
    ),
    cleaned AS (
        SELECT ka.doc_id,
               string_agg(ka.tok, ' ' ORDER BY ka.pos) AS text,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM kept ka GROUP BY ka.doc_id
    ),
    gated AS (
        SELECT c.doc_id, cp.source, c.text, c.n_tokens
        FROM cleaned c
        JOIN capped cp USING (doc_id)
        JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_orig
              FROM toks GROUP BY doc_id) t USING (doc_id)
        WHERE c.n_tokens >= 5
          AND c.n_tokens * 1.0 / t.n_orig > 0.2
    )
    SELECT doc_id, source, n_tokens,
           CASE WHEN ((doc_id * 1103515245 + 12345) % 2147483648) % 100 < 80
                THEN 'train'
                WHEN ((doc_id * 1103515245 + 12345) % 2147483648) % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split,
           md5(text) AS text_hash
    FROM gated
    """,
    tags=("corpus", "pipeline"),
    bench=True,  # the composed cap -> span-dedup -> gate -> split path
)
def q_corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition of this round's corpus operators, checked
    as ONE pipeline against ONE oracle: per-source cap (20/source,
    hash-ordered) → exact substring dedup (10-gram spans, survivors
    reassembled) → quality gate (≥ 5 clean tokens AND > 20% of the
    original survived — mostly-duplicated shells drop) → deterministic
    80/10/10 split → narrow manifest (id, source, token count, split,
    md5 of cleaned text). Each stage is individually oracle-paired
    elsewhere (q_domain_cap, q_span_dedup, q_hash_split); this pins
    that their COMPOSITION agrees cross-engine — stage coupling, not
    just stage correctness. Scale shape: cap and dedup are the only
    shuffles; gate/split/hash are scan-local; the manifest is what a
    training job actually consumes (text travels by hash, not by
    value)."""
    from ..operators.dedup import span_dedup
    from ..operators.sampling import cap_per_group, split_label

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # The capped table is EAGERLY localCheckpointed (round-10, guide
    # §2.4): span_dedup fans its input into the hot-shingle aggregate,
    # the hot/cold routing probes, and the cover-removal join, and the
    # gate join below re-reads it — left lazy, the cap stage's
    # row_number window re-planned ~6x (38 Window nodes in
    # `git show 142017c:plans/r10/q_corpus_pipeline_v2_before.txt`).
    # One small
    # materialization (k·|sources| rows) feeds all consumers
    # (2.15 -> 1.91 s at sf0.1, interleaved A/B). localCheckpoint
    # preserves the optimizer's sizeInBytes estimate, so span_dedup's
    # auto strategy selector still sees the scan-derived statistic.
    # prefer="local_checkpoint": the ONE measured exception to the
    # scale-aware materialize default — this table carries the full
    # text column, and the columnar disk_persist form lost at BOTH
    # tiers (sf0.1 1.88 → 2.35 s, sf10 1.81 → 2.18 s; round-11
    # durability A/B) to string encode/decode overhead.
    capped = materialize(
        cap_per_group(docs, "source", k=20, id_col="doc_id").select(
            "doc_id", "source", "text"
        ),
        prefer="local_checkpoint",
    )
    # max_shingle_freq=64 is the production df-cap guard (hot
    # boilerplate shingles route around the per-key window); output is
    # provably identical to uncapped — the UNCAPPED oracle below stays
    # hash-green, which is the point of running the pipeline capped
    cleaned = span_dedup(capped.select("doc_id", "text"), n=10, max_shingle_freq=64)
    gated = (
        cleaned.join(capped.select("doc_id", "source"), "doc_id")
        .withColumn("__n_clean", F.col("n_tokens") - F.col("n_removed"))
        .filter(
            (F.col("__n_clean") >= 5)
            & (F.col("__n_clean") * 1.0 / F.col("n_tokens") > 0.2)
        )
    )
    return gated.select(
        "doc_id",
        "source",
        F.col("__n_clean").alias("n_tokens"),
        split_label(F.col("doc_id"), train_pct=80, val_pct=10).alias("split"),
        F.md5("text").alias("text_hash"),
    )


_BM25_TERMS = ("spark", "window", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


@register(
    "q_bm25",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM toks WHERE token IN {_BM25_TERMS} GROUP BY 1, 2),
    dfreq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    term_scores AS (
        SELECT t.doc_id, t.token,
               ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * t.tf * ({_BM25_K1} + 1.0)
               / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
               AS ts
        FROM tf t
        JOIN dfreq d USING (token)
        JOIN dl l USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id,
               coalesce(min(CASE WHEN token = '{_BM25_TERMS[0]}' THEN ts END), 0.0)
             + coalesce(min(CASE WHEN token = '{_BM25_TERMS[1]}' THEN ts END), 0.0)
             + coalesce(min(CASE WHEN token = '{_BM25_TERMS[2]}' THEN ts END), 0.0)
               AS score
        FROM term_scores GROUP BY doc_id
    )
    SELECT doc_id, round(score, 4) AS bm25
    FROM per_doc
    ORDER BY round(score, 4) DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
    tags=("text", "retrieval"),
    bench=True,  # multi-agg + broadcast-scalar + top-k retrieval family
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi, k1=1.2, b=0.75, Lucene non-negative idf) top-20
    retrieval for a fixed 3-term query over `documents` — the lexical
    retrieval baseline every RAG/pretraining-search stack keeps beside
    its ANN tier (reference has no search surface; engine extension per
    the brief, companion to q_tfidf).

    Scale shape (round-10 single-pass rewrite, guide §2.3 "aggregate
    before you shuffle" / §2.4 "remove shuffles outright"): the corpus
    is tokenized ONCE and a single doc-grain aggregate computes document
    length AND the fixed query's per-term frequencies as conditional
    counts in the same map-side-combined shuffle — the previous shape
    tokenized the corpus twice (the dl branch and the term-filtered tf
    branch) and re-joined the two aggregates with a pinned shuffle-hash
    join, so the rewrite deletes both the second full tokenize pass and
    the tf⋈dl join (and with it the AQE build-side flip that join's
    round-8 hint guarded against — there is nothing left to flip). The
    shuffle carries one (doc_id, dl, tf×|terms|) row per doc per map
    partition; n/avgdl/df reduce to ONE broadcast scalar row (df_t =
    count of docs with tf_t > 0 — exact integer-valued doubles, so
    order-independent). Per-term scores are summed in FIXED textual term
    order from the wide columns — never a shuffle-order-dependent float
    sum — making the 4dp round + (score, doc_id) top-k cut
    deterministic cross-engine (exact-match pinned vs the pre-rewrite
    shape at sf0.001/0.01/0.1; 0.96 → 0.74 s at sf0.1, interleaved
    A/B). Final top-k is TakeOrdered, not a single-partition global
    sort."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens_ws(F.col("text"))).alias("token"))
    nt = len(_BM25_TERMS)
    percol = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"),
        *[
            F.count(F.when(F.col("token") == t, 1)).cast("double").alias(f"__tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = percol.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("__avgdl"),
        *[
            F.count(F.when(F.col(f"__tf{i}") > 0.0, 1)).cast("double").alias(f"__df{i}")
            for i in range(nt)
        ],
    )
    any_hit = None
    for i in range(nt):
        c = F.col(f"__tf{i}") > 0.0
        any_hit = c if any_hit is None else (any_hit | c)
    scored = percol.filter(any_hit).crossJoin(F.broadcast(stats))

    def term_score(i: int):
        # identical float expression tree per term as the pre-r10
        # (doc,token)-row form — only the column sources changed
        return (
            F.log(
                1.0
                + (F.col("__n") - F.col(f"__df{i}") + 0.5) / (F.col(f"__df{i}") + 0.5)
            )
            * F.col(f"__tf{i}")
            * (_BM25_K1 + 1.0)
            / (
                F.col(f"__tf{i}")
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("__avgdl"))
            )
        )

    score = None
    for i in range(nt):
        term = F.when(F.col(f"__tf{i}") > 0.0, term_score(i)).otherwise(F.lit(0.0))
        score = term if score is None else (score + term)
    return (
        scored.select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


_VOCAB_SIZE = 200


@register(
    "q_vocab_oov",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
    vocab AS (SELECT token FROM freq ORDER BY cnt DESC, token ASC LIMIT {_VOCAB_SIZE}),
    flags AS (
        SELECT t.doc_id,
               CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           round(sum(oov) * 1.0 / count(*), 4) AS oov_rate
    FROM flags GROUP BY doc_id
    """,
    tags=("text", "tokenizer"),
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + out-of-vocabulary audit — the
    tokenizer-prep step between raw text and sequence packing: the
    corpus's top-V (_VOCAB_SIZE = 200) tokens by frequency (tie → lexicographic,
    so the cut is deterministic cross-engine) become the vocabulary,
    and every document reports its token count and OOV rate against it.
    Plan shape: one token-frequency aggregate, a TakeOrdered top-V cut
    (never a global sort), then the vocab — V rows, broadcast — flags
    membership on the token stream and one keyed aggregate folds per
    document. At 100 TB the only big shuffles are token-keyed; the
    vocabulary itself stays driver-small by construction, which is why
    the membership join broadcasts instead of shuffling the corpus."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens_ws(F.col("text"))).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(_VOCAB_SIZE)
        .select("token")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "token", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            4,
        ).alias("oov_rate"),
    )


@register(
    "q_keyness",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cs AS (SELECT source, token, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY 1, 2),
    ns AS (SELECT source, CAST(count(*) AS DOUBLE) AS n FROM toks GROUP BY 1),
    tot AS (SELECT token, CAST(count(*) AS DOUBLE) AS c_all FROM toks GROUP BY 1),
    n_all AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
    scored AS (
        SELECT cs.source, cs.token,
               CAST(cs.c AS BIGINT) AS n_in_source,
               round(
                   ln((cs.c + 1.0) / (ns.n - cs.c + 1.0))
                 - ln((tot.c_all - cs.c + 1.0)
                      / (n_all.n - ns.n - (tot.c_all - cs.c) + 1.0)),
                   4) AS log_odds
        FROM cs
        JOIN ns USING (source)
        JOIN tot USING (token)
        CROSS JOIN n_all
    )
    SELECT source, token, n_in_source, log_odds
    FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY log_odds DESC, token ASC) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
    tags=("text", "stats"),
)
def q_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness analysis — the top-3 tokens most DISTINCTIVE of each
    source versus the rest of the corpus by smoothed log-odds ratio
    (the corpus-linguistics standard for 'what makes this slice
    different', and the mixing-audit a pretraining pipeline runs per
    domain). Two token-keyed aggregates (per-source counts, corpus
    totals) join on token; per-source totals and the corpus scalar
    broadcast. The log-odds is one arithmetic expression over exact
    integer counts cast to double — both engines compute the identical
    value, so the 4dp round + (score, token) top-k cut is
    deterministic. At 100 TB everything big is token-keyed; nothing
    quadratic exists."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(TX.tokens_ws(F.col("text"))).alias("token"))
    cs = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    ns = toks.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = toks.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("c_all"))
    n_all = toks.agg(F.count(F.lit(1)).cast("double").alias("__n_all"))
    # tot is the token-count table — the same count-table class as
    # q_tfidf's df side, EXPLICITLY broadcast for the same reason
    # (round-8 AQE build-side audit): left unhinted, AQE's runtime
    # re-plan can flip the build side to the fact-derived (source,
    # token) aggregate — the 4s/30s bimodal + driver-OOM-at-scale
    # failure SCALE.md §6j documents for q_tfidf. Same scale dial: a
    # vocabulary beyond executor memory (≥ ~10^8 types) swaps this for
    # tot.hint("shuffle_hash").
    scored = (
        cs.join(F.broadcast(ns), "source")
        .join(F.broadcast(tot), "token")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            "token",
            F.col("c").cast("long").alias("n_in_source"),
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("n") - F.col("c") + 1.0))
                - F.log(
                    (F.col("c_all") - F.col("c") + 1.0)
                    / (
                        F.col("__n_all")
                        - F.col("n")
                        - (F.col("c_all") - F.col("c"))
                        + 1.0
                    )
                ),
                4,
            ).alias("log_odds"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("log_odds").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )


@register(
    "q_dataset_card",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, source, n_chars,
               len(string_split(text, ' ')) AS n_toks,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents
    ),
    lang_p AS (
        SELECT sum((c * 1.0 / n) * (c * 1.0 / n)) AS sum_p2 FROM (
            SELECT lang, count(*) AS c,
                   (SELECT count(*) FROM base) AS n
            FROM base GROUP BY lang)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(median(n_chars) AS DOUBLE) AS median_chars,
           round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 6) AS exact_dup_rate,
           round((SELECT 1.0 - sum_p2 FROM lang_p), 6) AS lang_diversity,
           round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS en_share
    FROM base
    """,
    tags=("corpus", "governance"),
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card — the summary a training-data release
    ships: corpus size, source count, token budget, median document
    length, exact-duplicate rate (1 − distinct fingerprints / docs),
    language diversity as the Gini–Simpson index 1 − Σp² (the
    entropy-family metric that needs no log, so it is exact in
    integer-derived arithmetic), and English share. ONE aggregate pass
    over the corpus plus a 5-row language histogram — every number a
    release gate checks, computed at scan cost."""
    from ..functions.text import fingerprint, token_count_ws

    d = T(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        token_count_ws(F.col("text")).alias("n_toks"),
        fingerprint(F.col("text")).alias("fp"),
    )
    # Round-10 measured non-change: checkpointing the lang histogram
    # and deriving the doc count from it (3 scans → 2) lost the
    # interleaved A/B at sf0.1 (0.39→0.46 s) and was flat-at-best at
    # sf10 — the "redundant" count scan is metadata-cheap on parquet
    # (row-group counts, no column read; column pruning already keeps
    # the histogram scan lang-only), so the checkpoint job only adds
    # serialization. Left lazy deliberately.
    n_df = base.agg(F.count(F.lit(1)).alias("n"))
    lang_p = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_df))
        .agg(
            F.sum((F.col("c") / F.col("n")) * (F.col("c") / F.col("n"))).alias(
                "sum_p2"
            )
        )
    )
    return (
        base.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.median("n_chars").cast("double").alias("median_chars"),
            F.round(
                1.0 - F.countDistinct("fp") / F.count(F.lit(1)), 6
            ).alias("exact_dup_rate"),
            F.round(
                F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("en_share"),
        )
        .crossJoin(F.broadcast(lang_p))
        .select(
            "n_docs",
            "n_sources",
            "total_tokens",
            "median_chars",
            "exact_dup_rate",
            F.round(1.0 - F.col("sum_p2"), 6).alias("lang_diversity"),
            "en_share",
        )
    )


@register(
    "q_token_budget_mix",
    oracle="""
    WITH src AS (
        SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(toks) AS all_toks FROM src)
    SELECT source, toks,
           CAST(100000 / (SELECT count(*) FROM src) AS BIGINT) AS target_toks,
           round(least(1.0, (100000.0 / (SELECT count(*) FROM src)) / toks), 6)
             AS sample_rate,
           round(toks * 1.0 / (SELECT all_toks FROM tot), 6) AS natural_share
    FROM src
    """,
    tags=("corpus", "sampling"),
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning for a 100k-token training budget split equally
    across sources: per source, its natural token count and share, the
    equal-allocation target, and the sampling rate (capped at 1 — an
    under-resourced source can't be sampled above itself; the standard
    fix is the upsampling tier, q_upsample). The numbers a data-mixing
    config is derived from; two tiny aggregates, histogram-sized
    output. Rates divide exact integer token counts."""
    from ..functions.text import token_count_ws

    d = T(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("toks")
    )
    stats = src.agg(
        F.sum("toks").alias("all_toks"), F.count(F.lit(1)).alias("n_src")
    )
    return (
        src.crossJoin(F.broadcast(stats))
        .select(
            "source",
            "toks",
            (F.lit(100000) / F.col("n_src")).cast("long").alias("target_toks"),
            F.round(
                F.least(F.lit(1.0), (100000.0 / F.col("n_src")) / F.col("toks")), 6
            ).alias("sample_rate"),
            F.round(F.col("toks") / F.col("all_toks"), 6).alias("natural_share"),
        )
    )


@register(
    "q_source_cards",
    oracle="""
    WITH base AS (
        SELECT source, lang, n_chars,
               len(string_split(text, ' ')) AS n_toks,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(median(n_chars) AS DOUBLE) AS median_chars,
           round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 6) AS exact_dup_rate,
           round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS en_share
    FROM base GROUP BY source
    """,
    tags=("corpus", "governance"),
)
def q_source_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source breakdown of q_dataset_card: size, token budget,
    median length, exact-dup rate, and English share for EVERY source —
    the table a mixture decision (q_token_budget_mix) and a source
    blocklist are both read from. Same single-pass aggregate, grouped;
    a 100 TB corpus pays one scan for the whole source report."""
    from ..functions.text import fingerprint, token_count_ws

    d = T(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        "n_chars",
        token_count_ws(F.col("text")).alias("n_toks"),
        fingerprint(F.col("text")).alias("fp"),
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.median("n_chars").cast("double").alias("median_chars"),
        F.round(1.0 - F.countDistinct("fp") / F.count(F.lit(1)), 6).alias(
            "exact_dup_rate"
        ),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) / F.count(F.lit(1)),
            6,
        ).alias("en_share"),
    )


_GPACK_CTX = 512


@register(
    "q_pack_global",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    p AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM t
    ),
    e AS (
        SELECT doc_id, n_tokens, tok_start,
               unnest(range(tok_start // {_GPACK_CTX},
                            (tok_start + n_tokens - 1) // {_GPACK_CTX} + 1))
                   AS seq_id
        FROM p
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           doc_id,
           CAST(greatest(0, seq_id * {_GPACK_CTX} - tok_start) AS BIGINT)
               AS span_start,
           CAST(least(tok_start + n_tokens, (seq_id + 1) * {_GPACK_CTX})
                - greatest(tok_start, seq_id * {_GPACK_CTX}) AS BIGINT)
               AS span_len
    FROM e
    """,
    tags=("corpus", "packing"),
)
def q_pack_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL concat-and-chunk sequence packing
    (operators/sampling.py:pack_sequences): documents laid end-to-end
    in doc_id order, the token stream cut into fixed 512-token
    sequences, documents straddling cuts — the GPT-style pretraining
    layout, emitting the (sequence × document-span) slices a loader
    assembles batches from. Distinct from q_sequence_pack (per-source
    greedy chunk ids, no straddles) and q_chunk (per-doc overlapping
    windows): this one has GLOBAL state — the exclusive prefix sum of
    token counts — computed by two_phase_prefix_sum (range shuffle +
    broadcast offsets, never a single-partition window), while the
    oracle is the naive global window, proving the two-phase plan
    computes the identical packing."""
    from ..operators.sampling import pack_sequences

    d = T(spark, sf_dir, "documents")
    sized = d.select("doc_id", TX.token_count_ws(F.col("text")).alias("n_tokens"))
    return pack_sequences(sized, "n_tokens", _GPACK_CTX).select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_len").cast("long").alias("span_len"),
    )


@register(
    "q_mix_epochs",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               CAST(regexp_extract(source, '[0-9]+') AS INT) % 4 AS grp,
               ((doc_id * 1103515245 + 12345) % 2147483648) % 100 AS bucket
        FROM documents
    ),
    cfg AS (
        SELECT doc_id, source,
               CASE grp WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS full_e,
               CASE grp WHEN 0 THEN 25 WHEN 2 THEN 50 ELSE 0 END AS frac_pct,
               bucket
        FROM w
    )
    SELECT doc_id, source, CAST(epoch AS INT) AS epoch
    FROM (
        SELECT doc_id, source,
               unnest(range(0, full_e
                      + CASE WHEN bucket < frac_pct THEN 1 ELSE 0 END)) AS epoch
        FROM cfg
    )
    """,
    tags=("corpus", "sampling"),
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing with epoch upsampling
    (operators/sampling.py:mix_epochs) — the composition step of a
    training run: per-source weights become full epochs plus a
    hash-selected partial epoch (weight 2.25 → every doc twice + a
    consistent 25% subset a third time; 0.5 → a 50% subset once; 0 →
    source dropped). Weights here derive from the source's numeric
    suffix mod 4 (2.25 / 1.0 / 0.5 / 0) so both engines compute the
    config from the data. Narrow plan: bounded per-row array explode,
    no shuffle — at 100 TB this is a scan that emits the training
    manifest, with the id-hash partial epochs keeping reruns
    byte-identical."""
    from ..operators.sampling import mix_epochs

    d = T(spark, sf_dir, "documents")
    grp = F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int") % 4
    full_e = (
        F.when(grp == 0, F.lit(2)).when(grp == 1, F.lit(1)).otherwise(F.lit(0))
    )
    frac = (
        F.when(grp == 0, F.lit(25)).when(grp == 2, F.lit(50)).otherwise(F.lit(0))
    )
    return mix_epochs(
        d.select("doc_id", "source"), full_e, frac
    ).select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))
