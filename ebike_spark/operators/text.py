"""Text-analysis operators for training-data pipelines.

All computed with built-in Catalyst expressions (split / filter /
transform / aggregate higher-order functions + regexp) — zero Python in
the hot path, so each operator is one codegen'd scan pass at any scale.
The reference has no text functions beyond basic SQL string ops
(SURVEY §2.B "scalar functions: string").
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.functions.textfns import md5_long, md5_long_sql, tokens
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

# Deterministic marker-word language heuristic. The synthetic corpus is
# tech-word soup, so this is exercised as a *mechanism* (scored marker
# sets, deterministic tie-break), not a linguistics claim.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "es": ("el", "los", "y"),
}
STOPWORDS = ("the", "a", "of", "and")

FP_TOKEN_MOD = 1_048_576  # 2^20 token-hash fold
FP_PRIME = 1_000_000_007


def _marker_count_sql(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({inlist})))"


def _marker_count(markers: tuple[str, ...]):
    return F.size(F.filter(tokens(F.col("text")), lambda w: w.isin(*markers)))


@register(
    "text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_marker_count_sql(LANG_MARKERS["en"])} AS s_en,
             {_marker_count_sql(LANG_MARKERS["fr"])} AS s_fr,
             {_marker_count_sql(LANG_MARKERS["de"])} AS s_de,
             {_marker_count_sql(LANG_MARKERS["es"])} AS s_es
      FROM documents)
    SELECT doc_id,
           CASE WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0 THEN 'und'
                WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                WHEN s_de >= s_es THEN 'de'
                ELSE 'es' END AS lang_pred
    FROM scored
    """,
    tags=("text", "langid"),
)
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-word language ID: score each language's marker set, take
    the argmax with a fixed precedence order (en>fr>de>es), 'und' when no
    markers hit. One scan pass, no shuffle."""
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        _marker_count(LANG_MARKERS["en"]).alias("s_en"),
        _marker_count(LANG_MARKERS["fr"]).alias("s_fr"),
        _marker_count(LANG_MARKERS["de"]).alias("s_de"),
        _marker_count(LANG_MARKERS["es"]).alias("s_es"),
    )
    no_hit = (F.col("s_en") == 0) & (F.col("s_fr") == 0) & (F.col("s_de") == 0) & (F.col("s_es") == 0)
    pred = (
        F.when(no_hit, "und")
        .when((F.col("s_en") >= F.col("s_fr")) & (F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")), "en")
        .when((F.col("s_fr") >= F.col("s_de")) & (F.col("s_fr") >= F.col("s_es")), "fr")
        .when(F.col("s_de") >= F.col("s_es"), "de")
        .otherwise("es")
    )
    return scored.select("doc_id", pred.alias("lang_pred"))


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(string_split(text, ' '),
                 w -> w IN ({", ".join(f"'{w}'" for w in STOPWORDS)}))) AS n_stop
      FROM documents)
    SELECT doc_id, n_tokens,
           ROUND(n_chars * 1.0 / n_tokens, 4) AS avg_tok_len,
           ROUND(n_stop * 1.0 / n_tokens, 4) AS stop_ratio,
           ROUND(least(1.0, n_tokens / 100.0) * (1 - n_stop * 1.0 / n_tokens), 4) AS score
    FROM t
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Document quality scoring: length/stopword-ratio features and a
    composite score — the standard pre-training filter signals, one scan
    pass."""
    docs = load_table(spark, sf, "documents")
    tok = tokens(F.col("text"))
    n_tokens = F.size(tok)
    n_stop = F.size(F.filter(tok, lambda w: w.isin(*STOPWORDS)))
    t = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        n_stop.alias("n_stop"),
    )
    stop_ratio = F.col("n_stop") * 1.0 / F.col("n_tokens")
    return t.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_chars") * 1.0 / F.col("n_tokens"), 4).alias("avg_tok_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(F.least(F.lit(1.0), F.col("n_tokens") / 100.0) * (1 - stop_ratio), 4).alias("score"),
    )


@register(
    "text_token_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
           CAST(SUM(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT)
             AS total_vowels
    FROM documents GROUP BY lang
    """,
    tags=("text", "tokens"),
)
def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token accounting per language tag: whitespace token counts
    + a regex-class character count (regexp stays JVM-side). The groupBy
    shuffles 5 aggregate rows, not documents."""
    docs = load_table(spark, sf, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    n_vowels = F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens).cast("long").alias("total_tokens"),
        F.round(F.avg(n_tokens), 4).alias("avg_tokens"),
        F.sum(n_vowels).cast("long").alias("total_vowels"),
    )


VOCAB_TOP_K = 20


@register(
    "text_vocab_encode",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    flat AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    counts AS (SELECT term, count(*) AS c FROM flat GROUP BY term),
    vocab AS (
      SELECT term, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS id
      FROM counts ORDER BY c DESC, term LIMIT {VOCAB_TOP_K}),
    pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM tok),
    pos2 AS (SELECT doc_id, i, w[i] AS term FROM pos),
    enc AS (SELECT p.doc_id, p.i, COALESCE(v.id, 0) AS id
            FROM pos2 p LEFT JOIN vocab v USING (term))
    SELECT doc_id,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY i) AS ids
    FROM enc GROUP BY doc_id
    """,
    tags=("text", "vocabulary", "encode"),
    eager=True,
)
def text_vocab_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenize-to-ids: build a frequency-ranked vocabulary (top
    {VOCAB_TOP_K}, deterministic tie-break), broadcast it, and encode
    every document as an id sequence (0 = OOV) — the corpus→training-
    tensors encoding step. The vocab is a broadcast map lookup inside a
    transform(); documents never shuffle."""
    docs = load_table(spark, sf, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    counts = tok.groupBy("term").agg(F.count("*").alias("c"))
    vocab_rows = counts.orderBy(F.desc("c"), "term").limit(VOCAB_TOP_K).collect()
    mapping = {r["term"]: i + 1 for i, r in enumerate(vocab_rows)}  # tiny: broadcast as literal map
    map_expr = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    ids = F.transform(
        tokens(F.col("text")),
        lambda w: F.coalesce(F.element_at(map_expr, w), F.lit(0)).cast("string"),
    )
    return docs.select("doc_id", F.array_join(ids, ",").alias("ids"))


@register(
    "text_redact_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             '[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}', '<PHONE>', 'g') AS redacted,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
    FROM documents
    """,
    tags=("text", "redaction", "pii"),
)
def text_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing: pattern-based redaction (emails, phone shapes) +
    a digit-density signal — standard pre-training hygiene, pure
    regexp_replace (JVM-side, one scan pass). The word-soup corpus
    contains no PII, so this exercises the mechanism; patterns are the
    operator's parameter surface."""
    docs = load_table(spark, sf, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", "[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>"),
        "[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}",
        "<PHONE>",
    )
    n_digits = F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    return docs.select("doc_id", redacted.alias("redacted"), n_digits.alias("n_digits"))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {md5_long_sql("text")} AS content_hash,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              w -> {md5_long_sql("w")} % {FP_TOKEN_MOD})),
             (acc, x) -> (acc * 31 + x) % {FP_PRIME}) AS rolling_hash
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprinting: a whole-content 56-bit digest plus an
    order-sensitive polynomial rolling hash over token hashes (left
    fold — reproducible in any engine). Both are single-pass
    expressions."""
    docs = load_table(spark, sf, "documents")
    tok_hashes = F.transform(tokens(F.col("text")), lambda w: md5_long(w) % FP_TOKEN_MOD)
    rolling = F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FP_PRIME,
    )
    return docs.select(
        "doc_id",
        md5_long(F.col("text")).alias("content_hash"),
        rolling.alias("rolling_hash"),
    )


BIGRAM_TOP_K = 10


@register(
    "text_bigram_top",
    oracle=f"""
    WITH tok AS (
      SELECT lang, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
      SELECT lang, w[i] || ' ' || w[i+1] AS bigram
      FROM (SELECT lang, w, UNNEST(generate_series(1, len(w) - 1)) AS i FROM tok)),
    c AS (SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
    r AS (SELECT lang, bigram, n,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
          FROM c)
    SELECT lang, bigram, n, rn FROM r WHERE rn <= {BIGRAM_TOP_K}
    """,
    tags=("text", "ngram", "lm"),
)
def text_bigram_top(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{BIGRAM_TOP_K} bigrams per language with a deterministic
    (count DESC, bigram) tiebreak — the n-gram LM count table in
    miniature. Scale shape: the bigram explode is map-side; counts
    partial-aggregate to (lang, bigram) before one shuffle; the ranking
    window runs over per-lang count frames (vocabulary-sized, and
    WindowGroupLimit prunes to top-k per partition map-side)."""
    docs = load_table(spark, sf, "documents")
    w = tokens(F.col("text"))
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    bg = (
        docs.select("lang", w.alias("w"))
        .where(F.size("w") >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
    )
    c = bg.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    )
    return c.select("lang", "bigram", "n", rn.alias("rn")).where(
        F.col("rn") <= BIGRAM_TOP_K
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 100


@register(
    "text_bigram_pmi",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
    docs2 AS (
      SELECT string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM (SELECT w, UNNEST(generate_series(1, len(w) - 1)) AS i FROM docs2)),
    bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
    b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg FROM bg),
    j AS (
      SELECT bc.w1, bc.w2, bc.c_ab, u1.c AS c_a, u2.c AS c_b,
             ln(bc.c_ab) + 2 * ln(n.n_tok) - ln(b.n_bg) - ln(u1.c) - ln(u2.c) AS pmi
      FROM bc
      JOIN uni u1 ON u1.w = bc.w1
      JOIN uni u2 ON u2.w = bc.w2
      CROSS JOIN n CROSS JOIN b
      WHERE bc.c_ab >= {PMI_MIN_COUNT})
    SELECT w1 || ' ' || w2 AS bigram, c_ab, c_a, c_b, pmi
    FROM j ORDER BY c_ab DESC, w1, w2 LIMIT {PMI_TOP_K}
    """,
    tags=("text", "ngram", "collocation", "pmi"),
)
def text_bigram_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Pointwise mutual information collocations: bigrams whose joint
    frequency exceeds what their unigram frequencies predict —
    PMI = ln P(ab) − ln P(a) − ln P(b) — the classic collocation /
    multiword-expression extractor (Church & Hanks 1990), and the
    signal behind merge-style tokenizer vocab induction. The top-k cut
    orders by the INTEGER count with a lexicographic tiebreak so the
    limit boundary can never flip on float noise; pmi itself is
    emitted unrounded (sum-of-logs form — overflow-safe at any corpus
    size, and the driver hash's 1e-9 rounding absorbs last-ulp libm
    differences between engines).

    Scale shape: one token explode feeding both count tables with
    map-side partials; the two unigram joins are plain equi-joins AQE
    can broadcast while the vocabulary fits and shuffle when it
    doesn't (the text_perplexity rule); both scalar totals ride one
    explode-free scan (sums of size(w)) and broadcast as a single
    1-row frame. Top-k is TakeOrderedAndProject, never a full sort."""
    docs = load_table(spark, sf, "documents")
    w = tokens(F.col("text"))
    tok = docs.select(F.explode(w).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("c"))
    pairs = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
    )
    bg = (
        docs.select(w.alias("w"))
        .where(F.size("w") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_ab")).where(
        F.col("c_ab") >= PMI_MIN_COUNT
    )
    # both corpus totals from ONE explode-free scan (r14): n_tok is the
    # exploded-token row count = Σ size(w) by construction of explode,
    # and n_bg is the bigram row count = Σ max(size(w) − 1, 0) — the
    # transform emits size−1 pairs for size ≥ 2 docs and the filter
    # drops the rest. Both sums floor at 0 via GREATEST because
    # size(NULL) is -1 under this session's ansi=false (review r14) —
    # explode of a NULL array contributes 0 rows, so a NULL-text doc
    # must contribute 0 to both totals, not -1. Before, each scalar
    # re-ran a full corpus explode + two-stage aggregate solely to
    # feed a 1-row broadcast.
    scalars = docs.agg(
        F.sum(F.greatest(F.size(w), F.lit(0))).cast("long").alias("n_tok"),
        F.sum(F.greatest(F.size(w) - F.lit(1), F.lit(0)))
        .cast("long")
        .alias("n_bg"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    j = bc.join(u1, "w1").join(u2, "w2").crossJoin(F.broadcast(scalars))
    pmi = (
        F.log("c_ab")
        + 2 * F.log("n_tok")
        - F.log("n_bg")
        - F.log("c_a")
        - F.log("c_b")
    )
    return (
        j.select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_ab",
            "c_a",
            "c_b",
            pmi.alias("pmi"),
            "w1",
            "w2",
        )
        .orderBy(F.col("c_ab").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
        .drop("w1", "w2")
    )


NOVELTY_N = 5  # word n-gram size for first-occurrence novelty


def _novelty_gram_set(docs):
    """(doc_id, gram): distinct word {NOVELTY_N}-grams per document,
    posexplode+lead construction (HOF variant measured 4.7x slower)."""
    tok = docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "w"))
    win = Window.partitionBy("doc_id").orderBy("i")
    parts = [F.col("w")] + [F.lead("w", k).over(win) for k in range(1, NOVELTY_N)]
    tail = F.lead("w", NOVELTY_N - 1).over(win)
    return (
        tok.select("doc_id", F.concat_ws(" ", *parts).alias("gram"), tail.alias("_t"))
        .where(F.col("_t").isNotNull())
        .drop("_t")
        .distinct()
    )




@register(
    "text_novelty_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= {NOVELTY_N}),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+{NOVELTY_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, w,
                   UNNEST(generate_series(1, len(w) - {NOVELTY_N - 1})) AS i
            FROM tok)),
    f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams
    FROM g JOIN f ON f.gram = g.gram
    GROUP BY 1
    """,
    tags=("text", "ngram", "curation", "novelty"),
)
def text_novelty_score(spark: SparkSession, sf: str) -> DataFrame:
    """First-occurrence novelty per document: of a doc's DISTINCT word
    {NOVELTY_N}-grams, how many appear in NO earlier document (doc_id
    order = ingest order)? The marginal-new-content measure a curation
    pipeline uses to rank sources/dumps for inclusion — a corpus-level
    complement to text_repetition (intra-doc) and dedup_containment
    (pairwise). Counts stay integers (house rule); novelty ratio is
    novel/total downstream. Docs shorter than {NOVELTY_N} tokens have
    no grams and emit no row (both engines).

    Scale shape: grams are built with the posexplode+lead construction
    (the dedup.shingle_set idiom — the transform/sequence/slice HOF
    evaluates interpreted and measured 4.7× slower end-to-end at
    sf0.1: 7.4s vs 1.5s); first-occurrence is MIN(doc_id) OVER the
    gram partition — ONE gram-keyed shuffle total (r12 rewrite: the
    former agg-on-gram + join-back-on-gram shape re-executed the
    whole gram-construction subtree for both branches — no exchange
    reuse across the agg/join shapes — and measured 3.4× slower,
    1.13 s vs 0.33 s at sf0.1); the final per-doc rollup is one
    doc_id shuffle. Gram keys only ever shuffle, nothing
    vocabulary-sized broadcasts."""
    from pyspark.sql import Window

    g = _novelty_gram_set(load_table(spark, sf, "documents"))
    first = F.min("doc_id").over(Window.partitionBy("gram"))
    return (
        g.select("doc_id", first.alias("first_doc"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel_grams"),
        )
    )


NOVELTY_BATCH_FRACTION = 0.2  # top 20% of the doc_id space = the batch


@register(
    "text_novelty_incremental",
    oracle=f"""
    WITH mx AS (SELECT CAST(ceil({1.0 - NOVELTY_BATCH_FRACTION!r} * (MAX(doc_id) + 1))
                       AS BIGINT) AS c FROM documents),
    tok AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= {NOVELTY_N}),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+{NOVELTY_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, w,
                   UNNEST(generate_series(1, len(w) - {NOVELTY_N - 1})) AS i
            FROM tok)),
    hist AS (SELECT DISTINCT gram FROM g, mx WHERE doc_id < c),
    b AS (SELECT g.doc_id, g.gram FROM g, mx WHERE g.doc_id >= c)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(SUM(CASE WHEN h.gram IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams
    FROM b LEFT JOIN hist h ON h.gram = b.gram
    GROUP BY 1
    """,
    tags=("text", "ngram", "curation", "novelty", "incremental"),
    eager=True,
)
def text_novelty_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-incremental novelty — the production shape of
    text_novelty_score: the incoming batch (top 20% of the doc_id
    space, the dedup_incremental convention) is
    scored against the HISTORICAL gram set only (in-batch novelty is
    batch-local and deliberately not counted — a streaming batch
    arrives as one unit). A pipeline runs this per ingest batch instead
    of recomputing corpus-wide first-occurrence.

    Scale shape: "gram unseen in history" = MIN(doc_id) OVER the gram
    partition lands at-or-past the cutoff — ONE gram-keyed shuffle of
    the gram set (r12 rewrite, same reasoning as text_novelty_score:
    the former distinct-history + left-join shape re-executed the
    gram-construction subtree for both branches). At 100 TB a real
    ingest keeps the historical gram vocabulary as a STORED table and
    left-joins the batch against it (the join shape this replaced is
    exactly that production plan — the rewrite exploits that here
    history+batch come from one scan); the id cutoff is one scalar
    aggregate collected to the driver — bounded, not a data
    collect."""
    import math

    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    cutoff = int(math.ceil((1.0 - NOVELTY_BATCH_FRACTION) * (mx + 1)))
    g = _novelty_gram_set(docs)
    first = F.min("doc_id").over(Window.partitionBy("gram"))
    return (
        g.select("doc_id", first.alias("first_doc"))
        .where(F.col("doc_id") >= cutoff)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            F.sum(F.when(F.col("first_doc") >= cutoff, 1).otherwise(0)).alias(
                "novel_grams"
            ),
        )
    )


@register(
    "text_crossdup_mass",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= {NOVELTY_N}),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+{NOVELTY_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, w,
                   UNNEST(generate_series(1, len(w) - {NOVELTY_N - 1})) AS i
            FROM tok)),
    df AS (SELECT gram, COUNT(*) AS ddf FROM g GROUP BY 1)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(SUM(CASE WHEN df.ddf >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS shared_grams
    FROM g JOIN df ON df.gram = g.gram
    GROUP BY 1
    """,
    tags=("text", "ngram", "dedup", "curation"),
)
def text_crossdup_mass(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplication mass: of a doc's DISTINCT word
    {NOVELTY_N}-grams, how many occur in at least one OTHER document?
    The exact-substring dedup signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better") at gram granularity —
    order-independent, unlike text_novelty_score's first-occurrence
    credit: a doc can be 100% novel (first in) yet 100% shared (copied
    later). Since per-doc grams are distinct, a gram's row count IS its
    document frequency.

    Scale shape: identical key discipline to text_novelty_score —
    document frequency is COUNT(*) OVER the gram partition (per-doc
    grams are distinct, so the partition row count IS the df), ONE
    gram-keyed shuffle total (r12 rewrite: the former agg-on-gram +
    credit-join shape re-executed the gram-construction subtree for
    both branches), then one doc_id rollup; no vocabulary-sized
    broadcast anywhere."""
    from pyspark.sql import Window

    g = _novelty_gram_set(load_table(spark, sf, "documents"))
    ddf = F.count("*").over(Window.partitionBy("gram"))
    return (
        g.select("doc_id", ddf.alias("ddf"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            F.sum(F.when(F.col("ddf") >= 2, 1).otherwise(0)).alias("shared_grams"),
        )
    )
