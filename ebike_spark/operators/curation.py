"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, repetition scoring, sequence packing, stratified
sampling, and embedding quantization audit.

These extend the reference's query surface the same way the dedup/text
families do (the reference has no corpus tooling at all — SURVEY §2.B
stops at scalar SQL functions); each is a first-class registered query
with a DuckDB oracle, built from Catalyst expressions / linear
aggregations so the plan scales: no all-pairs joins, no driver
collects, no Python in any hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.functions.textfns import (
    MD5_HEX_DIGITS,
    md5_long,
    md5_long_sql,
    tokens,
)
from ebike_spark.operators.text import STOPWORDS
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

# ------------------------------------------------------------ shared

DECON_N = 5  # n-gram width for decontamination. Production pipelines
#              use 8-13 over natural text; the synthetic corpus draws
#              from a ~31-word vocabulary, where ≥6-grams shared with
#              the eval split vanish entirely and 4-grams are collision
#              soup — 5 is the width at which hits are true overlap.
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 marks the held-out eval set

PACK_CTX = 512  # context-window token budget for sequence packing

# per-language deterministic sampling rates (percent kept)
STRATA_RATES = {"en": 50, "fr": 30, "de": 30, "es": 20, "zh": 20}
STRATA_DEFAULT = 10


def _ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g): word n-grams per document, duplicates preserved.
    posexplode + lead windows (codegen'd) rather than higher-order
    array expressions (interpreted, measured 3× slower — see
    dedup.shingle_set). One shuffle on doc_id."""
    tok = docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "w"))
    win = Window.partitionBy("doc_id").orderBy("i")
    parts = [F.col("w")] + [F.lead("w", k).over(win) for k in range(1, n)]
    tail = F.lead("w", n - 1).over(win)
    return (
        tok.select("doc_id", F.concat_ws(" ", *parts).alias("g"), tail.alias("_t"))
        .where(F.col("_t").isNotNull())
        .drop("_t")
    )


def _ngram_sql(n: int, src: str = "documents") -> str:
    """DuckDB twin of :func:`_ngrams` (multiset n-grams)."""
    concat = "||' '||".join(f"w[i+{k}]" if k else "w[i]" for k in range(n))
    return f"""
    SELECT doc_id, {concat} AS g
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-{n - 1})) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src})
          WHERE len(w) >= {n})
    """


# ---------------------------------------------------- decontamination


@register(
    "text_decontaminate",
    oracle=f"""
    WITH ng AS ({_ngram_sql(DECON_N)}),
    eval_g AS (SELECT DISTINCT g FROM ng WHERE doc_id % {EVAL_MOD} = 0),
    train_g AS (SELECT DISTINCT doc_id, g FROM ng WHERE doc_id % {EVAL_MOD} <> 0)
    SELECT t.doc_id, COUNT(*) AS n_hits
    FROM train_g t JOIN eval_g e USING (g)
    GROUP BY t.doc_id
    """,
    tags=("curation", "decontamination"),
)
def text_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    {DECON_N}-gram with the held-out eval split (doc_id % {EVAL_MOD}
    == 0), reporting the count of distinct overlapping n-grams.

    100 TB shape: the eval split is fixed-size by construction, so its
    n-gram set is BROADCAST — the training corpus streams through a
    broadcast SEMI join at scan speed and only (doc_id, hit) rows
    reach the final aggregation. No shuffle touches full text. r14
    (guide §2.4): the eval branch now carries ZERO exchanges — its
    grams are built per-row with the array HOF (interpreted, but over
    ~1 % of the corpus and off the hot path, where _ngrams' codegen'd
    lead-window would pay a doc_id exchange just to build grams we
    immediately strip doc_id from), and the LEFT SEMI join tolerates
    duplicate build rows, so the former distinct's gram-keyed exchange
    disappears too. The train side keeps the codegen'd window path;
    its distinct and the final per-doc count both ride the window's
    one doc_id exchange."""
    from ebike_spark.functions.textfns import shingles

    docs = load_table(spark, sf, "documents")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    # split BEFORE n-gram extraction: the eval predicate pushes into the
    # scan, so the (tiny) eval pass shingles ~1% of the corpus instead
    # of filtering after a full-corpus explode
    # array_distinct BEFORE the explode: LEFT SEMI only needs key
    # existence, and within-document repeated grams (the dominant
    # duplication on boilerplate text) would otherwise multiply the
    # broadcast payload for zero benefit (review r14)
    eval_g = (
        docs.where(is_eval)
        .select(
            F.explode(
                F.array_distinct(shingles(tokens(F.col("text")), DECON_N))
            ).alias("g")
        )
    )
    train_g = _ngrams(docs.where(~is_eval), DECON_N).select("doc_id", "g").distinct()
    return (
        train_g.join(F.broadcast(eval_g), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


# Deterministic cross-engine Bloom filter for decontamination at scale:
# m bits, k md5-derived hash positions per gram — both engines compute
# the IDENTICAL filter (md5_long / md5_long_sql parity), so even the
# false positives hash-match and the oracle is FULL, not verdict-only.
BLOOM_M = 16384  # bits
BLOOM_K = 3  # hash functions (seeds 1..K)


def _bloom_pos(g, seed: int):
    from ebike_spark.functions.textfns import md5_long

    return md5_long(F.concat(F.lit(f"{seed}:"), g)) % BLOOM_M


def _bloom_oracle() -> str:
    from ebike_spark.functions.textfns import md5_long_sql

    pos = md5_long_sql("CAST(s AS VARCHAR) || ':' || g")
    seeds = ", ".join(str(s) for s in range(1, BLOOM_K + 1))
    return f"""
    WITH ng AS ({_ngram_sql(DECON_N)}),
    eval_g AS (SELECT DISTINCT g FROM ng WHERE doc_id % {EVAL_MOD} = 0),
    train_g AS (SELECT DISTINCT doc_id, g FROM ng WHERE doc_id % {EVAL_MOD} <> 0),
    seeds AS (SELECT UNNEST([{seeds}]) AS s),
    eval_pos AS (SELECT DISTINCT {pos} % {BLOOM_M} AS p FROM eval_g, seeds),
    tp AS (SELECT doc_id, g, {pos} % {BLOOM_M} AS p FROM train_g, seeds),
    flag AS (SELECT doc_id, g FROM tp JOIN eval_pos USING (p)
             GROUP BY doc_id, g HAVING COUNT(*) = {BLOOM_K}),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM train_g GROUP BY 1),
    bf AS (SELECT doc_id, COUNT(*) AS n_flag FROM flag GROUP BY 1),
    ex AS (SELECT t.doc_id, COUNT(*) AS n_ex FROM train_g t
           JOIN eval_g e USING (g) GROUP BY 1)
    SELECT p.doc_id, CAST(p.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(bf.n_flag, 0) AS BIGINT) AS n_bloom_flagged,
           CAST(COALESCE(ex.n_ex, 0) AS BIGINT) AS n_exact_hits
    FROM per_doc p LEFT JOIN bf USING (doc_id) LEFT JOIN ex USING (doc_id)
    """


@register(
    "corpus_bloom_decontaminate",
    oracle=_bloom_oracle(),
    tags=("curation", "decontamination", "bloom", "sketch"),
)
def corpus_bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB shape of
    text_decontaminate: instead of broadcasting the eval split's exact
    n-gram SET (memory ∝ eval grams × bytes/gram), broadcast its
    {BLOOM_M}-bit Bloom filter ({BLOOM_K} md5-seeded positions per
    gram) and flag any training gram whose every position is set.
    Guaranteed no false negatives; false positives are the price, and
    because both engines derive positions from the SAME md5 hash the
    filter — including its false positives — is bit-identical, so this
    query carries a FULL value oracle (n_grams / n_bloom_flagged /
    n_exact_hits per training doc; flagged ≥ exact row-wise is the
    no-false-negative audit, asserted in tests).

    Scale shape: the eval pass shingles ~1% of the corpus (predicate
    pushed to the scan) and reduces to ≤{BLOOM_M} distinct positions —
    a broadcast BOUNDED BY THE FILTER SIZE no matter how large the
    eval set grows (the exact-set broadcast of text_decontaminate has
    no such bound). Training grams explode to {BLOOM_K} position rows,
    stream through the broadcast join at scan speed, and a gram is
    flagged when all {BLOOM_K} rows survive. The exact-hit audit
    column reuses the exact-set join at test scale; production drops
    it."""
    docs = load_table(spark, sf, "documents")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_g = _ngrams(docs.where(is_eval), DECON_N).select("g").distinct()
    train_g = (
        _ngrams(docs.where(~is_eval), DECON_N).select("doc_id", "g").distinct()
    )
    pos_arr = F.array(*[_bloom_pos(F.col("g"), s) for s in range(1, BLOOM_K + 1)])
    eval_pos = (
        eval_g.select(F.explode(pos_arr).alias("p")).distinct()
    )
    tp = train_g.select("doc_id", "g", F.explode(pos_arr).alias("p"))
    flag = (
        tp.join(F.broadcast(eval_pos), "p")
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") == BLOOM_K)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_flag"))
    )
    per_doc = train_g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    ex = (
        train_g.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_ex"))
    )
    return (
        per_doc.join(flag, "doc_id", "left")
        .join(ex, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_flag", F.lit(0)).cast("long").alias("n_bloom_flagged"),
            F.coalesce("n_ex", F.lit(0)).cast("long").alias("n_exact_hits"),
        )
    )


# ------------------------------------------------- repetition scoring


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
    per_tok AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tt AS (SELECT doc_id, SUM(c) AS n_tok, MAX(c) AS top_c FROM per_tok GROUP BY 1),
    ng AS (SELECT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS g
           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
                 FROM toks WHERE len(w) >= 3)),
    ngs AS (SELECT doc_id, COUNT(*) AS n_g, COUNT(DISTINCT g) AS n_dg FROM ng GROUP BY 1)
    SELECT tt.doc_id,
           ROUND(1.0 - ngs.n_dg * 1.0 / ngs.n_g, 4) AS rep3,
           ROUND(tt.top_c * 1.0 / tt.n_tok, 4) AS top_share
    FROM tt JOIN ngs ON tt.doc_id = ngs.doc_id
    """,
    tags=("curation", "quality", "repetition"),
)
def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition/boilerplate scoring (the C4/RefinedWeb-style signal):
    duplicate word-3-gram fraction (1 − distinct/total) and top-token
    share per document. ONE branch, ONE doc_id-keyed exchange of the
    positioned token stream, NO join (r14, guide §2.2/§2.4): the lead
    window builds each position's 3-gram (NULL past the end), a
    second window over the same exchange attaches each token's
    per-(doc, token) count to its rows, and a single per-doc
    aggregate reads all four signals off that frame — row count =
    n_tok, max of the attached counts = top_c, count/count_distinct
    of the non-NULL grams = the gram totals (both skip NULLs). Docs
    shorter than 3 tokens have zero grams and are dropped by the
    n_g > 0 filter — exactly the rows the former tt⋈ngs inner join
    dropped. The former shape scanned documents twice and paid three
    exchanges plus a join; per-doc window state stays bounded by
    document length; nothing quadratic, nothing collected."""
    docs = load_table(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "t")
    )
    win = Window.partitionBy("doc_id").orderBy("i")
    g = F.when(
        F.lead("t", 2).over(win).isNotNull(),
        F.concat_ws(
            " ", "t", F.lead("t", 1).over(win), F.lead("t", 2).over(win)
        ),
    )
    scored = tok.select("doc_id", "t", g.alias("g")).withColumn(
        "c", F.count("*").over(Window.partitionBy("doc_id", "t"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        F.max("c").alias("top_c"),
        F.count("g").alias("n_g"),
        F.count_distinct("g").alias("n_dg"),
    )
    return per_doc.where(F.col("n_g") > 0).select(
        "doc_id",
        F.round(1.0 - F.col("n_dg") * 1.0 / F.col("n_g"), 4).alias("rep3"),
        F.round(F.col("top_c") * 1.0 / F.col("n_tok"), 4).alias("top_share"),
    )


# --------------------------------------------------- sequence packing


@register(
    "corpus_pack_sequences",
    oracle=f"""
    SELECT doc_id, lang,
           CAST((SUM(n_tok) OVER w - n_tok) // {PACK_CTX} AS BIGINT) AS seq_id,
           CAST((SUM(n_tok) OVER w - n_tok) % {PACK_CTX} AS BIGINT) AS tok_offset
    FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok FROM documents)
    WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    """,
    tags=("curation", "packing"),
)
def corpus_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing manifest: documents are laid
    end-to-end per language stream in doc_id order, and each doc gets
    the {PACK_CTX}-token context window (seq_id) and offset where its
    first token lands — the assignment step of training-data packing,
    without materializing token streams.

    Scale shape: one running-sum window per stream = one shuffle on the
    partition key and a sequential scan per stream. Packing is
    inherently order-defined within a stream, so at 100 TB the stream
    key is (lang, shard) with shards pre-assigned by deterministic
    hash — same plan, bounded partition size; there is no cross-stream
    dependency to shuffle."""
    docs = load_table(spark, sf, "documents")
    tc = docs.select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tok"))
    w = Window.partitionBy("lang").orderBy("doc_id")
    start = F.sum("n_tok").over(w) - F.col("n_tok")
    return tc.select(
        "doc_id",
        "lang",
        start.cast("long").alias("_s"),
    ).select(
        "doc_id",
        "lang",
        F.expr(f"_s div {PACK_CTX}").alias("seq_id"),
        (F.col("_s") % PACK_CTX).alias("tok_offset"),
    )


# ------------------------------------------------- stratified sampling


def _rate_case_sql() -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(STRATA_RATES.items()))
    return f"CASE lang {whens} ELSE {STRATA_DEFAULT} END"


def _rate_col():
    c = None
    for k, v in sorted(STRATA_RATES.items()):
        c = F.when(F.col("lang") == k, v) if c is None else c.when(F.col("lang") == k, v)
    return c.otherwise(STRATA_DEFAULT)


@register(
    "sample_stratified",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents
    WHERE {md5_long_sql("text")} % 100 < {_rate_case_sql()}
    GROUP BY lang
    """,
    tags=("curation", "sampling"),
)
def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified deterministic sampling: each language stratum keeps
    its own content-hash bucket rate ({STRATA_RATES}, default
    {STRATA_DEFAULT}%). Like sample_deterministic, the predicate is a
    pure expression — reproducible across engines/runs/partitionings,
    and it runs at scan speed with no shuffle before the audit
    aggregation."""
    docs = load_table(spark, sf, "documents")
    keep = md5_long(F.col("text")) % 100 < _rate_col()
    return docs.where(keep).groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# -------------------------------------------- embedding quantization


@register(
    "embed_quantize_int8",
    oracle="""
    SELECT vec_id,
           ROUND(sc, 6) AS scale,
           ROUND(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE)/sc + 0.5) * sc))), 6) AS max_err
    FROM (SELECT vec_id, embedding,
                 CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)
                 / 127.0 AS sc
          FROM embeddings)
    WHERE sc > 0
    """,
    tags=("curation", "embedding", "quantization"),
)
def embed_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector max-abs scale
    (maxabs/127), round-to-nearest code floor(x/scale + 0.5), and the
    max reconstruction error |x − code·scale| — the storage-shrink
    audit run before shipping quantized embeddings (4× smaller than
    float32). floor(x/s + 0.5) rather than round(): both engines share
    IEEE semantics for /, +, floor, so results are bit-identical
    cross-engine, which round()'s differing tie policies are not.

    One scan pass of pure per-row expressions (the array lambdas are
    interpreted, but there are 64 elements/row and no shuffle at all —
    the plan is a single projection over the parquet scan at any
    scale). Zero vectors (scale 0) are excluded on both sides."""
    e = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scaled = e.select(
        "vec_id",
        "v",
        (F.expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))") / 127.0).alias("sc"),
    ).where(F.col("sc") > 0)
    err = F.expr("aggregate(transform(v, x -> abs(x - floor(x/sc + 0.5) * sc)), CAST(0 AS DOUBLE), (a, x) -> greatest(a, x))")
    return scaled.select(
        "vec_id",
        F.round(F.col("sc"), 6).alias("scale"),
        F.round(err, 6).alias("max_err"),
    )


# ------------------------------------------------ LM perplexity score


@register(
    "text_perplexity",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT SUM(c) AS n FROM freq)
    SELECT doc_id, ROUND(AVG(-ln(freq.c * 1.0 / tot.n)), 4) AS nll
    FROM tok JOIN freq USING (t) CROSS JOIN tot
    GROUP BY doc_id
    """,
    tags=("curation", "quality", "perplexity"),
    eager=True,
)
def text_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram language-model scoring: mean negative log-likelihood per
    document under the corpus's own unigram distribution — the
    perplexity-filter signal (documents scoring far above the corpus
    mean are noise; far below are boilerplate). Every token is in-vocab
    by construction so there is no smoothing term to diverge on.

    Scale shape: the unigram table grows with the corpus vocabulary, so
    the scoring join carries NO forced broadcast hint — AQE broadcasts
    it while it fits and falls back to a shuffled hash join when the
    vocabulary outgrows executor memory (the same fix
    text_tfidf_top_terms got; a forced hint is an OOM at 100 TB).
    One explode pass + one per-doc aggregation, both with map-side
    partial combine. Swapping the unigram table for externally-trained
    n-gram logprobs is a join-table change, not a plan change."""
    docs = load_table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c")).collect()[0][0]  # one scalar
    nll = -F.log(F.col("c") * 1.0 / F.lit(float(total)))
    return (
        tok.join(freq, "t")
        .groupBy("doc_id")
        .agg(F.round(F.avg(nll), 4).alias("nll"))
    )


# ------------------------------------------------- corpus mix weights

# target language shares for the training mix (sum to 1)
MIX_TARGETS = {"en": 0.40, "fr": 0.15, "de": 0.15, "es": 0.15, "zh": 0.15}


def _mix_target_sql() -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_TARGETS.items()))
    return f"CASE lang {whens} ELSE 0.0 END"


@register(
    "corpus_mix_weights",
    oracle=f"""
    WITH per AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_tokens) AS t FROM per)
    SELECT lang, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / tot.t, 4) AS actual_share,
           ROUND(({_mix_target_sql()}) / (n_tokens * 1.0 / tot.t), 4) AS weight
    FROM per CROSS JOIN tot
    """,
    tags=("curation", "sampling", "mixing"),
    eager=True,
)
def corpus_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mix reweighting: per-language token counts, actual
    corpus share, and the sampling multiplier (target share / actual
    share) that a weighted sampler applies to hit the declared mix
    ({MIX_TARGETS}). The audit every multi-source training run does
    before sampling; one scan + a stratum-count aggregation (5 rows),
    nothing else shuffles."""
    docs = load_table(spark, sf, "documents")
    per = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens")).collect()[0][0]  # one scalar
    target = None
    for k, v in sorted(MIX_TARGETS.items()):
        target = F.when(F.col("lang") == k, v) if target is None else target.when(F.col("lang") == k, v)
    target = target.otherwise(0.0)
    share = F.col("n_tokens") * 1.0 / F.lit(float(total))
    return per.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 4).alias("actual_share"),
        F.round(target / share, 4).alias("weight"),
    )


# -------------------------------------------- duplicated-span scoring

SPAN_N = 5  # span width (words); production substring dedup uses 40-60
#             token windows — the plan is identical, only the constant
SPAN_MIN_DF = 2  # a span is "duplicated" once any OTHER doc contains it


@register(
    "text_dup_spans",
    oracle=f"""
    WITH ng AS ({_ngram_sql(SPAN_N)}),
    dist AS (SELECT DISTINCT doc_id, g FROM ng),
    df AS (SELECT g, COUNT(*) AS df FROM dist GROUP BY 1),
    per AS (SELECT ng.doc_id,
                   COUNT(*) AS n_spans,
                   COUNT(*) FILTER (df.df >= {SPAN_MIN_DF}) AS n_dup
            FROM ng JOIN df USING (g) GROUP BY 1)
    SELECT doc_id, n_spans, n_dup,
           ROUND(n_dup * 1.0 / n_spans, 4) AS dup_frac
    FROM per WHERE n_dup > 0
    """,
    tags=("curation", "dedup", "substring"),
)
def text_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicated-span scoring — the exact-substring-dedup
    signal (Dolma/RefinedWeb style): for every document, how many of its
    word-{SPAN_N}-gram spans also occur in at least {SPAN_MIN_DF - 1}
    other document(s), and what fraction of the document that covers.
    A removal pass drops or trims documents above a dup_frac threshold.

    Scale shape: occurrences collapse to (doc, span, count) FIRST —
    one (doc, span)-keyed aggregate with map-side partials — so the
    span-keyed stage moves distinct-pair rows, not the raw occurrence
    stream; span document-frequency is then COUNT(*) OVER the span
    partition on that collapsed frame (its rows are one-per-document
    by construction), and the per-doc rollup weights each span by its
    occurrence count. ONE span-keyed shuffle total (r12 rewrite: the
    former distinct→agg→join-back shape shuffled the full occurrence
    stream on the span value AND re-executed the n-gram subtree for
    both branches). Nothing pairwise, nothing collected."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    ng = _ngrams(docs, SPAN_N)
    occ = ng.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    df = F.count("*").over(Window.partitionBy("g"))
    return (
        occ.select("doc_id", "c", df.alias("df"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(
                F.when(F.col("df") >= SPAN_MIN_DF, F.col("c")).otherwise(0)
            ).alias("n_dup"),
        )
        .where(F.col("n_dup") > 0)
        .select(
            "doc_id",
            "n_spans",
            "n_dup",
            F.round(F.col("n_dup") * 1.0 / F.col("n_spans"), 4).alias("dup_frac"),
        )
    )


# ------------------------------------------------- per-domain capping

DOMAIN_CAP = 15  # max documents kept per source/domain
_CAP_MOD = 99991  # modular checksum base (avoids BIGINT-vs-HUGEINT sum
#                   divergence and int64 overflow at large SF)


@register(
    "corpus_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {md5_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN doc_id % {_CAP_MOD} ELSE 0 END) AS BIGINT)
             AS kept_checksum
    FROM ranked GROUP BY source
    """,
    tags=("corpus", "curation", "domain-cap"),
)
def corpus_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap (CommonCrawl-style over-represented-host
    control): keep at most {DOMAIN_CAP} documents per source, chosen by
    deterministic hash order (md5 of doc_id) so the survivor set is
    stable across runs and engines — never first-N in file order, which
    would bias toward crawl position.

    Scale shape: one hash-partition shuffle on source, then a window
    rank within each domain. Hot domains (the reason this operator
    exists) make that partition-skewed; the cap itself bounds the
    *output* per domain, and for truly pathological hosts the rank can
    be pre-thinned map-side by filtering on the hash value below
    ~cap/domain_count quantile before the shuffle. The checksum of the
    kept set is modular so it never overflows at any SF."""
    docs = load_table(spark, sf, "documents")
    h = md5_long(F.col("doc_id").cast("string"))
    rn = F.row_number().over(Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc()))
    kept = F.col("rn") <= DOMAIN_CAP
    return (
        docs.select("source", "doc_id").withColumn("rn", rn)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("doc_id") % _CAP_MOD).otherwise(0)).cast("long").alias("kept_checksum"),
        )
    )


# ------------------------------------------- heuristic quality rules

RULE_MIN_TOKENS = 20  # Gopher: drop docs under a token floor
RULE_MAX_MEAN_WLEN = 5.0  # Gopher: drop docs with abnormally long words
RULE_MIN_DISTINCT_RATIO = 0.5  # C4/Gopher: drop low-lexical-diversity docs

# The four hard gates, defined ONCE in pipeline order and PASS polarity
# for BOTH engines — text_heuristic_filter counts their negations and
# corpus_gate_waterfall their first failure, so a threshold or
# tokenization change can never desynchronize the two reports.
_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
GATE_RULES_SQL: tuple[tuple[str, str], ...] = (
    ("min_tokens", f"len(string_split(text, ' ')) >= {RULE_MIN_TOKENS}"),
    (
        "mean_word_len",
        "length(replace(text, ' ', '')) * 1.0"
        f" / len(string_split(text, ' ')) <= {RULE_MAX_MEAN_WLEN}",
    ),
    (
        "distinct_ratio",
        "len(list_distinct(string_split(text, ' '))) * 1.0"
        f" / len(string_split(text, ' ')) >= {RULE_MIN_DISTINCT_RATIO}",
    ),
    (
        "has_stopword",
        f"len(list_filter(string_split(text, ' '), w -> w IN ({_STOP_LIST}))) > 0",
    ),
)

# one flag row per document: p1..p4 = the gates in order, 1 = pass
_GATE_FLAGS_SQL = "SELECT lang, " + ", ".join(
    f"CASE WHEN {sql} THEN 1 ELSE 0 END AS p{i}"
    for i, (_, sql) in enumerate(GATE_RULES_SQL, 1)
) + " FROM documents"


def gate_pass_cols():
    """The same four gates as Catalyst boolean Columns, in
    GATE_RULES_SQL order (pass polarity)."""
    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    return [
        n_tok >= RULE_MIN_TOKENS,
        F.length(F.regexp_replace("text", " ", "")) * F.lit(1.0) / n_tok
        <= RULE_MAX_MEAN_WLEN,
        F.size(F.array_distinct(tok)) * F.lit(1.0) / n_tok
        >= RULE_MIN_DISTINCT_RATIO,
        F.size(F.filter(tok, lambda w: w.isin(*STOPWORDS))) > 0,
    ]


@register(
    "text_heuristic_filter",
    oracle=f"""
    WITH f AS ({_GATE_FLAGS_SQL})
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(1 - p1) AS BIGINT) AS n_short,
           CAST(SUM(1 - p2) AS BIGINT) AS n_longword,
           CAST(SUM(1 - p3) AS BIGINT) AS n_lowdiv,
           CAST(SUM(1 - p4) AS BIGINT) AS n_nostop,
           CAST(SUM(p1 * p2 * p3 * p4) AS BIGINT) AS n_kept
    FROM f GROUP BY lang
    """,
    tags=("text", "curation", "quality-rules"),
)
def text_heuristic_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Rule-based document filter (C4/Gopher-style): hard per-document
    rules — token floor, mean-word-length ceiling, lexical-diversity
    floor, must-contain-a-stopword — with a per-language audit of how
    many documents each rule fires on and how many survive all of them.
    (This complements text_quality, which produces *soft scores*; these
    are the *hard gates* a pipeline applies before scoring.) The rules
    are the shared GATE_RULES_SQL / gate_pass_cols definitions this
    operator counts in FAIL polarity.

    All four rules are pure Catalyst expressions over one scan; the
    groupBy ships 5 aggregate rows per language, not documents. Exact
    across engines: every ratio is an integer/integer double division,
    bit-identical in Spark and DuckDB."""
    docs = load_table(spark, sf, "documents")
    p1, p2, p3, p4 = gate_pass_cols()
    t = docs.select(
        "lang",
        (~p1).cast("long").alias("r_short"),
        (~p2).cast("long").alias("r_longword"),
        (~p3).cast("long").alias("r_lowdiv"),
        (~p4).cast("long").alias("r_nostop"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("r_short").cast("long").alias("n_short"),
        F.sum("r_longword").cast("long").alias("n_longword"),
        F.sum("r_lowdiv").cast("long").alias("n_lowdiv"),
        F.sum("r_nostop").cast("long").alias("n_nostop"),
        F.sum(
            ((F.col("r_short") + F.col("r_longword") + F.col("r_lowdiv") + F.col("r_nostop")) == 0).cast("long")
        ).cast("long").alias("n_kept"),
    )


@register(
    "corpus_gate_waterfall",
    oracle=f"""
    WITH f AS ({_GATE_FLAGS_SQL}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN p1=0 THEN 1 ELSE 0 END) AS BIGINT) AS x1,
             CAST(SUM(CASE WHEN p1=1 AND p2=0 THEN 1 ELSE 0 END) AS BIGINT) AS x2,
             CAST(SUM(CASE WHEN p1=1 AND p2=1 AND p3=0 THEN 1 ELSE 0 END) AS BIGINT) AS x3,
             CAST(SUM(CASE WHEN p1=1 AND p2=1 AND p3=1 AND p4=0 THEN 1 ELSE 0 END) AS BIGINT) AS x4
      FROM f)
    SELECT 1 AS stage, 'min_tokens' AS rule, x1 AS n_removed,
           total - x1 AS n_surviving FROM agg
    UNION ALL SELECT 2, 'mean_word_len', x2, total - x1 - x2 FROM agg
    UNION ALL SELECT 3, 'distinct_ratio', x3, total - x1 - x2 - x3 FROM agg
    UNION ALL SELECT 4, 'has_stopword', x4, total - x1 - x2 - x3 - x4 FROM agg
    """,
    tags=("corpus", "curation", "quality-rules", "waterfall"),
)
def corpus_gate_waterfall(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-gate WATERFALL: the same four hard rules as
    text_heuristic_filter (shared GATE_RULES_SQL / gate_pass_cols
    definitions), applied in pipeline order with first-failing-rule
    attribution — stage k reports how many documents the k-th gate
    removes from what SURVIVED gates 1..k-1, and the running survivor
    count. text_heuristic_filter answers "which rules fire,
    marginally"; this answers the ablation question "which gate
    actually removes how much, in the order we run them" — the report
    that decides gate ordering and which rules are worth their cost
    (every doc is attributed to exactly ONE removing gate, so the
    stages sum to total − survivors exactly).

    Scale shape: one scan, four Catalyst boolean expressions, ONE
    aggregate row of first-fail counters (map-side partials), constant
    4-row stack unpivot — never a per-stage re-scan of the corpus."""
    docs = load_table(spark, sf, "documents")
    p1, p2, p3, p4 = [p.cast("int") for p in gate_pass_cols()]
    f = docs.select(p1.alias("p1"), p2.alias("p2"), p3.alias("p3"), p4.alias("p4"))
    agg = f.agg(
        F.count("*").alias("total"),
        F.sum((F.col("p1") == 0).cast("long")).alias("x1"),
        F.sum(((F.col("p1") == 1) & (F.col("p2") == 0)).cast("long")).alias("x2"),
        F.sum(
            ((F.col("p1") == 1) & (F.col("p2") == 1) & (F.col("p3") == 0)).cast("long")
        ).alias("x3"),
        F.sum(
            (
                (F.col("p1") == 1)
                & (F.col("p2") == 1)
                & (F.col("p3") == 1)
                & (F.col("p4") == 0)
            ).cast("long")
        ).alias("x4"),
    )
    return agg.selectExpr(
        "stack(4,"
        " 1, 'min_tokens', x1, total - x1,"
        " 2, 'mean_word_len', x2, total - x1 - x2,"
        " 3, 'distinct_ratio', x3, total - x1 - x2 - x3,"
        " 4, 'has_stopword', x4, total - x1 - x2 - x3 - x4)"
        " AS (stage, rule, n_removed, n_surviving)"
    )


# ---------------------------------------- temperature-scaled sampling

# Exponent for temperature sampling: stratum probability ∝ share^ALPHA
# (α < 1 upweights small strata) — the multilingual/domain balancing
# rule from the mBERT/XLM-R line of work (exponentially-smoothed
# sampling, e.g. arXiv:1901.07291 §3.1), as opposed to
# corpus_mix_weights' DECLARED target shares.
MIX_ALPHA = 0.3


@register(
    "corpus_temperature_mix",
    oracle=f"""
    WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_docs) AS t, SUM(POWER(n_docs, {MIX_ALPHA})) AS pa FROM per)
    SELECT source, n_docs,
           ROUND(n_docs * 1.0 / tot.t, 4) AS share,
           ROUND(POWER(n_docs, {MIX_ALPHA}) / tot.pa, 4) AS temp_share,
           ROUND((POWER(n_docs, {MIX_ALPHA}) / tot.pa) / (n_docs * 1.0 / tot.t), 4)
             AS boost
    FROM per CROSS JOIN tot
    """,
    tags=("curation", "sampling", "mixing", "temperature"),
)
def corpus_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled sampling mix: per-source document shares
    flattened by share^{MIX_ALPHA} (normalized), plus the per-source
    sampling boost a weighted sampler applies. Unlike
    corpus_mix_weights (declared targets), the targets here are a
    FUNCTION of the observed shares — the standard low-resource
    upweighting rule.

    Plan: one stratum-count aggregation (strata rows, map-side
    partial), then both normalizers as FULL-FRAME WINDOW sums over
    that source-cardinality frame — one single-partition stage on a
    bounded frame instead of a 1-row aggregate staged back through a
    broadcast (r13 job-count audit; the 4-decimal ROUND absorbs any
    summation-order ulp between engines). Nothing scales with corpus
    size except the first scan."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    wfull = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = F.sum("n_docs").over(wfull)
    pa = F.sum(F.pow("n_docs", F.lit(MIX_ALPHA))).over(wfull)
    share = F.col("n_docs") * 1.0 / t
    temp_share = F.pow("n_docs", F.lit(MIX_ALPHA)) / pa
    return per.select(
        "source",
        "n_docs",
        F.round(share, 4).alias("share"),
        F.round(temp_share, 4).alias("temp_share"),
        F.round(temp_share / share, 4).alias("boost"),
    )


@register(
    "corpus_training_manifest",
    oracle=None,  # assigned below — needs the jaccard CTE import
    tags=("curation", "pipeline", "flagship"),
)
def corpus_training_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END training-set manifest: the full curation pipeline as
    ONE declarative plan — (1) C4/Gopher hard quality gates, (2) exact
    dedup keeping the smallest doc_id per content digest, (3) near-dup
    removal dropping every document that is the LARGER side of a
    verified minhash-LSH pair (keep-smallest convention), (4)
    deterministic 98/1/1 split assignment — reported per (source,
    split).

    Composability is the point: every stage is the registered operator
    family's logic (same constants, same hash conventions), fused by
    Catalyst into one plan instead of four materialized passes. Scale
    shape: the gates are scan-speed expressions; exact-dedup is a
    digest-keyed AGGREGATE — min(doc_id) plus min_by for the kept
    row's attributes — so the digest exchange ships (digest, ids,
    source, n_chars) partials, never the document text the former
    window form shuffled whole (r14, guide §2.3: project/aggregate
    before the exchange; the split tag is re-derived from the digest
    group key itself, the same md5 prefix md5_long reads). The
    near-dup drop is a left-anti join against the (tiny)
    verified-pair set; the final groupBy ships (source, split)
    partials.
    """
    from ebike_spark.operators.corpus import SPLIT_TRAIN_LT, SPLIT_VAL
    from ebike_spark.operators.dedup import minhash_verified_pairs

    docs = load_table(spark, sf, "documents")
    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    mean_wlen = F.length(F.regexp_replace("text", " ", "")) * F.lit(1.0) / n_tok
    distinct_ratio = F.size(F.array_distinct(tok)) * F.lit(1.0) / n_tok
    n_stop = F.size(F.filter(tok, lambda w: w.isin(*STOPWORDS)))
    passes = (
        (n_tok >= RULE_MIN_TOKENS)
        & (mean_wlen <= RULE_MAX_MEAN_WLEN)
        & (distinct_ratio >= RULE_MIN_DISTINCT_RATIO)
        & (n_stop > 0)
    )
    quality = docs.where(passes)
    # keep-smallest-doc_id per content digest: min_by carries the kept
    # row's attributes through the SAME aggregate (doc_id is unique, so
    # min_by ties cannot arise); rows with equal md5(text) have equal
    # text, so the kept row's split percentile is a function of the
    # digest itself — md5_long(text) == conv(substr(digest,1,14),16,10)
    exact = quality.groupBy(F.md5("text").alias("__h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("n_chars", "doc_id").alias("n_chars"),
    )
    dup_larger = minhash_verified_pairs(spark, sf).select(F.col("d2").alias("doc_id")).distinct()
    survivors = exact.join(dup_larger, "doc_id", "left_anti")
    pct = (
        F.conv(F.substring("__h", 1, MD5_HEX_DIGITS), 16, 10).cast("long")
        % 100
    )
    split = (
        F.when(pct < SPLIT_TRAIN_LT, "train")
        .when(pct == SPLIT_VAL, "val")
        .otherwise("test")
    )
    return survivors.groupBy("source", split.alias("split")).agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )


def _manifest_oracle() -> str:
    from ebike_spark.operators.corpus import SPLIT_TRAIN_LT, SPLIT_VAL
    from ebike_spark.operators.dedup import _JACCARD_PAIRS_SQL

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    gated AS (
      SELECT doc_id, source, n_chars, text FROM documents
      WHERE len(string_split(text, ' ')) >= {RULE_MIN_TOKENS}
        AND length(replace(text, ' ', '')) * 1.0
              / len(string_split(text, ' ')) <= {RULE_MAX_MEAN_WLEN}
        AND len(list_distinct(string_split(text, ' '))) * 1.0
              / len(string_split(text, ' ')) >= {RULE_MIN_DISTINCT_RATIO}
        AND len(list_filter(string_split(text, ' '), w -> w IN ({stop_list}))) > 0),
    exact AS (
      SELECT * FROM (
        SELECT g.*, MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_id FROM gated g)
      WHERE doc_id = min_id),
    survivors AS (
      SELECT * FROM exact WHERE doc_id NOT IN (SELECT d2 FROM pairs)),
    tagged AS (
      SELECT source, n_chars,
             CASE WHEN {md5_long_sql("text")} % 100 < {SPLIT_TRAIN_LT} THEN 'train'
                  WHEN {md5_long_sql("text")} % 100 = {SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM survivors)
    SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM tagged GROUP BY 1, 2
    """


# late-bind the oracle (the jaccard SQL lives in dedup; importing at
# module top would be circular through plans.registry)
from ebike_spark.plans.registry import REGISTRY as _REG  # noqa: E402

_spec = _REG["corpus_training_manifest"]
_REG["corpus_training_manifest"] = type(_spec)(
    name=_spec.name,
    fn=_spec.fn,
    oracle=_manifest_oracle(),
    tags=_spec.tags,
    doc=_spec.doc,
)
