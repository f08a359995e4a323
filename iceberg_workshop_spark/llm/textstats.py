"""Text analysis operators for LLM training-data pipelines.

Per-document language ID, quality scoring, token counting, and
fingerprinting over the ``documents`` fixture — the filter/score stage
of a data-curation pipeline, all JVM-side (split/explode/regex/agg
built-ins; no Python UDFs in the hot path).

Scale notes: every query here is scan → narrow projection →
(optionally) explode → one grouped agg; explodes multiply rows by the
token count but stay map-side until the single shuffle on the group
key. Lexicons are tiny broadcast joins. Nothing touches the driver.

North-star extension (BASELINE.json); the reference has no text ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import fixture_sql, load

# Per-language marker lexicons (fixture text shares one synthetic
# vocabulary, so these are demonstration lists over it; a production
# deployment swaps in real stopword tables — the broadcast-join +
# argmax plan is unchanged).
LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "row", "key", "value"),
    "de": ("table", "window", "order", "batch"),
    "fr": ("column", "part", "line", "filter"),
    "es": ("query", "merge", "customer", "big"),
    "zh": ("hash", "data", "small", "agg"),
}

STOPWORDS = ("a", "the")

# BPE-ish pre-tokenizer: letter runs, digit runs, or single symbols.
BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _toks(c: Column) -> Column:
    return F.split(F.trim(c), " ")


def _lexicon_rows() -> list[tuple[str, str]]:
    return [(lang, w) for lang, words in LEXICONS.items() for w in words]


def _lexicon_sql_values() -> str:
    return ", ".join(f"('{lang}', '{w}')" for lang, w in _lexicon_rows())


@register(
    "q_llm_text_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    )
    SELECT lang,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT tok) AS vocab,
           ROUND(SUM(length(tok)) * 1.0 / COUNT(*), 4) AS avg_tok_len
    FROM toks
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language: docs, tokens, vocabulary
    size, mean token length (tokenize → explode → grouped agg)."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(_toks(F.col("text"))).alias("tok")
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("vocab"),
            F.round(F.sum(F.length("tok")) / F.count(F.lit(1)), 4).alias(
                "avg_tok_len"
            ),
        )
        .orderBy("lang")
    )


@register(
    "q_llm_lang_id",
    oracle=f"""
    WITH lex(lex_lang, w) AS (VALUES {_lexicon_sql_values()}),
    toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), hits AS (
      SELECT doc_id, lex_lang, COUNT(*) AS n_hits
      FROM toks JOIN lex ON tok = w
      GROUP BY doc_id, lex_lang
    ), ranked AS (
      SELECT doc_id, lex_lang, n_hits,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY n_hits DESC, lex_lang ASC
             ) AS rn
      FROM hits
    )
    SELECT d.doc_id,
           COALESCE(r.lex_lang, 'und') AS pred_lang,
           COALESCE(r.n_hits, 0) AS n_hits
    FROM documents d
    LEFT JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
    ORDER BY d.doc_id
    """,
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-hit language ID: argmax over per-language marker-word
    counts (broadcast lexicon join → grouped count → row_number=1),
    'und' when no marker hits. Deterministic tiebreak on lang."""
    spark_lex = F.broadcast(
        spark.createDataFrame(_lexicon_rows(), ["lex_lang", "w"])
    )
    docs = load(spark, sf_dir, "documents")
    # Pre-filter tokens to lexicon members while still an array — the
    # filter runs in codegen BEFORE the explode, so only marker-word
    # hits are exploded and shuffled (non-marker tokens dominate real
    # corpora). array_intersect would dedup and break n_hits; filter()
    # preserves duplicates.
    lex_words = F.array(*[F.lit(w) for w in sorted({w for _, w in _lexicon_rows()})])
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(_toks(F.col("text")), lambda t: F.array_contains(lex_words, t))
        ).alias("tok"),
    )
    hits = (
        toks.join(spark_lex, toks.tok == spark_lex.w)
        .groupBy("doc_id", "lex_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    rn = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("lex_lang").asc()
    )
    best = hits.withColumn("rn", F.row_number().over(rn)).filter(F.col("rn") == 1)
    return (
        docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lex_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_llm_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split(trim(text), ' ')) AS n_tokens,
             len(list_distinct(string_split(trim(text), ' '))) AS n_distinct,
             len(list_filter(string_split(trim(text), ' '),
                             t -> list_contains({list(STOPWORDS)!r}, t)))
               AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           ROUND(n_distinct * 1.0 / n_tokens, 4) AS ttr,
           ROUND(n_stop * 1.0 / n_tokens, 4) AS stop_ratio,
           ROUND((n_chars - n_tokens + 1) * 1.0 / n_tokens, 4) AS avg_word_len,
           ROUND(0.4 * (n_distinct * 1.0 / n_tokens)
                 + 0.3 * (n_stop * 1.0 / n_tokens)
                 + 0.3 * LEAST(n_tokens / 50.0, 1.0), 4) AS quality
    FROM base
    ORDER BY doc_id
    """,
)
def q_llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document: type-token ratio,
    stopword ratio, length saturation — a fixed linear blend (the
    C4/Gopher-style rule-based filter shape, arithmetic only)."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(_toks(F.col("text"))).alias("n_tokens"),
        F.size(F.array_distinct(_toks(F.col("text")))).alias("n_distinct"),
        F.size(
            F.filter(_toks(F.col("text")), lambda t: F.array_contains(stop_arr, t))
        ).alias("n_stop"),
    )
    ttr = F.col("n_distinct") / F.col("n_tokens")
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(ttr, 4).alias("ttr"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(
            (F.col("n_chars") - F.col("n_tokens") + 1) / F.col("n_tokens"), 4
        ).alias("avg_word_len"),
        F.round(
            0.4 * ttr + 0.3 * stop_ratio + 0.3 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0)),
            4,
        ).alias("quality"),
    ).orderBy("doc_id")


@register(
    "q_llm_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_REGEX}')) AS bpe_tokens,
           ROUND(length(text) * 1.0
                 / len(regexp_extract_all(text, '{BPE_REGEX}')), 4)
             AS chars_per_token
    FROM documents
    ORDER BY doc_id
    """,
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    pre-tokenizer regex (letter runs / digit runs / single symbols) —
    the cost-estimation primitive for training-data budgeting."""
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(_toks(F.col("text"))).alias("ws_tokens"),
            F.size(F.regexp_extract_all("text", F.lit(BPE_REGEX), F.lit(0))).alias(
                "bpe_tokens"
            ),
            F.round(
                F.length("text")
                / F.size(F.regexp_extract_all("text", F.lit(BPE_REGEX), F.lit(0))),
                4,
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_llm_fingerprint",
    oracle=r"""
    WITH both_copies AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, upper(text) || '  ' AS text
      FROM documents
    ), fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
      FROM both_copies
    )
    SELECT fingerprint,
           MIN(doc_id) AS first_doc,
           COUNT(*) AS n_docs
    FROM fp
    GROUP BY fingerprint
    ORDER BY first_doc
    """,
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 over canonicalized text, grouped to
    expose duplicate clusters (the content-addressed identity used for
    cross-crawl dedup). The corpus is unioned with a mangled copy so
    each fingerprint provably collapses both variants."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    fp = docs.unionAll(noisy).select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias(
            "fingerprint"
        ),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("first_doc")
    )


@register(
    "q_llm_tfidf_top_term",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * ln(n.n_docs * 1.0 / df.df) AS tfidf
      FROM tf JOIN df USING (tok), n
    ), ranked AS (
      SELECT doc_id, tok, tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC
             ) AS rn
      FROM scored
    )
    SELECT doc_id, tok AS top_term, ROUND(tfidf, 4) AS tfidf
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
)
def q_llm_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the highest-scoring term per document
    (term frequency × ln(N/document-frequency), deterministic term
    tiebreak). Three aggregations, all on narrow keys; the DF table is
    a broadcast-sized dimension at any corpus size with a bounded
    vocabulary."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar dimension — a literal, not a join
    scored = tf.join(F.broadcast(df), "tok").select(
        "doc_id",
        "tok",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    rn = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), F.round("tfidf", 4).alias("tfidf"))
        .orderBy("doc_id")
    )


@register(
    "q_llm_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), total AS (
      SELECT COUNT(*) AS n FROM toks
    ), tok_lp AS (
      SELECT t.doc_id, t.tok, ln(f.c * 1.0 / total.n) AS lp
      FROM toks t JOIN freq f USING (tok), total
    ), doc_lists AS (
      SELECT doc_id, list(lp ORDER BY tok, lp) AS lps FROM tok_lp GROUP BY doc_id
    )
    SELECT doc_id,
           len(lps) AS n_tokens,
           ROUND(list_reduce(lps, (a, b) -> a + b) / len(lps), 4)
             AS avg_logprob
    FROM doc_lists
    ORDER BY doc_id
    """,
)
def q_llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: mean token log-probability per
    document against the corpus distribution — the cheap perplexity
    proxy used to filter gibberish from training data.

    Float log-probs are summed by a *sorted-order left fold* (collect →
    sort → reduce) in both engines, so the sum is order-deterministic
    and bit-identical — a plain SUM() would flake on accumulation
    order. The fold list is per-doc (bounded by doc length), not
    per-corpus.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = toks.count()
    tok_lp = toks.join(F.broadcast(freq), "tok").select(
        "doc_id", "tok", F.log(F.col("c") / F.lit(float(total))).alias("lp")
    )
    doc_lists = tok_lp.groupBy("doc_id").agg(
        F.expr("transform(sort_array(collect_list(struct(tok, lp))), s -> s.lp)")
        .alias("lps")
    )
    return doc_lists.select(
        "doc_id",
        F.size("lps").alias("n_tokens"),
        F.round(
            F.aggregate("lps", F.lit(0.0), lambda a, b: a + b) / F.size("lps"), 4
        ).alias("avg_logprob"),
    ).orderBy("doc_id")


@register(
    "q_llm_bigram_lm",
    oracle="""
    WITH pairs AS (
      SELECT pair.w1 AS w1, pair.w2 AS w2 FROM (
        SELECT unnest(list_transform(range(1, len(l)),
                                     i -> {'w1': l[i], 'w2': l[i+1]})) AS pair
        FROM (SELECT string_split(trim(text), ' ') AS l FROM documents)
      )
    ),
    bg AS (SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY w1, w2)
    SELECT w1, w2, n,
           round(CAST(n AS DOUBLE) /
                 CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE), 4) AS p
    FROM bg
    ORDER BY n DESC, w1, w2
    LIMIT 30
    """,
)
def q_llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model estimation: adjacent-token pairs per
    document (posexplode + LEAD over token position), conditional
    probability P(w2|w1) = n(w1,w2) / n(w1,·). The pair extraction is
    map-side (explode + window partitioned by doc_id, already
    co-partitioned with the explode); only the |vocab|² bigram count
    table shuffles. Complements q_llm_unigram_logprob with sequence
    context."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.withColumn("w2", F.lead("tok").over(w))
        .filter(F.col("w2").isNotNull())
        .select(F.col("tok").alias("w1"), "w2")
    )
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    wv = Window.partitionBy("w1")
    return (
        bg.withColumn(
            "p",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(wv).cast("double"), 4
            ),
        )
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(30)
    )


CHUNK_TOKENS = 20  # tokens per chunk
CHUNK_STRIDE = 10  # tokens between chunk starts (50% overlap)


@register(
    "q_llm_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks
      FROM documents
    ), starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS s
      FROM t
    ), chunks AS (
      SELECT doc_id,
             CAST(s // {CHUNK_STRIDE} AS INT) AS chunk_idx,
             list_slice(toks, s + 1, s + {CHUNK_TOKENS}) AS chunk
      FROM starts
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS INT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def q_llm_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the RAG-indexing /
    context-window-packing precursor: each document becomes overlapping
    {CHUNK_TOKENS}-token chunks every {CHUNK_STRIDE} tokens, identified
    by (doc_id, chunk_idx) with an md5 over the chunk text.

    Plan: scan → one `transform(sequence(...))` building every chunk
    slice JVM-side → a single posexplode — no shuffle at all until the
    final presentation sort; per-row cost is O(len/stride) slices, and
    at 100 TB the output inherits the scan's partitioning (chunks of a
    document stay in its input partition — exactly what a downstream
    embedding pass wants to batch on)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", _toks(F.col("text")).alias("toks")
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(toks) - 1, {CHUNK_STRIDE}),"
                f" s -> slice(toks, s + 1, {CHUNK_TOKENS}))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("n_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


PACK_BUDGET_TOKENS = 256
PACK_GROUPS = 8

# One SQL text, two engines: runs verbatim under Spark SQL and DuckDB
# ({documents} = the table; {split} differs only in the split function name).
_CHUNK_PACK_SQL = """
WITH t AS (
  SELECT doc_id, {split}(trim(text), ' ') AS toks FROM {documents}
), starts AS (
  {starts_body}
), chunks AS (
  SELECT doc_id, CAST(s / 10 AS INT) AS chunk_idx,
         {slice_expr} AS chunk
  FROM starts
), ch AS (
  SELECT doc_id, chunk_idx,
         CAST({size}(chunk) AS BIGINT) AS n_tok,
         {join_expr} AS ctext
  FROM chunks
), ranked AS (
  SELECT doc_id, chunk_idx, n_tok,
         ROW_NUMBER() OVER (
           PARTITION BY ctext ORDER BY doc_id, chunk_idx
         ) AS rn
  FROM ch
), kept AS (
  SELECT doc_id, chunk_idx, n_tok, doc_id % {groups} AS pack_group
  FROM ranked WHERE rn = 1
), packed AS (
  SELECT pack_group, doc_id, chunk_idx, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (
           PARTITION BY pack_group ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) {idiv} {budget} AS pack_seq
  FROM kept
)
SELECT pack_group,
       CAST(pack_seq AS BIGINT) AS pack_seq,
       COUNT(*) AS n_chunks,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT doc_id) AS n_docs
FROM packed
GROUP BY pack_group, pack_seq
ORDER BY pack_group, pack_seq
"""


def _chunk_pack_sql(spark_side: bool) -> str:
    # max start index: fixture docs are < 4000 tokens; generate_series
    # is bounded and filtered against the real token count.
    return _CHUNK_PACK_SQL.format(
        documents="{documents}" if spark_side else "documents",
        split="split" if spark_side else "string_split",
        size="size" if spark_side else "len",
        starts_body=(
            "SELECT doc_id, toks, s FROM t"
            " LATERAL VIEW explode(sequence(0, 4000, 10)) x AS s"
            " WHERE s <= size(toks) - 1"
            if spark_side
            else "SELECT doc_id, toks, s FROM t,"
            " LATERAL (SELECT unnest(generate_series(0, 4000, 10)) AS s)"
            " WHERE s <= len(toks) - 1"
        ),
        slice_expr=(
            "slice(toks, s + 1, 20)" if spark_side
            else "list_slice(toks, s + 1, s + 20)"
        ),
        join_expr=(
            "array_join(chunk, ' ')" if spark_side
            else "array_to_string(chunk, ' ')"
        ),
        idiv="DIV" if spark_side else "//",
        groups=PACK_GROUPS,
        budget=PACK_BUDGET_TOKENS,
    )


@register("q_llm_chunk_pack_pipeline", oracle=_chunk_pack_sql(False))
def q_llm_chunk_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline over the chunking primitive:
    sliding-window chunks → EXACT chunk-level dedup (near-duplicate
    documents share verbatim chunks; keep the first (doc, idx) of each
    distinct chunk text) → token-budget packing of survivors into
    {PACK_BUDGET_TOKENS}-token shards WITHIN {PACK_GROUPS} hash groups
    — the partitioned form of training-shard packing (a global pack
    order would funnel everything through one partition; per-group
    running sums keep the window parallel, which is the only shape
    that survives 100 TB). One fused plan: the dedup window, the
    packing window and the final rollup all reuse the group
    partitioning. Identical SQL text runs on both engines."""
    return fixture_sql(spark, sf_dir, _chunk_pack_sql(True))


# ------------------------------------------------ perplexity filter

PPL_BUCKETS = 3  # CCNet convention: head / middle / tail


@register(
    "q_llm_perplexity_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), total AS (
      SELECT COUNT(*) AS n FROM toks
    ), tok_lp AS (
      SELECT t.doc_id, t.tok, ln(f.c * 1.0 / total.n) AS lp
      FROM toks t JOIN freq f USING (tok), total
    ), doc_lists AS (
      SELECT doc_id, list(lp ORDER BY tok, lp) AS lps FROM tok_lp GROUP BY doc_id
    ), scored AS (
      SELECT d.doc_id, d.source,
             ROUND(list_reduce(l.lps, (a, b) -> a + b) / len(l.lps), 4)
               AS avg_logprob
      FROM doc_lists l JOIN documents d USING (doc_id)
    ), bucketed AS (
      SELECT source, avg_logprob,
             NTILE(3) OVER (PARTITION BY source
                            ORDER BY avg_logprob DESC, doc_id) AS bucket
      FROM scored
    )
    SELECT source,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(ROUND(SUM(CAST(avg_logprob AS DECIMAL(18,4))) / COUNT(*), 4)
                AS DOUBLE) AS mean_logprob
    FROM bucketed
    GROUP BY source, bucket
    ORDER BY source, bucket
    """,
)
def q_llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus unigram LM (mean token log-probability — the cheap
    perplexity proxy), then split EACH SOURCE into head/middle/tail
    terciles by score. Training pipelines keep head+middle and drop or
    down-weight tail; emitting per-(source, bucket) counts and mean
    scores is the audit table that decision is made from.

    Determinism notes: per-doc log-prob sums use the same sorted-fold
    as q_llm_unigram_logprob (bit-identical across engines); bucket
    means sum DECIMAL(18,4)-cast scores so accumulation order cannot
    flake the float. NTILE orders by (score DESC, doc_id) — unique
    key, both engines agree.

    Scale: the LM table is a map-side-combined groupBy over tokens;
    scoring is one broadcast join; the tercile split is one window
    per source partition — no global sort, no driver state. At 100 TB
    swap the unigram LM for a trained KenLM behind the same
    per-document scoring column; and since NTILE's positional
    semantics put a whole source into one window task, at that scale
    derive the two tercile CUT SCORES from per-(source, score-bucket)
    counts instead and bucket by comparison — same output table, no
    full-source ordering."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = toks.count()
    tok_lp = toks.join(F.broadcast(freq), "tok").select(
        "doc_id", "tok", F.log(F.col("c") / F.lit(float(total))).alias("lp")
    )
    doc_lists = tok_lp.groupBy("doc_id").agg(
        F.expr("transform(sort_array(collect_list(struct(tok, lp))), s -> s.lp)")
        .alias("lps")
    )
    scored = (
        doc_lists.join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.round(
                F.aggregate("lps", F.lit(0.0), lambda a, b: a + b)
                / F.size("lps"),
                4,
            ).alias("avg_logprob"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    bucketed = scored.withColumn("b", F.ntile(PPL_BUCKETS).over(w))
    return (
        bucketed.groupBy(
            "source",
            F.when(F.col("b") == 1, "head")
            .when(F.col("b") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("avg_logprob").cast("decimal(18,4)"))
                / F.count(F.lit(1)),
                4,
            )
            .cast("double")
            .alias("mean_logprob"),
        )
        .orderBy("source", "bucket")
    )


# ------------------------------------------------ vocabulary coverage

VOCAB_KS = (5, 15, 30)  # fixture vocab is 31 tokens; ks must discriminate


@register(
    "q_llm_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), ranked AS (
      SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
      FROM freq
    ), total AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq
    )
    SELECT k,
           CAST((SELECT COUNT(*) FROM ranked WHERE r <= k) AS BIGINT)
             AS vocab_size,
           CAST((SELECT COALESCE(SUM(c), 0) FROM ranked WHERE r <= k)
                AS BIGINT) AS covered,
           (SELECT n FROM total) AS total_tokens,
           ROUND((SELECT COALESCE(SUM(c), 0) FROM ranked WHERE r <= k)
                 * 1.0 / (SELECT n FROM total), 4) AS coverage
    FROM (VALUES (5), (15), (30)) AS ks(k)
    ORDER BY k
    """,
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary sizing: rank corpus tokens by
    frequency and report, for candidate vocab sizes k ∈ VOCAB_KS, how much of the token stream the top-k vocabulary covers
    (1 − coverage = the OOV/byte-fallback rate a tokenizer of that
    size would pay). Deterministic tie-break (count DESC, token) so
    both engines rank identically.

    Scale: one map-side-combined token groupBy, then a TWO-PHASE
    top-K rank — a global unpartitioned row_number over the vocabulary
    serializes one executor at web-corpus vocab sizes (10⁸+ distinct
    tokens), so phase 1 takes each hash-salt partition's local top
    max(k) (partitioned window, fully parallel; every global-top-k row
    is also locally top-k) and phase 2 merges the ≤ SALTS·max(k)
    survivors with ONE bounded hash aggregate (sorted array + slice) —
    no single-partition WindowExec anywhere in the plan."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(_toks(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    kmax = max(VOCAB_KS)
    salts = 32
    local = Window.partitionBy("salt").orderBy(F.col("c").desc(), F.col("tok"))
    survivors = (
        freq.withColumn(
            "salt", F.pmod(F.xxhash64("tok"), F.lit(salts)).cast("int")
        )
        .withColumn("lr", F.row_number().over(local))
        .filter(F.col("lr") <= kmax)
    )
    # Merge phase: the ≤ salts·kmax survivors collapse into one sorted
    # array (negated count → ascending sort = count-desc, tok-asc —
    # the same tie-break both engines rank by).
    top = survivors.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("c")).alias("nc"), "tok"))
        ).alias("top")
    )
    stats = freq.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).first()
    total, vocab_n = int(stats["n"]), int(stats["v"])
    ks = spark.createDataFrame([(k,) for k in VOCAB_KS], "k int")
    return (
        top.crossJoin(F.broadcast(ks))
        .select(
            "k",
            F.least(F.col("k").cast("long"), F.lit(vocab_n)).alias(
                "vocab_size"
            ),
            F.aggregate(
                F.slice("top", F.lit(1), F.col("k")),
                F.lit(0).cast("long"),
                lambda acc, x: acc - x["nc"],
            ).alias("covered"),
        )
        .select(
            "k",
            "vocab_size",
            "covered",
            F.lit(total).alias("total_tokens"),
            F.round(F.col("covered") / F.lit(float(total)), 4).alias("coverage"),
        )
        .orderBy("k")
    )


# ------------------------------------------------ Gopher rule filter

# Thresholds follow Rae et al. 2021 (Gopher, §A1.1) with the word-count
# floor scaled to the fixture's short synthetic documents; every rule
# is integer/ratio arithmetic so the oracle is exact.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORDLEN = 3.0   # mean characters per word
GOPHER_MAX_WORDLEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1   # '#' and '…'-style ellipsis per word
GOPHER_MIN_ALPHA_FRAC = 0.8     # words containing a letter
GOPHER_MIN_STOPWORDS = 2        # distinct stopwords present


@register(
    "q_llm_gopher_rules",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             len(string_split(trim(text), ' ')) AS n_tokens,
             length(text) AS n_chars,
             length(text) - length(replace(text, '#', ''))
               + (length(text) - length(replace(text, '...', ''))) // 3
               AS n_symbols,
             len(list_filter(string_split(trim(text), ' '),
                             t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
             len(list_distinct(list_filter(string_split(trim(text), ' '),
                             t -> list_contains({list(STOPWORDS)!r}, t))))
               AS n_stop_kinds
      FROM documents
    ), rules AS (
      SELECT doc_id, source,
             CASE WHEN n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                  THEN 1 ELSE 0 END AS r_word_count,
             CASE WHEN (n_chars - n_tokens + 1) * 1.0 / n_tokens
                       BETWEEN {GOPHER_MIN_WORDLEN} AND {GOPHER_MAX_WORDLEN}
                  THEN 1 ELSE 0 END AS r_word_len,
             CASE WHEN n_symbols * 1.0 / n_tokens <= {GOPHER_MAX_SYMBOL_RATIO}
                  THEN 1 ELSE 0 END AS r_symbol,
             CASE WHEN n_alpha * 1.0 / n_tokens >= {GOPHER_MIN_ALPHA_FRAC}
                  THEN 1 ELSE 0 END AS r_alpha,
             CASE WHEN n_stop_kinds >= {GOPHER_MIN_STOPWORDS}
                  THEN 1 ELSE 0 END AS r_stop
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r_word_count * r_word_len * r_symbol * r_alpha * r_stop)
                AS BIGINT) AS n_kept,
           CAST(SUM(1 - r_word_count) AS BIGINT) AS drop_word_count,
           CAST(SUM(1 - r_word_len) AS BIGINT) AS drop_word_len,
           CAST(SUM(1 - r_symbol) AS BIGINT) AS drop_symbol,
           CAST(SUM(1 - r_alpha) AS BIGINT) AS drop_alpha,
           CAST(SUM(1 - r_stop) AS BIGINT) AS drop_stop
    FROM rules
    GROUP BY source
    ORDER BY source
    """,
)
def q_llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based document filter (Rae et al. 2021 §A1.1): the
    five arithmetic-only checks a web-corpus pre-filter runs before
    any model-based scoring — word count bounds, mean word length
    bounds, symbol-to-word ratio, alphabetic-word fraction, and
    minimum distinct stopwords — rolled up per source as kept/dropped
    counts with per-rule attribution (the report a curation dashboard
    shows). Complements q_llm_quality (the C4-style blended score):
    these are hard gates, that is a ranking.

    Scale: one narrow projection pass (every rule is codegen'd string/
    array arithmetic — no UDF, no shuffle before the per-source
    rollup); the line-level Gopher rules (bullet/ellipsis line
    fractions) are omitted because the fixture's documents are
    single-line token streams."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = _toks(F.col("text"))
    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "#", ""))
            + (
                F.length("text")
                - F.length(F.regexp_replace("text", r"\.\.\.", ""))
            ).cast("long")
            / F.lit(3).cast("long")
        ).cast("long").alias("n_symbols"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).alias("n_alpha"),
        F.size(
            F.array_distinct(
                F.filter(toks, lambda t: F.array_contains(stop_arr, t))
            )
        ).alias("n_stop_kinds"),
    )
    rules = base.select(
        "doc_id",
        "source",
        F.col("n_tokens")
        .between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        .cast("int")
        .alias("r_word_count"),
        (
            ((F.col("n_chars") - F.col("n_tokens") + 1) / F.col("n_tokens"))
            .between(GOPHER_MIN_WORDLEN, GOPHER_MAX_WORDLEN)
        )
        .cast("int")
        .alias("r_word_len"),
        (F.col("n_symbols") / F.col("n_tokens") <= GOPHER_MAX_SYMBOL_RATIO)
        .cast("int")
        .alias("r_symbol"),
        (F.col("n_alpha") / F.col("n_tokens") >= GOPHER_MIN_ALPHA_FRAC)
        .cast("int")
        .alias("r_alpha"),
        (F.col("n_stop_kinds") >= GOPHER_MIN_STOPWORDS)
        .cast("int")
        .alias("r_stop"),
    )
    keep = (
        F.col("r_word_count")
        * F.col("r_word_len")
        * F.col("r_symbol")
        * F.col("r_alpha")
        * F.col("r_stop")
    )
    return (
        rules.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(keep).cast("long").alias("n_kept"),
            F.sum(1 - F.col("r_word_count")).cast("long").alias("drop_word_count"),
            F.sum(1 - F.col("r_word_len")).cast("long").alias("drop_word_len"),
            F.sum(1 - F.col("r_symbol")).cast("long").alias("drop_symbol"),
            F.sum(1 - F.col("r_alpha")).cast("long").alias("drop_alpha"),
            F.sum(1 - F.col("r_stop")).cast("long").alias("drop_stop"),
        )
        .orderBy("source")
    )
