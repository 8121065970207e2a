"""Text analysis for LLM-data pipelines: stats, token counting, quality
scoring, language-ID heuristic, document fingerprinting (north-star
extensions, BASELINE.json; over the `documents` fixture).

All pure built-in expressions (split/regexp/md5/aggregate) — no Python in
the hot path, so each operator is a single codegen'd projection (+ one
aggregation where noted) that scales linearly over a 100 TB corpus with
zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..queries import query
from .util import cache_once, memo_once, r4, seq1, spread_small_input, t

# Deterministic stopword lists for the language-ID heuristic.
_LANG_STOPWORDS = {
    "en": ["the", "a", "of"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}


def _word_count_expr(col: str):
    """Whitespace token count as an arithmetic identity (spaces + 1) —
    identical semantics in Spark and ANSI SQL without regexp-split
    edge-case drift."""
    return (
        F.length(col) - F.length(F.regexp_replace(col, " ", "")) + F.lit(1)
    )


def gopher_exprs(col: str = "text"):
    """The gopher quality signals as named in-row Column expressions —
    the ONE source of truth shared by text_gopher_quality,
    text_filter_funnel and pipeline_dataset_card. Consumers compose the
    EXPRESSIONS into their own single projection rather than joining
    the registered plan, so composition never re-scans the raw text
    column (VERDICT r7 item 1: the dataset card paid 2x I/O on the
    most expensive column for 1x information). Every gate compares the
    ROUNDED value so all consumers — and the DuckDB oracles — make
    identical boundary decisions."""
    chars = F.length(col)
    n_words = _word_count_expr(col)
    alpha_words = F.size(
        F.filter(F.split(col, " "), lambda w: w.rlike("[a-z]"))
    )
    n_symbols = F.size(F.regexp_extract_all(col, F.lit("[^a-z0-9 ]"), 0))
    mean_wl = r4((chars - n_words + 1) * 1.0 / n_words)
    alpha_frac = r4(alpha_words * 1.0 / n_words)
    sym_ratio = r4(n_symbols * 1.0 / n_words)
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "alpha_word_frac": alpha_frac,
        "symbol_ratio": sym_ratio,
        "passes_gopher": (
            n_words.between(50, 100000)
            & mean_wl.between(3.0, 10.0)
            & (alpha_frac >= 0.8)
            & (sym_ratio <= 0.1)
        ),
    }


@query(
    "text_stats",
    oracle="""
    SELECT doc_id, lang, source,
           length(text)                                            AS char_len,
           n_chars,
           length(text) = n_chars                                  AS len_matches,
           length(text) - length(replace(text, ' ', '')) + 1       AS n_words,
           round((length(text) - length(replace(text, ' ', '')) + 1)
                 * 1.0 / NULLIF(length(text), 0), 4)               AS word_density,
           len(list_distinct(string_split(text, ' ')))             AS n_uniq_words
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics: char length (cross-checked against the
    precomputed n_chars), word count, word density, distinct-word count."""
    docs = t(spark, sf_dir, "documents")
    n_words = _word_count_expr("text")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("char_len"),
        "n_chars",
        (F.length("text") == F.col("n_chars")).alias("len_matches"),
        n_words.alias("n_words"),
        r4(n_words * 1.0 / F.nullif(F.length("text"), F.lit(0))).alias("word_density"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_uniq_words"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           length(text) - length(replace(text, ' ', '')) + 1 AS ws_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+'))        AS word_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT)          AS bpe_est_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, regexp word tokens,
    and the chars/4 BPE-budget estimate used for LLM context sizing."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _word_count_expr("text").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("word_tokens"),
        F.ceil(F.length("text") / 4.0).alias("bpe_est_tokens"),
    )


@query(
    "text_quality",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               length(text) AS chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS words,
               len(list_distinct(string_split(text, ' '))) AS uniq_words,
               len(regexp_extract_all(text, '\\b(the|a|of|and|in|to)\\b')) AS stop_hits
    FROM documents
    )
    SELECT doc_id,
           round(uniq_words * 1.0 / words, 4)                AS uniq_ratio,
           round(stop_hits * 1.0 / words, 4)                 AS stopword_ratio,
           round(chars * 1.0 / words, 4)                     AS avg_word_len,
           (words BETWEEN 20 AND 1000)
             AND uniq_words * 1.0 / words > 0.3              AS passes_quality
    FROM f
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: lexical diversity, stopword ratio, average word
    length, and a boolean gate — the standard cheap pre-filters applied
    before spending tokens on a 100 TB crawl."""
    docs = t(spark, sf_dir, "documents")
    chars = F.length("text")
    words = _word_count_expr("text")
    uniq = F.size(F.array_distinct(F.split("text", " ")))
    stop_hits = F.size(
        F.regexp_extract_all("text", F.lit(r"\b(the|a|of|and|in|to)\b"), 0)
    )
    return docs.select(
        "doc_id",
        r4(uniq * 1.0 / words).alias("uniq_ratio"),
        r4(stop_hits * 1.0 / words).alias("stopword_ratio"),
        r4(chars * 1.0 / words).alias("avg_word_len"),
        (words.between(20, 1000) & (uniq * 1.0 / words > 0.3)).alias("passes_quality"),
    )


@query(
    "text_langid",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(text, '\\b(the|a|of)\\b'))   AS sc_en,
               len(regexp_extract_all(text, '\\b(le|la|et)\\b'))   AS sc_fr,
               len(regexp_extract_all(text, '\\b(der|die|und)\\b')) AS sc_de
        FROM documents
    )
    SELECT doc_id, lang, sc_en, sc_fr, sc_de,
           CASE WHEN sc_en >= sc_fr AND sc_en >= sc_de AND sc_en > 0 THEN 'en'
                WHEN sc_fr >= sc_de AND sc_fr > 0 THEN 'fr'
                WHEN sc_de > 0 THEN 'de'
                ELSE 'und' END AS predicted_lang
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language hit counts + argmax with
    deterministic tie-breaking. (The fixture's text is synthetic word soup,
    so accuracy vs the lang label is not meaningful here — the operator
    contract is the deterministic scoring pipeline itself.)"""
    docs = t(spark, sf_dir, "documents")
    scores = {
        lang: F.size(
            F.regexp_extract_all(
                "text", F.lit(r"\b(" + "|".join(words) + r")\b"), 0
            )
        )
        for lang, words in _LANG_STOPWORDS.items()
    }
    sc_en, sc_fr, sc_de = scores["en"], scores["fr"], scores["de"]
    return docs.select(
        "doc_id",
        "lang",
        sc_en.alias("sc_en"),
        sc_fr.alias("sc_fr"),
        sc_de.alias("sc_de"),
        F.when((sc_en >= sc_fr) & (sc_en >= sc_de) & (sc_en > 0), "en")
        .when((sc_fr >= sc_de) & (sc_fr > 0), "fr")
        .when(sc_de > 0, "de")
        .otherwise("und")
        .alias("predicted_lang"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text)                                                AS exact_fp,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_fp,
           md5(substring(text, 1, 64))                              AS prefix_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact hash, normalized hash (lowercase +
    whitespace collapse), and prefix hash — the keys exact and near dedup
    pipelines join on."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("exact_fp"),
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("norm_fp"),
        F.md5(F.substring("text", 1, 64)).alias("prefix_fp"),
    )


@query(
    "text_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df, tfidf FROM (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               round(tf.tf * ln(n_docs * 1.0 / dfreq.df), 4) AS tfidf,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY round(tf.tf * ln(n_docs * 1.0 / dfreq.df), 4) DESC,
                            tf.term) AS rn
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) ranked WHERE rn <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tokenize -> term frequency ->
    document frequency -> tf * ln(N/df) -> windowed top-k.

    The corpus size N is a 1-row aggregate broadcast via crossJoin (no
    driver collect); df is a second small aggregate that broadcasts onto
    the tf side under AQE. Ranking uses the ROUNDED score (term as
    tie-break) so both engines cut the top-3 identically. Shuffles: one
    on (doc_id, term) for tf — df, the broadcast, and the per-doc window
    all reuse or avoid it; at 100 TB the (doc, term) explode is the big
    intermediate, and it is reduced map-side before the shuffle."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


@query(
    "text_levenshtein_pairs",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           levenshtein(a.p_name, b.p_name) AS edit_distance
    FROM part a JOIN part b
      ON a.p_type = b.p_type AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def text_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: near-identical part names (edit distance
    <= 4) within the same (type, size) block. The blocking keys make the
    join an equi-join — the quadratic levenshtein only runs inside small
    blocks, the same blocking discipline as every near-dup operator here."""
    part = t(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "p_type",
        "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        "p_type",
        "p_size",
    )
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, ["p_type", "p_size"])
        .filter(F.col("part_a") < F.col("part_b"))
        .filter(lev <= 4)
        .select("part_a", "part_b", lev.alias("edit_distance"))
    )


@query(
    "text_gopher_quality",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               length(text)                                      AS chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
               len(regexp_extract_all(text, '[^a-z0-9 ]'))       AS n_symbols
        FROM documents
    )
    SELECT doc_id, n_words,
           round((chars - n_words + 1) * 1.0 / n_words, 4) AS mean_word_len,
           round(alpha_words * 1.0 / n_words, 4)           AS alpha_word_frac,
           round(n_symbols * 1.0 / n_words, 4)             AS symbol_ratio,
           n_words BETWEEN 50 AND 100000
             AND round((chars - n_words + 1) * 1.0 / n_words, 4)
                 BETWEEN 3.0 AND 10.0
             AND round(alpha_words * 1.0 / n_words, 4) >= 0.8
             AND round(n_symbols * 1.0 / n_words, 4) <= 0.1 AS passes_gopher
    FROM f
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public): word
    count bounds, mean word length in [3, 10], fraction of words with an
    alphabetic character >= 0.8, symbol-to-word ratio <= 0.1 — the
    standard cheap crawl pre-filter. Pure codegen'd projections, zero
    shuffles; every gate compares on the ROUNDED value so both engines
    make identical boundary decisions. (mean word length counts
    non-space chars: chars - (n_words - 1) separators, over n_words.)
    All signal expressions come from gopher_exprs — the shared in-row
    source of truth the funnel and the dataset card also compose."""
    docs = t(spark, sf_dir, "documents")
    ge = gopher_exprs("text")
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in ge.items()]
    )


@query(
    "text_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
        SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w
    ),
    agg AS (
        SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_words
        FROM wc GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_toks,
               len(list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]))) AS uniq_bigrams
        FROM documents
    )
    SELECT agg.doc_id, n_words, top_cnt,
           round(top_cnt * 1.0 / n_words, 4) AS top_word_frac,
           uniq_bigrams,
           round(uniq_bigrams * 1.0 / NULLIF(n_toks - 1, 0), 4)
                                             AS uniq_bigram_ratio,
           round(top_cnt * 1.0 / n_words, 4) <= 0.2
             AND coalesce(round(uniq_bigrams * 1.0 / NULLIF(n_toks - 1, 0), 4)
                          >= 0.5, TRUE)      AS passes_repetition
    FROM agg JOIN bi ON agg.doc_id = bi.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (the Gopher/C4 "repetitious document" family):
    most-frequent-word fraction and distinct-bigram ratio, gated on the
    ROUNDED values. Top-word counts take one (doc, word) shuffle with
    map-side partial aggregation; the bigram ratio never shuffles at all —
    bigrams are built with an in-row seq1/transform over the split array
    and deduped with array_distinct, so a 100 TB corpus pays one reduced
    shuffle total. Single-word docs have no bigrams (NULL ratio, gate
    passes vacuously)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wc = toks.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    agg = wc.groupBy("doc_id").agg(
        F.max("c").alias("top_cnt"), F.sum("c").alias("n_words")
    )
    words = F.split("text", " ")
    # Distinct bigrams as STRUCT pairs (arrays_zip of the two shifted
    # slices), not concatenated strings: identical count — tokens are
    # split on the separator so the string join is injective — and the
    # struct distinct avoids per-bigram string allocation (profiled r7:
    # 0.29 s vs 1.94 s at sf0.1 for this expression alone).
    n_toks_c = F.size(words)
    bigrams = F.arrays_zip(
        F.slice(words, 1, n_toks_c - 1), F.slice(words, 2, n_toks_c - 1)
    )
    bi = docs.select(
        "doc_id",
        n_toks_c.alias("n_toks"),
        F.size(F.array_distinct(bigrams)).alias("uniq_bigrams"),
    )
    top_frac = r4(F.col("top_cnt") * 1.0 / F.col("n_words"))
    bi_ratio = r4(
        F.col("uniq_bigrams") * 1.0 / F.nullif(F.col("n_toks") - 1, F.lit(0))
    )
    return agg.join(bi, "doc_id").select(
        "doc_id",
        "n_words",
        "top_cnt",
        top_frac.alias("top_word_frac"),
        "uniq_bigrams",
        bi_ratio.alias("uniq_bigram_ratio"),
        ((top_frac <= 0.2) & F.coalesce(bi_ratio >= 0.5, F.lit(True))).alias(
            "passes_repetition"
        ),
    )


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_URL_RE = "https?://[^\\s]+"
_NUM_RE = "\\b[0-9]{6,}\\b"


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}'))  AS n_emails,
           len(regexp_extract_all(text, '{_URL_RE}'))    AS n_urls,
           len(regexp_extract_all(text, '{_NUM_RE}'))    AS n_long_numbers,
           length(regexp_replace(regexp_replace(regexp_replace(text,
                  '{_EMAIL_RE}', '<EMAIL>', 'g'),
                  '{_URL_RE}', '<URL>', 'g'),
                  '{_NUM_RE}', '<NUM>', 'g'))             AS scrubbed_len,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                  '{_EMAIL_RE}', '<EMAIL>', 'g'),
                  '{_URL_RE}', '<URL>', 'g'),
                  '{_NUM_RE}', '<NUM>', 'g'))             AS scrubbed_fp
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, URLs, long digit runs ->
    placeholder tokens) — the scrub pass a training corpus gets before
    anything else. Pure regexp expressions, zero shuffles; the scrubbed
    fingerprint lets a re-run verify nothing leaked back in. (The
    synthetic fixture contains no real PII — matches are incidental —
    but the operator contract is the deterministic scrub itself;
    Spark's regexp_replace replaces all matches by default, equal to
    DuckDB's 'g' flag.)"""
    docs = t(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _URL_RE,
            "<URL>",
        ),
        _NUM_RE,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_URL_RE), 0)).alias("n_urls"),
        F.size(F.regexp_extract_all("text", F.lit(_NUM_RE), 0)).alias("n_long_numbers"),
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
        SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w
    ),
    freq AS (
        SELECT w, sum(c) AS cf FROM wc GROUP BY w
    ),
    tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n_corpus FROM freq)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(sum(c * ln(cf * 1.0 / n_corpus)) / sum(c), 4)
               AS avg_logprob,
           round(-sum(c * ln(cf * 1.0 / n_corpus)) / sum(c), 4) <= 8.0
               AS passes_lm
    FROM wc JOIN freq USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the perplexity-proxy quality
    filter (docs whose tokens are corpus-typical score high; gibberish
    and boilerplate-with-rare-symbols score low). The corpus unigram
    table is built in the same plan (count per word, total via 1-row
    broadcast crossJoin — the scalar-threshold pattern), each token is
    scored by ln(freq/total), and the per-doc mean gates at cross-entropy
    8.0 nats on the ROUNDED value.

    ONE SOURCE OF TRUTH with text_filter_funnel (ADVICE r7): the score
    is the count-weighted form sum(c * ln(cf/N)) / sum(c) over distinct
    (doc, word) rows — algebraically the per-token mean, but float
    accumulation order differs between the weighted and per-token
    forms, so a boundary doc at the 4dp rounding edge could gate
    differently. Both registered plans (and both oracles) now use the
    IDENTICAL weighted arithmetic, so funnel and standalone make the
    same boundary decisions. This is also the cheaper plan: the
    frequency join and per-doc rollup run on reduced (doc, word, count)
    rows instead of raw tokens. In production the freq table is
    computed once and reused — the join shape is identical."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    freq = wc.groupBy("w").agg(F.sum("c").alias("cf"))
    tot = freq.agg(F.sum("cf").alias("n_corpus"))
    per_doc = (
        wc.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.col("c") * F.log(F.col("cf") * 1.0 / F.col("n_corpus"))
            ).alias("wlp"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        r4(F.col("wlp") / F.col("n_tokens")).alias("avg_logprob"),
        (r4(-F.col("wlp") / F.col("n_tokens")) <= 8.0).alias("passes_lm"),
    )


_CHUNK_SIZE = 50  # words per chunk
_CHUNK_STRIDE = 35  # chunk start step (=> 15-word overlap between neighbors)


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    )
    SELECT doc_id, lang,
           CAST(i AS INT)            AS chunk_idx,
           CAST(len(w) AS BIGINT)    AS doc_words,
           CAST(least(len(w) - (CAST(i AS INT) - 1) * {_CHUNK_STRIDE},
                      {_CHUNK_SIZE}) AS INT) AS chunk_words,
           md5(array_to_string(
               list_slice(w, (CAST(i AS INT) - 1) * {_CHUNK_STRIDE} + 1,
                             (CAST(i AS INT) - 1) * {_CHUNK_STRIDE}
                                 + {_CHUNK_SIZE}), ' ')) AS chunk_digest
    FROM words,
         UNNEST(range(1, CAST(ceil(len(w) * 1.0 / {_CHUNK_STRIDE}) AS BIGINT)
                         + 1)) AS t(i)
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    before tokenization/embedding: word windows of _CHUNK_SIZE starting
    every _CHUNK_STRIDE words (so consecutive chunks share
    size - stride words of overlap and every word is covered), tail
    chunks truncated. Emits one row per chunk with its position, width,
    and content digest (the compare-friendly projection of the chunk
    text itself — production writes the text, the digest pins it).

    Scale shape: pure projection + explode, no shuffle anywhere; the
    fan-out is ceil(words/stride) rows per document, linear in corpus
    size. The slice happens once per CHUNK (not per word), so the cost
    is O(words x size/stride) string copies — the unavoidable overlap
    write amplification, and nothing more."""
    docs = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    staged = docs.select("doc_id", "lang", w.alias("w"))
    n_chunks = F.ceil(F.size("w") / F.lit(_CHUNK_STRIDE)).cast("int")
    ch = staged.select(
        "doc_id", "lang", "w", F.explode(seq1(n_chunks)).alias("i")
    )
    start = (F.col("i") - 1) * _CHUNK_STRIDE + 1
    chunk = F.slice("w", start, _CHUNK_SIZE)
    return ch.select(
        "doc_id",
        "lang",
        F.col("i").cast("int").alias("chunk_idx"),
        F.size("w").cast("long").alias("doc_words"),
        F.least(
            F.size("w") - (F.col("i") - 1) * F.lit(_CHUNK_STRIDE),
            F.lit(_CHUNK_SIZE),
        )
        .cast("int")
        .alias("chunk_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_digest"),
    )


# Count-min sketch geometry: 4 independent hash rows x 1024 counters =
# 4096 cells regardless of corpus size; estimates are one-sided
# (est >= true) with error <= e/width * total per row w.p. 1 - e^-depth.
_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_FRAC = 0.01  # report terms estimated at >= 1% of all occurrences


def _cms_bucket_sql(d_expr: str, term_expr: str) -> str:
    """DuckDB bucket expression — md5 prefix parsed as hex, mod width."""
    return (
        f"CAST(CAST('0x' || substring(md5(CAST({d_expr} AS VARCHAR) || ':' "
        f"|| {term_expr}), 1, 8) AS UBIGINT) % {_CMS_WIDTH} AS BIGINT)"
    )


@query(
    "text_heavy_hitters_cms",
    oracle=f"""
    WITH occ AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    buckets AS (
        SELECT d, {_cms_bucket_sql('d', 'term')} AS bkt
        FROM occ, UNNEST([0, 1, 2, 3]) AS t(d)
    ),
    counters AS (SELECT d, bkt, count(*) AS c FROM buckets GROUP BY 1, 2),
    terms AS (SELECT DISTINCT term FROM occ),
    tb AS (
        SELECT term, d, {_cms_bucket_sql('d', 'term')} AS bkt
        FROM terms, UNNEST([0, 1, 2, 3]) AS t(d)
    ),
    est AS (
        SELECT term, CAST(min(c) AS BIGINT) AS est_count
        FROM tb JOIN counters USING (d, bkt) GROUP BY term
    ),
    tot AS (SELECT count(*) AS n FROM occ)
    SELECT term, est_count FROM est, tot
    WHERE est_count >= ceil(n * {_CMS_FRAC})
    """,
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter terms via a count-min sketch built entirely from
    DataFrame ops (md5-derived bucket hashes, so the DuckDB oracle
    reproduces every cell bit-for-bit — Spark's built-in
    count_min_sketch agg returns an opaque binary with no SQL query
    surface). Estimates are the classic one-sided CMS guarantee:
    est >= true count always, over-estimate bounded by collisions in
    ALL {_CMS_DEPTH} rows (tests/test_operators.py pins both sides).

    Scale shape: the counter table is {_CMS_DEPTH}x{_CMS_WIDTH} cells
    FOREVER — per-occurrence bucket rows collapse map-side (partial agg)
    to at most 4096 rows per task before the one tiny shuffle, and the
    filled sketch is COLLECTED once per session (bounded: 4096 cells
    regardless of corpus size — the documented constant-size-sketch
    collect class) and embedded as an array literal, so estimation is a
    pure map-side element_at lookup over the cached term table: no
    broadcast join, no second shuffle, no scalar crossJoin (r10 bench
    watch: the join-shaped estimation re-planned a broadcast exchange +
    a term-keyed shuffle on every warm run — ~2/3 of warm latency for
    what is definitionally a constant-table lookup). At 100 TB this is
    the streaming-friendly frequency summary (mergeable by cell-wise
    add, e.g. per-day sketches -> any window); querying every distinct
    term, as the checkable form here does, is fixture-scale convenience
    — production queries only candidate terms against the literal
    cells. Reference: no frequency surface (BigQuery delegation,
    src/load/main.py:40)."""
    from fractions import Fraction

    docs = t(spark, sf_dir, "documents")
    occ = docs.select(F.explode(F.split("text", " ")).alias("term"))
    # ONE wide pass: per-term occurrence counts (map-side partial agg
    # collapses the word stream before the term shuffle). Counters, the
    # per-term bucket lookups, and the corpus total all derive from this
    # distinct-term table, so the word stream is exploded exactly once.
    term_counts = cache_once(
        spark,
        ("cms_term_counts", sf_dir),
        lambda: occ.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")),
    )

    def bucket(d: int):
        h = F.substring(F.md5(F.concat(F.lit(f"{d}:"), F.col("term"))), 1, 8)
        return F.conv(h, 16, 10).cast("bigint") % _CMS_WIDTH

    def fill_sketch() -> tuple[list[int], int]:
        depth_fan = F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), bucket(d).alias("bkt"))
                    for d in range(_CMS_DEPTH)
                ]
            )
        ).alias("b")
        rows = (
            term_counts.select("cnt", depth_fan)
            .select("cnt", "b.d", "b.bkt")
            .groupBy("d", "bkt")
            .agg(F.sum("cnt").alias("c"))
            .collect()
        )
        cells = [0] * (_CMS_DEPTH * _CMS_WIDTH)
        for r in rows:
            cells[r.d * _CMS_WIDTH + r.bkt] = r.c
        # every occurrence lands in exactly one bucket per depth row, so
        # row 0's cell sum IS the corpus occurrence total
        return cells, sum(cells[:_CMS_WIDTH])

    cells, total = memo_once(spark, ("cms_sketch", sf_dir), fill_sketch)
    # exact-rational ceil(total * frac): float multiply rounds (e.g.
    # 300 * 0.01 -> 3.0000000000000004 -> ceil 4), and the DuckDB oracle
    # computes the threshold in DECIMAL
    frac = Fraction(str(_CMS_FRAC))
    threshold = -((-total * frac.numerator) // frac.denominator)
    # the filled sketch rides as ONE fixed-width hex-string literal
    # (65 KB): a single plan node, so estimation is a one-stage map
    # over the cached term table with zero extra jobs. The naive
    # encodings both lose: F.lit(list) builds a CreateArray of 4096
    # literal nodes that Catalyst clones into every element_at
    # reference (~2 s of pure analysis/codegen per run), and a 1-row
    # broadcast frame costs a broadcast job + exchange per run (~0.4 s
    # warm). Decode = substr(16 hex chars) + conv per depth row.
    packed = F.lit("".join(f"{c:016x}" for c in cells))

    def cell(d: int):
        pos = ((F.lit(d * _CMS_WIDTH) + bucket(d)) * 16 + 1).cast("int")
        return F.conv(packed.substr(pos, F.lit(16)), 16, 10).cast("bigint")

    est_count = F.least(*[cell(d) for d in range(_CMS_DEPTH)])
    return term_counts.select(
        "term", est_count.alias("est_count")
    ).filter(F.col("est_count") >= F.lit(threshold))


# CDC boundary threshold on the word-hash prefix: 0x10/0x100 = 1/16
# boundary probability => mean 16-word chunks.
_CDC_BRK_LT = "10"


@query(
    "doc_chunk_cdc",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, w[CAST(i AS INT)] AS wd, CAST(i AS INT) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, len(w) + 1)) AS t(i)
    ),
    flagged AS (
        SELECT doc_id, wd, i,
               CASE WHEN substring(md5(wd), 1, 2) < '{_CDC_BRK_LT}'
                    THEN 1 ELSE 0 END AS brk
        FROM words
    ),
    chunked AS (
        SELECT doc_id, wd, i,
               CAST(COALESCE(SUM(brk) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS INT) AS chunk_idx
        FROM flagged
    )
    SELECT doc_id, chunk_idx,
           CAST(count(*) AS BIGINT) AS n_words,
           md5(string_agg(wd, ' ' ORDER BY i)) AS chunk_digest
    FROM chunked GROUP BY doc_id, chunk_idx
    """,
)
def doc_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC): a word ENDS its chunk when its
    md5 prefix falls below _CDC_BRK_LT — boundaries depend only on local
    content, so edits re-chunk only the chunk they touch while every
    later chunk's digest is unchanged (the property that makes
    chunk-level dedup stable under document edits; the fixed-stride
    doc_chunk_overlap shifts EVERY downstream chunk instead). The
    rolling-hash CDC family is standard in dedup storage (LBFS/Venti
    lineage); the word-hash threshold is its order-0 form, and md5 keeps
    the oracle bit-identical in DuckDB. Reference has no chunking
    surface (BigQuery delegation, src/load/main.py:40).

    Scale shape (reworked r6, VERDICT r5 item 4): chunking is a
    PER-DOCUMENT computation, so it runs entirely in-row — boundary
    positions via a filter over the word-index sequence, chunk spans by
    pairing consecutive boundaries with transform's element index, and
    one md5 per chunk over the sliced words — then a single explode to
    (doc_id, chunk_idx) rows. The r4-r5 shape (posexplode -> per-doc
    prefix-sum window -> collect_list+array_sort re-assembly) shuffled
    every word row and re-assembled chunks in an ObjectHashAggregate;
    this shape shuffles NOTHING for the computation itself (the only
    exchange is util.spread_small_input parallelizing a single-split
    fixture; an already-split corpus at scale has none) and measures
    ~30% faster at sf0.1. `w`/`ends` are staged as real columns so the
    per-element references are column lookups, not re-evaluated
    subtrees. Mean chunk length is set by the threshold (1/16 => 16
    words), independent of document length."""
    docs = spread_small_input(t(spark, sf_dir, "documents"), "doc_id")
    w = F.split("text", " ")
    staged = docs.select(
        "doc_id",
        w.alias("w"),
        F.filter(
            seq1(F.size(w)),
            lambda i: F.substring(F.md5(F.element_at(w, i)), 1, 2)
            < _CDC_BRK_LT,
        ).alias("bpos"),
        F.size(w).alias("n"),
    )
    # chunk ENDS: every boundary position, plus the last word when it is
    # not itself a boundary (the trailing partial chunk)
    ends = F.when(
        (F.size("bpos") > 0) & (F.element_at("bpos", -1) == F.col("n")),
        F.col("bpos"),
    ).otherwise(F.concat("bpos", F.array(F.col("n"))))
    staged2 = staged.select("doc_id", "w", ends.alias("ends"))
    # chunk k spans (prev_end + 1 .. ends[k]); element_at is 1-based so
    # element_at(ends, k) with k the 0-based transform index IS the
    # previous end (guarded by the k == 0 branch for the first chunk)
    prev_end = lambda k: F.when(k == 0, F.lit(0)).otherwise(  # noqa: E731
        F.element_at(F.col("ends"), k)
    )
    chunks = F.transform(
        F.col("ends"),
        lambda e, k: F.struct(
            k.cast("int").alias("chunk_idx"),
            (e - prev_end(k)).cast("long").alias("n_words"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("w"), prev_end(k) + 1, e - prev_end(k))
                )
            ).alias("chunk_digest"),
        ),
    )
    return staged2.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.n_words", "c.chunk_digest"
    )


_BOILER_MIN_DOCS = 3


@query(
    "doc_boilerplate_chunks",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, w[CAST(i AS INT)] AS wd, CAST(i AS INT) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, len(w) + 1)) AS t(i)
    ),
    flagged AS (
        SELECT doc_id, wd, i,
               CASE WHEN substring(md5(wd), 1, 2) < '{_CDC_BRK_LT}'
                    THEN 1 ELSE 0 END AS brk
        FROM words
    ),
    chunked AS (
        SELECT doc_id, wd, i,
               CAST(COALESCE(SUM(brk) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS INT) AS chunk_idx
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, chunk_idx,
               CAST(count(*) AS BIGINT) AS n_words,
               md5(string_agg(wd, ' ' ORDER BY i)) AS chunk_digest
        FROM chunked GROUP BY doc_id, chunk_idx
    )
    SELECT chunk_digest,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)               AS n_occurrences,
           CAST(min(n_words) AS BIGINT)           AS n_words
    FROM chunks
    GROUP BY chunk_digest
    HAVING count(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
    """,
)
def doc_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: CDC chunks whose digest recurs across
    _BOILER_MIN_DOCS+ distinct documents — headers, footers, navigation
    and license blocks that repeat across a crawl (the chunk-level
    complement of document-level dedup: the DOCUMENTS are unique, the
    boilerplate inside them is not). Because chunk boundaries are
    content-defined, the same boilerplate chunks align identically
    regardless of where they sit in each document — a fixed-stride
    chunker would split them differently per document and find nothing.

    Scale shape: doc_chunk_cdc's single doc-keyed shuffle, then one
    digest-keyed count (map-side partial agg; one row per distinct
    chunk). The HAVING prunes to the tiny boilerplate set before any
    downstream join back to documents."""
    chunks = doc_chunk_cdc(spark, sf_dir)
    return (
        chunks.groupBy("chunk_digest")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("n_words").alias("n_words"),
        )
        .filter(F.col("n_docs") >= _BOILER_MIN_DOCS)
    )


@query(
    "text_hashing_vectorizer",
    oracle="""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT doc_id,
           substring(md5(term), 1, 3) AS bucket,
           CAST(count(*) AS BIGINT)   AS tf
    FROM terms GROUP BY 1, 2
    """,
)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term-frequency features: every term maps to one of
    4096 buckets by digest prefix (3 hex chars — engine-independent, no
    vocabulary pass), and the output is the sparse (doc, bucket, tf)
    triple stream a downstream trainer consumes. Collisions are the
    accepted hashing-trick tradeoff; the bucket count is THE memory/
    fidelity knob.

    Scale shape: one shuffle on (doc_id, bucket) with map-side combine —
    the per-partition partial agg collapses each document's repeats
    before anything crosses the wire; no vocabulary table, no second
    pass, no driver state (the fixed bucket space is what makes the
    vectorizer streamable over 100 TB)."""
    docs = t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return (
        terms.groupBy(
            "doc_id", F.substring(F.md5("term"), 1, 3).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("tf"))
    )


_NGRAM_TOPK = 30


@query(
    "text_ngram_topk",
    oracle=f"""
    WITH ws AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i + 1]
               )) AS bigram
        FROM ws
        WHERE len(w) >= 2
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
    FROM grams GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT {_NGRAM_TOPK}
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K bigram table — the vocabulary-inspection /
    boilerplate-detection primitive (a bigram appearing in half the
    corpus is template text, not language).

    Bigram construction is a zero-shuffle projection (adjacent-pair
    transform over the split array — same shape as text_repetition's
    bigram ratio); the only shuffles are the count's map-side-combined
    hash agg and the final top-K, which Spark plans as
    TakeOrderedAndProject — per-partition heaps of K rows, never a
    global sort of the full bigram dictionary (the thing that matters
    when the dictionary is billions of entries at 100 TB)."""
    docs = t(spark, sf_dir, "documents")
    grams = (
        docs.select(F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("bigram")
        )
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(_NGRAM_TOPK)
    )


_VOCAB_KS = [100, 1000, 5000]


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH counts AS (
        SELECT term, count(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ) GROUP BY term
    ),
    ranked AS (
        SELECT c,
               row_number() OVER (ORDER BY c DESC, term) AS rk,
               sum(c) OVER (ORDER BY c DESC, term
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM counts
    ),
    tot AS (SELECT sum(c) AS n, count(*) AS n_terms FROM counts)
    SELECT k,
           round(max(CASE WHEN rk <= k THEN cum ELSE 0 END) * 1.0 / any_value(n), 4)
               AS coverage,
           CAST(any_value(n_terms) AS BIGINT) AS vocab_size
    FROM ranked, tot, UNNEST([{", ".join(map(str, _VOCAB_KS))}]) AS u(k)
    GROUP BY k
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of all token occurrences
    covered by the top-K most frequent terms (K in {{100, 1000, 5000}})
    — the tokenizer/vocab-budget design metric (how much of the corpus
    a K-entry word table explains). Deterministic rank order:
    (count desc, term).

    Scale shape: one term-count shuffle (map-side combined, cached per
    session like the CMS term table — the corpus is never re-exploded
    warm), then a global window over the DISTINCT-TERM table — bounded
    by vocabulary size, not corpus size; vocabularies are millions of
    rows at web scale, fine for a single sort. The cumulative sum is
    MONOTONE in rank, so coverage(k) is read directly off the single
    ranked row at rk = least(k, n_terms): the corpus total and vocab
    size are TWO bounded scalars collected once per session, so the
    K-lookup is a literal 3-pair explode on the <=3 matching ranked
    rows — no join, no per-run broadcast of a computed subtree (r11;
    the r10 shape re-ran the counts agg twice per run — once under
    ranked, once under the broadcast ktab — for two scalars). The r7
    formulation fanned EVERY vocab row x |K| through a crossJoin and
    max-aggregated them back, shuffling 3x the vocabulary to recover 3
    numbers the window had already computed."""
    docs = t(spark, sf_dir, "documents")
    counts = cache_once(
        spark,
        ("vocab_counts", sf_dir),
        lambda: docs.select(
            F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c")),
    )
    n, n_terms = memo_once(
        spark,
        ("vocab_totals", sf_dir),
        lambda: counts.agg(
            F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_terms")
        ).first()[:2],
    )
    w = W.orderBy(F.col("c").desc(), "term")
    ranked = counts.select(
        "c",
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    )
    targets = sorted({min(k, n_terms) for k in _VOCAB_KS})
    kt = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"),
                    F.lit(min(k, n_terms)).alias("target_rk"),
                )
                for k in _VOCAB_KS
            ]
        )
    ).alias("kt")
    return (
        ranked.filter(F.col("rk").isin(targets))
        .select("rk", "cum", kt)
        .filter(F.col("kt.target_rk") == F.col("rk"))
        .select(
            F.col("kt.k").alias("k"),
            F.round(F.col("cum") * 1.0 / F.lit(n), 4).alias("coverage"),
            F.lit(n_terms).cast("bigint").alias("vocab_size"),
        )
    )


_BPE_TOPK = 20


@query(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
        SELECT w, count(*) AS c FROM toks GROUP BY w
    ),
    pairs AS (
        SELECT substring(w, CAST(i AS INT), 2) AS pair, c
        FROM wc, UNNEST(range(1, length(w))) AS t(i)
        WHERE length(w) >= 2
    ),
    pc AS (
        SELECT pair, CAST(sum(c) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair
    )
    SELECT rk, pair, pair_count FROM (
        SELECT row_number() OVER (ORDER BY pair_count DESC, pair) AS rk,
               pair, pair_count
        FROM pc
    ) WHERE rk <= {_BPE_TOPK}
    """,
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-step statistics (tokenizer training, Sennrich et
    al. 2016): the top-20 most frequent ADJACENT CHARACTER
    PAIRS across the corpus, each word's pairs weighted by the word's
    corpus frequency — exactly the count a BPE trainer computes to pick
    its first merge. Deterministic rank order (count desc, pair).

    Scale shape — the reason this is cheap at 100 TB: the character
    explode runs over the DISTINCT-WORD table (vocabulary-bounded),
    never the corpus — the token stream collapses to (word, count) via
    one map-side-combined shuffle first, and each distinct word emits
    len-1 pairs carrying its count. The pair aggregate is bounded by
    alphabet^2 rows, and the final ranking window runs over that
    constant-size table (allow-listed bounded global window, same
    argument as text_zipf_slope). Words shorter than 2 chars emit
    nothing on both engines (Spark's sequence(1, 0) would DESCEND, so
    the filter is correctness, not just cost)."""
    docs = t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wc.filter(F.length("w") >= 2).select(
        "c",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    pc = pairs.groupBy("pair").agg(F.sum("c").cast("long").alias("pair_count"))
    w = W.orderBy(F.col("pair_count").desc(), "pair")
    return (
        pc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BPE_TOPK)
        .select("rk", "pair", "pair_count")
    )


@query("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility per document (rows-only: DEFLATE is not
    SQL-expressible; determinism and the monotonicity property —
    repetitive text compresses harder than diverse text — are pinned in
    tests/test_llm_prep.py). Compression ratio is a standard cheap crawl
    filter (CCNet/RedPajama lineage): highly compressible documents are
    boilerplate/spam/repetition, incompressible ones are often binary
    junk; both tails get cut.

    Scale shape: Arrow-batched pandas UDF (zlib is C-speed per batch),
    pure projection, zero shuffles. Level pinned at 6 so the ratio is
    reproducible across runs and platforms."""
    import pandas as pd
    import zlib

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("raw_bytes", T.LongType()),
            T.StructField("zlib_bytes", T.LongType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )

    def measure(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            raw = [t.encode("utf-8") for t in pdf["text"]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            rb = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": rb,
                    "zlib_bytes": comp,
                    "compression_ratio": [
                        round(c / r, 4) if r else 0.0 for c, r in zip(comp, rb)
                    ],
                }
            )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(measure, out_schema)


_ZIPF_TOPN = 100


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH counts AS (
        SELECT term, count(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ) GROUP BY term
    ),
    ranked AS (
        SELECT ln(row_number() OVER (ORDER BY c DESC, term)) AS x,
               ln(c) AS y
        FROM counts
        QUALIFY row_number() OVER (ORDER BY c DESC, term) <= {_ZIPF_TOPN}
    ),
    s AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_terms_fit,
           round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 4)
               AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)
                  * sx) / n, 4)
               AS zipf_intercept
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-100 terms: least-squares
    slope of ln(freq) on ln(rank) — natural language sits near -1, and
    corpora that deviate hard (flat: template/boilerplate spam; steep:
    degenerate repetition) fail the distributional sanity check that
    complements per-document quality filters. The explicit closed-form
    sums (not a regression builtin) keep the arithmetic identical in
    both engines; slope/intercept rounded 4dp.

    Scale shape: one term-count shuffle (map-side combined), a global
    rank over the DISTINCT-TERM table (bounded by vocabulary size —
    allow-listed with the same justification as text_vocab_coverage),
    then a 100-row aggregate. Deterministic (count desc, term) order."""
    docs = t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.orderBy(F.col("c").desc(), "term")
    ranked = (
        counts.select("c", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _ZIPF_TOPN)
        .select(
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # Guard the degenerate single-term vocabulary: the denominator is 0
    # there, and while Spark yields NULL on double div-by-zero, DuckDB's
    # IEEE semantics can yield inf/nan — make both engines agree on NULL
    # (the when() here, NULLIF in the oracle above).
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        denom != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom,
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_terms_fit"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "zipf_intercept"
        ),
    )


@query(
    "text_filter_funnel",
    oracle="""
    WITH gf AS (
        SELECT doc_id,
               length(text)                                      AS chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
               len(regexp_extract_all(text, '[^a-z0-9 ]'))       AS n_symbols
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               n_words BETWEEN 50 AND 100000
                 AND round((chars - n_words + 1) * 1.0 / n_words, 4)
                     BETWEEN 3.0 AND 10.0
                 AND round(alpha_words * 1.0 / n_words, 4) >= 0.8
                 AND round(n_symbols * 1.0 / n_words, 4) <= 0.1 AS p_g
        FROM gf
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
    bi AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_toks,
               len(list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]))) AS uniq_bigrams
        FROM documents
    ),
    freq AS (SELECT w, CAST(sum(c) AS BIGINT) AS cf FROM wc GROUP BY w),
    tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n_corpus FROM freq),
    rl AS (
        SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_words,
               sum(c * ln(cf * 1.0 / n_corpus)) AS wlp
        FROM wc JOIN freq USING (w) CROSS JOIN tot
        GROUP BY doc_id
    ),
    r AS (
        SELECT rl.doc_id,
               round(top_cnt * 1.0 / n_words, 4) <= 0.2
                 AND coalesce(round(uniq_bigrams * 1.0
                                    / NULLIF(n_toks - 1, 0), 4) >= 0.5,
                              TRUE) AS p_r,
               round(-wlp / n_words, 4) <= 8.0 AS p_l
        FROM rl JOIN bi ON rl.doc_id = bi.doc_id
    ),
    flags AS (
        SELECT g.doc_id, p_g, p_r, p_l
        FROM g JOIN r ON g.doc_id = r.doc_id
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN p_g THEN 1 ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN p_g AND p_r THEN 1 ELSE 0 END)
                    AS BIGINT) AS s2,
               CAST(sum(CASE WHEN p_g AND p_r AND p_l THEN 1 ELSE 0 END)
                    AS BIGINT) AS s3
        FROM flags
    )
    SELECT 1 AS rule_order, 'gopher' AS rule, n0 AS n_in,
           n0 - s1 AS n_dropped, s1 AS n_out,
           round((n0 - s1) * 1.0 / NULLIF(n0, 0), 4) AS drop_pct FROM c
    UNION ALL
    SELECT 2, 'repetition', s1, s1 - s2, s2,
           round((s1 - s2) * 1.0 / NULLIF(s1, 0), 4) FROM c
    UNION ALL
    SELECT 3, 'unigram_lm', s2, s2 - s3, s3,
           round((s2 - s3) * 1.0 / NULLIF(s2, 0), 4) FROM c
    """,
)
def text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel attrition report (VERDICT r5 item 7): the
    observability artifact every training-data pipeline runs — apply the
    quality filters IN SEQUENCE (gopher rules -> repetition ->
    unigram-LM cross-entropy) and report, per rule, how many documents
    entered, how many that rule dropped among the survivors so far, and
    the survivor count, with the drop rate rounded 4dp. Rule order is
    the conventional cheap-to-expensive cascade; each stage's n_in is
    the previous stage's n_out, so the report reads as the funnel a
    pipeline dashboard would chart.

    FUSED formulation (VERDICT r6 item 3): the r5 composition of the
    three registered plans read the raw `documents` text three times —
    3x I/O for 1x information at 100 TB. Here every in-row signal (all
    four gopher gates, token count, distinct-bigram count) is computed
    in ONE projection, the tokens are exploded once, and everything
    downstream runs on the REDUCED (doc_id, word, count) rows: word
    frequencies aggregate the counts (not raw tokens, unlike the r5 LM
    plan's token-level frequency join), and the unigram-LM score
    becomes the count-weighted sum sum(c * ln(cf/N)) / sum(c) —
    algebraically the same per-token mean, computed on both engines in
    the identical weighted form so rounding decisions agree. Gate
    arithmetic (the ROUNDED comparisons) is unchanged from
    text_gopher_quality / text_repetition / text_unigram_logprob.

    Scale shape: two raw-text scans (in-row flag projection; token
    explode — profiled r7: fusing them into one scan requires the
    per-doc flags to ride the token shuffle, which measured SLOWER than
    the doc-level flag join), one token-level shuffle (the narrow
    (doc_id, word) partial-aggregated count), then word-frequency agg,
    frequency join, and per-doc rollup all on reduced rows; the funnel
    is ONE global aggregate producing a single 4-counter row, and the
    3-row report is an in-row explode of that scalar struct array —
    output size is constant regardless of corpus size."""
    docs = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    gate_g = gopher_exprs("text")["passes_gopher"]
    # struct-pair bigrams — see text_repetition for the 6.7x profile note
    n_toks_c = F.size(words)
    bigrams = F.arrays_zip(
        F.slice(words, 1, n_toks_c - 1), F.slice(words, 2, n_toks_c - 1)
    )
    flags_inrow = docs.select(
        "doc_id",
        gate_g.alias("p_g"),
        n_toks_c.alias("n_toks"),
        F.size(F.array_distinct(bigrams)).alias("uniq_bigrams"),
    )
    toks = docs.select("doc_id", F.explode(words).alias("w"))
    # the ONLY token-granularity shuffle: the (doc, word) count, two
    # narrow columns wide (profiled r7: carrying the per-doc flags
    # through this shuffle via first() cost ~0.6 s at sf0.1 — the
    # doc-level flag join below is cheaper than widening the token rows)
    wc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    freq = wc.groupBy("w").agg(F.sum("c").alias("cf"))
    tot = freq.agg(F.sum("cf").alias("n_corpus"))
    per_doc = (
        wc.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_cnt"),
            F.sum("c").alias("n_words"),
            F.sum(
                F.col("c")
                * F.log(F.col("cf") * 1.0 / F.col("n_corpus"))
            ).alias("wlp"),
        )
        .join(flags_inrow, "doc_id")
    )
    top_frac = r4(F.col("top_cnt") * 1.0 / F.col("n_words"))
    bi_ratio = r4(
        F.col("uniq_bigrams") * 1.0 / F.nullif(F.col("n_toks") - 1, F.lit(0))
    )
    p_g = F.col("p_g")
    p_r = (top_frac <= 0.2) & F.coalesce(bi_ratio >= 0.5, F.lit(True))
    p_l = r4(-F.col("wlp") / F.col("n_words")) <= 8.0
    c = per_doc.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(p_g.cast("long")).alias("s1"),
        F.sum((p_g & p_r).cast("long")).alias("s2"),
        F.sum((p_g & p_r & p_l).cast("long")).alias("s3"),
    )

    def stage(order: int, rule: str, n_in, n_out):
        return F.struct(
            F.lit(order).alias("rule_order"),
            F.lit(rule).alias("rule"),
            n_in.alias("n_in"),
            (n_in - n_out).alias("n_dropped"),
            n_out.alias("n_out"),
        )

    stages = F.array(
        stage(1, "gopher", F.col("n0"), F.col("s1")),
        stage(2, "repetition", F.col("s1"), F.col("s2")),
        stage(3, "unigram_lm", F.col("s2"), F.col("s3")),
    )
    return (
        c.select(F.explode(stages).alias("st"))
        .select("st.*")
        .select(
            "rule_order",
            "rule",
            "n_in",
            "n_dropped",
            "n_out",
            r4(
                F.col("n_dropped") * 1.0 / F.nullif(F.col("n_in"), F.lit(0))
            ).alias("drop_pct"),
        )
    )


@query(
    "text_inverted_index",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT term, doc_id, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY term, doc_id
    ),
    stats AS (
        SELECT term,
               CAST(count(*) AS BIGINT) AS doc_freq,
               CAST(sum(tf) AS BIGINT)  AS coll_freq
        FROM tf GROUP BY term
    ),
    top AS (
        SELECT term, doc_id AS top_doc_id, CAST(tf AS BIGINT) AS top_tf,
               row_number() OVER (PARTITION BY term
                                  ORDER BY tf DESC, doc_id) AS rn
        FROM tf
    )
    SELECT stats.term AS term, doc_freq, coll_freq, top_doc_id, top_tf
    FROM stats JOIN top ON stats.term = top.term
    WHERE top.rn = 1
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index dictionary build: one row per vocabulary term with
    its document frequency, collection frequency, and the top-scoring
    posting (the document with the highest term frequency, doc_id as the
    deterministic tie-break) — the dictionary side of a search index,
    and the stats feeding BM25-style scoring.

    Scale shape: one (term, doc) shuffle for tf (map-side combined over
    each document's repeated terms), then ONE term-keyed aggregation
    that carries the top posting as max(struct(tf, -doc_id)) — largest
    tf, smallest doc_id on ties — so the dictionary stats and the best
    posting come out of a single pass (r11; the previous shape ran the
    tf subtree twice, once under a stats agg and once under a
    row_number window, then joined them back). Output is bounded by
    vocabulary size, not corpus size."""
    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("tf").alias("coll_freq"),
            F.max(
                F.struct(
                    F.col("tf").alias("tf"),
                    (-F.col("doc_id")).alias("neg_doc"),
                )
            ).alias("best"),
        )
        .select(
            "term",
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.col("coll_freq").cast("long").alias("coll_freq"),
            (-F.col("best.neg_doc")).alias("top_doc_id"),
            F.col("best.tf").cast("long").alias("top_tf"),
        )
    )


@query(
    "text_phrase_search",
    oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i + 1]
               )) AS bigram
        FROM ws WHERE len(w) >= 2
    ),
    phrase AS (
        SELECT bigram AS phrase,
               string_split(bigram, ' ')[1] AS t1,
               string_split(bigram, ' ')[2] AS t2
        FROM (SELECT bigram, count(*) AS c FROM grams GROUP BY bigram
              ORDER BY c DESC, bigram LIMIT 1)
    )
    SELECT doc_id, phrase, n_matches FROM (
        SELECT ws.doc_id, phrase.phrase,
               CAST(len(list_filter(
                   generate_series(1, len(w) - 1),
                   i -> w[i] = phrase.t1 AND w[i + 1] = phrase.t2
               )) AS BIGINT) AS n_matches
        FROM ws CROSS JOIN phrase
    ) hits WHERE n_matches > 0
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search through an inverted index: find every
    document containing the corpus's most frequent bigram (deterministic
    query phrase: highest count, lexicographic tie-break) and count its
    occurrences per document. This is the adjacency-join plan a search
    engine runs over positional posting lists: fetch the postings of the
    two phrase terms, join on (doc, position+1).

    Scale shape: the phrase is a 1-row aggregate broadcast onto the
    postings scan (no driver collect); postings are FILTERED to the two
    phrase terms before the positional self-join, so the join touches
    only matching postings — selectivity does the work, exactly as a
    posting-list intersection would. One (doc, term) explode feeds both
    sides; the final per-doc count is map-side combined."""
    docs = t(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("w"))
    grams = (
        ws.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("bigram")
        )
    )
    phrase = (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "bigram")
        .limit(1)
        .select(
            F.col("bigram").alias("phrase"),
            F.element_at(F.split("bigram", " "), 1).alias("t1"),
            F.element_at(F.split("bigram", " "), 2).alias("t2"),
        )
    )
    # No empty-token filter here: the oracle's positional list_filter
    # counts adjacency over the RAW token array, empties included, and
    # the phrase itself could legally contain an empty token (consecutive
    # spaces). Both engines must see identical postings (ADVICE r6); the
    # phrase equi-join already discards every non-phrase term, so the
    # filter bought nothing.
    posts = ws.select("doc_id", F.posexplode("w").alias("pos", "term"))
    ph = F.broadcast(phrase)
    p1 = posts.join(ph, posts.term == ph.t1).select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("pos1"), "phrase"
    )
    p2 = posts.join(ph, posts.term == ph.t2).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2")
    )
    hits = p1.join(
        p2, (F.col("d1") == F.col("d2")) & (F.col("pos2") == F.col("pos1") + 1)
    )
    return (
        hits.groupBy(F.col("d1").alias("doc_id"), "phrase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_NQ = 3  # query = the corpus's top-3 terms by collection frequency
_BM25_TOPK = 20


@query(
    "text_bm25_rank",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT term, doc_id, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY term, doc_id
    ),
    dl AS (
        SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY doc_id
    ),
    stats AS (
        SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY term
    ),
    consts AS (
        SELECT (SELECT count(*) FROM documents)    AS n_docs,
               (SELECT avg(dl) FROM dl)            AS avgdl
    ),
    qterms AS (
        SELECT term, df FROM stats
        ORDER BY cf DESC, term LIMIT {_BM25_NQ}
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1}
                      * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl))
               ) AS score
        FROM tf
        JOIN qterms USING (term)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN consts
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 4) AS bm25
    FROM scored
    ORDER BY round(score, 4) DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the inverted-index statistics: score
    every document against a deterministic query (the corpus's top-3
    terms by collection frequency, lexicographic tie-break) with the
    standard Okapi BM25 formula (k1=1.2, b=0.75) and return the top-20
    (rounded score desc, doc_id tie-break — both engines cut
    identically).

    Scale shape: the (term, doc) tf shuffle is shared with the
    dictionary build; query terms (3 rows) and the N/avgdl constants
    (1 row) broadcast onto it, so scoring touches only postings of the
    query terms; the final top-k is TakeOrderedAndProject, never a
    global sort."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    consts = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    qterms = (
        stats.orderBy(F.col("cf").desc(), "term")
        .limit(_BM25_NQ)
        .select("term", "df")
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * F.col("tf")
                * (_BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 4).alias("bm25"))
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(_BM25_TOPK)


@query(
    "doc_quality_percentile_filter",
    oracle="""
    WITH f AS (
        SELECT doc_id, source,
               round(len(list_distinct(string_split(text, ' '))) * 1.0
                     / (length(text) - length(replace(text, ' ', '')) + 1),
                     4) AS uniq_ratio
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, uniq_ratio,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY uniq_ratio, doc_id) AS pr
        FROM f
    )
    SELECT doc_id, source, uniq_ratio,
           round(pr, 6)   AS quality_pct,
           pr >= 0.3      AS keep
    FROM ranked
    """,
)
def doc_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source relative quality filtering: rank every document's
    lexical-diversity score WITHIN its source and keep the top 70% —
    the "drop each domain's worst X%" policy real training pipelines
    prefer over one absolute threshold (an absolute gate would wipe out
    whole low-register domains like forums while keeping boilerplate
    from high-register ones; a relative gate preserves the mixture).
    Output carries the percentile so downstream mixing can re-cut
    without recomputing.

    Determinism: percent_rank over a TOTAL order (score, doc_id) —
    identical tile boundaries on both engines; the rank is rounded 6dp
    for the hash compare but the keep gate uses the raw rank, which is
    exact rational arithmetic (rank/(n-1)) on identically-ordered rows.

    Scale shape: one in-row scoring projection, one source-partitioned
    window (each source's rows sort within their shuffle partition;
    sources are the partition key, so skew follows domain size — salt
    a mega-domain or swap percent_rank for approx-percentile thresholds
    if one source dwarfs the cluster, the feature_quantile_bins swap).
    No joins, no global sort."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    words = _word_count_expr("text")
    uniq = F.size(F.array_distinct(F.split("text", " ")))
    f = docs.select(
        "doc_id", "source", r4(uniq * 1.0 / words).alias("uniq_ratio")
    )
    w = W.partitionBy("source").orderBy("uniq_ratio", "doc_id")
    pr = F.percent_rank().over(w)
    return f.select(
        "doc_id",
        "source",
        "uniq_ratio",
        F.round(pr, 6).alias("quality_pct"),
        (pr >= 0.3).alias("keep"),
    )


_PMI_MIN_COUNT = 20
_PMI_TOPK = 20


@query(
    "text_collocation_pmi",
    oracle=f"""
    WITH ws AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
        SELECT unnest(w) AS term FROM ws
    ),
    uni AS (
        SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY term
    ),
    n_tok AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM uni
    ),
    grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(w) - 1),
                   i -> struct_pack(w1 := w[i], w2 := w[i + 1])
               )) AS g
        FROM ws WHERE len(w) >= 2
    ),
    big AS (
        SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS c_xy
        FROM grams GROUP BY 1, 2
    ),
    n_pair AS (
        SELECT CAST(sum(c_xy) AS BIGINT) AS np FROM big
    ),
    scored AS (
        SELECT w1, w2, c_xy,
               round(ln((c_xy * 1.0 / np) * (n * 1.0 / a.c)
                        * (n * 1.0 / b.c)), 4) AS pmi
        FROM big
        JOIN uni a ON big.w1 = a.term
        JOIN uni b ON big.w2 = b.term
        CROSS JOIN n_tok CROSS JOIN n_pair
        WHERE c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_xy, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOPK}
    """,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-K adjacent word pairs by pointwise
    mutual information, pmi = ln(P(xy) / (P(x)P(y))) with a minimum
    pair-count support — the phrase-mining / tokenizer-merge-candidate
    statistic (Church & Hanks 1990; the multi-word-expression detector
    every corpus-analysis stack ships).

    Scale shape: ONE corpus scan — each token is emitted exactly once
    as (w1, w2-or-null) where w2 is its right neighbor (the document's
    last token carries null), and one map-side-combined count collapses
    that stream to the pair dictionary. Unigram counts are a ROLLUP of
    that dictionary (sum over w1 — pair-dictionary-bounded, the corpus
    is never re-read), both corpus totals are 1-row aggregates of the
    same dictionary (ReuseExchange makes all four consumers share the
    single shuffle), and the final top-K is TakeOrderedAndProject
    (per-partition heaps, never a global sort of the pair dictionary).
    PMI is computed as a product of three ratios — never a bigint
    triple product — so the arithmetic cannot overflow at corpus scale
    and is bit-identical across engines; ranking orders by the ROUNDED
    pmi with (w1, w2) tie-break so the cut is engine-stable."""
    docs = t(spark, sf_dir, "documents")

    def _build_pair_dict() -> DataFrame:
        return (
            docs.select(F.split("text", " ").alias("w"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(w)),"
                        " i -> struct(element_at(w, i) AS w1,"
                        "   CASE WHEN i < size(w) THEN element_at(w, i + 1)"
                        "        END AS w2))"
                    )
                ).alias("g")
            )
            .select("g.w1", "g.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c_xy"))
        )

    # cache the pair dictionary: five consumers (uni, a, b, both totals,
    # big) would each re-expand the corpus otherwise — ReuseExchange
    # only collapsed one of the duplicate subtrees in the AQE plan. The
    # cached table is pair-dictionary-bounded (vocabulary^2 worst case,
    # Zipf-small in practice), never corpus-sized.
    grouped = cache_once(
        spark, ("pmi_pair_dict", sf_dir), _build_pair_dict
    )
    uni = grouped.groupBy("w1").agg(F.sum("c_xy").alias("c"))
    n_tok = uni.agg(F.sum("c").cast("bigint").alias("n"))
    pairs_only = grouped.filter(F.col("w2").isNotNull())
    n_pair = pairs_only.agg(F.sum("c_xy").cast("bigint").alias("np"))
    big = pairs_only.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    a = uni.select(F.col("w1"), F.col("c").alias("c_a"))
    b = uni.select(F.col("w1").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        big.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") * 1.0 / F.col("np"))
                    * (F.col("n") * 1.0 / F.col("c_a"))
                    * (F.col("n") * 1.0 / F.col("c_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(_PMI_TOPK)


@query(
    "text_js_divergence",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    c AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared_terms,
               sum(a.c * 1.0 / ta.n) AS sh_p,
               sum(b.c * 1.0 / tb.n) AS sh_q,
               sum((a.c * 1.0 / ta.n)
                   * ln(2.0 * (a.c * 1.0 / ta.n)
                        / (a.c * 1.0 / ta.n + b.c * 1.0 / tb.n))
                 + (b.c * 1.0 / tb.n)
                   * ln(2.0 * (b.c * 1.0 / tb.n)
                        / (a.c * 1.0 / ta.n + b.c * 1.0 / tb.n))) AS core
        FROM c a
        JOIN c b ON a.term = b.term AND a.source < b.source
        JOIN tot ta ON a.source = ta.source
        JOIN tot tb ON b.source = tb.source
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT x.source AS source_a, y.source AS source_b
        FROM tot x JOIN tot y ON x.source < y.source
    )
    SELECT p.source_a, p.source_b,
           coalesce(n_shared_terms, 0) AS n_shared_terms,
           round(0.5 * coalesce(core, 0.0)
                 + 0.5 * (2.0 - coalesce(sh_p, 0.0) - coalesce(sh_q, 0.0))
                       * ln(2.0), 4) AS jsd
    FROM pairs p
    LEFT JOIN shared s
           ON p.source_a = s.source_a AND p.source_b = s.source_b
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the domain-shift / corpus-mixture distance
    (the statistic behind "how different is crawl batch B from A",
    DSIR's KL cousin; bounded [0, ln 2], symmetric, defined without
    smoothing). ALL source pairs are reported — a fully-disjoint pair
    (jsd exactly ln 2) comes from the zero-filled tails, not the inner
    join (see the in-code comment).

    The union-vocabulary sum is decomposed so only SHARED terms are
    joined: a term present in one source only contributes p*ln(2p/p) =
    p*ln2, and those tails telescope to (1 - sum_shared p) * ln2 — so
    the full-outer join over the vocabulary union (with zero-fill rows
    shuffling for every pair) is replaced by an inner equi-join on the
    term dictionary plus per-source totals. Scale shape: ONE corpus
    scan collapses to the (source, term) count table; the pair
    enumeration is that vocabulary-bounded table self-joined on term
    (every pair of sources sharing the term meets in one term-keyed
    shuffle — domains^2 pair rows per term, never corpus rows), with
    the |sources|-row totals broadcast on both sides. All-float sums
    are order-wobble only, far under the 4dp round."""
    docs = t(spark, sf_dir, "documents")
    # the (source, term) count dictionary feeds the a-side, the b-side
    # AND (via tot) both broadcast totals and the pair enumeration —
    # uncached, Catalyst expanded the DAG into ~6 evaluations of the
    # full corpus scan + token-explode shuffle (the t-digest
    # double-evaluation class, VERDICT r16 item 6). Cached once, the
    # corpus is scanned once; the cached rows are vocabulary-bounded
    # (|sources| x |terms|), the same dictionary text_collocation_pmi
    # already caches.
    c = cache_once(
        spark,
        ("jsd_term_counts", sf_dir),
        lambda: (
            docs.select(
                "source", F.explode(F.split("text", " ")).alias("term")
            )
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).alias("c"))
        ),
    )
    # |sources| rows, referenced four times (two broadcasts + the pair
    # enumeration's both sides) — cache so each reference reads the
    # tiny cached result instead of re-aggregating the dictionary
    tot = cache_once(
        spark,
        ("jsd_source_totals", sf_dir),
        lambda: c.groupBy("source").agg(
            F.sum("c").cast("bigint").alias("n")
        ),
    )
    a = c.select(
        F.col("source").alias("source_a"),
        "term",
        F.col("c").alias("ca"),
    ).join(
        F.broadcast(tot.select(F.col("source").alias("source_a"), F.col("n").alias("na"))),
        "source_a",
    )
    b = c.select(
        F.col("source").alias("source_b"),
        "term",
        F.col("c").alias("cb"),
    ).join(
        F.broadcast(tot.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))),
        "source_b",
    )
    p = F.col("ca") * 1.0 / F.col("na")
    q = F.col("cb") * 1.0 / F.col("nb")
    shared = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.sum(p).alias("sh_p"),
            F.sum(q).alias("sh_q"),
            F.sum(
                p * F.log(2.0 * p / (p + q)) + q * F.log(2.0 * q / (p + q))
            ).alias("core"),
        )
    )
    # enumerate ALL source pairs from the totals table: a fully-disjoint
    # pair never meets in the inner join, and dropping it would hide
    # exactly the most-drifted case (jsd = ln 2) the monitor exists to
    # report — the telescoped tails carry the whole value via the
    # zero-filled left join (caught by the disjoint-vocabulary boundary
    # test in tests/test_properties.py)
    pairs = (
        tot.select(F.col("source").alias("source_a"))
        .join(
            tot.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    ln2 = float(__import__("math").log(2.0))
    return (
        pairs
        .join(F.broadcast(shared), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_shared_terms", F.lit(0)).cast("bigint").alias(
                "n_shared_terms"
            ),
            F.round(
                0.5 * F.coalesce("core", F.lit(0.0))
                + 0.5
                * (
                    2.0
                    - F.coalesce("sh_p", F.lit(0.0))
                    - F.coalesce("sh_q", F.lit(0.0))
                )
                * F.lit(ln2),
                4,
            ).alias("jsd"),
        )
    )


@query(
    "text_lexical_diversity",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               len(string_split(text, ' ')) AS toks,
               len(list_distinct(string_split(text, ' '))) AS types
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                       AS n_docs,
           CAST(sum(toks) AS BIGINT)                      AS tokens,
           round(avg(types * 1.0 / toks), 4)              AS mean_ttr,
           round(avg(types * 1.0 / sqrt(toks)), 4)        AS mean_guiraud
    FROM per_doc GROUP BY source
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source: mean type-token ratio and
    mean Guiraud index (types/sqrt(tokens) — the length-corrected TTR,
    Guiraud 1954) — the vocabulary-richness screen that separates
    template/boilerplate-heavy domains (TTR near 0) from natural prose,
    complementing text_repetition's within-doc top-word gates with a
    BETWEEN-doc, per-domain view.

    Scale shape: both statistics are in-row array folds over the split
    (size + array_distinct size — no explode, no token shuffle), so the
    corpus collapses directly to |sources| rows in one map-side-combined
    aggregate. Per-doc ratios divide by toks >= 1 structurally (split
    of even an empty string is a 1-element array on both engines)."""
    docs = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    per_doc = docs.select(
        "source",
        F.size(w).alias("toks"),
        F.size(F.array_distinct(w)).alias("types"),
    )
    ttr = F.col("types") * 1.0 / F.col("toks")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens"),
        F.round(F.avg(ttr), 4).alias("mean_ttr"),
        F.round(
            F.avg(F.col("types") * 1.0 / F.sqrt(F.col("toks"))), 4
        ).alias("mean_guiraud"),
    )


# ---------------------------------------------------------------------------
# text_textrank_keywords — weighted integer TextRank over word co-occurrence
# ---------------------------------------------------------------------------

_TR_Q = 10**9  # ppb rank units
_TR_ITERS = 3
_TR_MIN_LEN = 4  # content-word proxy (deterministic stopword stand-in)

def _textrank_graph(spark: SparkSession, sf_dir: str):
    """The (outw, nodes) co-occurrence graph as persisted parquet
    artifacts — built once per corpus fingerprint into a
    content-addressed warehouse dir (util.persisted_artifact:
    crash-safe publish, cross-session reuse, superseded-fingerprint
    pruning) and scanned by every TextRank iteration. outw carries
    (src, dst, wt, wdeg) directed rows; nodes carries every kept
    content word (including isolated ones, which hold base rank)."""
    import os

    from .similarity import _table_fingerprint
    from .util import persisted_artifact

    fp = _table_fingerprint(os.path.join(sf_dir, "documents.parquet"), spark)

    def build(tmp: str) -> None:
        docs = t(spark, sf_dir, "documents")
        pairs, words = cooc_pair_rows(docs)
        _cooc_to_outw(pairs).write.mode("overwrite").parquet(f"{tmp}/outw")
        words.write.mode("overwrite").parquet(f"{tmp}/nodes")

    root = persisted_artifact(spark, "textrank_graph", sf_dir, fp, build)
    return spark.read.parquet(f"{root}/outw"), spark.read.parquet(
        f"{root}/nodes"
    )


def cooc_pair_rows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Per-corpus-slice TextRank graph partials: undirected co-occurrence
    pair counts (a < b, wt) and the distinct kept content words.

    Windows are per-document, so pair counts over doc-disjoint slices
    are ADDITIVE: sum of per-batch wt == one-shot corpus wt. That is
    the property streaming/ingest_stream.maintain_cooc_graph relies on
    — per-batch partials append as epoch partitions and the reader
    re-aggregates, bit-identical to a batch rebuild."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    ).filter(F.length("word") >= _TR_MIN_LEN)
    sw = W.partitionBy("doc_id").orderBy("pos")
    nbr = toks.select(
        "word",
        F.lead("word", 1).over(sw).alias("v1"),
        F.lead("word", 2).over(sw).alias("v2"),
    )
    cooc = nbr.filter(F.col("v1").isNotNull()).select(
        F.col("word").alias("x"), F.col("v1").alias("y")
    ).unionAll(
        nbr.filter(F.col("v2").isNotNull()).select(
            F.col("word").alias("x"), F.col("v2").alias("y")
        )
    )
    pairs = (
        cooc.filter(F.col("x") != F.col("y"))
        .groupBy(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
    )
    return pairs, toks.select("word").distinct()


def _cooc_to_outw(pairs: DataFrame) -> DataFrame:
    """(a, b, wt) undirected pair counts -> directed (src, dst, wt,
    wdeg) propagation rows."""
    sym = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "wt"
    ).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "wt")
    )
    wdegs = sym.groupBy("src").agg(F.sum("wt").cast("long").alias("wdeg"))
    return sym.join(wdegs, "src")


def _textrank_rank(outw: DataFrame, nodes: DataFrame) -> DataFrame:
    """The shared fixed-point bigint TextRank loop over prepared graph
    tables — used by both the batch operator and the maintained-index
    reader (textrank_from_index); integer arithmetic makes the two
    paths bit-identical given equal graphs."""
    wdegs = outw.select("src", "wdeg").distinct()
    r = nodes.select("word", F.lit(_TR_Q).cast("long").alias("r"))
    for _ in range(_TR_ITERS):
        insum = (
            outw.join(r, outw.src == r.word)
            .select("dst", F.expr("(r * wt) div wdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("insum"))
        )
        r = nodes.join(insum, nodes.word == insum.dst, "left").select(
            "word",
            (
                F.lit(15 * _TR_Q // 100).cast("long")
                + F.expr("(85 * coalesce(insum, 0)) div 100")
            ).alias("r"),
        )
    return (
        nodes.join(r, "word")
        .join(wdegs, nodes.word == wdegs.src, "left")
        .select(
            "word",
            F.coalesce(F.col("wdeg"), F.lit(0)).cast("long").alias("wdeg"),
            F.col("r").alias("rank_ppb"),
        )
    )


def textrank_from_index(spark: SparkSession, index_root: str) -> DataFrame:
    """TextRank over the STREAMING-MAINTAINED co-occurrence graph
    (streaming/ingest_stream.maintain_cooc_graph): epoch-partitioned
    per-batch pair partials are re-aggregated (sum of bigint partials —
    exactly the one-shot corpus counts, since windows never cross
    documents) and ranked with the shared fixed-point loop, so this
    equals text_textrank_keywords on the same accumulated corpus
    BIT-FOR-BIT (pinned in tests/test_streaming.py). The maintenance
    cost per batch is O(batch); this reader is O(|V| + |E|)."""
    partials = spark.read.parquet(f"{index_root}/pairs")
    pairs = partials.groupBy("a", "b").agg(
        F.sum("wt").cast("long").alias("wt")
    )
    nodes = spark.read.parquet(f"{index_root}/words").select("word").distinct()
    return _textrank_rank(_cooc_to_outw(pairs), nodes)


_TR_STEP = """
    p{next} AS (
        SELECT n.word,
               CAST(150000000 + (85 * COALESCE(s.insum, 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN (
            SELECT o.dst AS word,
                   CAST(sum((p.r * o.wt) // o.wdeg) AS BIGINT) AS insum
            FROM outw o JOIN p{cur} p ON o.src = p.word
            GROUP BY o.dst
        ) s USING (word)
    )"""

_TR_ORACLE_HEAD = f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, w[CAST(i AS INT)] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, len(w) + 1)) AS t(i)
        WHERE len(w[CAST(i AS INT)]) >= {_TR_MIN_LEN}
    ),
    nbr AS (
        SELECT doc_id, word,
               lead(word, 1) OVER sw AS v1,
               lead(word, 2) OVER sw AS v2
        FROM toks
        WINDOW sw AS (PARTITION BY doc_id ORDER BY pos)
    ),
    cooc AS (
        SELECT word AS x, v1 AS y FROM nbr WHERE v1 IS NOT NULL
        UNION ALL
        SELECT word AS x, v2 AS y FROM nbr WHERE v2 IS NOT NULL
    ),
    wedges AS (
        SELECT least(x, y) AS a, greatest(x, y) AS b,
               CAST(count(*) AS BIGINT) AS wt
        FROM cooc WHERE x <> y
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT a AS src, b AS dst, wt FROM wedges
        UNION ALL
        SELECT b AS src, a AS dst, wt FROM wedges
    ),
    wdegs AS (
        SELECT src, CAST(sum(wt) AS BIGINT) AS wdeg FROM sym GROUP BY src
    ),
    outw AS (
        SELECT s.src, s.dst, s.wt, d.wdeg FROM sym s JOIN wdegs d USING (src)
    ),
    nodes AS (SELECT DISTINCT word FROM toks),
    p0 AS (SELECT word, CAST({_TR_Q} AS BIGINT) AS r FROM nodes),"""

_TR_ORACLE_TAIL = """
    SELECT n.word,
           CAST(COALESCE(d.wdeg, 0) AS BIGINT) AS wdeg,
           p.r AS rank_ppb
    FROM nodes n
    JOIN p{last} p USING (word)
    LEFT JOIN wdegs d ON d.src = n.word"""

_TR_ORACLE = (
    _TR_ORACLE_HEAD
    + ",".join(
        _TR_STEP.replace("{next}", str(i + 1)).replace("{cur}", str(i))
        for i in range(_TR_ITERS)
    )
    + _TR_ORACLE_TAIL.replace("{last}", str(_TR_ITERS))
)


@query("text_textrank_keywords", oracle=_TR_ORACLE)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau 2004) over the corpus
    word co-occurrence graph: content words (>= 4 chars — a
    deterministic stopword stand-in; swap in a language-specific list
    in production) are nodes, co-occurrence within a 2-token window
    gives weighted undirected edges, and the stationary importance is
    a damped weighted PageRank — the classic unsupervised
    keyword/keyphrase extractor, here as corpus-level salient-term
    scoring next to text_tfidf (which needs a document axis) and
    text_collocation_pmi (pairs, not nodes).

    Same fixed-point bigint discipline as dedup_pagerank, extended to
    WEIGHTED propagation: each of the 3 unrolled iterations computes
    r' = 15%Q + 85% * sum_j (r_j * w_ji) div wdeg_j in pure integer
    arithmetic, so every rank is bit-exact on any host/partitioning
    and the whole iterative computation hash-oracles against the
    unrolled-CTE DuckDB twin. Overflow: r_j * w_ji needs
    total_mass * max_weight < 2^63; at larger corpora drop Q (units
    are arbitrary — the RANKING is scale-free).

    Scale shape: tokenization is one projected scan + per-doc lead()
    windows (the dedup_repeated_spans window class — never global), run
    ONCE per corpus version into a memo_once-persisted parquet graph
    artifact (the _edges_parquet discipline — without it the 3 unrolled
    iterations re-print/re-plan the whole corpus-scan subtree per
    reference); every iteration then costs O(|V| + |E|) joins over the
    VOCABULARY-bounded graph tables, never the corpus."""
    outw, nodes = _textrank_graph(spark, sf_dir)
    return _textrank_rank(outw, nodes)


# ---------------------------------------------------------------------------
# BPE tokenizer: bounded merge table + corpus encode (VERDICT r11 item 1)
# ---------------------------------------------------------------------------

_BPE_K = 16  # merges learned and applied — bounded, deterministic


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word table (w, c, s): corpus frequency and the dotted
    symbol string '.c1.c2...cn.' BPE operates on — cached once per
    (session, sf). Words are restricted to ^[a-z]+$ so every symbol is
    regex-literal-safe and the '.' separator can never collide with a
    symbol character; non-letter 'words' are excluded from the
    subword model (and from the token budgets built on it) on BOTH
    engines identically."""

    def build():
        docs = t(spark, sf_dir, "documents")
        return (
            docs.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w").rlike("^[a-z]+$"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn(
                "s", F.concat(F.lit("."), F.regexp_replace("w", "(.)", "$1."))
            )
        )

    return cache_once(spark, ("bpe_vocab", sf_dir), build)


def _bpe_merge_regex(a: str, b: str) -> tuple[str, str]:
    """Java-regex (pattern, replacement) applying merge (a, b) with
    CANONICAL greedy left-to-right non-overlapping semantics: the
    boundary separators are zero-width lookarounds, so back-to-back
    occurrences ('.a.b.a.b.') both merge — a consumed-separator plain
    replace() would skip every second one (the Sennrich reference
    implementation uses exactly this lookaround shape). Symbols are
    ^[a-z]+$ by _bpe_vocab's filter, so no quoting is needed."""
    return f"(?<=[.]){a}[.]{b}(?=[.])", a + b


def bpe_merges(
    spark: SparkSession, sf_dir: str, k: int = _BPE_K
) -> list[tuple[str, str, int]]:
    """Train a bounded BPE merge table (Sennrich et al. 2016, top-k
    merges, deterministic tie-break count DESC then pair ASC): k rounds
    of [count adjacent symbol pairs weighted by word frequency -> take
    the argmax -> apply it to every word]. memo_once-cached per
    (session, sf, k).

    Scale shape: the ENTIRE loop runs over the cached distinct-word
    table (vocabulary-bounded — the corpus collapses to (word, count)
    via one map-side-combined shuffle, exactly text_bpe_pair_stats's
    argument), so each round is one tiny aggregate + a 1-row collect;
    corpus size only affects the initial vocab build. This is how real
    BPE trainers scale too — they train on word-count dicts, never the
    token stream. Reference parity: the reference has no tokenizer at
    all (its only text handling is BigQuery STRING columns,
    terraform/main.tf:79-88); this extends SURVEY §2.2's text-analysis
    row to tokenizer-accurate budgets."""

    def train():
        vocab = _bpe_vocab(spark, sf_dir)
        merges: list[tuple[str, str, int]] = []
        cur = vocab.select("c", "s")
        for _ in range(k):
            top = (
                _bpe_pair_counts(cur)
                .orderBy(F.col("cnt").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break  # fully merged corpus: no adjacent pairs remain
            a, b, cnt = top[0]
            merges.append((a, b, int(cnt)))
            pat, rep = _bpe_merge_regex(a, b)
            cur = cur.withColumn("s", F.regexp_replace("s", pat, rep))
        return merges

    return memo_once(spark, ("bpe_merges", sf_dir, k), train)


def _bpe_pair_counts(cur: DataFrame, weight=None) -> DataFrame:
    """(a, b, cnt): adjacent-symbol pair counts over a (c, s) word
    table, weighted by word frequency c (optionally sign-flipped via
    `weight` for delta maintenance). One explode + one map-side-
    combined aggregate."""
    syms = F.split(F.expr("trim(BOTH '.' FROM s)"), "[.]")
    pairs = cur.select(
        (weight if weight is not None else F.col("c")).alias("wc"),
        F.explode(
            F.transform(
                seq1(F.size(syms) - F.lit(1)),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("a"),
                    F.element_at(syms, i + F.lit(1)).alias("b"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("wc").cast("long").alias("cnt")
    )


# Symbol-table checkpoint cadence for the delta trainer: `cur` is
# rebuilt as filter+union each round, so without truncation round j's
# plan is j-deep and carries j extra partitions — harmless at k=16,
# a driver-side planning blowup at the k~30000 production shape
# (VERDICT r13 item 2). Every _BPE_CUR_CKPT rounds the table is
# coalesced back to its ORIGINAL partition count and localCheckpointed
# (vocabulary-bounded, so materializing is cheap); plan depth and
# partition count are then bounded by the cadence, not by k.
_BPE_CUR_CKPT = 32


def bpe_merges_delta(
    spark: SparkSession,
    sf_dir: str,
    k: int = _BPE_K,
    diag: dict | None = None,
) -> list[tuple[str, str, int]]:
    """bpe_merges with INCREMENTAL pair-count maintenance — the
    production BPE-training shape (VERDICT r12 item 5): instead of
    recounting every adjacent pair of every word each round
    (k full passes over the vocabulary — fine at k=16, the wrong shape
    at k~30000), the pair-count table is built ONCE and then updated
    per round with deltas from only the words the last merge CHANGED
    (Sennrich's reference trainer and every real implementation —
    HuggingFace tokenizers, SentencePiece BPE — maintain pair counts
    exactly this way; only pairs adjacent to a replaced occurrence can
    change).

    Per round: (1) argmax over the maintained pair-count table
    (vocabulary-bounded, 1-row collect); (2) affected = words whose
    symbol string contains the merged pair (a substring filter — at
    steady state a tiny fraction of the vocabulary); (3) delta = pair
    counts of affected words AFTER the rewrite minus BEFORE (two
    explodes over affected words only, counts are exact longs so the
    subtraction is exact); (4) fold the delta into the pair table as a
    BROADCAST left join + a union of the brand-new pairs, dropping
    zeroed rows. The fold shape is the r14 fix the scale sweep forced:
    the r13 fold was `counts UNION delta -> groupBy -> localCheckpoint`
    EVERY round — a full pair-table shuffle plus a full pair-table
    materialization per round, which the 60k-word sweep fixture
    measured at 4x the cost of the naive full recount (t(1x/3x/10x) =
    13.0/24.8/63.9 s vs 7.3/8.3/16.8 s). The broadcast fold is
    map-side: the only per-round pair-table work is the argmax scan.
    Splitting the delta is sound because a merge creating symbol X can
    only ADD pairs that involve X (adjacency between symbols not
    touching the replacement site is unchanged, and pre-rewrite
    affected words cannot contain X), so rows not involving X adjust
    EXISTING counts (broadcast left join) and rows involving X are
    brand-new (union). If X's string collides with an
    already-existing symbol (no corpus we can construct produces this
    under canonical greedy BPE — an earlier merge always consumes the
    adjacency a colliding later merge would need — but the guard is
    one set lookup), the round falls back to the r13 shuffle fold,
    which needs no such invariant.

    Lineage: the pair table localCheckpoints EVERY round (a
    block-manager memory materialization, not a disk write — and the
    truncation is load-bearing: a lazily-chained fold re-analyzes and
    re-executes the whole chain at each argmax, measured doubling
    per-round time from round ~12 even with persist()); each round's
    delta is eagerly checkpointed too (affected-slice-sized). The
    symbol table checkpoints every _BPE_CUR_CKPT rounds, and both
    tables coalesce back to the original partition count on that
    cadence (VERDICT r13 item 2) — plan depth and partition count stay
    bounded at any k (pinned at k=128 in tests/test_llm_prep.py).

    MUST be bit-identical to bpe_merges — same counts, same
    count-DESC/pair-ASC tie-break, same canonical non-overlapping
    merge application — which the registered query
    text_bpe_merge_table_delta certifies against the SAME re-training
    DuckDB oracle as text_bpe_merge_table (hash parity), and
    tests/test_llm_prep.py pins list-equality against bpe_merges."""

    def train():
        vocab = _bpe_vocab(spark, sf_dir)
        merges: list[tuple[str, str, int]] = []
        cur = vocab.select("c", "s")
        base_parts = cur.rdd.getNumPartitions()
        counts = _bpe_pair_counts(cur).localCheckpoint()
        # driver-side symbol registry (alphabet + one entry per merge,
        # so |registry| = |alphabet| + k — driver-sized at any corpus):
        # lets each round PROVE its new pairs are new, making the fold
        # a broadcast map-side join instead of a pair-table shuffle
        symbols = {
            r[0]
            for r in cur.select(
                F.explode(
                    F.split(F.expr("trim(BOTH '.' FROM s)"), "[.]")
                ).alias("sym")
            )
            .distinct()
            .collect()
        }
        for rnd in range(k):
            top = (
                counts.orderBy(F.col("cnt").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, cnt = top[0]
            if cnt <= 0:
                break
            merges.append((a, b, int(cnt)))
            pat, rep = _bpe_merge_regex(a, b)
            merged = a + b
            # coalesce(1) is load-bearing: affected is small by
            # definition (only words containing the merged pair), and
            # without it the round-j union below inherits round j-1's
            # partition count on BOTH sides — partition counts then
            # DOUBLE per round (2^k empty tasks by round k)
            affected = (
                cur.filter(F.col("s").contains(f".{a}.{b}."))
                .coalesce(1)
                .localCheckpoint()
            )
            rewritten = affected.withColumn(
                "s", F.regexp_replace("s", pat, rep)
            )
            # net per-pair adjustment. The repartition un-does
            # affected's coalesce(1) BEFORE the explode (early-round
            # affected slices can be a large vocabulary fraction, and a
            # single-partition explode+partial-agg serializes the
            # round's heaviest work onto one core); the checkpoint
            # materializes the slice-sized result once so its TWO
            # consumers below (upd, new) never recompute the explodes.
            aff_d = affected.repartition(base_parts).select("c", "s")
            delta = (
                _bpe_pair_counts(aff_d, weight=-F.col("c"))
                .unionByName(
                    _bpe_pair_counts(
                        aff_d.withColumn(
                            "s", F.regexp_replace("s", pat, rep)
                        )
                    )
                )
                .groupBy("a", "b")
                .agg(F.sum("cnt").cast("long").alias("d"))
                .filter(F.col("d") != 0)
                .coalesce(1)
                .localCheckpoint()
            )
            if merged in symbols:
                # string-aliasing round (see docstring): fall back to
                # the shuffle fold, which never assumes newness
                counts = (
                    counts.unionByName(
                        delta.select("a", "b", F.col("d").alias("cnt"))
                    )
                    .groupBy("a", "b")
                    .agg(F.sum("cnt").cast("long").alias("cnt"))
                    .filter(F.col("cnt") > 0)
                    .localCheckpoint()
                )
            else:
                is_new = (F.col("a") == merged) | (F.col("b") == merged)
                upd = delta.filter(~is_new)
                new = delta.filter(is_new).select(
                    "a", "b", F.col("d").cast("long").alias("cnt")
                )
                # localCheckpoint is a MEMORY materialization (reliable
                # =false -> block-manager storage, no disk write) that
                # truncates lineage — without it each round's argmax
                # re-analyzes and re-executes the whole fold chain
                # (measured: per-round time DOUBLED from round ~12 even
                # with the chain persist()ed)
                counts = (
                    counts.join(F.broadcast(upd), ["a", "b"], "left")
                    .select(
                        "a",
                        "b",
                        (F.col("cnt") + F.coalesce(F.col("d"), F.lit(0)))
                        .cast("long")
                        .alias("cnt"),
                    )
                    .filter(F.col("cnt") > 0)
                    .unionByName(new)
                    .localCheckpoint()
                )
            symbols.add(merged)
            # only the affected rows are rewritten; unaffected rows
            # pass through untouched (no k-deep regexp chain on them)
            cur = cur.filter(
                ~F.col("s").contains(f".{a}.{b}.")
            ).unionByName(rewritten)
            # bound BOTH tables' lineage/partition growth to the
            # checkpoint cadence (see _BPE_CUR_CKPT): each round adds
            # one filter+union (cur) / one broadcast-join+union
            # (counts) plan level and one partition; truncate before
            # they compound at production k
            if (rnd + 1) % _BPE_CUR_CKPT == 0:
                cur = cur.coalesce(base_parts).localCheckpoint()
                counts = counts.coalesce(base_parts).localCheckpoint()
        if diag is not None:
            diag["base_partitions"] = base_parts
            diag["rounds"] = len(merges)
            diag["cur_partitions"] = cur.rdd.getNumPartitions()
            diag["cur_plan_lines"] = len(
                cur._jdf.queryExecution().optimizedPlan().toString().splitlines()
            )
            diag["counts_partitions"] = counts.rdd.getNumPartitions()
            diag["counts_plan_lines"] = len(
                counts._jdf.queryExecution()
                .optimizedPlan()
                .toString()
                .splitlines()
            )
        return merges

    return memo_once(spark, ("bpe_merges_delta", sf_dir, k), train)


# Trainer crossover, measured (r14 k-sweep on the 60k-word fixture,
# SCALE.md "BPE trainer shape"): below ~256 merges the naive trainer
# wins — delta's per-round argmax + broadcast fold overhead dominates
# while the vocabulary recount is still cheap (naive e=1.45 only
# EMERGES at larger k; at k<=128 its absolute time was below delta's).
# Above it the delta trainer wins and the gap grows with k (delta
# e=0.95 linear vs the naive quadratic regexp chain). The dispatch
# encodes that rule so a caller at the k~30000 production shape cannot
# accidentally pick the trainer that goes quadratic, and a k=16 fixture
# query doesn't pay delta's constant factor.
_BPE_DELTA_CROSSOVER_K = 256


def train_bpe(
    spark: SparkSession, sf_dir: str, k: int = _BPE_K
) -> list[tuple[str, str, int]]:
    """BPE merge-table trainer with the shape picked BY k (VERDICT r14
    item 7): naive full-recount below _BPE_DELTA_CROSSOVER_K merges,
    incremental pair-count maintenance at or above it. Both trainers
    are bit-identical in output (pinned in tests/test_llm_prep.py), so
    the dispatch is purely a cost rule — callers get the measured-fast
    shape at every k without knowing the crossover."""
    if k < _BPE_DELTA_CROSSOVER_K:
        return bpe_merges(spark, sf_dir, k)
    return bpe_merges_delta(spark, sf_dir, k)


def bpe_word_tokens(
    spark: SparkSession, sf_dir: str, k: int = _BPE_K
) -> DataFrame:
    """(w, n_tokens): per distinct word, its BPE token count after the
    learned merges — the k merges applied as a chain of k LITERAL
    regexp_replace expressions (one codegen'd projection over the
    vocabulary table, no UDF, no shuffle)."""
    merges = bpe_merges(spark, sf_dir, k)
    s = F.col("s")
    for a, b, _ in merges:
        pat, rep = _bpe_merge_regex(a, b)
        s = F.regexp_replace(s, pat, rep)
    enc = _bpe_vocab(spark, sf_dir).select("w", s.alias("s"))
    return enc.select(
        "w",
        F.size(F.split(F.expr("trim(BOTH '.' FROM s)"), "[.]"))
        .cast("long")
        .alias("n_tokens"),
    )


def bpe_doc_tokens(
    spark: SparkSession, sf_dir: str, k: int = _BPE_K
) -> DataFrame:
    """(doc_id, source, n_words, bpe_tokens) per document: the token
    stream joins the vocabulary-bounded word-token table and sums per
    doc. Docs with zero [a-z]+ words drop out (no subword content to
    budget). Two shuffles: the hash join on w (vocab side is
    vocabulary-bounded but NOT assumed broadcastable at web scale — AQE
    upgrades it to broadcast when it is) and the per-doc aggregate."""
    wt = bpe_word_tokens(spark, sf_dir, k)
    docs = t(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    return (
        dw.join(wt, "w")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("bpe_tokens"),
        )
    )


def bpe_oracle_chain(k: int = _BPE_K) -> str:
    """DuckDB CTE chain recomputing the ENTIRE BPE training + encode
    independently (no learned literals smuggled in): k unrolled rounds
    of pair-count -> argmax -> merge-apply, ending in `wt(w, n_tokens)`.
    The merge application is a recursive CTE splicing out the LEFTMOST
    occurrence until none remains — iterated leftmost single-replace IS
    canonical greedy non-overlap (a new occurrence can never appear
    earlier than the spliced one, since the merged symbol differs from
    both halves), matching the Spark side's zero-width-lookaround
    regexp. Callers prepend 'WITH RECURSIVE'. Same unrolled-iteration
    discipline as text_textrank's oracle."""
    ctes = [
        "w0 AS MATERIALIZED (SELECT w, '.' || array_to_string(string_split(w, ''), '.')"
        " || '.' AS s, c"
        " FROM (SELECT w, CAST(count(*) AS BIGINT) AS c FROM"
        " (SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
        " WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w))"
    ]
    for j in range(1, k + 1):
        p = j - 1
        ctes.append(
            f"p{j} AS MATERIALIZED (SELECT syms[CAST(i AS INT)] AS a,"
            f" syms[CAST(i+1 AS INT)] AS b, CAST(sum(c) AS BIGINT) AS cnt"
            f" FROM (SELECT string_split(trim(s, '.'), '.') AS syms, c"
            f" FROM w{p}) t, UNNEST(range(1, len(syms))) AS r(i)"
            f" GROUP BY 1, 2)"
        )
        ctes.append(
            f"m{j} AS MATERIALIZED (SELECT a, b, cnt, '.' || a || '.' || b || '.' AS pat,"
            f" '.' || a || b || '.' AS rep FROM p{j}"
            f" ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"r{j} AS (SELECT w, s, c FROM w{p}"
            f" UNION ALL"
            f" SELECT w, substring(s, 1, strpos(s, (SELECT pat FROM m{j})) - 1)"
            f" || (SELECT rep FROM m{j})"
            f" || substring(s, strpos(s, (SELECT pat FROM m{j}))"
            f" + length((SELECT pat FROM m{j}))), c"
            f" FROM r{j} WHERE (SELECT pat FROM m{j}) IS NOT NULL"
            f" AND strpos(s, (SELECT pat FROM m{j})) > 0)"
        )
        ctes.append(
            f"w{j} AS MATERIALIZED (SELECT w, s, c FROM r{j}"
            f" WHERE (SELECT pat FROM m{j}) IS NULL"
            f" OR strpos(s, (SELECT pat FROM m{j})) = 0)"
        )
    ctes.append(
        f"wt AS MATERIALIZED (SELECT w, CAST(len(string_split(trim(s, '.'), '.'))"
        f" AS BIGINT) AS n_tokens FROM w{k})"
    )
    return ",\n".join(ctes)


BPE_DOC_TOKENS_SQL = (
    "dt AS (SELECT d.doc_id, d.source, CAST(count(*) AS BIGINT) AS n_words,"
    " CAST(sum(wt.n_tokens) AS BIGINT) AS bpe_tokens"
    " FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w"
    " FROM documents) d"
    " JOIN wt ON d.w = wt.w GROUP BY d.doc_id, d.source)"
)


_BPE_MERGE_ORACLE = (
    "WITH RECURSIVE\n"
    + bpe_oracle_chain()
    + "\n"
    + " UNION ALL ".join(
        f"SELECT CAST({j} AS BIGINT) AS rk, a || ' ' || b AS pair,"
        f" a || b AS merged, cnt AS pair_count FROM m{j}"
        for j in range(1, _BPE_K + 1)
    )
)


@query("text_bpe_merge_table", oracle=_BPE_MERGE_ORACLE)
def text_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table itself: rank, pair 'a b', merged
    symbol, and the weighted pair count at selection time. The oracle
    RE-TRAINS the tokenizer in DuckDB (16 unrolled rounds, recursive-CTE
    merge application) — a hash match certifies the whole training loop:
    pair counting, the count-DESC/pair-ASC tie-break, and canonical
    non-overlapping merge application, round by round."""
    merges = bpe_merges(spark, sf_dir)
    rows = [
        (j + 1, f"{a} {b}", a + b, cnt) for j, (a, b, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rk long, pair string, merged string, pair_count long"
    )


@query("text_bpe_merge_table_delta", oracle=_BPE_MERGE_ORACLE)
def text_bpe_merge_table_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge table learned by the INCREMENTAL-pair-maintenance
    trainer (bpe_merges_delta — the k~30000 production shape, VERDICT
    r12 item 5), certified against the SAME re-training DuckDB oracle
    as text_bpe_merge_table: a hash match proves the delta-maintained
    pair counts select bit-identical merges, round by round, to a full
    recount — the invariant every real BPE trainer relies on."""
    merges = bpe_merges_delta(spark, sf_dir)
    rows = [
        (j + 1, f"{a} {b}", a + b, cnt) for j, (a, b, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rk long, pair string, merged string, pair_count long"
    )


_BPE_ENCODE_ORACLE = (
    "WITH RECURSIVE\n"
    + bpe_oracle_chain()
    + ",\n"
    + BPE_DOC_TOKENS_SQL
    + "\nSELECT doc_id, n_words, bpe_tokens FROM dt"
)


@query("text_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-accurate token counts per document (VERDICT r11 item 1:
    training pipelines budget in BPE tokens, not chars/4): per-doc word
    count and BPE token count under the 16-merge table learned from this
    corpus. pack_token_bins_bpe / sample_mixture_plan_bpe consume this
    to make packing and mixture budgets real.

    Scale shape: training and per-WORD encoding are vocabulary-bounded
    (bpe_merges/bpe_word_tokens); the only corpus-sized work is one
    projected scan exploding the token stream + a hash join to the word
    table + the per-doc aggregate."""
    return bpe_doc_tokens(spark, sf_dir).select(
        "doc_id", "n_words", "bpe_tokens"
    )
