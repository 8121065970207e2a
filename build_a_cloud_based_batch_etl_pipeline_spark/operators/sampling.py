"""Dataset sampling & packing for training-data pipelines (north-star
extensions over `documents`):

- sample_hash_split   deterministic md5-bucket train/valid/test split (oracled)
- pack_token_bins     sequential token-budget bin packing               (oracled)
- sample_stratified   seeded per-stratum Bernoulli sampling           (rows-only)

Scale notes: the hash split is a pure projection — reproducible on any
cluster size, no RNG state, no shuffle; re-running on a grown corpus
keeps every previously-assigned document in the same split (the property
that makes eval sets stable across crawls). Bin packing is one window
cumsum per source partition — one shuffle on the partition key. The
Bernoulli sampler is seeded sampleBy: per-stratum fractions with no
shuffle at all (filter-shaped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..queries import query
from .util import seq1, spread_small_input, t

# md5-hex prefix thresholds: first byte < 0x0d -> ~5.1% valid,
# < 0x1a -> next ~5.1% test, rest train.
_VALID_LT = "0d"
_TEST_LT = "1a"


def _split_bucket(col: str = "doc_id"):
    """First md5-hex byte of the key — THE bucket expression behind the
    train/valid/test membership contract. Single definition so the
    split, the training-prep pipeline, and the decontamination sweep can
    never disagree about what 'eval' means."""
    return F.substring(F.md5(F.col(col).cast("string")), 1, 2)


def _split_label(col: str = "doc_id"):
    """Bucket -> split name ('valid' | 'test' | 'train')."""
    b = _split_bucket(col)
    return (
        F.when(b < _VALID_LT, "valid").when(b < _TEST_LT, "test").otherwise("train")
    )


@query(
    "sample_hash_split",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VALID_LT}'
                    THEN 'valid'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TEST_LT}'
                    THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split by md5 bucket of the document
    id — the reproducible-split pattern for training pipelines (no RNG,
    stable under corpus growth, identical on any engine). Emits per-split
    doc counts + char mass."""
    docs = t(spark, sf_dir, "documents")
    assigned = docs.select("doc_id", "n_chars", _split_label().alias("split"))
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


_BIN_CAPACITY = 8192  # tokens per training chunk


@query(
    "pack_token_bins",
    oracle=f"""
    WITH est AS (
        SELECT doc_id, source,
               CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, source, est_tokens,
               CAST(floor(coalesce(sum(est_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {_BIN_CAPACITY}.0) AS BIGINT) AS bin
        FROM est
    )
    SELECT source, bin,
           count(*)                         AS n_docs,
           CAST(sum(est_tokens) AS BIGINT)  AS bin_tokens
    FROM packed
    GROUP BY source, bin
    """,
)
def pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: assign documents (in stable doc_id order,
    per source) to sequential ~8k-token training chunks via a window
    cumsum — the deterministic packing step before writing training
    shards. Next-fit semantics: a doc is placed by the cumsum BEFORE it
    (floor(prev_cumsum / capacity)), so a boundary-straddling doc stays
    in the bin it started filling (that bin then exceeds capacity by up
    to one doc), and a doc larger than the capacity can skip bin ids.
    One shuffle on source, linear per partition."""
    docs = t(spark, sf_dir, "documents")
    est = docs.select(
        "doc_id", "source", F.ceil(F.col("n_chars") / 4.0).alias("est_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = est.select(
        "source",
        "est_tokens",
        F.floor(
            F.coalesce(F.sum("est_tokens").over(w), F.lit(0)) / float(_BIN_CAPACITY)
        ).alias("bin"),
    )
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("est_tokens").alias("bin_tokens")
    )


STRATA_FRACTIONS = {"en": 0.2, "fr": 0.5, "de": 0.5}

# Per-stratum md5-threshold (4 hex chars = 16 bits): keep a row when the
# salted hash prefix sorts below round(frac * 2^16) rendered as 4-digit
# lowercase hex — lexicographic compare on fixed-width lowercase hex IS
# the numeric compare, in both engines.


def _strata_hex_lt(frac: float) -> str | None:
    """Keep-threshold for one stratum, or None meaning keep-all.

    frac >= 1.0 cannot be a strict-< hex threshold: unclamped,
    round(frac * 65536) renders FIVE chars ('10000'), every 4-char
    prefix exceeds it lexicographically, and the stratum silently
    samples ~0 rows instead of all (ADVICE r3). It is special-cased to
    keep-all; sub-1.0 fractions clamp to 'ffff' (a frac within
    1/65536 of 1.0 keeps 65535/65536 of rows — the resolution floor of
    a 16-bit threshold)."""
    if frac >= 1.0:
        return None
    return format(min(round(frac * 65536), 65535), "04x")


_STRATA_HEX_LT = {
    lang: _strata_hex_lt(frac) for lang, frac in STRATA_FRACTIONS.items()
}


@query(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE CASE lang
          {" ".join(
              f"WHEN '{lang}' THEN "
              + (
                  "TRUE"
                  if lt is None
                  else f"substring(md5('{lang}:' || CAST(doc_id AS VARCHAR)), 1, 4) < '{lt}'"
              )
              for lang, lt in _STRATA_HEX_LT.items()
          )}
          ELSE FALSE END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) Bernoulli sample by deterministic salted
    md5 threshold: keep a doc when md5('<lang>:<doc_id>')'s 16-bit prefix
    falls below round(frac * 2^16). Engine- and version-independent (a
    Spark-internal `sampleBy` seed is not reproducible outside Spark, and
    not even across repartitionings WITHIN Spark), stable under corpus
    growth — membership depends only on the row's own key — and
    SQL-oracled. The salt keys the draw per-stratum so a doc's fate in
    one language's sample says nothing about any other stratum, and
    stays independent of the md5(doc_id) train/valid/test split hash.
    Unlisted strata default to fraction 0."""
    docs = t(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat_ws(":", F.col("lang"), F.col("doc_id").cast("string"))),
        1,
        4,
    )
    keep = F.lit(False)
    for lang, lt in _STRATA_HEX_LT.items():
        cond = F.lit(True) if lt is None else (h < F.lit(lt))
        keep = F.when(F.col("lang") == lang, cond).otherwise(keep)
    return docs.filter(keep).select("doc_id", "lang", "source")


@query(
    "pipeline_training_prep",
    oracle=f"""
    WITH quality AS (
        SELECT doc_id, text, n_chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS words,
               len(list_distinct(string_split(text, ' ')))       AS uniq_words
        FROM documents
    ),
    kept AS (
        SELECT doc_id, text, n_chars FROM quality
        WHERE words BETWEEN 20 AND 1000 AND uniq_words * 1.0 / words > 0.3
    ),
    canonical AS (
        SELECT md5(text) AS h, min(doc_id) AS doc_id, min(n_chars) AS n_chars
        FROM kept GROUP BY md5(text)
    ),
    split_assigned AS (
        SELECT doc_id, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VALID_LT}'
                    THEN 'valid'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TEST_LT}'
                    THEN 'test'
                    ELSE 'train' END AS split
        FROM canonical
    )
    SELECT split,
           count(*)                                         AS n_docs,
           CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
                                                            AS est_tokens
    FROM split_assigned GROUP BY split
    """,
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pipeline, end to end in one plan:
    quality gate (word count + lexical diversity) -> exact dedup (keep
    lowest doc_id per content hash) -> deterministic hash split ->
    per-split document/token inventory. Each stage is the already-proven
    operator; composing them stays a single Catalyst plan, so column
    pruning drops `text` right after the hash is computed and the only
    shuffles are the dedup groupBy and the final 3-group aggregate."""
    docs = t(spark, sf_dir, "documents")
    words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + F.lit(1)
    )
    uniq = F.size(F.array_distinct(F.split("text", " ")))
    kept = docs.filter(words.between(20, 1000) & (uniq * 1.0 / words > 0.3))
    canonical = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.min("n_chars").alias("n_chars")
    )
    assigned = canonical.select("n_chars", _split_label().alias("split"))
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.ceil(F.col("n_chars") / 4.0)).alias("est_tokens"),
    )


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH splits AS (
        SELECT doc_id, text,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VALID_LT}' AS is_eval
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_eval,
               w[CAST(i AS INT)]     || ' ' || w[CAST(i AS INT) + 1] || ' ' ||
               w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3] || ' ' ||
               w[CAST(i AS INT) + 4] AS g
        FROM (SELECT doc_id, is_eval, string_split(text, ' ') AS w FROM splits),
             UNNEST(range(1, len(w) - 3)) AS t(i)
    ),
    dg AS (SELECT DISTINCT doc_id, is_eval, g FROM grams)
    SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
           count(*) AS shared_5grams
    FROM dg tr JOIN dg ev ON tr.g = ev.g
    WHERE NOT tr.is_eval AND ev.is_eval
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing >= 3 distinct
    word-5-grams with any held-out (eval-split) document — the standard
    n-gram-overlap contamination sweep run before training on a crawl.
    The eval set is the deterministic hash split's 'valid' bucket, so the
    check needs no side input.

    Scale shape: per-doc gram dedup is array_distinct INSIDE the row —
    (doc, gram) uniqueness never crosses documents, so no distinct
    shuffle exists anywhere in the plan — and grams travel as xxhash64
    int64s built from per-word hashes (each word hashed ONCE, then 5
    word-hashes re-hashed per gram: no 5-way string concat per
    position), so the one real shuffle (the train x eval gram
    equi-join) moves 8-byte keys instead of 5-word strings. (Hash
    collisions across ~1e6 distinct grams: P ~ 1e-7 of ONE collision
    anywhere — far below the >=3-shared-grams decision margin.) Like
    the dedup shingle join, the 100 TB path pre-filters candidates with
    MinHash bands before the exact overlap count; the eval side is tiny
    (the split fraction) and broadcasts under AQE. A single-file fixture
    is spread across cores first (gram hashing, the dominant cost, would
    otherwise serialize onto one task); an already-split input at real
    scale skips the shuffle entirely (util.spread_small_input)."""
    docs = spread_small_input(t(spark, sf_dir, "documents"), "doc_id")
    is_eval = _split_bucket() < _VALID_LT
    dg = five_gram_rows(docs.select("doc_id", "text", is_eval.alias("is_eval")))
    train = dg.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc"), "gh"
    )
    ev = dg.filter(F.col("is_eval")).select(F.col("doc_id").alias("eval_doc"), "gh")
    return (
        train.join(ev, "gh")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("shared_5grams"))
        .filter(F.col("shared_5grams") >= 3)
    )


def five_gram_rows(docs: DataFrame) -> DataFrame:
    """One row per (doc, DISTINCT word-5-gram xxhash64): the
    decontamination unit, shared by the one-shot sweep above, the
    persisted eval-gram index (build_eval_gram_index /
    maintain_eval_gram_index), and decontaminate_against_index — one
    gram definition everywhere. Dedup is array_distinct INSIDE the row
    (no distinct shuffle); extra columns on `docs` pass through."""
    w = F.split("text", " ")
    wh = F.transform(w, lambda x: F.xxhash64(x))
    idx = seq1(F.size(w) - 4)  # empty (not [1,0]!) for docs under 5 words
    grams = F.array_distinct(
        F.transform(
            idx, lambda i: F.xxhash64(*[F.element_at(wh, i + j) for j in range(5)])
        )
    )
    passthrough = [c for c in docs.columns if c != "text"]
    return docs.select(*passthrough, F.explode(grams).alias("gh"))


_CAP_PER_GROUP = 50


@query(
    "sample_cap_per_group",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ) ranked WHERE rn <= {_CAP_PER_GROUP}
    """,
)
def sample_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: cap each language at K
    documents, chosen by rank over the md5 of the id — random-looking,
    engine-independent, and stable across reruns and corpus growth for
    the retained set's ordering (the rebalancing step that stops one
    dominant language from swamping a multilingual corpus). One window
    per stratum; strata grow with data, partitions stay bounded."""
    docs = t(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CAP_PER_GROUP)
        .select("doc_id", "lang")
    )


_MIX_ALPHA = 0.3  # temperature exponent (alpha < 1 upweights small sources)


@query(
    "sample_domain_mix",
    oracle="""
    WITH per AS (
        SELECT source,
               count(*)                     AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
               CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
                                            AS est_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(est_tokens) AS BIGINT) AS corpus_tokens FROM per)
    SELECT source, n_docs, n_chars_total, est_tokens,
           round(est_tokens * 1.0 / corpus_tokens, 6) AS token_share
    FROM per, tot
    """,
)
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture inventory: per-source document/char/token mass and
    token share of the corpus — the report every data-mixing decision
    starts from. One keyed aggregate; the corpus total is a 1-row
    aggregate joined back by broadcast crossJoin (scalar-threshold
    pattern, no driver collect)."""
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
        F.sum(F.ceil(F.col("n_chars") / 4.0)).alias("est_tokens"),
    )
    tot = per.agg(F.sum("est_tokens").alias("corpus_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars_total",
        "est_tokens",
        F.round(F.col("est_tokens") * 1.0 / F.col("corpus_tokens"), 6).alias(
            "token_share"
        ),
    )


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
                   AS est_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(est_tokens) AS BIGINT) AS corpus_tokens FROM per),
    shares AS (
        SELECT source, est_tokens,
               est_tokens * 1.0 / corpus_tokens AS p
        FROM per, tot
    ),
    z AS (SELECT sum(power(p, {_MIX_ALPHA})) AS norm FROM shares)
    SELECT source, est_tokens,
           round(p, 6)                            AS token_share,
           round(power(p, {_MIX_ALPHA}) / norm, 6) AS mix_weight,
           round(power(p, {_MIX_ALPHA}) / norm / p, 4) AS sample_factor
    FROM shares, z
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual/multi-domain
    resampling rule, alpha = 0.3: w_i = p_i^a / sum p_j^a): small sources
    are upweighted, dominant ones tempered; sample_factor = w_i / p_i is
    the per-source repeat/subsample rate a loader applies. Two 1-row
    global aggregates (corpus total, normalizer) both join back via
    broadcast crossJoin — nothing touches the driver, shuffles carry only
    per-source rows.

    Both per-source frames are multiply-referenced (per feeds the
    corpus total AND the shares; shares feeds the normalizer AND the
    output), and Catalyst expands the DAG into a tree — uncached, the
    full documents scan ran four times per call (the t-digest
    double-evaluation class). A cached memo entry pins each to one
    evaluation; the cached rows are |sources|-bounded (a handful of
    rows at any corpus size)."""
    from .util import fixture_version, memo

    docs = t(spark, sf_dir, "documents")
    version = fixture_version(spark, sf_dir, "documents")
    per = memo(
        spark,
        ("tempmix_per_source", sf_dir),
        version,
        lambda: docs.groupBy("source")
        .agg(F.sum(F.ceil(F.col("n_chars") / 4.0)).alias("est_tokens"))
        .cache(),
    )
    tot = per.agg(F.sum("est_tokens").alias("corpus_tokens"))
    shares = memo(
        spark,
        ("tempmix_shares", sf_dir),
        version,
        lambda: per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "est_tokens",
            (F.col("est_tokens") * 1.0 / F.col("corpus_tokens")).alias("p"),
        )
        .cache(),
    )
    z = shares.agg(F.sum(F.pow("p", _MIX_ALPHA)).alias("norm"))
    w = F.pow("p", _MIX_ALPHA) / F.col("norm")
    return shares.crossJoin(F.broadcast(z)).select(
        "source",
        "est_tokens",
        F.round("p", 6).alias("token_share"),
        F.round(w, 6).alias("mix_weight"),
        F.round(w / F.col("p"), 4).alias("sample_factor"),
    )


_WTOP_N = 25  # winners kept per source
# Knuth multiplicative-hash constant; the modulus keeps the product far
# below 2^63 so the SAME arithmetic is exact in Spark and DuckDB
# (DuckDB errors on BIGINT overflow; Spark wraps silently — neither
# branch is ever taken).
_WTOP_MULT = 2654435761
_WTOP_DOM = 1000003


@query(
    "sample_weighted_topn",
    oracle=f"""
    WITH keyed AS (
        SELECT source, doc_id,
               greatest(CAST(ceil(n_chars / 4.0) AS BIGINT), 1) AS est_tokens,
               round(pow(
                   (((doc_id % {_WTOP_DOM}) * {_WTOP_MULT})
                     % 4294967296 + 0.5) / 4294967296.0,
                   1.0 / greatest(CAST(ceil(n_chars / 4.0) AS BIGINT), 1)
               ), 6) AS wkey
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, est_tokens, wkey,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY wkey DESC, doc_id
               ) AS rn
        FROM keyed
    )
    SELECT source, doc_id, est_tokens, wkey AS weight_key
    FROM ranked WHERE rn <= {_WTOP_N}
    """,
)
def sample_weighted_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling-without-replacement, Efraimidis–Spirakis form:
    each document draws key = u^(1/w) (w = estimated tokens, u = a
    seedless deterministic uniform from doc_id) and the top-N keys per
    source are the sample — longer documents win proportionally more
    often, and the draw is reproducible on any cluster size because u is
    pure arithmetic on the key, not RNG state (same property as the
    md5 train/valid/test split above; ref has no sampling surface —
    BigQuery delegation per src/load/main.py:40). The rank key is the
    6dp-ROUNDED u^(1/w): Java's Math.pow and DuckDB's libm pow are each
    <= 1 ulp but not bit-identical, so ranking on full precision could
    pick different rank-N-boundary rows engine-vs-oracle (ADVICE r3);
    after rounding, ties are broken deterministically by doc_id. w is
    floored at 1 token so an empty document (n_chars = 0) cannot produce
    a 1/0 exponent.

    Scale: key assignment is a pure projection; selection is one
    row_number window partitioned by source — a single shuffle on the
    partition key, and only rank <= N rows survive. For a top-N over
    billions of rows per source, swap the window for the two-phase
    per-partition heap (TakeOrderedAndProject shape) — at N=25 the
    window is already the plan AQE picks."""
    docs = t(spark, sf_dir, "documents")
    est = F.greatest(F.ceil(F.col("n_chars") / 4.0).cast("bigint"), F.lit(1))
    u = (
        (F.col("doc_id") % _WTOP_DOM) * _WTOP_MULT % F.lit(4294967296).cast("bigint")
        + 0.5
    ) / 4294967296.0
    keyed = docs.select(
        "source",
        "doc_id",
        est.alias("est_tokens"),
        F.round(F.pow(u, 1.0 / est), 6).alias("wkey"),
    )
    w = W.partitionBy("source").orderBy(F.col("wkey").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WTOP_N)
        .select("source", "doc_id", "est_tokens", F.col("wkey").alias("weight_key"))
    )


@query(
    "sample_balanced_classes",
    oracle="""
    WITH sizes AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    floor_n AS (SELECT min(n) AS m FROM sizes),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, lang FROM ranked, floor_n WHERE rk <= m
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: every language keeps exactly
    min-class-size documents, chosen by a deterministic salted-hash rank
    (reproducible on any cluster size, stable under reruns — same
    RNG-free discipline as the hash split). The balancing step before
    training on skewed multilingual corpora when temperature resampling
    (sample_temperature_mix) is too soft.

    Scale shape: one tiny per-class count (map-side combined, broadcast
    scalar min), one rank window per class — the same single shuffle a
    per-class top-N needs; only floor-count rows survive the rank
    filter."""
    docs = t(spark, sf_dir, "documents")
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    floor_n = sizes.agg(F.min("n").alias("m"))
    w = W.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("m"))
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Persisted eval-gram decontamination index (r6): benchmark/eval sets
# grow over time (new benchmarks land, new eval splits are cut), and a
# training pipeline decontaminates every CANDIDATE BATCH against all of
# them — re-hashing the accumulated eval corpus per batch is the same
# mistake as re-signing the dedup corpus. One append-only table,
# `{root}/grams` (eval_doc, gh), grown by atomic epoch partitions;
# query side joins candidate grams against it.
# ---------------------------------------------------------------------------


def build_eval_gram_index(
    spark: SparkSession, eval_docs: DataFrame, index_root: str,
    lineage: str = "batch", epoch_id: int = 0,
) -> None:
    """One-shot (re)build/extension of the eval-gram index from an eval
    documents frame — one atomic epoch partition; byte-compatible with
    the streaming maintainer."""
    from ..sinks import commit_epoch_partition

    rows = five_gram_rows(eval_docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("eval_doc"), "gh"
    )
    commit_epoch_partition(spark, rows, f"{index_root}/grams", lineage, epoch_id)


def purge_eval_gram_index(
    spark: SparkSession, index_root: str, keys: DataFrame,
    key: str = "eval_doc",
) -> int:
    """Right-to-be-forgotten delete against the persisted eval-gram
    index (VERDICT r15 item 1): remove every gram row whose eval_doc
    appears in `keys`, rewriting only affected epoch partitions under
    their own names (sinks.purge_epoch_partitions). A purged eval doc
    can never again flag a training doc as contaminated. Idempotent
    and crash-convergent per the primitive's contract."""
    from ..sinks import purge_epoch_partitions

    return purge_epoch_partitions(spark, f"{index_root}/grams", keys, key)


def decontaminate_against_index(
    spark: SparkSession,
    train_docs: DataFrame,
    index_root: str,
    min_shared: int = 3,
) -> DataFrame:
    """Contamination sweep of a candidate batch against the persisted
    eval-gram index: (train_doc, eval_doc, shared_5grams) for every
    pair sharing >= min_shared distinct word-5-grams — identical
    semantics to the one-shot decontaminate_ngram_overlap (same gram
    builder), but the eval corpus is neither re-read nor re-hashed.

    Scale shape: one equi-join on the 8-byte gram hash (the stored side
    is bucketed on gh at warehouse scale) + one pair-keyed count; the
    candidate batch is small by definition. Eval sets are tiny relative
    to training corpora, so the stored gram table broadcasts under AQE
    in the common case."""
    from ..sinks import purge_recover

    purge_recover(spark, f"{index_root}/grams")
    train = five_gram_rows(train_docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("train_doc"), "gh"
    )
    stored = spark.read.parquet(f"{index_root}/grams").select("eval_doc", "gh")
    return (
        train.join(stored, "gh")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("shared_5grams"))
        .filter(F.col("shared_5grams") >= min_shared)
    )


@query(
    "decontaminate_incremental",
    oracle=f"""
    WITH splits AS (
        SELECT doc_id, text,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VALID_LT}' AS is_eval
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_eval,
               w[CAST(i AS INT)]     || ' ' || w[CAST(i AS INT) + 1] || ' ' ||
               w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3] || ' ' ||
               w[CAST(i AS INT) + 4] AS g
        FROM (SELECT doc_id, is_eval, string_split(text, ' ') AS w FROM splits),
             UNNEST(range(1, len(w) - 3)) AS t(i)
    ),
    dg AS (SELECT DISTINCT doc_id, is_eval, g FROM grams)
    SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
           count(*) AS shared_5grams
    FROM dg tr JOIN dg ev ON tr.g = ev.g
    WHERE NOT tr.is_eval AND ev.is_eval
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def decontaminate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental decontamination end to end, ORACLED: the md5 split
    plays time — the eval bucket was indexed earlier
    (build_eval_gram_index into a content-fingerprint-memoized dir);
    the training bucket arrives now and sweeps against the PERSISTED
    index alone. Because the gram definition is exact (not a sketch),
    the index path must reproduce the one-shot
    decontaminate_ngram_overlap bit-for-bit — so this query runs
    against the SAME DuckDB oracle, proving the persisted-index path
    semantically identical to the in-memory sweep (the strongest check
    an index query can get; contrast dedup_incremental_index, whose
    MinHash estimate is rows-only by nature)."""

    from .util import fixture_version, persisted_artifact

    docs = spread_small_input(t(spark, sf_dir, "documents"), "doc_id")
    is_eval = _split_bucket() < _VALID_LT
    (fp,) = fixture_version(spark, sf_dir, "documents")
    root = persisted_artifact(
        spark,
        "eval_gram_index",
        sf_dir,
        fp,
        lambda tmp: build_eval_gram_index(spark, docs.filter(is_eval), tmp),
    )
    return decontaminate_against_index(spark, docs.filter(~is_eval), root)


_SHUFFLE_SHARDS = 8
_SHUFFLE_SEED = "e42"


@query(
    "sample_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS skey
        FROM documents
    )
    SELECT doc_id,
           CAST((CAST(('0x' || substring(skey, 1, 8)) AS BIGINT))
                % {_SHUFFLE_SHARDS} AS BIGINT)                    AS shard,
           CAST(row_number() OVER (
               PARTITION BY (CAST(('0x' || substring(skey, 1, 8)) AS BIGINT))
                            % {_SHUFFLE_SHARDS}
               ORDER BY skey, doc_id
           ) AS BIGINT)                                           AS pos
    FROM keyed
    """,
)
def sample_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: every document
    gets a seeded-hash shuffle key; the shard is the key's first 32 bits
    mod N, the position is the rank of the key WITHIN its shard. Reading
    the shards in (shard, pos) order replays the same pseudo-random
    permutation on every run and every engine — the reproducible-
    training-order contract (change the seed constant to reshuffle).

    Scale shape: NO global sort/window — the only shuffle is the
    N-shard hash partition, and the rank is a shard-partitioned
    window (each shard sorts ~1/N of the corpus; N scales with the
    cluster). This is how a 100 TB corpus is shuffled in practice:
    shard-local order concatenated in shard order IS the permutation."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    ).withColumn(
        "shard",
        (F.conv(F.substring("skey", 1, 8), 16, 10).cast("long") % _SHUFFLE_SHARDS),
    )
    w = W.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# Bloom pre-filter demo geometry: DELIBERATELY tiny (2 x 62-bit words)
# so the confusion matrix exhibits real false positives at fixture
# scale; production sizes m ~ 10 bits/key (fp ~ 1%). k = 4 hashes.
_BLOOM_WORDS = 2
_BLOOM_BITS = 62 * _BLOOM_WORDS
_BLOOM_K = 4

_BLOOM_ORACLE = f"""
WITH docs_fp AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VALID_LT}'
               AS is_eval
    FROM documents
),
eval_pos AS (
    SELECT DISTINCT
           ('0x' || substring(md5(i.i || ':' || fp), 1, 8))::BIGINT
               % {_BLOOM_BITS} AS pos
    FROM docs_fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
    WHERE is_eval
),
bitset AS (
    SELECT pos // 62 AS word, bit_or(1::BIGINT << (pos % 62)) AS bits
    FROM eval_pos GROUP BY pos // 62
),
eval_fps AS (SELECT DISTINCT fp FROM docs_fp WHERE is_eval),
train_probe AS (
    SELECT d.doc_id, d.fp,
           ('0x' || substring(md5(i.i || ':' || d.fp), 1, 8))::BIGINT
               % {_BLOOM_BITS} AS pos
    FROM docs_fp d CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
    WHERE NOT d.is_eval
),
probed AS (
    SELECT t.doc_id, t.fp,
           bool_and(coalesce((b.bits >> (t.pos % 62)) & 1, 0) = 1)
               AS bloom_hit
    FROM train_probe t
    LEFT JOIN bitset b ON b.word = t.pos // 62
    GROUP BY t.doc_id, t.fp
)
SELECT p.bloom_hit,
       (e.fp IS NOT NULL) AS exact_hit,
       CAST(count(*) AS BIGINT) AS n_docs
FROM probed p LEFT JOIN eval_fps e ON p.fp = e.fp
GROUP BY p.bloom_hit, (e.fp IS NOT NULL)
"""


@query("decontaminate_bloom_confusion", oracle=_BLOOM_ORACLE)
def decontaminate_bloom_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-filter, with its own proof: build
    a Bloom bitset over the eval split's normalized fingerprints
    DISTRIBUTED (explode k=4 hash positions -> bit_or per 62-bit word —
    the bitset is a 2-row table here, megabytes at production size, and
    broadcasts), probe every training doc, and emit the
    (bloom_hit, exact_hit) confusion matrix. The one-sided guarantee is
    visible in the output: the (false, true) cell — an exact duplicate
    the filter missed — must be zero ALWAYS; the (true, false) cell is
    the false-positive cost, deliberately nonzero here (demo-tiny m =
    124 bits; production sizes ~10 bits/key for ~1% fp).

    Why a pipeline wants it: the exact decontamination sweep
    (decontaminate_ngram_overlap) joins every candidate against the
    full eval index; the Bloom probe is a broadcast-only scan-side
    pre-filter that discards the overwhelming clean majority before
    that join touches them. All hashing is md5 arithmetic, so the
    whole filter — build, probe, matrix — is DuckDB-oracled.

    Scale shape: build = one explode + word-keyed bit_or (map-side
    combined, output bounded by m/62 rows); probe = k scan-side hashes
    per doc + a broadcast join to the bitset + a doc-keyed bool_and;
    matrix = constant-size aggregate."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("fp"),
        (_split_bucket() < _VALID_LT).alias("is_eval"),
    )
    ks = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("i")
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("fp"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_BITS
    )
    eval_pos = (
        docs.filter("is_eval")
        .select("fp", ks)
        .select(pos.alias("pos"))
        .distinct()
    )
    bitset = eval_pos.groupBy(
        (F.col("pos") / 62).cast("long").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(pos % 62 as int)))").alias(
            "bits"
        )
    )
    eval_fps = docs.filter("is_eval").select("fp").distinct()
    probe = (
        docs.filter(~F.col("is_eval"))
        .select("doc_id", "fp", ks)
        .select("doc_id", "fp", pos.alias("pos"))
        .withColumn("word", (F.col("pos") / 62).cast("long"))
    )
    probed = (
        probe.join(F.broadcast(bitset), "word", "left")
        .withColumn(
            "bit_set",
            F.coalesce(
                F.expr("shiftright(bits, cast(pos % 62 as int)) & 1"), F.lit(0)
            )
            == 1,
        )
        .groupBy("doc_id", "fp")
        .agg(F.bool_and("bit_set").alias("bloom_hit"))
    )
    marked = probed.join(
        F.broadcast(eval_fps.withColumn("exact_hit", F.lit(True))), "fp", "left"
    ).select(
        "bloom_hit", F.coalesce("exact_hit", F.lit(False)).alias("exact_hit")
    )
    return marked.groupBy("bloom_hit", "exact_hit").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling" — public method): score every
# raw document by how much more likely its hashed-n-gram features are under
# a TARGET distribution than under the raw-corpus distribution, then draw a
# sample proportional to those weights with deterministic Gumbel top-k.
# Feature space = the same 4096 md5-prefix buckets text_hashing_vectorizer
# uses (3 hex chars), so the whole estimator is engine-independent md5
# arithmetic and fully DuckDB-oracled. Target distribution here = the
# lang='en' subset (the fixture's stand-in for "looks like the curated
# corpus"); in production the target features come from a separate small
# high-quality corpus and the bucket tables below are computed once and
# reused.
_DSIR_BUCKETS = 4096
_DSIR_TOPK = 256
_DSIR_SEED = "dsir1:"

_DSIR_WEIGHTS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_en,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, substring(md5(term), 1, 3) AS b, count(*) AS tf,
               bool_or(is_en) AS is_en
        FROM toks GROUP BY 1, 2
    ),
    bs AS (
        SELECT b, sum(tf) AS qc,
               sum(CASE WHEN is_en THEN tf ELSE 0 END) AS pc
        FROM tf GROUP BY b
    ),
    tot AS (SELECT sum(qc) AS nq, sum(pc) AS np FROM bs),
    lr AS (
        SELECT b,
               ln((pc + 1.0) / (np + {_DSIR_BUCKETS}.0))
                 - ln((qc + 1.0) / (nq + {_DSIR_BUCKETS}.0)) AS lr
        FROM bs CROSS JOIN tot
    ),
    w AS (
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT)          AS n_feat_tokens,
               round(sum(tf * lr) / sum(tf), 4) AS avg_logratio
        FROM tf JOIN lr USING (b)
        GROUP BY doc_id
    )
"""


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared builder: per-document DSIR importance weight
    (doc_id, n_feat_tokens, avg_logratio). See sample_importance_weights
    for semantics; sample_dsir_resample reuses it for the draw.

    Both the target (p) and raw (q) bucket distributions come out of ONE
    aggregate over the reduced (doc, bucket, tf) rows — the target
    membership flag rides the tf rollup as a bool, so there is no join
    against a membership table and the token stream is exploded exactly
    once (the identical tf exchange feeds the bucket stats AND the
    per-doc rollup; Spark's ReuseExchange materializes it once)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    tf = toks.groupBy(
        "doc_id", F.substring(F.md5("term"), 1, 3).alias("b")
    ).agg(F.count(F.lit(1)).alias("tf"), F.bool_or("is_en").alias("is_en"))
    bs = tf.groupBy("b").agg(
        F.sum("tf").alias("qc"),
        F.sum(F.when(F.col("is_en"), F.col("tf")).otherwise(F.lit(0))).alias(
            "pc"
        ),
    )
    tot = bs.agg(F.sum("qc").alias("nq"), F.sum("pc").alias("np"))
    B = float(_DSIR_BUCKETS)
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("pc") + 1.0) / (F.col("np") + B))
            - F.log((F.col("qc") + 1.0) / (F.col("nq") + B))
        ).alias("lr"),
    )
    return (
        tf.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_feat_tokens"),
            F.round(
                F.sum(F.col("tf") * F.col("lr")) / F.sum("tf"), 4
            ).alias("avg_logratio"),
        )
    )


@query(
    "sample_importance_weights",
    oracle=_DSIR_WEIGHTS_SQL + "SELECT * FROM w",
)
def sample_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every document's
    length-normalized log importance ratio between a target feature
    distribution (lang='en' docs) and the raw corpus, over hashed
    unigram buckets (md5-prefix, 4096 buckets — the hashing-trick
    feature space text_hashing_vectorizer established). Both bucket
    distributions are Laplace-smoothed (+1 over B buckets); the weight
    is sum(tf_b * ln(p_b/q_b)) / sum(tf_b), rounded 4dp — a doc whose
    word buckets look target-like scores > 0, corpus-typical ~ 0,
    off-target < 0.

    Scale shape: ONE (doc, bucket) shuffle with map-side combine (the
    reduced tf rows are what everything downstream touches), two
    bucket-keyed aggregates bounded by B=4096 rows each, the log-ratio
    table broadcast back onto tf, one doc-keyed rollup. No vocabulary
    table, no driver state; the bucket tables are computed once and
    reusable across corpora in production."""
    return _dsir_weights(spark, sf_dir)


@query(
    "sample_dsir_resample",
    oracle=_DSIR_WEIGHTS_SQL + f""",
    keyed AS (
        SELECT doc_id, n_feat_tokens, avg_logratio,
               avg_logratio + round(-ln(-ln(
                   (('0x' || substring(md5('{_DSIR_SEED}'
                                           || CAST(doc_id AS VARCHAR)), 1, 8)
                    )::BIGINT + 0.5) / 4294967296.0)), 4) AS sample_key
        FROM w
    )
    SELECT doc_id, n_feat_tokens, avg_logratio, sample_key
    FROM keyed
    ORDER BY sample_key DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """,
)
def sample_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resampling draw: select documents WITH probability
    proportional to their importance weight (not a hard threshold — the
    paper's point is that sampling, not top-weight truncation, matches
    the target distribution) via the Gumbel top-k trick: key =
    log-weight + Gumbel(0,1) noise, take the k largest keys. The
    "noise" is a deterministic hash draw — u = (md5-prefix-int + 0.5) /
    2^32 in (0,1), g = -ln(-ln(u)) — so the draw is reproducible on any
    engine and any cluster size, and re-running on the same corpus
    returns the same sample (change the seed constant to redraw). Both
    addends are 4dp-rounded before the sum so the two engines compare
    identical doubles at the selection boundary; doc_id breaks ties.

    Scale shape: the weight plan (see sample_importance_weights) plus
    one scan-side key projection and a global top-k — which Spark
    executes as TakeOrderedAndProject (per-partition heaps of k rows,
    no global sort), the same shape as every top-k in the suite."""
    w = _dsir_weights(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_DSIR_SEED), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    g = F.round(-F.log(-F.log(u)), 4)
    return (
        w.select(
            "doc_id",
            "n_feat_tokens",
            "avg_logratio",
            (F.col("avg_logratio") + g).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )


# ---------------------------------------------------------------------------
# sample_mixture_plan — token-budget mixture planner
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000  # target training tokens

_MIX_ORACLE = f"""
    WITH per_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
               CAST(CAST(substr(source, 4) AS BIGINT) + 1 AS BIGINT) AS w
        FROM documents
        GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM per_src)
    SELECT source, n_docs, tokens,
           CAST((1000000 * w) // wsum AS BIGINT)  AS weight_ppm,
           CAST(({_MIX_BUDGET} * w) // wsum AS BIGINT) AS alloc_tokens,
           CAST((1000 * (({_MIX_BUDGET} * w) // wsum))
                // nullif(tokens, 0) AS BIGINT)   AS epochs_x1000
    FROM per_src, tot
"""


@query("sample_mixture_plan", oracle=_MIX_ORACLE)
def sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture token-budget planner — the allocation table every
    multi-source pretraining run starts from (the Pile / LLaMA-style
    recipe): given per-source token inventories and target mixture
    weights, how many tokens does each source contribute to a fixed
    budget, and what oversampling factor (epochs) does that imply?
    epochs_x1000 > 1000 flags sources the recipe will repeat (upweighted
    beyond their inventory); far below 1000 means heavy subsampling.
    Downstream, sample_temperature / sample_stratified realize the
    draw; this operator is the planning step that feeds them.

    Weights here are a deterministic stand-in derived from the source
    name (index + 1 — the fixtures carry no external weight table); in
    production the weights join in from a config table and everything
    else is unchanged. All arithmetic is exact bigint (token counts,
    ppm weights, allocations, and the x1000 epoch factor are integer
    divisions), so the plan is bit-identical on every engine/host.

    Scale shape: one projected corpus scan collapsing map-side to
    |sources| rows, a 1-row total broadcast back (the q11/q15 global-
    threshold shape), and constant-size output."""
    docs = t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens"),
        F.max(F.expr("CAST(substr(source, 4) AS BIGINT) + 1")).alias("w"),
    )
    tot = per_src.agg(F.sum("w").cast("long").alias("wsum"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.expr("(1000000 * w) div wsum").cast("long").alias("weight_ppm"),
            F.expr(f"({_MIX_BUDGET} * w) div wsum")
            .cast("long")
            .alias("alloc_tokens"),
            F.expr(
                f"(1000 * (({_MIX_BUDGET} * w) div wsum)) div nullif(tokens, 0)"
            )
            .cast("long")
            .alias("epochs_x1000"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer-accurate budgets (VERDICT r11 item 1): the chars/4 and
# whitespace-count stand-ins above re-based on real BPE token counts.
# ---------------------------------------------------------------------------

from .text import BPE_DOC_TOKENS_SQL, bpe_doc_tokens, bpe_oracle_chain  # noqa: E402


_BPE_PACK_ORACLE = (
    "WITH RECURSIVE\n"
    + bpe_oracle_chain()
    + ",\n"
    + BPE_DOC_TOKENS_SQL
    + f""",
packed AS (
    SELECT source, bpe_tokens AS est_tokens,
           CAST(floor(coalesce(sum(bpe_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / {_BIN_CAPACITY}.0) AS BIGINT) AS bin
    FROM dt
)
SELECT source, bin,
       count(*)                        AS n_docs,
       CAST(sum(est_tokens) AS BIGINT) AS bin_tokens
FROM packed GROUP BY source, bin"""
)


@query("pack_token_bins_bpe", oracle=_BPE_PACK_ORACLE)
def pack_token_bins_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_token_bins with TOKENIZER-ACCURATE budgets: same next-fit
    window packing (stable doc_id order per source, ~8k-token chunks,
    boundary-straddling doc stays in the bin it started), but est_tokens
    is the document's real BPE token count under the learned 16-merge
    table instead of the chars/4 estimate — what a training pipeline
    actually budgets by. Docs with zero [a-z]+ words pack nothing and
    drop out (they contribute no tokens). The oracle re-trains the
    tokenizer AND re-packs in DuckDB.

    Scale shape: bpe_doc_tokens (vocab-bounded training + one corpus
    join/agg) + the same one-shuffle window cumsum as pack_token_bins."""
    dt = bpe_doc_tokens(spark, sf_dir).select(
        "doc_id", "source", F.col("bpe_tokens").alias("est_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = dt.select(
        "source",
        "est_tokens",
        F.floor(
            F.coalesce(F.sum("est_tokens").over(w), F.lit(0))
            / float(_BIN_CAPACITY)
        ).alias("bin"),
    )
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("est_tokens").cast("long").alias("bin_tokens"),
    )


_BPE_MIX_ORACLE = (
    "WITH RECURSIVE\n"
    + bpe_oracle_chain()
    + ",\n"
    + BPE_DOC_TOKENS_SQL
    + f""",
per_src AS (
    SELECT source,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(bpe_tokens) AS BIGINT) AS tokens,
           CAST(CAST(substr(source, 4) AS BIGINT) + 1 AS BIGINT) AS w
    FROM dt GROUP BY source
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM per_src)
SELECT source, n_docs, tokens,
       CAST((1000000 * w) // wsum AS BIGINT)        AS weight_ppm,
       CAST(({_MIX_BUDGET} * w) // wsum AS BIGINT)  AS alloc_tokens,
       CAST((1000 * (({_MIX_BUDGET} * w) // wsum))
            // nullif(tokens, 0) AS BIGINT)         AS epochs_x1000
FROM per_src, tot"""
)


@query("sample_mixture_plan_bpe", oracle=_BPE_MIX_ORACLE)
def sample_mixture_plan_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_mixture_plan with TOKENIZER-ACCURATE inventories: per-source
    token mass is the sum of real BPE token counts (learned 16-merge
    table) instead of whitespace splits, so allocations and oversampling
    factors (epochs_x1000) reflect what the training run will actually
    consume. n_docs counts docs with >=1 [a-z]+ word (docs with no
    subword content hold no tokens to mix). Same exact-bigint arithmetic
    — the plan is bit-identical on every engine/host; the oracle
    re-trains the tokenizer and re-plans in DuckDB.

    Scale shape: bpe_doc_tokens + a |sources|-row aggregate + a 1-row
    broadcast total (the q11/q15 global-threshold shape)."""
    dt = bpe_doc_tokens(spark, sf_dir)
    per_src = dt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("bpe_tokens").cast("long").alias("tokens"),
        F.max(F.expr("CAST(substr(source, 4) AS BIGINT) + 1")).alias("w"),
    )
    tot = per_src.agg(F.sum("w").cast("long").alias("wsum"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.expr("(1000000 * w) div wsum").cast("long").alias("weight_ppm"),
            F.expr(f"({_MIX_BUDGET} * w) div wsum")
            .cast("long")
            .alias("alloc_tokens"),
            F.expr(
                f"(1000 * (({_MIX_BUDGET} * w) div wsum)) div nullif(tokens, 0)"
            )
            .cast("long")
            .alias("epochs_x1000"),
        )
    )
