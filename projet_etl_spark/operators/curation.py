"""Data-curation operators: scrubbing, chunking, sampling.

The remaining staples of a pretraining-data pipeline, all JVM-side
and oracle-checked:

- PII scrubbing: regex redaction of emails/URLs/long digit runs.
  Patterns are RE2-compatible (no lookaround) so the identical
  pattern runs in the oracle.
- Chunking: split documents into fixed-size token windows with
  overlap — the unit that actually feeds a trainer. One row fans out
  to ceil((n-overlap)/(size-overlap)) rows via posexplode over a
  generated offset sequence; the token array is staged once.
- Hash sampling: deterministic keep/drop by portable md5-derived
  hash — reproducible across engines, runs, and cluster sizes,
  unlike rand()-based sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import portable_hash60, tokens
from projet_etl_spark.sources.tables import load_table

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
LONG_DIGITS_RE = r"[0-9]{6,}"

CHUNK_SIZE = 64
CHUNK_OVERLAP = 16
SAMPLE_PCT = 10


def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails, URLs, and 6+-digit runs; report per-doc counts
    of each redaction class plus the scrubbed length."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    after_url = F.regexp_replace(after_email, URL_RE, "<URL>")
    scrubbed = F.regexp_replace(after_url, LONG_DIGITS_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(URL_RE), 0)).cast("long").alias("n_urls"),
        F.size(F.regexp_extract_all(t, F.lit(LONG_DIGITS_RE), 0))
        .cast("long")
        .alias("n_long_digits"),
        F.length(scrubbed).cast("long").alias("scrubbed_chars"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("scrubbed_fp"),
    )


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows with overlap: chunk k covers tokens
    [k*stride, k*stride + CHUNK_SIZE) where stride = size - overlap;
    the final partial window is kept if it has > overlap tokens (so
    no chunk is a pure suffix of the previous one)."""
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("t")).select(
        "doc_id", "t", F.size("t").alias("n")
    )
    # chunk starts: 0, stride, 2*stride, ... while start + overlap < n
    # (floor, not cast-truncation: DuckDB casts double->int by
    # ROUNDING, so the oracle mirrors floor()+greatest exactly)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((F.col("n") - F.lit(CHUNK_OVERLAP + 1)) / F.lit(stride)),
            F.lit(0).cast("long"),
        )
        * F.lit(stride),
        F.lit(stride),
    )
    exploded = staged.select(
        "doc_id", "t", "n", F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk_toks = F.slice(F.col("t"), F.col("start") + 1, CHUNK_SIZE)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk_toks).cast("long").alias("n_tokens"),
        F.md5(F.encode(F.concat_ws(" ", chunk_toks), "UTF-8")).alias("chunk_fp"),
    )


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% document sample: keep docs whose portable
    content hash lands in the first SAMPLE_PCT buckets of 100."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = portable_hash60(F.col("text")) % F.lit(100)
    return docs.select("doc_id", bucket.alias("bucket")).filter(
        F.col("bucket") < SAMPLE_PCT
    )


SAMPLE_N_PER_LANG = 25


def q_sample_stratified_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample: the SAMPLE_N_PER_LANG documents
    with the smallest md5(doc_id) per language — a deterministic
    unbiased fixed-n draw per stratum (the eval-subset/holdout shape;
    the hash order is uncorrelated with content, and both engines
    rank the identical md5 strings).

    Scale shape: one window per language partition over (hash,
    doc_id); at extreme per-stratum cardinality swap the rank for a
    per-stratum hash threshold (the sample-hash-10pct shape) — the
    window form is the exactly-n baseline.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("long").alias("draw_rank"),
        )
        .filter(F.col("draw_rank") <= SAMPLE_N_PER_LANG)
        .orderBy("lang", "draw_rank")
    )


# --- importance-weighted sampling (Efraimidis–Spirakis A-ES) --------

SAMPLE_W_N = 50


def q_sample_weighted_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement: the SAMPLE_W_N documents
    with the smallest A-ES key ``-ln(u)/w`` (Efraimidis & Spirakis,
    "Weighted random sampling with a reservoir", IPL 2006), with
    weight = document length in chars and ``u`` a deterministic
    uniform derived from the portable content hash — docs are drawn
    with probability proportional to length, reproducibly across
    engines, runs, and cluster sizes.

    Scale shape: the key is a per-row expression (hash → uniform →
    one ln + one divide); selection is ORDER BY + LIMIT, which Spark
    plans as TakeOrderedAndProject — per-partition top-n heaps merged
    on the driver, never a global sort. The exp-key trick is exactly
    what makes weighted sampling distribute: per-row independent
    keys + a global top-n, no sequential reservoir.
    """
    from projet_etl_spark.functions.text import H30_MOD

    docs = load_table(spark, sf_dir, "documents")
    u = (
        (portable_hash60(F.col("text")) % F.lit(H30_MOD) + F.lit(1)).cast("double")
        / F.lit(float(H30_MOD))
    )
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.round(-F.log(u) / w, 9)
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            key.alias("skey"),
        )
        .orderBy(F.asc("skey"), F.asc("doc_id"))
        .limit(SAMPLE_W_N)
    )


# --- data-mixture resampling weights ------------------------------------

# target language mixture in integer percent (sums to 100) — integer
# so every derived quantity is a ratio of exact integers
TARGET_MIX = (("en", 40), ("de", 15), ("es", 15), ("fr", 15), ("zh", 15))


def q_corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing manifest: per-language resampling weights that
    steer the corpus toward a TARGET language mixture — the standard
    pre-training step between curation and packing (a raw crawl is
    ~en-dominated; the training mix is a policy decision).

    Per language: observed count and share, the target share, the
    per-document sampling weight ``w = target_share / actual_share``
    (expected mixture equals target under weighted sampling), and the
    expected document budget per language under the NO-UPSAMPLING
    maximum corpus size (the binding language — the one with the
    least headroom — caps the total; every other language downsamples
    to proportion).

    Exactness: counts, the 100×-scaled shares, and the budget are
    pure integer arithmetic (the binding budget is an integer MIN of
    integer divisions); the only float ops are three final double
    divisions of exact integers — correctly rounded, engine-identical
    (the theilsen/lead-time discipline).

    100 TB design: one language-grain aggregate (map-side combined);
    the target mix and the two 1-row aggregates (corpus total, budget
    MIN) broadcast — nothing after the count runs at data size.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mix = spark.createDataFrame(list(TARGET_MIX), "lang string, t long")
    joined = counts.join(F.broadcast(mix), "lang")
    total = joined.agg(F.sum("n").cast("long").alias("total"))  # 1 row
    with_total = joined.join(F.broadcast(total))
    # no-upsampling budget: max corpus size where every lang can fill
    # its target share from existing docs = min over langs of n*100/t
    budget = with_total.agg(
        F.min(F.expr("div(n * 100, t)")).cast("long").alias("budget")
    )
    return (
        with_total.join(F.broadcast(budget))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.round(F.expr("cast(n * 100 as double) / total"), 6).alias(
                "actual_pct"
            ),
            F.col("t").cast("long").alias("target_pct"),
            F.round(F.expr("cast(t * total as double) / (100 * n)"), 6).alias(
                "weight"
            ),
            F.round(F.expr("cast(budget * t as double) / 100"), 2).alias(
                "expected_docs"
            ),
        )
        .orderBy("lang")
    )


def q_docs_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII density per language: redaction hits (emails + URLs +
    long digit runs, the scrub-pii classes) per 1,000 tokens — the
    privacy-risk profile a corpus review reads per language bucket
    before release, since PII concentration is rarely uniform across
    sources.

    Exactness: hit and token counts are exact integers summed per
    language; the only float op is the one density division per
    output row. Scale shape: map-only regex counting (the scrub
    pass's own extractors, no second tokenize), one |langs|-group
    aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    per_doc = docs.select(
        "lang",
        (
            F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
            + F.size(F.regexp_extract_all(t, F.lit(URL_RE), 0))
            + F.size(F.regexp_extract_all(t, F.lit(LONG_DIGITS_RE), 0))
        )
        .cast("long")
        .alias("n_pii"),
        F.size(tokens(t)).cast("long").alias("n_tok"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_pii").cast("long").alias("n_pii"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_pii",
            "n_tokens",
            F.round(
                F.col("n_pii").cast("double")
                * 1000.0
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("pii_per_kilotoken"),
        )
        .orderBy("lang")
    )
