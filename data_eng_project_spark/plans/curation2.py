"""Second corpus-curation batch: unigram-LM quality filtering, PII
detection/redaction, corpus n-gram statistics, vocabulary profiling, and
a model-based (linear-head) quality classifier — the remaining filter
stages of a CCNet/C4-style pretraining pipeline, each with an exact
DuckDB oracle.

The reference is a civic-data ETL with none of these (SURVEY.md §2.3);
they extend the LLM-pipeline families in plans/textdata.py and
plans/curation.py mandated by the brief.

PII note: the synthetic documents table carries no organic PII, which
would make a detector oracle a trivial empty-vs-empty match. Both the
Spark query and the oracle therefore inject deterministic synthetic
PII (an email / phone / IP derived from doc_id) into the text before
scanning — the injection is test plumbing computed identically on both
engines; the operator under test (operators/curation.pii_scan) sees it
as ordinary dirty text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.operators.curation import (
    QUALITY_WEIGHTS,
    collocation_lift,
    cross_source_dup_matrix,
    domain_mixture_weights,
    pii_scan,
    quality_model_scores,
    token_fertility_profile,
    top_bigrams_by_source,
    unigram_lm_scores,
    vocab_profile,
)
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

# Sits just below the corpus median avg-logprob (sf0.01: min −3.70,
# p10 −3.41, median −3.40), so the filter actually drops a tail instead
# of being a trivial all-keep. NB: fitted to the sf0.01 generator corpus
# — the unigram model is trained on the scored corpus itself, so if the
# generator reships documents at another scale the logprob distribution
# shifts and this constant must be re-fitted (or switch the registration
# to unigram_lm_scores' keep_quantile mode, which derives the cut from
# the corpus distribution at runtime).
_LM_KEEP_THRESHOLD = -3.41
_TOP_BIGRAMS_K = 10

# Shared tokenizer CTE: lowercase letter runs, empties removed (the
# corpus-statistics tokenization used by tfidf/bm25).
_TOK_CTE = """
    tok AS (
        SELECT doc_id, source,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents
    ), tok2 AS (SELECT doc_id, source, term FROM tok WHERE term <> '')
"""


@register(
    "unigram_lm_quality",
    oracle=f"""
        WITH {_TOK_CTE},
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM tok2 GROUP BY doc_id, term
        ),
        model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM model),
        per_doc AS (
            SELECT tf.doc_id,
                   CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                   sum(CAST(tf.tf * ln(CAST(model.cnt AS DOUBLE)
                                       / CAST(tot.total AS DOUBLE))
                            AS DECIMAL(38,12))) AS lp_sum
            FROM tf JOIN model USING (term) CROSS JOIN tot
            GROUP BY tf.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
               round(CAST(p.lp_sum AS DOUBLE) / p.n_tokens, 6) AS avg_logprob,
               coalesce(CAST(p.lp_sum AS DOUBLE) / p.n_tokens
                        >= {_LM_KEEP_THRESHOLD}, false) AS lm_keep
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("curation", "quality", "lm"),
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: score every document by mean token
    log-probability under a corpus-trained unigram model; the model
    aggregate broadcasts to the scoring join (see
    operators/curation.unigram_lm_scores for the scale design)."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs, keep_threshold=_LM_KEEP_THRESHOLD)


# Deterministic synthetic-PII augmentation, written once per engine with
# identical semantics (string concat of exact integer derivations).
_AUG_SQL = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example call "
    "+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.0.1'"
)


def _aug_spark() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1"),
    )


@register(
    "pii_detect_redact",
    # Counts are stage-wise on the progressively redacted text (emails
    # on the original, phones after email redaction, IPs after phone
    # redaction) so every count equals the replacements its stage made —
    # mirrors operators/curation.pii_scan (r5 review).
    oracle=f"""
        WITH aug AS (
            SELECT doc_id, {_AUG_SQL} AS text FROM documents
        ), r1 AS (
            SELECT doc_id, text,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                       '[EMAIL]', 'g') AS t1
            FROM aug
        ), r2 AS (
            SELECT doc_id, text, t1,
                   regexp_replace(t1,
                       '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}',
                       '[PHONE]', 'g') AS t2
            FROM r1
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(t1,
                   '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}')) AS BIGINT)
                   AS n_phones,
               CAST(len(regexp_extract_all(t2,
                   '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b')) AS BIGINT)
                   AS n_ips,
               md5(regexp_replace(t2,
                   '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b',
                   '[IP]', 'g')) AS redacted_md5
        FROM r2
    """,
    tags=("curation", "pii", "redaction"),
)
def pii_detect_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub stage over deterministically-dirtied text: per document,
    email/phone/IPv4 hit counts and the md5 of the category-redacted
    text. Map-only regexp work in codegen — no shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select("doc_id", _aug_spark().alias("text"))
    return pii_scan(dirty)


@register(
    "bigram_top_terms",
    oracle=f"""
        WITH t AS (
            SELECT source,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '') AS toks
            FROM documents
        ), bg AS (
            SELECT source,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1]))
                       AS bigram
            FROM t WHERE len(toks) >= 2
        ), c AS (
            SELECT source, bigram, count(*) AS n FROM bg GROUP BY source, bigram
        )
        SELECT source, bigram, n, rk FROM (
            SELECT source, bigram, n,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY n DESC, bigram
                   ) AS BIGINT) AS rk
            FROM c
        ) WHERE rk <= {_TOP_BIGRAMS_K}
    """,
    tags=("textdata", "ngram", "corpus-stats"),
)
def bigram_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent word bigrams per source (count desc, lexicographic
    tie-break) — boilerplate detection / corpus fingerprinting stats.
    Bigrams are built by array transform (no window, no self-join); the
    only shuffle is the word-count-shaped (source, bigram) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return top_bigrams_by_source(docs, k=_TOP_BIGRAMS_K)


@register(
    "vocab_profile_by_source",
    oracle=f"""
        WITH {_TOK_CTE},
        term_counts AS (
            SELECT source, term, count(*) AS c
            FROM tok2 GROUP BY source, term
        )
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
               round(count(*) / CAST(sum(c) AS BIGINT), 6) AS type_token_ratio,
               round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     / count(*), 6) AS hapax_share
        FROM term_counts
        GROUP BY source
    """,
    tags=("curation", "profiling", "vocab"),
)
def vocab_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity rollup: tokens, types, hapax
    legomena, type-token ratio — two partial-aggregable word-count
    aggregates; ratios are exact-integer divisions."""
    return vocab_profile(load_table(spark, sf_dir, "documents"))


@register(
    "quality_model_filter",
    oracle=f"""
        WITH {_TOK_CTE},
        term_counts AS (
            SELECT doc_id, term, count(*) AS c,
                   CAST(sum(length(term)) AS BIGINT) AS chars
            FROM tok2 GROUP BY doc_id, term
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(sum(chars) AS BIGINT) AS n_letter_chars,
                   count(*) AS n_types,
                   CAST(sum(CASE WHEN term IN
                       ('the','a','of','and','to','in','is','it')
                       THEN c ELSE 0 END) AS BIGINT) AS n_stop
            FROM term_counts GROUP BY doc_id
        )
        -- LEFT join back to documents: a zero-letter-token doc has no
        -- term rows but must keep its output row (n_tokens 0, NULL
        -- logit, keep false) — mirrors the operator (r5 review)
        SELECT d.doc_id,
               CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
               round({QUALITY_WEIGHTS["bias"]}
                     + {QUALITY_WEIGHTS["mean_word_len"]} * (p.n_letter_chars / p.n_tokens)
                     + {QUALITY_WEIGHTS["stopword_share"]} * (p.n_stop / p.n_tokens)
                     + {QUALITY_WEIGHTS["distinct_ratio"]} * (p.n_types / p.n_tokens),
                     6) AS quality_logit,
               coalesce({QUALITY_WEIGHTS["bias"]}
                   + {QUALITY_WEIGHTS["mean_word_len"]} * (p.n_letter_chars / p.n_tokens)
                   + {QUALITY_WEIGHTS["stopword_share"]} * (p.n_stop / p.n_tokens)
                   + {QUALITY_WEIGHTS["distinct_ratio"]} * (p.n_types / p.n_tokens)
                   > 0.0, false) AS quality_keep
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
    tags=("curation", "quality", "classifier"),
)
def quality_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a fixed linear head over exact corpus
    features (mean word length, stopword share, distinct-word ratio);
    thresholding the logit at 0 is the classifier decision (sigmoid is
    monotone, so no exp() enters the compared output)."""
    return quality_model_scores(load_table(spark, sf_dir, "documents"))


@register(
    "cross_source_dup_matrix",
    oracle=r"""
        WITH fpc AS (
            SELECT source,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                   count(*) AS c
            FROM documents GROUP BY source, fp
        )
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared_fps,
               CAST(sum(a.c * b.c) AS BIGINT) AS n_doc_pairs
        FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.source < b.source
        GROUP BY a.source, b.source
    """,
    tags=("curation", "dedup", "provenance"),
)
def cross_source_dup_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources mirror which: per ordered source pair, shared
    normalized-content fingerprints and the cross-source doc pairs they
    induce — fp-keyed equi-join, duplication-shaped output (see
    operators/curation.cross_source_dup_matrix for the scale notes)."""
    return cross_source_dup_matrix(load_table(spark, sf_dir, "documents"))


@register(
    "domain_mixture_weights",
    oracle=r"""
        WITH ps AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')))
                        AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS td,
                   CAST(sum(n_tokens) AS BIGINT) AS tt,
                   count(*) AS ns
            FROM ps
        )
        SELECT source, n_docs, n_tokens,
               round(CAST(n_docs AS DOUBLE) / td, 6) AS doc_share,
               round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_share,
               round(1.0 / (ns * (CAST(n_tokens AS DOUBLE) / tt)), 6)
                   AS uniform_weight
        FROM ps CROSS JOIN tot
    """,
    tags=("curation", "sampling", "mixture"),
)
def domain_mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting table: per-source doc/token shares
    and the uniform-target sampling weight — one partial-aggregable
    rollup plus a broadcast 1-row totals join."""
    return domain_mixture_weights(load_table(spark, sf_dir, "documents"))


@register(
    "token_fertility_profile",
    oracle=r"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS n_chars,
               CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')))
                    AS BIGINT) AS n_ws_tokens,
               CAST(sum(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_bpe_tokens,
               round(CAST(sum(length(text)) AS BIGINT)
                     / CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')))
                            AS BIGINT), 6) AS chars_per_ws_token,
               round(CAST(sum(length(text)) AS BIGINT)
                     / CAST(sum(len(regexp_extract_all(lower(text),
                            '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT), 6)
                   AS chars_per_bpe_token,
               round(CAST(sum(len(regexp_extract_all(lower(text),
                            '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
                     / CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')))
                            AS BIGINT), 6) AS bpe_blowup
        FROM documents GROUP BY lang
    """,
    tags=("curation", "tokenizer", "profiling"),
)
def token_fertility_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: corpus-level chars per whitespace
    token, chars per BPE-ish token, and the BPE blow-up ratio — exact
    integer sums, one shuffle."""
    return token_fertility_profile(load_table(spark, sf_dir, "documents"))


_BACKOFF_ALPHA = 0.4


@register(
    "bigram_lm_quality",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '') AS toks
            FROM documents
        ), bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
            FROM t WHERE len(toks) >= 2
        ), tf AS (
            SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY doc_id, w1, w2
        ), uni AS (
            SELECT w, count(*) AS c1 FROM (
                SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0
            ) GROUP BY w
        ), bi AS (
            SELECT w1, w2, count(*) AS c12 FROM bg
            WHERE doc_id % 2 = 0 GROUP BY w1, w2
        ), tot AS (
            SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni
        ), scored AS (
            SELECT tf.doc_id, tf.tf,
                   CASE WHEN b.c12 IS NOT NULL
                        THEN ln(CAST(b.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
                        ELSE ln({_BACKOFF_ALPHA} * CAST(coalesce(u2.c1, 1) AS DOUBLE)
                                / CAST(tot.total AS DOUBLE)) END AS lp,
                   CASE WHEN b.c12 IS NULL THEN tf.tf ELSE 0 END AS backed
            FROM tf
            LEFT JOIN bi b ON b.w1 = tf.w1 AND b.w2 = tf.w2
            LEFT JOIN uni u1 ON u1.w = tf.w1
            LEFT JOIN uni u2 ON u2.w = tf.w2
            CROSS JOIN tot
        ), per_doc AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                   sum(CAST(tf * lp AS DECIMAL(38,12))) AS lp_sum,
                   CAST(sum(backed) AS BIGINT) AS n_back
            FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               round(CAST(p.lp_sum AS DOUBLE) / p.n_bigrams, 6) AS avg_logprob,
               round(coalesce(CAST(p.n_back AS DOUBLE) / p.n_bigrams, 0.0), 6)
                   AS backoff_rate
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("curation", "quality", "lm", "bigram"),
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram LM with stupid backoff: model trained on even
    doc_ids, every document scored — backoff rate doubles as a
    domain-shift signal (see operators/curation.bigram_lm_scores)."""
    from data_eng_project_spark.operators.curation import bigram_lm_scores

    return bigram_lm_scores(
        load_table(spark, sf_dir, "documents"), alpha=_BACKOFF_ALPHA
    )


@register(
    "psi_source_drift",
    oracle="""
        WITH b AS (
            SELECT source,
                   least(CAST(n_chars // 100 AS BIGINT), 20) AS bucket,
                   count(*) AS n
            FROM documents GROUP BY 1, 2
        ), src AS (
            SELECT DISTINCT source FROM documents
        ), grid AS (
            SELECT s.source, g.bucket,
                   coalesce(b.n, 0) + 1 AS n_sm
            FROM src s
            CROSS JOIN (SELECT DISTINCT bucket FROM b) g
            LEFT JOIN b ON b.source = s.source AND b.bucket = g.bucket
        ), p AS (
            SELECT source, bucket,
                   CAST(n_sm AS DOUBLE)
                       / sum(n_sm) OVER (PARTITION BY source) AS pr
            FROM grid
        )
        SELECT a.source AS source_a, c.source AS source_b,
               round(CAST(sum(CAST((a.pr - c.pr) * ln(a.pr / c.pr)
                                   AS DECIMAL(38,18))) AS DOUBLE), 6)
                   AS psi
        FROM p a JOIN p c ON a.bucket = c.bucket AND a.source < c.source
        GROUP BY a.source, c.source
    """,
    tags=("curation", "quality", "drift"),
)
def psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between every source pair's
    document-length distribution — the monitor a continuously-ingesting
    corpus runs to catch a crawl source silently changing shape
    (PSI < 0.1 stable, > 0.25 action). Fixed 100-char buckets capped at
    21 with add-one smoothing (so log ratios are total); per-pair sums
    go through DECIMAL so bucket order cannot move the result. One
    grouped count is the only corpus-sized pass; the pair join runs on
    |sources|×|buckets| rows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        F.least((F.col("n_chars") / 100).cast("bigint"), F.lit(20)).alias("bucket"),
    ).groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("n"))
    src = docs.select("source").distinct()
    buckets = b.select("bucket").distinct()
    grid = (
        src.crossJoin(F.broadcast(buckets))
        .join(b, on=["source", "bucket"], how="left")
        .select(
            "source", "bucket", (F.coalesce("n", F.lit(0)) + 1).alias("n_sm")
        )
    )
    p = grid.select(
        "source",
        "bucket",
        (
            F.col("n_sm").cast("double")
            / F.sum("n_sm").over(Window.partitionBy("source"))
        ).alias("pr"),
    )
    a = p.select(
        F.col("source").alias("source_a"), "bucket", F.col("pr").alias("pa")
    )
    c = p.select(
        F.col("source").alias("source_b"), F.col("bucket").alias("bucket_b"),
        F.col("pr").alias("pb"),
    )
    term = (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
    return (
        a.join(
            c,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(term.cast("decimal(38,18)")).cast("double"), 6
            ).alias("psi")
        )
    )


_COLLOC_MIN_COUNT, _COLLOC_K = 5, 100


@register(
    "collocation_lift_scores",
    # lift = (n_pair/B) / ((c1/N)·(c2/N)) — PMI's argument, emitted
    # un-logged because ln() is not correctly-rounded across math
    # libraries while this division tree is plain IEEE arithmetic both
    # engines evaluate in the identical order. Ordering/tie-breaks run
    # on the ROUNDED lift so the top-k frontier is engine-independent.
    oracle=f"""
        WITH t AS (
            SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '') AS toks
            FROM documents
        ), u AS (
            SELECT unnest(toks) AS w FROM t
        ), uc AS (
            SELECT w, count(*) AS c FROM u GROUP BY w
        ), bg AS (
            SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1]))
                       AS bigram
            FROM t WHERE len(toks) >= 2
        ), bc AS (
            SELECT bigram, count(*) AS n_pair FROM bg GROUP BY bigram
            HAVING count(*) >= {_COLLOC_MIN_COUNT}
        ), tot AS (
            SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uc) AS n_uni,
                   (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS n_big
        ), scored AS (
            SELECT split_part(bigram, ' ', 1) AS w1,
                   split_part(bigram, ' ', 2) AS w2,
                   CAST(n_pair AS BIGINT) AS n_pair,
                   round((CAST(n_pair AS DOUBLE) / tot.n_big)
                         / ((CAST(u1.c AS DOUBLE) / tot.n_uni)
                            * (CAST(u2.c AS DOUBLE) / tot.n_uni)),
                         6) AS lift
            FROM bc
            CROSS JOIN tot
            JOIN uc u1 ON u1.w = split_part(bigram, ' ', 1)
            JOIN uc u2 ON u2.w = split_part(bigram, ' ', 2)
        )
        SELECT w1, w2, n_pair, lift
        FROM scored
        ORDER BY lift DESC, w1, w2
        LIMIT {_COLLOC_K}
    """,
    tags=("curation", "collocations", "pmi", "corpus-stats"),
)
def collocation_lift_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 adjacent-word collocations by association lift (PMI's
    argument) with an n_pair ≥ 5 support floor — the multi-word
    expressions a phrase miner fuses and the boilerplate bellwethers a
    curator inspects. Two word-count aggregates + vocab-sized count
    joins + a 1-row totals broadcast + TakeOrdered top-k
    (operators/curation.collocation_lift); no corpus window, no
    self-join."""
    docs = load_table(spark, sf_dir, "documents")
    return collocation_lift(docs, min_count=_COLLOC_MIN_COUNT, k=_COLLOC_K)


@register(
    "vocab_growth_curve",
    # Heaps-law curve: cumulative distinct vocabulary vs cumulative
    # tokens as the corpus is ingested in 10 deterministic md5 batches.
    # The oracle uses the same first-occurrence derivation (min batch
    # per word) — both engines agree the naive form is equivalent:
    # "distinct words in batches 0..d" == "words whose FIRST batch ≤ d".
    oracle="""
        WITH d AS (
            SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10 AS batch,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '') AS toks
            FROM documents
        ), tok_per_batch AS (
            SELECT batch, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
            FROM d GROUP BY batch
        ), first_seen AS (
            SELECT w, min(batch) AS first_batch
            FROM (SELECT batch, unnest(toks) AS w FROM d) u
            GROUP BY w
        ), new_per_batch AS (
            SELECT first_batch AS batch, CAST(count(*) AS BIGINT) AS new_words
            FROM first_seen GROUP BY first_batch
        )
        SELECT t.batch,
               t.n_tokens,
               CAST(sum(t.n_tokens) OVER w AS BIGINT) AS cum_tokens,
               COALESCE(n.new_words, 0) AS new_words,
               CAST(sum(COALESCE(n.new_words, 0)) OVER w AS BIGINT) AS cum_vocab
        FROM tok_per_batch t LEFT JOIN new_per_batch n ON n.batch = t.batch
        WINDOW w AS (ORDER BY t.batch ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("curation", "corpus-stats", "vocabulary", "heaps"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps-law) curve: ingest the corpus in 10
    deterministic md5 batches and report, per batch, token volume and
    the NEW distinct words it contributes, plus both cumulants — the
    table a data buyer reads to see whether more of the same source
    still buys vocabulary coverage.

    Scale design — the first-occurrence trick: "cumulative distinct
    words through batch d" would naively be 10 distinct-counts over
    growing prefixes (10 corpus scans, each a corpus-wide distinct).
    Instead each word is aggregated ONCE to its minimum batch
    (first occurrence); counting words per first-batch and prefix-
    summing over the 10-row batch table yields the identical curve from
    two narrow corpus scans (a per-batch token count and the single
    word-keyed min-batch aggregate) instead of ten distinct-scans. The
    only window runs on 10 rows. The oracle derives the same identity
    in SQL."""
    from data_eng_project_spark.functions.hashing import md5_bucket
    from data_eng_project_spark.functions.text import letter_tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        md5_bucket("doc_id", 10).alias("batch"),
        letter_tokens("text").alias("_toks"),
    )
    tok_per_batch = d.groupBy("batch").agg(
        F.sum(F.size("_toks")).cast("bigint").alias("n_tokens")
    )
    first_seen = (
        d.select("batch", F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.min("batch").alias("batch"))
    )
    new_per_batch = first_seen.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_words")
    )
    w = Window.orderBy(F.col("batch").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = tok_per_batch.join(new_per_batch, "batch", "left").select(
        "batch",
        "n_tokens",
        F.coalesce("new_words", F.lit(0).cast("bigint")).alias("new_words"),
    )
    return joined.select(
        "batch",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        "new_words",
        F.sum("new_words").over(w).cast("bigint").alias("cum_vocab"),
    )
