"""Corpus-curation queries: the filter, mixing and release stages of a
CCNet/C4-style pretraining data pipeline (operators/curation.py,
operators/datasetops.py) — benchmark decontamination, sequence packing
and chunk assembly, per-source profiling, embedding quantization,
unigram/bigram-LM and model-based quality filtering, PII
detection/redaction, vocabulary and collocation statistics, domain
mixture weights, deterministic dataset splits with cross-split leakage
audits, cross-document boilerplate segmentation, content-defined
(shift-robust) chunk dedup, and the dataset datasheet. Each carries an
exact DuckDB oracle unless QUERIES.md lists it as rows-only.

The reference is a civic-data ETL with none of these (SURVEY.md §2.3);
they extend the LLM-pipeline families next to plans/textdata.py.

PII note: the synthetic documents table carries no organic PII, which
would make a detector oracle a trivial empty-vs-empty match. Both the
Spark query and the oracle therefore inject deterministic synthetic
PII (an email / phone / IP derived from doc_id) into the text before
scanning — the injection is test plumbing computed identically on both
engines; the operator under test (operators/curation.pii_scan) sees it
as ordinary dirty text.

Oracle notes: splits hash through the engine's md5 id-bucket
(functions/hashing.md5_bucket — bit-identical on both engines);
segment/chunk fingerprints are md5 of the joined words
(same bytes on both engines); every count is CAST to BIGINT so DuckDB's
HUGEINT sum never reaches the driver's hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.functions.hashing import md5_bucket_sql
from data_eng_project_spark.operators.curation import (
    QUALITY_WEIGHTS,
    collocation_lift,
    cross_source_dup_matrix,
    cross_split_leakage,
    decontaminate_overlap,
    domain_mixture_weights,
    pack_sequences,
    pii_scan,
    quality_model_scores,
    quantize_embeddings_int8,
    source_quality_profile,
    split_profile,
    token_fertility_profile,
    unigram_lm_scores,
    vocab_profile,
)
from data_eng_project_spark.operators.datasetops import (
    boilerplate_segment_stats,
    cdc_chunk_stats,
)
from data_eng_project_spark.plans.registry import REGISTRY as _REG
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.plans.textdata import (
    _COMPONENT_CTES,
    _NGRAM_CTES,
    _SPLIT_CASE,
    _TRAIN_PCT,
    _VAL_PCT,
    JACCARD_THRESHOLD,
)
from data_eng_project_spark.tables import load_table


# documents.source = 'src0' plays the held-out benchmark; the rest train.
_BENCH_SOURCE = "src0"
_OVERLAP_THRESHOLD = 0.2
_CHUNK_TOKENS = 512


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, source,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, source,
                   w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle
            FROM words
            WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(w, 2) OVER win IS NOT NULL
        ), bench AS (
            SELECT DISTINCT shingle FROM sh WHERE source = '{_BENCH_SOURCE}'
        ), corpus AS (
            SELECT doc_id, shingle FROM sh WHERE source <> '{_BENCH_SOURCE}'
        ), sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id
        ), hits AS (
            SELECT c.doc_id, count(*) AS n_hit
            FROM corpus c JOIN bench b ON c.shingle = b.shingle
            GROUP BY c.doc_id
        ), alldocs AS (
            SELECT doc_id FROM documents WHERE source <> '{_BENCH_SOURCE}'
        )
        SELECT d.doc_id,
               CAST(coalesce(s.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               round(CASE WHEN coalesce(s.n_shingles, 0) > 0
                          THEN coalesce(h.n_hit, 0) / s.n_shingles
                          ELSE 0.0 END, 6) AS overlap_ratio,
               CASE WHEN coalesce(s.n_shingles, 0) > 0
                    THEN coalesce(h.n_hit, 0) / s.n_shingles
                    ELSE 0.0 END >= {_OVERLAP_THRESHOLD} AS contaminated
        FROM alldocs d
        LEFT JOIN sizes s ON d.doc_id = s.doc_id
        LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
    tags=("curation", "decontamination", "ngram"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct 3-gram shingles that appear in the held-out benchmark
    split — flagged above threshold. Broadcast semi-join on hashed
    shingles; never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_overlap(
        docs.filter(F.col("source") != _BENCH_SOURCE),
        docs.filter(F.col("source") == _BENCH_SOURCE),
        n=3,
        threshold=_OVERLAP_THRESHOLD,
    )


@register(
    "pack_sequences_chunked",
    oracle=f"""
        WITH t AS (
            SELECT source AS shard, doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT shard, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_offset
            FROM t
        )
        SELECT shard, doc_id, n_tokens,
               CAST(start_offset AS BIGINT) AS start_offset,
               CAST(floor(start_offset / {_CHUNK_TOKENS}.0) AS BIGINT) AS start_chunk,
               CAST(floor((start_offset + greatest(n_tokens - 1, 0)) / {_CHUNK_TOKENS}.0) AS BIGINT)
                   AS end_chunk,
               floor(start_offset / {_CHUNK_TOKENS}.0)
                   <> floor((start_offset + greatest(n_tokens - 1, 0)) / {_CHUNK_TOKENS}.0)
                   AS spans_boundary
        FROM c
    """,
    tags=("curation", "packing"),
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per shard (source), documents
    concatenate in id order into a token stream split into 512-token
    chunks; each doc gets its offset and chunk range. One windowed cumsum
    per shard — no global ordering."""
    return pack_sequences(
        load_table(spark, sf_dir, "documents"), chunk_tokens=_CHUNK_TOKENS
    )


@register(
    "source_quality_profile",
    oracle=r"""
        WITH per_doc AS (
            SELECT source, doc_id, lang, length(text) AS n_chars,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents
        ), fpc AS (
            SELECT source, fp, count(*) AS c FROM per_doc GROUP BY source, fp
        ), dups AS (
            SELECT source, sum(c) AS n_dup_docs FROM fpc WHERE c > 1 GROUP BY source
        ), lc AS (
            SELECT source, lang, count(*) AS lcnt FROM per_doc GROUP BY source, lang
        ), modal AS (
            SELECT source, lang AS modal_lang, lcnt AS n_modal
            FROM (
                SELECT source, lang, lcnt,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY lcnt DESC, lang DESC) AS rn
                FROM lc
            ) r WHERE rn = 1
        ), base AS (
            SELECT source, count(*) AS n_docs,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                   round(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
                         / count(*), 6) AS avg_chars
            FROM per_doc GROUP BY source
        )
        SELECT b.source, b.n_docs, b.min_chars, b.max_chars, b.avg_chars,
               CAST(coalesce(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
               m.modal_lang,
               round(m.n_modal / b.n_docs, 6) AS modal_lang_share
        FROM base b
        LEFT JOIN dups d ON b.source = d.source
        JOIN modal m ON b.source = m.source
    """,
    tags=("curation", "profiling"),
)
def source_quality_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation rollup: volume, length stats, exact-dup rate,
    modal-language purity — the table sources get pruned by."""
    return source_quality_profile(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_quantize_int8",
    oracle="""
        WITH v AS (
            SELECT vec_id, len(embedding) AS dim,
                   CAST(embedding AS DOUBLE[]) AS xs,
                   127.0 / nullif(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) AS scale
            FROM embeddings
        )
        SELECT vec_id, dim, round(scale, 6) AS scale,
               CAST(list_sum(list_transform(
                   xs, x -> CAST(round(x * scale) AS INT))) AS BIGINT) AS q_sum,
               round(sqrt(list_sum(list_transform(
                   xs, x -> (x - round(x * scale) / scale)
                          * (x - round(x * scale) / scale))) / dim), 6) AS rmse
        FROM v
    """,
    tags=("curation", "similarity", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization with round-trip
    RMSE — row-local array math in codegen, no shuffle, no Python."""
    return quantize_embeddings_int8(load_table(spark, sf_dir, "embeddings"))


@register(
    "quantized_topk_agreement",
    # Fully SQL-recomputable: the oracle re-derives the int8 codes with
    # the same per-vector-scale expression as embedding_quantize_int8,
    # ranks every probe's corpus by BOTH the float cosine and the
    # code cosine (6-dp round + id tie-break — the engine-proven
    # deterministic-ranking idiom from similarity_topk), and counts the
    # two top-k sets' intersection. Overlap is tie-stable because both
    # engines rank identical rounded doubles.
    oracle="""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xs,
                   127.0 / nullif(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) AS scale
            FROM embeddings
        ), q AS (
            SELECT vec_id, xs,
                   list_transform(xs, x -> round(x * scale)) AS qs
            FROM v
        ), probes AS (
            -- fixed-size audit panel: the 100 smallest matching ids,
            -- so the probe share does NOT grow with the corpus (the
            -- cap is the linear-scale guarantee; see the operator)
            SELECT * FROM q WHERE vec_id % 50 = 0
            ORDER BY vec_id LIMIT 100
        ), scored AS (
            -- cosine replayed with the engine's nullif-guarded form
            -- (NOT list_cosine_similarity, which returns -1.0 for a
            -- zero vector where the guarded Spark expression yields
            -- NULL): both engines then rank zero vectors NULLS LAST,
            -- so the bottom of the ranking agrees by construction.
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                   round(list_dot_product(c.xs, p.xs) / nullif(
                       sqrt(list_dot_product(c.xs, c.xs))
                       * sqrt(list_dot_product(p.xs, p.xs)), 0.0), 6) AS cf,
                   round(list_dot_product(c.qs, p.qs) / nullif(
                       sqrt(list_dot_product(c.qs, c.qs))
                       * sqrt(list_dot_product(p.qs, p.qs)), 0.0), 6) AS cq
            FROM q c CROSS JOIN probes p
        ), tf AS (
            SELECT probe_id, cand_id FROM (
                SELECT probe_id, cand_id, row_number() OVER (
                    PARTITION BY probe_id
                    ORDER BY cf DESC NULLS LAST, cand_id) AS r
                FROM scored) WHERE r <= 10
        ), tq AS (
            SELECT probe_id, cand_id FROM (
                SELECT probe_id, cand_id, row_number() OVER (
                    PARTITION BY probe_id
                    ORDER BY cq DESC NULLS LAST, cand_id) AS r
                FROM scored) WHERE r <= 10
        ), ov AS (
            SELECT tf.probe_id, count(*) AS cnt
            FROM tf JOIN tq USING (probe_id, cand_id)
            GROUP BY tf.probe_id
        )
        SELECT p.vec_id AS probe_id,
               CAST(coalesce(ov.cnt, 0) AS BIGINT) AS n_overlap
        FROM probes p LEFT JOIN ov ON p.vec_id = ov.probe_id
    """,
    tags=("curation", "similarity", "quantization", "evaluation"),
)
def quantized_topk_agreement_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the 4× int8 storage cut change what a search RETURNS?
    Overlap@10 between the float-cosine and int8-code-cosine top-k for
    an audit probe set (measured 9-10/10 at sf0.01 — the quantizer is
    retrieval-safe) — the retrieval-impact companion to
    embedding_quantize_int8's reconstruction RMSE (see
    operators/curation.quantized_topk_agreement)."""
    from data_eng_project_spark.operators.curation import (
        quantized_topk_agreement,
    )

    return quantized_topk_agreement(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") % 50 == 0,
        k=10,
        max_probes=100,
    )


@register(
    "repetition_filter_signals",
    oracle=r"""
        WITH words AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS w,
                   generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
            FROM documents
        ), wc AS (
            SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
        ), per_word AS (
            SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_word_n,
                   count(*) AS n_distinct_words
            FROM wc GROUP BY doc_id
        ), bg AS (
            SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM words
        ), bgc AS (
            SELECT doc_id, w, w2, count(*) AS c
            FROM bg WHERE w2 IS NOT NULL GROUP BY doc_id, w, w2
        ), per_bg AS (
            SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
            FROM bgc GROUP BY doc_id
        )
        SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens,
               round(p.n_distinct_words / p.n_tokens, 6) AS distinct_ratio,
               round(p.top_word_n / p.n_tokens, 6) AS top_word_frac,
               round(b.top_bigram_n / b.n_bigrams, 6) AS top_bigram_frac,
               (p.top_word_n / p.n_tokens > 0.30
                OR coalesce(b.top_bigram_n / b.n_bigrams > 0.18, false))
                   AS repetitive
        -- LEFT: a one-token doc has no bigram row but keeps its output
        -- row (NULL top_bigram_frac), mirroring the operator
        FROM per_word p LEFT JOIN per_bg b USING (doc_id)
    """,
    tags=("curation", "quality", "repetition"),
)
def repetition_filter_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top-word / top-bigram coverage,
    distinct-word ratio) with a repetitive flag — all shuffles keyed on
    doc_id, word-count-shaped at scale."""
    from data_eng_project_spark.operators.curation import repetition_signals

    return repetition_signals(load_table(spark, sf_dir, "documents"))


@register(
    "mixture_sample_by_source",
    oracle=r"""
        SELECT source, count(*) AS n_sampled,
               CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                                        x -> x <> ''))) AS BIGINT)
                   AS sampled_tokens
        FROM documents
        WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 <
              (CASE CAST(substr(source, 4) AS INT) % 4
               WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 20 ELSE 10 END)
        GROUP BY source
    """,
    tags=("curation", "sampling", "mixture"),
)
def mixture_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture sampling: per-source keep rates
    (100/50/20/10% by source index mod 4) applied via a multiplicative
    id hash — a pure pushdown filter, reproducible on any cluster."""
    from data_eng_project_spark.operators.curation import mixture_sample

    src_num = F.substring("source", 4, 10).cast("int")
    rate = (
        F.when(src_num % 4 == 0, 100)
        .when(src_num % 4 == 1, 50)
        .when(src_num % 4 == 2, 20)
        .otherwise(10)
    )
    return mixture_sample(load_table(spark, sf_dir, "documents"), rate_pct=rate)


@register(
    "length_trim_percentile",
    oracle="""
        WITH ranked AS (
            SELECT lang, n_chars,
                   rank() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rk,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents
        )
        SELECT lang, count(*) AS n_kept, max(n) AS n_total,
               min(n_chars) AS min_kept, max(n_chars) AS max_kept
        FROM ranked
        WHERE (rk - 1) * 100 >= 5 * (n - 1) AND (rk - 1) * 100 <= 95 * (n - 1)
        GROUP BY lang
    """,
    tags=("curation", "quality", "percentile"),
)
def length_trim_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-percentile trim ([p5, p95] by percent-rank,
    exact integer boundary arithmetic — no float interpolation)."""
    from data_eng_project_spark.operators.curation import length_trim_by_group

    return length_trim_by_group(load_table(spark, sf_dir, "documents"))


@register(
    "export_shard_manifest",
    oracle=f"""
        WITH t AS (
            SELECT source AS shard, doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT shard, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_offset
            FROM t
        )
        SELECT shard, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(max(CAST(floor((start_offset + greatest(n_tokens - 1, 0))
                                   / {_CHUNK_TOKENS}.0) AS BIGINT)) + 1
                    AS BIGINT) AS n_chunks
        FROM c GROUP BY shard
    """,
    tags=("curation", "packing", "export"),
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard training-export manifest (docs/tokens/chunks) — the
    aggregate of the pack annotations export_training_shards writes; the
    export side effect itself is exercised in pytest (this query
    computes the manifest without writing)."""
    packed = pack_sequences(
        load_table(spark, sf_dir, "documents"), chunk_tokens=_CHUNK_TOKENS
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        (F.max("end_chunk") + 1).cast("bigint").alias("n_chunks"),
    )


@register(
    "chunk_assembly_plan",
    oracle=f"""
        WITH t AS (
            SELECT source AS shard, doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT shard, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_offset
            FROM t
        ), spans AS (
            SELECT shard, doc_id, n_tokens, start_offset,
                   unnest(range(CAST(floor(start_offset / {_CHUNK_TOKENS}.0)
                                     AS BIGINT),
                                CAST(floor((start_offset + greatest(n_tokens - 1, 0))
                                           / {_CHUNK_TOKENS}.0) AS BIGINT) + 1))
                       AS chunk_id
            FROM c WHERE n_tokens > 0
        )
        SELECT shard, CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
               CAST(greatest(chunk_id * {_CHUNK_TOKENS} - start_offset, 0)
                    AS BIGINT) AS doc_slice_start,
               CAST(least((chunk_id + 1) * {_CHUNK_TOKENS} - start_offset,
                          n_tokens) AS BIGINT) AS doc_slice_end
        FROM spans
    """,
    tags=("curation", "packing", "loader"),
)
def chunk_assembly_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-loader's read plan for packed shards: per (shard, chunk),
    every contributing document with the [start, end) token sub-range it
    supplies — each doc explodes into exactly the chunks its span
    touches (sequence() over the chunk range, never a join against a
    chunk table), so assembly cost is output-sized. With this table a
    loader gathers one fixed-size training chunk by slicing the listed
    docs in order — the exact inverse of pack_sequences' layout."""
    packed = pack_sequences(
        load_table(spark, sf_dir, "documents"), chunk_tokens=_CHUNK_TOKENS
    ).filter(F.col("n_tokens") > 0)
    spans = packed.select(
        "shard",
        "doc_id",
        "n_tokens",
        "start_offset",
        F.explode(
            F.sequence(F.col("start_chunk"), F.col("end_chunk"))
        ).alias("chunk_id"),
    )
    ct = F.lit(_CHUNK_TOKENS)
    return spans.select(
        "shard",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "doc_id",
        F.greatest(F.col("chunk_id") * ct - F.col("start_offset"), F.lit(0))
        .cast("bigint")
        .alias("doc_slice_start"),
        F.least(
            (F.col("chunk_id") + 1) * ct - F.col("start_offset"), F.col("n_tokens")
        )
        .cast("bigint")
        .alias("doc_slice_end"),
    )


# Sits just below the corpus median avg-logprob (sf0.01: min −3.70,
# p10 −3.41, median −3.40), so the filter actually drops a tail instead
# of being a trivial all-keep. NB: fitted to the sf0.01 generator corpus
# — the unigram model is trained on the scored corpus itself, so if the
# generator reships documents at another scale the logprob distribution
# shifts and this constant must be re-fitted (or switch the registration
# to unigram_lm_scores' keep_quantile mode, which derives the cut from
# the corpus distribution at runtime).
_LM_KEEP_THRESHOLD = -3.41


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


_SEG_K = 8
_SEG_MIN_DF = 3


@register(
    "dataset_split_profile",
    oracle=f"""
        WITH a AS (
            SELECT {_SPLIT_CASE.format(id="doc_id")} AS split,
                   source,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS nt
            FROM documents
        ), cell AS (
            SELECT split, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens
            FROM a GROUP BY split, source
        ), tot AS (
            SELECT split, CAST(sum(n_docs) AS BIGINT) AS sd
            FROM cell GROUP BY split
        )
        SELECT cell.split, cell.source, cell.n_docs, cell.n_tokens,
               round(CAST(cell.n_docs AS DOUBLE) / tot.sd, 6) AS doc_share
        FROM cell JOIN tot USING (split)
    """,
    tags=("curation", "splits"),
)
def dataset_split_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 hash split + per-(split, source)
    composition report. Split membership is a function of doc_id alone
    (md5 bucket), so it survives re-partitioning and incremental
    corpus growth — the invariant a 100 TB dataset release needs."""
    docs = load_table(spark, sf_dir, "documents")
    return split_profile(
        docs, train_pct=_TRAIN_PCT, val_pct=_VAL_PCT
    )


@register(
    "split_leakage_audit",
    oracle=f"""
        WITH {_NGRAM_CTES}
        SELECT id_a, id_b, jaccard,
               {_SPLIT_CASE.format(id="id_a")} AS split_a,
               {_SPLIT_CASE.format(id="id_b")} AS split_b
        FROM pairs
        WHERE {_SPLIT_CASE.format(id="id_a")}
              <> {_SPLIT_CASE.format(id="id_b")}
    """,
    tags=("curation", "splits", "dedup"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: n-gram-Jaccard near-dup pairs
    whose endpoints land in different splits of the deterministic
    80/10/10 hash split — each row is a concrete leak path from eval
    into train. Composes the exact PPJoin-pruned pair detector, so the
    audit's duplicate notion is the pipeline's own. Consumes the
    STAGED pair graph (pipelines/staging.py), shared with the other
    pair-graph consumers."""
    from data_eng_project_spark.pipelines.staging import near_dup_pairs

    pairs = near_dup_pairs(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    return cross_split_leakage(
        pairs, train_pct=_TRAIN_PCT, val_pct=_VAL_PCT
    ).select("id_a", "id_b", "jaccard", "split_a", "split_b")


@register(
    "boilerplate_segments",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), seg AS (
            SELECT doc_id,
                   md5(array_to_string(
                       ws[(t.i*{_SEG_K}+1):(t.i*{_SEG_K}+{_SEG_K})], ' '
                   )) AS fp
            FROM w, LATERAL (
                SELECT unnest(range(CAST(ceil(len(ws)/{_SEG_K}.0) AS BIGINT))) AS i
            ) t
        ), sdf AS (
            SELECT fp, count(DISTINCT doc_id) AS df FROM seg GROUP BY fp
        ), per AS (
            SELECT seg.doc_id, count(*) AS n_seg,
                   sum(CASE WHEN sdf.df >= {_SEG_MIN_DF} THEN 1 ELSE 0 END)
                       AS n_boiler
            FROM seg JOIN sdf USING (fp) GROUP BY seg.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(per.n_seg, 0) AS BIGINT) AS n_segments,
               CAST(coalesce(per.n_boiler, 0) AS BIGINT) AS n_boilerplate,
               round(CASE WHEN per.n_seg > 0
                          THEN CAST(per.n_boiler AS DOUBLE) / per.n_seg
                          ELSE 0.0 END, 6) AS boilerplate_frac
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
    tags=("curation", "boilerplate"),
)
def boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate accounting from non-overlapping 8-word
    segments whose verbatim text recurs in ≥3 distinct documents —
    segmentation is pure array algebra on the scanned row, then two
    hash aggregations on 16-byte segment fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_segment_stats(docs, k=_SEG_K, min_df=_SEG_MIN_DF)


@register(
    "cdc_chunk_dedup",
    oracle="""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), pos AS (
            SELECT doc_id, t.i AS i, ws[t.i+1] AS w,
                   CASE WHEN t.i = 0 THEN NULL ELSE ws[t.i] END AS prev
            FROM w, LATERAL (SELECT unnest(range(len(ws))) AS i) t
        ), c AS (
            SELECT doc_id, i, w,
                   CASE WHEN i > 0
                             AND substr(md5(prev || ' ' || w), 1, 1)
                                 IN ('0', '1')
                        THEN 1 ELSE 0 END AS cut
            FROM pos
        ), cid AS (
            SELECT doc_id, i, w,
                   sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS chunk_id
            FROM c
        ), ch AS (
            SELECT doc_id, chunk_id,
                   md5(string_agg(w, ' ' ORDER BY i)) AS fp,
                   count(*) AS n_words
            FROM cid GROUP BY doc_id, chunk_id
        ), cdf AS (
            SELECT fp, count(DISTINCT doc_id) AS df FROM ch GROUP BY fp
        )
        SELECT ch.doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(ch.n_words) AS BIGINT) AS n_words,
               CAST(sum(CASE WHEN cdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared_chunks,
               round(CAST(sum(CASE WHEN cdf.df >= 2 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS shared_chunk_frac
        FROM ch JOIN cdf USING (fp)
        GROUP BY ch.doc_id
    """,
    tags=("curation", "dedup", "cdc"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dup stats: boundaries cut where the
    local word-bigram md5 lands in 2/16 of hash space (expected chunk
    ≈ 8 words), so insertions re-align instead of shifting every
    downstream chunk — the shift-robust dedup accounting fixed windows
    cannot give."""
    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_stats(docs)


@register(
    "soft_dedup_weights",
    oracle=f"""
        WITH RECURSIVE {_NGRAM_CTES},{_COMPONENT_CTES},
        comp AS (
            SELECT src AS doc_id, least(src, min(dst)) AS component
            FROM reach GROUP BY src
        ),
        csize AS (
            SELECT component, count(*) AS cluster_size
            FROM comp GROUP BY component
        ),
        d AS (
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS nt
            FROM documents
        )
        SELECT d.doc_id,
               coalesce(comp.component, d.doc_id) AS component,
               CAST(coalesce(csize.cluster_size, 1) AS BIGINT) AS cluster_size,
               round(1.0 / coalesce(csize.cluster_size, 1), 6) AS weight,
               CAST(d.nt AS BIGINT) AS n_tokens,
               round(CAST(d.nt AS DOUBLE) / coalesce(csize.cluster_size, 1), 6)
                   AS effective_tokens
        FROM d
        LEFT JOIN comp ON comp.doc_id = d.doc_id
        LEFT JOIN csize ON csize.component = comp.component
    """,
    tags=("curation", "dedup", "weights"),
)
def soft_dedup_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-aware soft dedup: every document weighted by
    1/|duplicate cluster| over the exact n-gram-Jaccard pair graph, so
    duplicate families contribute one document's training mass instead
    of being dropped — per-doc weights and effective token counts for
    the mixture planner."""
    from data_eng_project_spark.operators.curation import soft_dedup_weights
    from data_eng_project_spark.pipelines.staging import dup_components

    docs = load_table(spark, sf_dir, "documents")
    # Consume the STAGED components (shared with dedup_canonical_keep)
    # instead of re-running the iterative propagation per query — the
    # weight family's only iterative job now runs once per corpus (r12).
    # The stage key embeds the same (corpus, n, threshold, operator
    # fingerprint) this query would hand the pairs builder, so the
    # components-only call carries the derivation invariant (r13).
    comps = dup_components(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    return soft_dedup_weights(docs, components=comps)


@register(
    "corpus_shuffle_order",
    oracle=f"""
        WITH a AS (
            SELECT doc_id,
                   {md5_bucket_sql('doc_id', 1024)} AS bucket,
                   md5(CAST(doc_id AS VARCHAR)) AS k
            FROM documents
        ), r AS (
            SELECT doc_id, bucket,
                   row_number() OVER (
                       PARTITION BY bucket ORDER BY k, doc_id
                   ) AS rnk
            FROM a
        ), s AS (
            SELECT bucket, count(*) AS n FROM a GROUP BY bucket
        ), o AS (
            SELECT bucket,
                   coalesce(sum(n) OVER (
                       ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS off
            FROM s
        )
        SELECT r.doc_id,
               CAST(r.bucket AS BIGINT) AS bucket,
               CAST(o.off + r.rnk - 1 AS BIGINT) AS global_pos
        FROM r JOIN o USING (bucket)
    """,
    tags=("curation", "shuffle", "training-order"),
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle without the
    zipWithIndex trap: hash-bucket + within-bucket md5 rank + a prefix
    sum over the 1024-row bucket-size table — every row gets a stable
    position in a fixed pseudo-random permutation, computed with no
    single-partition pass over data rows."""
    from data_eng_project_spark.operators.datasetops import shuffle_order

    return shuffle_order(load_table(spark, sf_dir, "documents"))


@register(
    "mixture_temperature_weights",
    oracle="""
        WITH s AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       x -> x <> ''))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), t AS (
            SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
                   CAST(sum(CAST(pow(CAST(n_tokens AS DOUBLE), 0.7)
                                 AS DECIMAL(38,12))) AS DOUBLE) AS z07,
                   CAST(sum(CAST(pow(CAST(n_tokens AS DOUBLE), 0.3)
                                 AS DECIMAL(38,12))) AS DOUBLE) AS z03
            FROM s
        )
        SELECT s.source, s.n_docs, s.n_tokens,
               round(CAST(s.n_tokens AS DOUBLE) / t.tot, 6) AS p_raw,
               round(pow(CAST(s.n_tokens AS DOUBLE), 0.7) / t.z07, 6)
                   AS p_temp07,
               round(pow(CAST(s.n_tokens AS DOUBLE), 0.3) / t.z03, 6)
                   AS p_temp03
        FROM s CROSS JOIN t
    """,
    tags=("curation", "mixture", "sampling"),
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling table (the mT5/multilingual
    recipe): per-source sampling probability ∝ n_tokens^α for α = 1,
    0.7, 0.3 — flattening the source distribution so low-resource
    sources aren't starved. One rollup + a broadcast 1-row normalizer;
    pow on exact BIGINT token counts is deterministic cross-engine."""
    from data_eng_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokens("text"), lambda x: x != F.lit(""))
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("n_tokens"),
    )
    nt = F.col("n_tokens").cast("double")
    t = s.agg(
        F.sum("n_tokens").cast("bigint").alias("tot"),
        F.sum(F.pow(nt, 0.7).cast("decimal(38,12)")).cast("double").alias("z07"),
        F.sum(F.pow(nt, 0.3).cast("decimal(38,12)")).cast("double").alias("z03"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(nt / F.col("tot"), 6).alias("p_raw"),
        F.round(F.pow(nt, 0.7) / F.col("z07"), 6).alias("p_temp07"),
        F.round(F.pow(nt, 0.3) / F.col("z03"), 6).alias("p_temp03"),
    )


@register(
    "quality_retention_curve",
    oracle=None,  # assembled below (needs textdata's stopword SQL terms)
    tags=("curation", "quality", "ablation"),
)
def quality_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-filter ablation curve: documents bucketed by fixed-
    width stopword-ratio bands (0.05 wide), and for every band the
    docs/tokens that SURVIVE a "keep score ≥ band" cutoff — the table a
    curation owner reads to pick a threshold by seeing exactly how many
    tokens each notch costs. Fixed absolute bands (not rank deciles) on
    purpose: the heavy pass is a pure map-side bucket aggregate with no
    global sort, and the cumulative sweep is a window over the ~13 band
    rows — the PSI-bucket pattern, scale-free."""
    from pyspark.sql import Window

    from data_eng_project_spark.functions.text import tokens as _tokens
    from data_eng_project_spark.operators.textops import quality_score

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens("text"), lambda x: x != F.lit(""))
    scored = quality_score(docs).select(
        "doc_id",
        F.floor(F.col("stopword_ratio") * 20).cast("int").alias("band"),
    ).join(docs.select("doc_id", F.size(toks).alias("_nt")), on="doc_id")
    per_band = scored.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per_band.select(
        F.col("band").cast("bigint").alias("band"),
        F.round(F.col("band") / 20.0, 6).alias("min_score"),
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs_kept"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens_kept"),
    )


def _retention_oracle() -> str:
    from data_eng_project_spark.plans.textdata import _PADDED
    from data_eng_project_spark.functions.text import (
        EN_STOPWORDS,
        substr_count_sql,
    )

    stop_sum = " + ".join(substr_count_sql(_PADDED, f" {w} ") for w in EN_STOPWORDS)
    return f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST(floor(round(({stop_sum})
                       / len(string_split_regex(trim(text), '\\s+')), 6)
                       * 20) AS INT) AS band,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS nt
            FROM documents
        ), per_band AS (
            SELECT band,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens
            FROM scored GROUP BY band
        )
        SELECT CAST(band AS BIGINT) AS band,
               round(band / 20.0, 6) AS min_score,
               n_docs,
               n_tokens,
               CAST(sum(n_docs) OVER (
                   ORDER BY band DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_docs_kept,
               CAST(sum(n_tokens) OVER (
                   ORDER BY band DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens_kept
        FROM per_band
    """


_REG["quality_retention_curve"].oracle = _retention_oracle()


@register(
    "dataset_datasheet",
    oracle="""
        WITH base AS (
            SELECT doc_id, source, lang, text,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS nt,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        ), agg AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(nt) AS DOUBLE) AS n_tokens,
                   CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
                   CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*) AS pct_en,
                   1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*)
                       AS exact_dup_rate,
                   CAST(sum(nt) AS DOUBLE) / count(*) AS mean_doc_tokens,
                   CAST(min(nt) AS DOUBLE) AS min_doc_tokens,
                   CAST(max(nt) AS DOUBLE) AS max_doc_tokens
            FROM base
        )
        SELECT m.metric, round(m.value, 6) AS value
        FROM agg, LATERAL (VALUES
            ('n_docs', n_docs),
            ('n_tokens', n_tokens),
            ('n_sources', n_sources),
            ('n_langs', n_langs),
            ('pct_en', pct_en),
            ('exact_dup_rate', exact_dup_rate),
            ('mean_doc_tokens', mean_doc_tokens),
            ('min_doc_tokens', min_doc_tokens),
            ('max_doc_tokens', max_doc_tokens)
        ) m(metric, value)
    """,
    tags=("curation", "datasheet", "governance"),
)
def dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset datasheet in one scan: corpus-level release stats
    (size, sources, language mix, exact-dup rate, length profile) as
    (metric, value) rows — the numbers a dataset card's quantitative
    section publishes. One aggregate over the corpus (distinct counts
    partial-aggregated), then a 9-row unpivot."""
    from data_eng_project_spark.functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens("text"), lambda x: x != F.lit(""))
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    a = docs.select(
        "doc_id", "source", "lang", F.size(toks).alias("nt"), fp.alias("fp")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("nt").cast("double").alias("n_tokens"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        (
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("pct_en"),
        (
            F.lit(1.0) - F.countDistinct("fp") / F.count(F.lit(1))
        ).alias("exact_dup_rate"),
        (F.sum("nt") / F.count(F.lit(1))).alias("mean_doc_tokens"),
        F.min("nt").cast("double").alias("min_doc_tokens"),
        F.max("nt").cast("double").alias("max_doc_tokens"),
    )
    pairs = [
        ("n_docs", "n_docs"),
        ("n_tokens", "n_tokens"),
        ("n_sources", "n_sources"),
        ("n_langs", "n_langs"),
        ("pct_en", "pct_en"),
        ("exact_dup_rate", "exact_dup_rate"),
        ("mean_doc_tokens", "mean_doc_tokens"),
        ("min_doc_tokens", "min_doc_tokens"),
        ("max_doc_tokens", "max_doc_tokens"),
    ]
    stack = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("metric"), F.col(col).alias("value"))
                for name, col in pairs
            ]
        )
    ).alias("kv")
    return a.select(stack).select(
        "kv.metric", F.round("kv.value", 6).alias("value")
    )


@register(
    "split_shingle_leakage_rate",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   {_SPLIT_CASE.format(id="doc_id")} AS split,
                   text
            FROM documents
        ), words AS (
            SELECT doc_id, split,
                   unnest(string_split_regex(trim(text), '\\s+')) AS wd,
                   generate_subscripts(
                       string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM w
        ), sh AS (
            SELECT DISTINCT split,
                   wd || ' ' || lead(wd, 1) OVER win || ' '
                      || lead(wd, 2) OVER win AS shingle
            FROM words
            WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(wd, 2) OVER win IS NOT NULL
        ), ev AS (
            SELECT split, shingle FROM sh WHERE split <> 'train'
        ), tr AS (
            SELECT DISTINCT shingle FROM sh WHERE split = 'train'
        )
        SELECT ev.split,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_seen_in_train,
               round(CAST(sum(CASE WHEN tr.shingle IS NOT NULL
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS leakage_rate
        FROM ev LEFT JOIN tr ON tr.shingle = ev.shingle
        GROUP BY ev.split
    """,
    tags=("curation", "splits", "leakage"),
)
def split_shingle_leakage_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level contamination stat that complements the doc-level
    pair audit: for val and test, the fraction of their distinct
    3-gram shingles that also occur anywhere in train. Doc-level
    near-dup pairs catch wholesale leaks; this rate catches the
    diffuse kind (shared boilerplate, templated text) that no single
    pair crosses the Jaccard threshold for. One inverted-index
    semi-join on 8-byte shingle hashes per eval split."""
    from data_eng_project_spark.operators.curation import split_column
    from data_eng_project_spark.operators.dedup import _distinct_shingles

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "split", split_column("doc_id", _TRAIN_PCT, _VAL_PCT)
    )
    sh = _distinct_shingles(docs, "text", "doc_id", 3).join(
        docs.select(F.col("doc_id").alias("_id"), "split"), on="_id"
    ).select("split", "shingle").distinct()
    ev = sh.filter(F.col("split") != "train")
    tr = sh.filter(F.col("split") == "train").select("shingle").distinct()
    hits = ev.join(
        tr.withColumn("_hit", F.lit(1)), on="shingle", how="left"
    )
    return hits.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("n_seen_in_train"),
        F.round(
            F.sum(F.coalesce("_hit", F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("leakage_rate"),
    )


@register(
    "compression_quality_signal",
    oracle=None,  # zlib (LZ77 window + Huffman coding over byte
    # streams) is not expressible in SQL, and a "python-twin as table
    # literal" oracle (r5 VERDICT item 4) is impossible for the same
    # reason as bpe_encode_corpus_stats: registry oracles are static
    # SQL holding at EVERY sf, while compressed sizes depend on the
    # data. Exact python-twin equality asserted in
    # tests/test_datasetops.py instead.
    tags=("curation", "quality", "entropy"),
)
def compression_quality_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio with repetitive/random
    flags — the entropy-proxy quality screen (machine-generated
    repetition compresses too well, noise too poorly). Arrow-batched;
    fixed codec level so results are run- and cluster-invariant."""
    from data_eng_project_spark.operators.textops import compression_ratio_signal

    return compression_ratio_signal(load_table(spark, sf_dir, "documents"))


@register(
    "compression_roundtrip_report",
    # zlib itself stays non-SQL (why the per-doc signal above is
    # rows-only), but the report's facts ARE: the oracle independently
    # recomputes the corpus document count and total UTF-8 byte mass,
    # and asserts the two contract booleans — losslessness
    # (decompress∘compress is identity, an invariant of the codec; a
    # FALSE is a real signal-path defect) and corpus-level
    # compressibility (total compressed < total raw on natural text —
    # measured 0.494/0.498/0.499 corpus ratio at sf0.001/0.01/0.1,
    # far from the boundary). The bpe_roundtrip_report pattern.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(octet_length(encode(text))), 0) AS BIGINT)
                   AS total_raw_bytes,
               TRUE AS all_roundtrip,
               TRUE AS corpus_compresses
        FROM documents
    """,
    tags=("curation", "quality", "entropy", "evaluation"),
)
def compression_roundtrip_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible integrity evidence for the compression quality
    screen: every document's bytes round-trip through the codec and the
    corpus as a whole compresses, graded as contract booleans with the
    corpus totals fully oracle-recomputed — the graded-accuracy
    companion to the rows-only per-document signal
    (see operators/textops.compression_roundtrip_report)."""
    from data_eng_project_spark.operators.textops import (
        compression_roundtrip_report,
    )

    return compression_roundtrip_report(load_table(spark, sf_dir, "documents"))


@register(
    "temporal_split_user_overlap",
    oracle="""
        WITH cut AS (
            SELECT min(epoch_us(ts))
                   + (max(epoch_us(ts)) - min(epoch_us(ts))) * 8 // 10 AS t_us
            FROM events
        ), u AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN epoch_us(ts) < cut.t_us
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_train_events,
                   CAST(sum(CASE WHEN epoch_us(ts) >= cut.t_us
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_events
            FROM events CROSS JOIN cut
            GROUP BY user_id
        )
        SELECT CASE
                   WHEN n_train_events > 0 AND n_eval_events > 0 THEN 'both'
                   WHEN n_train_events > 0 THEN 'train_only'
                   ELSE 'eval_only'
               END AS cohort,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_train_events) AS BIGINT) AS train_events,
               CAST(sum(n_eval_events) AS BIGINT) AS eval_events
        FROM u GROUP BY 1
    """,
    tags=("curation", "splits", "temporal"),
)
def temporal_split_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-split audit for behavioral models: cut the event
    timeline at the 80% point and report how many users appear only
    before, only after, or in BOTH windows with their event masses —
    'both' users are where target leakage lives if features are built
    carelessly across the cut. Exact integer-microsecond cut (no float
    timestamp math). One scan for the cut (2-value aggregate,
    broadcast), one grouped conditional aggregate."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "_us", F.unix_micros("ts")
    )
    cut = events.agg(
        (
            F.min("_us")
            + F.expr("(max(_us) - min(_us)) * 8 div 10")
        ).alias("t_us")
    )
    u = (
        events.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("_us") < F.col("t_us"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_train_events"),
            F.sum(F.when(F.col("_us") >= F.col("t_us"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_eval_events"),
        )
    )
    cohort = (
        F.when(
            (F.col("n_train_events") > 0) & (F.col("n_eval_events") > 0), "both"
        )
        .when(F.col("n_train_events") > 0, "train_only")
        .otherwise("eval_only")
    )
    return u.groupBy(cohort.alias("cohort")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_train_events").cast("bigint").alias("train_events"),
        F.sum("n_eval_events").cast("bigint").alias("eval_events"),
    )


@register(
    "source_token_gini",
    oracle="""
        WITH s AS (
            SELECT source,
                   CAST(sum(len(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       x -> x <> ''))) AS BIGINT) AS nt
            FROM documents GROUP BY source
        ), r AS (
            SELECT source, nt,
                   row_number() OVER (ORDER BY nt, source) AS i,
                   count(*) OVER () AS n,
                   CAST(sum(nt) OVER () AS BIGINT) AS tot
            FROM s
        )
        SELECT CAST(max(n) AS BIGINT) AS n_sources,
               CAST(max(tot) AS BIGINT) AS total_tokens,
               round(CAST(sum((2 * i - n - 1) * nt) AS DOUBLE)
                     / (max(n) * max(tot)), 6) + 0.0 AS gini
        FROM r
    """,
    tags=("curation", "mixture", "balance"),
)
def source_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-source token distribution — the
    one-number imbalance gauge a mixture planner watches (0 = sources
    contribute equally, →1 = one source dominates; pairs with
    mixture_temperature_weights, which is the corrective lever). The
    corpus pass is one rollup; the Gini formula runs on |sources|
    rows via exact integer sums."""
    from pyspark.sql import Window

    from data_eng_project_spark.functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens("text"), lambda x: x != F.lit(""))
    s = docs.groupBy("source").agg(
        F.sum(F.size(toks)).cast("bigint").alias("nt")
    )
    w_all = Window.partitionBy()
    r = s.select(
        "nt",
        F.row_number().over(Window.orderBy("nt", "source")).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("nt").over(w_all).cast("bigint").alias("tot"),
    )
    return r.agg(
        F.max("n").cast("bigint").alias("n_sources"),
        F.max("tot").cast("bigint").alias("total_tokens"),
        (
            F.round(
                F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("nt")).cast(
                    "double"
                )
                / (F.max("n") * F.max("tot")),
                6,
            )
            + 0.0
        ).alias("gini"),
    )


@register(
    "split_embedding_drift",
    oracle=f"""
        WITH x AS (
            SELECT {_SPLIT_CASE.format(id="vec_id")} AS split,
                   label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ), m AS (
            SELECT split, label, dim,
                   CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                       / count(*) AS mu,
                   count(*) AS n
            FROM x WHERE split <> 'val' GROUP BY 1, 2, 3
        ), tr AS (SELECT label, dim, mu, n FROM m WHERE split = 'train'),
        te AS (SELECT label, dim, mu, n FROM m WHERE split = 'test'),
        j AS (
            SELECT tr.label,
                   sum(CAST(tr.mu * te.mu AS DECIMAL(38,18))) AS dot,
                   sum(CAST(tr.mu * tr.mu AS DECIMAL(38,18))) AS na,
                   sum(CAST(te.mu * te.mu AS DECIMAL(38,18))) AS nb,
                   max(tr.n) AS n_train, max(te.n) AS n_test
            FROM tr JOIN te ON tr.label = te.label AND tr.dim = te.dim
            GROUP BY tr.label
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(n_train AS BIGINT) AS n_train,
               CAST(n_test AS BIGINT) AS n_test,
               round(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),
                     6) + 0.0 AS centroid_cosine
        FROM j
    """,
    tags=("curation", "splits", "embedding", "drift"),
)
def split_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representation-drift check across the deterministic split: per
    label, the cosine between the train-split centroid and the
    test-split centroid of the embedding cloud — a value well below 1
    means the eval split is NOT representative of training for that
    class (bad split or genuine distribution shift), the failure mode
    stratified splitting exists to prevent. Exact decimal-accumulated
    means per (split, label, dim); the drift join runs on
    |labels|×|dims| rows, never on vectors."""
    from data_eng_project_spark.operators.curation import split_column

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "split", split_column("vec_id", _TRAIN_PCT, _VAL_PCT)
    )
    x = emb.filter(F.col("split") != "val").select(
        "split", "label", F.posexplode("embedding").alias("dim", "_v")
    ).select("split", "label", "dim", F.col("_v").cast("double").alias("val"))
    m = x.groupBy("split", "label", "dim").agg(
        (
            F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    tr = m.filter(F.col("split") == "train").select(
        "label", "dim", F.col("mu").alias("ma"), F.col("n").alias("n_train")
    )
    te = m.filter(F.col("split") == "test").select(
        F.col("label").alias("_lb"), F.col("dim").alias("_dim"),
        F.col("mu").alias("mb"), F.col("n").alias("n_test"),
    )
    j = tr.join(
        te, (tr["label"] == te["_lb"]) & (tr["dim"] == te["_dim"])
    ).groupBy("label").agg(
        F.sum((F.col("ma") * F.col("mb")).cast("decimal(38,18)")).alias("dot"),
        F.sum((F.col("ma") * F.col("ma")).cast("decimal(38,18)")).alias("na"),
        F.sum((F.col("mb") * F.col("mb")).cast("decimal(38,18)")).alias("nb"),
        F.max("n_train").alias("n_train"),
        F.max("n_test").alias("n_test"),
    )
    return j.select(
        F.col("label").cast("bigint").alias("label"),
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_test").cast("bigint").alias("n_test"),
        (
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            )
            + 0.0
        ).alias("centroid_cosine"),
    )
