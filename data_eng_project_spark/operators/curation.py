"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, concat-and-chunk sequence packing, per-source quality
profiling, and int8 embedding quantization.

These extend the dedup/similarity/text families (operators/dedup.py,
operators/similarity.py, operators/textops.py) with the remaining stages
a pretraining data pipeline runs between "raw corpus" and "training
shards". Everything is built-in DataFrame expressions — no Python in the
hot path — and every operator has an exact ANSI-SQL twin used as its
DuckDB oracle in plans/curation.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_eng_project_spark.functions.text import tokens
from data_eng_project_spark.operators.dedup import _distinct_shingles
from data_eng_project_spark.operators.similarity import cosine
from data_eng_project_spark.operators.similarity import dot as S_dot
from data_eng_project_spark.operators.similarity import norm as S_norm


def decontaminate_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, the fraction
    of its distinct n-gram shingles that appear anywhere in the benchmark
    set. Documents above ``threshold`` are flagged for removal — the
    standard guard against test-set leakage into training data.

    Scale design: the benchmark side collapses to DISTINCT shingle keys
    (8-byte xxhash64 longs), the corpus side to (doc, shingle) pairs; the
    hit count is one left-semi equi-join + per-doc aggregate — cost
    ~O(corpus shingles + benchmark shingles), never all-pairs. At 100 TB
    the benchmark shingle set (benchmarks are small) broadcasts and the
    corpus side never shuffles at all.
    """
    corpus_sh = _distinct_shingles(corpus, text_col, id_col, n)
    bench_keys = (
        _distinct_shingles(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # ONE pass over the corpus shingles: the broadcast left join marks
    # benchmark hits and a single aggregate produces both the shingle
    # count and the hit count — the earlier two-branch form (left_semi
    # hits + separate counts) executed the tokenize→shingle→distinct
    # pipeline over the whole corpus twice (r5 review).
    per_doc = (
        corpus_sh.join(F.broadcast(bench_keys), on="shingle", how="left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        )
    )
    # One output row per INPUT document, including docs too short to
    # produce a single n-gram (they'd otherwise vanish, leaving their
    # contamination status undefined — a keep-list join would silently
    # drop them). Shingle-less docs report 0 shingles / 0 hits / ratio
    # 0.0 / contaminated = (0.0 >= threshold).
    ids = corpus.select(F.col(id_col).alias("_id"))
    sizes = ids.join(per_doc, on="_id", how="left")
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0))
    ratio = F.when(
        n_sh > 0, F.coalesce(F.col("n_hit"), F.lit(0)) / n_sh
    ).otherwise(F.lit(0.0))
    return sizes.select(
        F.col("_id").alias(id_col),
        n_sh.cast("bigint").alias("n_shingles"),
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        F.round(ratio, 6).alias("overlap_ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


def pack_sequences(
    docs: DataFrame,
    chunk_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    layout): within each shard, documents are concatenated in a
    deterministic order (ascending id) into one token stream that is then
    split into fixed-size chunks; each document is labeled with its token
    offset and the chunk range it lands in.

    The per-shard running offset is an exact cumulative sum of the
    per-doc token counts. Shards default to SOURCES — a handful of
    values over the whole corpus — so a plain per-shard window would
    funnel each source through one task; the cumsum instead goes
    through distributed_order_cumsum with partition_cols=[shard]
    (order-aligned id buckets, per-(shard, bucket) window, grouped
    one-row prefix-sum offsets — integer-exact, so offsets are
    bit-identical to the plain window form).
    """
    from data_eng_project_spark.operators.datasetops import distributed_order_cumsum

    # Empty-token filter matters for LAYOUT: split('') yields [''], so an
    # empty/whitespace-only document would otherwise occupy one phantom
    # token slot and shift every later document's offset in the shard.
    n_tok = F.size(F.filter(tokens(text_col), lambda x: x != F.lit("")))
    with_counts = distributed_order_cumsum(
        docs.select(
            F.col(shard_col).alias("shard"),
            F.col(id_col),
            n_tok.cast("bigint").alias("n_tokens"),
        ),
        id_col,
        [],
        "n_tokens",
        partition_cols=["shard"],
        cum_col="_cum",
    ).drop("_grank")
    # Inclusive running sum minus the row's own count = exclusive start.
    start = F.col("_cum") - F.col("n_tokens")
    # Last occupied token slot: greatest(n−1, 0) keeps a ZERO-token doc's
    # end_chunk equal to its start_chunk (and spans_boundary false) —
    # the raw n−1 gave it end_chunk < start_chunk and a phantom
    # boundary-spanning range (r5 review).
    last_tok = start + F.greatest(F.col("n_tokens") - 1, F.lit(0))
    return with_counts.select(
        "shard",
        id_col,
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / chunk_tokens).alias("start_chunk"),
        F.floor(last_tok / chunk_tokens).alias("end_chunk"),
        (
            F.floor(start / chunk_tokens) != F.floor(last_tok / chunk_tokens)
        ).alias("spans_boundary"),
    )


def source_quality_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source curation rollup — the table a data curator ranks
    sources by before pruning: volume, length stats, exact-duplicate
    rate (normalized-fingerprint groups), and language purity (share of
    the modal language). One scan + two aggregates; every statistic is
    partial-aggregable, so the rollup map-side combines at any scale."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    per_doc = docs.select(
        F.col(source_col).alias("source"),
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        F.length(text_col).alias("n_chars"),
        F.md5(norm).alias("fp"),
    )
    # Exact-dup rate: docs whose fingerprint occurs >1 time within source.
    fp_counts = per_doc.groupBy("source", "fp").agg(F.count(F.lit(1)).alias("_c"))
    dup_docs = (
        fp_counts.filter(F.col("_c") > 1)
        .groupBy("source")
        .agg(F.sum("_c").alias("n_dup_docs"))
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("_lc")
    )
    modal = lang_counts.groupBy("source").agg(
        F.max(F.struct(F.col("_lc"), F.col("lang"))).alias("_m")
    ).select(
        "source",
        F.col("_m._lc").alias("n_modal_lang"),
        F.col("_m.lang").alias("modal_lang"),
    )
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_chars"),
    )
    return (
        base.join(dup_docs, on="source", how="left")
        .join(modal, on="source")
        .select(
            "source",
            "n_docs",
            "min_chars",
            "max_chars",
            "avg_chars",
            F.coalesce("n_dup_docs", F.lit(0)).alias("n_dup_docs"),
            "modal_lang",
            F.round(F.col("n_modal_lang") / F.col("n_docs"), 6).alias(
                "modal_lang_share"
            ),
        )
    )


def quantize_embeddings_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage layout
    ANN services ship embeddings in (4x smaller than float32, dot products
    in integer SIMD). Per vector: scale = 127 / max|x|, q[i] =
    round(x[i] * scale), plus the round-trip reconstruction RMSE the
    quality gate thresholds on. Entirely row-local array math in codegen
    (transform/aggregate over the cast-to-double array) — one narrow
    projection, no shuffle, no Python."""
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(xs, lambda x: F.abs(x)))
    # NULL scale (hence NULL outputs) for all-zero vectors, both engines.
    scale = F.lit(127.0) / F.nullif(absmax, F.lit(0.0))
    q = F.transform(xs, lambda x: F.round(x * scale).cast("int"))
    # The error term re-derives the dequantized value from x and scale
    # (round(x*scale)/scale) instead of reading the int array, so the
    # float expression tree is textually identical to the SQL oracle's —
    # sequential fold, same operand order, bit-identical doubles.
    sq_err = F.aggregate(
        F.transform(xs, lambda x: (x - F.round(x * scale) / scale)),
        F.lit(0.0),
        lambda acc, e: acc + e * e,
    )
    return vectors.select(
        F.col(id_col),
        F.size(vec_col).alias("dim"),
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, v: acc + v).alias("q_sum"),
        F.round(F.sqrt(sq_err / F.size(vec_col)), 6).alias("rmse"),
    )


def quantized_topk_agreement(
    vectors: DataFrame,
    probe_filter,
    k: int = 10,
    max_probes: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Retrieval-impact audit for the int8 code: per probe vector, the
    overlap@k between the exact float-cosine top-k and the top-k ranked
    by the cosine of the int8 CODES over the same corpus. The per-vector
    RMSE ``quantize_embeddings_int8`` emits measures reconstruction;
    this measures what production actually serves — whether the 4×
    storage cut changes which neighbors a search returns. Cosine is
    scale-invariant and the quantizer's scale is per-vector, so the
    quantized ranking uses the integer codes directly (exactly the
    ranking an int8 index computes in integer SIMD), no dequantization.

    Shape: ONE probe×corpus scoring pass (probes broadcast; the corpus
    side streams) computing BOTH scores per candidate; two per-probe
    top-k windows ranked on the 6-dp-rounded score with id tie-break —
    cross-engine deterministic sets, and the rank-≤-k filters compile
    to WindowGroupLimit so every scan task forwards only k candidates
    per probe; agreement = the two rank-sets' inner join counted per
    probe.

    The audit panel is CAPPED at the ``max_probes`` smallest matching
    ids — the cap is what keeps the audit linear in the corpus. The
    first 10× probe of the uncapped form measured 46 s: a
    modulus-only filter admits probes in proportion to the corpus, so
    the probe×corpus scoring pass grows quadratically with replica
    scale (2 000 probes × 100k vectors at 10×). A retrieval audit's
    power comes from panel diversity, not panel share; 100 fixed
    probes cost the same at ANY corpus size, and smallest-id selection
    is deterministic in both engines.

    Returns (probe_id, n_overlap), n_overlap ∈ [0, k]."""
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(xs, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.nullif(absmax, F.lit(0.0))
    # Same code expression as quantize_embeddings_int8, kept in DOUBLE
    # (round() already yields an integral double; DuckDB's oracle twin
    # folds the same doubles, so the cosine operand streams match
    # bit-for-bit).
    # Norms are attached per ROW here, not recomputed per PAIR inside
    # cosine(): dot/(n_a·n_b) with n = sqrt(sequential Σx²) is the exact
    # arithmetic cosine() evaluates (and the DuckDB twin replays —
    # sqrt(list_dot_product(x,x)) per side), but the per-pair HOF work
    # drops from three interpreted array folds (dot + both norms) to
    # one: each candidate's two norms run once instead of once per
    # probe, each probe's once instead of once per candidate (r12,
    # measured ~35% off the query).
    coded = vectors.select(
        F.col(id_col),
        xs.alias("_xs"),
        F.transform(xs, lambda x: F.round(x * scale)).alias("_qs"),
    ).withColumns({"_nx": S_norm("_xs"), "_nq": S_norm("_qs")})
    probes = F.broadcast(
        coded.filter(probe_filter)
        .orderBy(F.col(id_col))
        .limit(max_probes)
        .select(
            F.col(id_col).alias("probe_id"),
            F.col("_xs").alias("_px"),
            F.col("_qs").alias("_pq"),
            F.col("_nx").alias("_pnx"),
            F.col("_nq").alias("_pnq"),
        )
    )
    scored = coded.crossJoin(probes).select(
        "probe_id",
        F.col(id_col).alias("cand_id"),
        F.round(
            S_dot("_xs", "_px")
            / F.nullif(F.col("_nx") * F.col("_pnx"), F.lit(0.0)),
            6,
        ).alias("_cf"),
        F.round(
            S_dot("_qs", "_pq")
            / F.nullif(F.col("_nq") * F.col("_pnq"), F.lit(0.0)),
            6,
        ).alias("_cq"),
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.col("_cf").desc_nulls_last(), F.col("cand_id")
    )
    wq = Window.partitionBy("probe_id").orderBy(
        F.col("_cq").desc_nulls_last(), F.col("cand_id")
    )
    top_f = (
        scored.withColumn("_rf", F.row_number().over(wf))
        .filter(F.col("_rf") <= k)
        .select("probe_id", "cand_id")
    )
    top_q = (
        scored.withColumn("_rq", F.row_number().over(wq))
        .filter(F.col("_rq") <= k)
        .select("probe_id", "cand_id")
    )
    overlap = (
        top_f.join(top_q, ["probe_id", "cand_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return (
        probes.select("probe_id")
        .join(overlap, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias(
                "n_overlap"
            ),
        )
    )


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_bigram_threshold: float = 0.18,
    top_word_threshold: float = 0.30,
) -> DataFrame:
    """Gopher-style repetition quality signals: per document, the fraction
    of token positions covered by the single most frequent word and by the
    most frequent adjacent bigram, plus the distinct-word ratio; documents
    dominated by a repeated phrase are flagged (`repetitive`).

    Scale design: adjacent bigrams are built ARRAY-SIDE from the staged
    token array (the top_bigrams_by_source pattern) — the earlier
    per-document `lead` window shuffled AND sorted the whole exploded
    (doc, pos, word) stream just to pair neighbors, a corpus-token-sized
    exchange the array form never pays. The only shuffles left are the
    two keyed count aggregates (both partitioned on `id_col`, map-side
    combinable). No all-pairs step, no Python; at 100 TB this is a
    linear scan shaped like word-count. The token array is staged behind
    its own projection so the tokenize regex runs once per document
    (when()-branch references are excluded from codegen subexpression
    elimination).
    """
    toks = docs.select(F.col(id_col).alias("_id"), tokens(text_col).alias("_t"))
    pair_arr = F.when(
        F.size("_t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.struct(
                F.element_at("_t", i).alias("w"),
                F.element_at("_t", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<w STRING, w2 STRING>>)"))
    bigrams = toks.select("_id", F.explode(pair_arr).alias("_bg")).select(
        "_id", F.col("_bg.w").alias("w"), F.col("_bg.w2").alias("w2")
    )
    word_stats = (
        toks.select("_id", F.explode("_t").alias("w"))
        .groupBy("_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc_words = word_stats.groupBy("_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_word_n"),
        F.count(F.lit(1)).alias("n_distinct_words"),
    )
    bigram_stats = (
        bigrams.groupBy("_id", "w", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    top_word_frac = F.col("top_word_n") / F.col("n_tokens")
    top_bigram_frac = F.col("top_bigram_n") / F.col("n_bigrams")
    # LEFT join: a one-token document has no bigram row, and an inner
    # join would erase it from the output — the one-row-per-input-doc
    # contract violation unigram_lm_scores' docstring calls out (a keep-
    # filter join then drops it while an anti-join keeps it). Such docs
    # report top_bigram_frac NULL and are judged on top_word_frac alone.
    return (
        per_doc_words.join(bigram_stats, on="_id", how="left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.round(F.col("n_distinct_words") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            F.round(top_word_frac, 6).alias("top_word_frac"),
            F.round(top_bigram_frac, 6).alias("top_bigram_frac"),
            (
                (top_word_frac > top_word_threshold)
                | F.coalesce(
                    top_bigram_frac > top_bigram_threshold, F.lit(False)
                )
            ).alias("repetitive"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    rate_pct: "F.Column",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic data-mixture sampling: keep each document iff a
    multiplicative hash of its id falls under its source's target rate
    (percent). Reproducible across engines, runs, and cluster sizes —
    unlike seeded `sample`, whose output depends on partitioning — and a
    pure filter, so at 100 TB it pushes down next to the scan with zero
    shuffle. The bucket is the engine's md5 id-hash
    (functions/hashing.md5_bucket): uniform for strided or negative id
    spaces where a multiplicative-congruential map collapses.
    """
    from data_eng_project_spark.functions.hashing import md5_bucket

    bucket = md5_bucket(id_col, 100)
    nt = F.size(F.filter(tokens("text"), lambda x: x != F.lit("")))
    return (
        docs.filter(bucket < rate_pct)
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(nt).alias("sampled_tokens"),
        )
    )


def length_trim_by_group(
    docs: DataFrame,
    group_col: str = "lang",
    length_col: str = "n_chars",
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group length-percentile trimming: within each group (language),
    keep documents whose length percent-rank lies in [lo, hi] — the
    outlier trim curation pipelines run before tokenization. The boundary
    test is exact integer arithmetic ((rank-1)*100 vs pct*(n-1)), so the
    kept set is bit-identical across engines — no floating percentile
    interpolation anywhere.

    Scale: groups are LANGUAGES — a handful of values over the whole
    corpus — so a per-group rank window over raw documents would funnel
    each language through one task. rank() assigns every row of a tied
    length value the same rank (1 + count of strictly smaller values),
    so the whole computation lives on the per-(group, length) VALUE
    HISTOGRAM instead: one corpus-scale aggregate, then windows over
    the histogram frame only — |groups| × |distinct lengths| rows,
    domain-bounded (the mad_outlier_summary pattern). Every row of a
    value group shares one rank, so value groups are kept or dropped
    whole and the kept stats are exact histogram arithmetic.
    """
    v = F.col(length_col)
    hist = docs.groupBy(group_col, length_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt")
    )
    # Both windows run over the aggregated histogram frame (bounded),
    # never raw documents.
    c_lt = F.coalesce(
        F.sum("_cnt").over(
            Window.partitionBy(group_col)
            .orderBy(v.asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("bigint"),
    )
    n = F.sum("_cnt").over(Window.partitionBy(group_col))
    ranked = hist.select(
        group_col, length_col, "_cnt", c_lt.alias("_clt"), n.alias("n")
    )
    # rank() of every row with this value is _clt + 1, so the per-row
    # percent-rank test (rank-1)*100 vs pct*(n-1) is one test per value.
    pr100 = F.col("_clt") * 100
    kept = ranked.filter(
        (pr100 >= lo_pct * (F.col("n") - 1)) & (pr100 <= hi_pct * (F.col("n") - 1))
    )
    return kept.groupBy(group_col).agg(
        F.sum("_cnt").cast("bigint").alias("n_kept"),
        F.max("n").alias("n_total"),
        F.min(length_col).alias("min_kept"),
        F.max(length_col).alias("max_kept"),
    )


def _letter_tokens(text_col: str) -> "F.Column":
    """Alias of functions/text.letter_tokens — one tokenizer definition."""
    from data_eng_project_spark.functions.text import letter_tokens

    return letter_tokens(text_col)


def unigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_threshold: float = -3.41,
    keep_quantile: float | None = None,
) -> DataFrame:
    """Unigram language-model quality score (the CCNet-style LM filter):
    train a unigram model on the corpus itself (P(w) = count(w)/total),
    then score each document by its mean token log-probability; documents
    far below typical likelihood are dropped as noise.

    Scale design: the model is one word-count aggregate whose output is
    vocabulary-sized, so it broadcasts to the per-(doc,term) scoring join
    — the corpus-side (doc,term) rows never reshuffle. At 100 TB the
    vocabulary is truncated to top-M terms with an OOV floor, same shape.
    Cross-engine exactness: per-term logprob is one ln() on an exact
    count ratio; per-doc accumulation happens in DECIMAL(38,12) (order-
    free, exact) and lands in double only at the end.

    Contract: every input document gets exactly one output row. Documents
    with zero letter tokens (empty / all-punctuation — precisely what an
    LM filter should reject) come back with n_tokens=0, avg_logprob NULL,
    and an explicit lm_keep=false, rather than silently vanishing from
    the scores (which would make a join-based keep-filter drop them but
    an anti-join formulation keep them).

    Thresholding: ``keep_threshold`` is an absolute avg-logprob cut
    (re-fit it when the corpus composition changes — the model is trained
    on the scored corpus itself). Pass ``keep_quantile`` (e.g. 0.10) to
    instead derive the cut from the corpus distribution at runtime:
    documents below that quantile of avg_logprob are dropped. The
    quantile is one percentile_approx aggregate broadcast back as a
    scalar — no global sort, no driver collect, scale-shape unchanged.
    """
    tok = docs.select(
        F.col(id_col).alias("_id"), F.explode(_letter_tokens(text_col)).alias("term")
    )
    tf = tok.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    model = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    lp = F.col("tf") * F.log(
        F.col("cnt").cast("double") / F.col("total").cast("double")
    )
    per_doc = (
        tf.join(F.broadcast(model), on="term")
        .join(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(lp.cast("decimal(38,12)")).alias("_lp_sum"),
        )
    )
    avg_lp = F.col("_lp_sum").cast("double") / F.col("n_tokens")
    scored = docs.select(F.col(id_col).alias("_id")).join(
        per_doc, on="_id", how="left"
    )
    if keep_quantile is None:
        keep = avg_lp >= F.lit(keep_threshold)
    else:
        thr = per_doc.agg(
            F.percentile_approx(avg_lp, F.lit(keep_quantile)).alias("_thr")
        )
        scored = scored.join(F.broadcast(thr))
        keep = avg_lp >= F.col("_thr")
    return scored.select(
        F.col("_id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        F.round(avg_lp, 6).alias("avg_logprob"),
        F.coalesce(keep, F.lit(False)).alias("lm_keep"),
    )


# PII patterns restricted to the regex subset Java and RE2 interpret
# identically (char classes, bounded repeats, \b): detection and redaction
# must agree bit-for-bit with the ANSI oracle.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII detection + redaction — the scrub stage every training-data
    pipeline runs before publication: count email / phone / IPv4 hits and
    produce the redacted text (categories replaced by typed placeholder
    tags). Pure per-row regexp work in whole-stage codegen: zero shuffle,
    scales as a map-only pass at any corpus size. The redacted text is
    emitted as an md5 so oracle comparison stays narrow; production would
    keep the string column."""
    # Counts are taken STAGE-WISE on the progressively redacted text, so
    # each count equals the number of replacements its stage actually
    # performed: a phone-shaped substring swallowed by the email match
    # (e.g. 'joe+1-234-5678@mail.com', whose local part the email class
    # admits) is counted as 0 phones, matching the redacted output —
    # counting every category on the ORIGINAL text claimed redactions
    # the output didn't contain (r5 review).
    t = F.col(text_col)
    red1 = F.regexp_replace(t, PII_EMAIL, "[EMAIL]")
    red2 = F.regexp_replace(red1, PII_PHONE, "[PHONE]")
    red3 = F.regexp_replace(red2, PII_IPV4, "[IP]")
    return docs.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(red1, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(red2, F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.md5(red3).alias("redacted_md5"),
    )


def top_bigrams_by_source(
    docs: DataFrame,
    k: int = 10,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Corpus n-gram statistics: the k most frequent adjacent word
    bigrams per source (deterministic count-then-lexicographic order) —
    the table behind boilerplate detection and corpus fingerprinting.

    Bigrams come from one array transform over the token array (no
    window, no self-join), so the only shuffle is the (source, bigram)
    count — word-count shaped and fully map-side combinable; the final
    per-source top-k window runs on the already-aggregated counts."""
    toks = docs.select(
        F.col(source_col).alias("source"), _letter_tokens(text_col).alias("_t")
    )
    bigrams = F.when(
        F.size("_t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.concat(
                F.element_at("_t", i), F.lit(" "), F.element_at("_t", i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    counts = (
        toks.select("source", F.explode(bigrams).alias("bigram"))
        .groupBy("source", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("source", "bigram", "n", F.col("rk").cast("long").alias("rk"))
    )


def vocab_profile(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source vocabulary profile: token volume, distinct types,
    hapax legomena, type-token ratio, hapax share — the lexical-diversity
    rollup curators read next to source_quality_profile. Two word-count
    aggregates (term level, then source level), both partial-aggregable;
    ratios are exact-integer divisions so they bit-match any engine."""
    tok = docs.select(
        F.col(source_col).alias("source"),
        F.explode(_letter_tokens(text_col)).alias("term"),
    )
    term_counts = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return term_counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("n_hapax"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("type_token_ratio"),
        F.round(hapax / F.count(F.lit(1)), 6).alias("hapax_share"),
    )


# Fixed public weights for the linear quality head: chosen so the scored
# corpus splits non-trivially at threshold 0 (verified at sf0.01). A real
# pipeline would load trained weights; the execution shape is identical.
QUALITY_WEIGHTS = {
    "bias": -3.0,
    "mean_word_len": 0.45,
    "stopword_share": 4.0,
    "distinct_ratio": 1.5,
}


def quality_model_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier stage of
    C4/CCNet-style pipelines) with the model reduced to a fixed linear
    head over exact corpus features: mean word length, stopword share,
    distinct-word ratio. The sigmoid is monotone, so thresholding the
    logit at 0 is the classifier decision — no exp() in the output path,
    keeping the score bit-comparable across engines (features are exact
    integer ratios; the weighted sum is a fixed-order double fold).

    One token explode + two keyed aggregates, all partitioned on the
    document id — word-count shaped, no all-pairs, no Python.
    """
    from data_eng_project_spark.functions.text import EN_STOPWORDS

    tok = docs.select(
        F.col(id_col).alias("_id"), F.explode(_letter_tokens(text_col)).alias("term")
    )
    term_counts = tok.groupBy("_id", "term").agg(
        F.count(F.lit(1)).alias("c"), F.sum(F.length("term")).alias("chars")
    )
    stop = F.sum(F.when(F.col("term").isin(*EN_STOPWORDS), F.col("c")).otherwise(0))
    per_doc = term_counts.groupBy("_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum("chars").alias("n_letter_chars"),
        F.count(F.lit(1)).alias("n_types"),
        stop.alias("n_stop"),
    )
    mean_len = F.col("n_letter_chars") / F.col("n_tokens")
    stop_share = F.col("n_stop") / F.col("n_tokens")
    distinct_ratio = F.col("n_types") / F.col("n_tokens")
    w = QUALITY_WEIGHTS
    logit = (
        F.lit(w["bias"])
        + F.lit(w["mean_word_len"]) * mean_len
        + F.lit(w["stopword_share"]) * stop_share
        + F.lit(w["distinct_ratio"]) * distinct_ratio
    )
    # One output row per INPUT document: a doc with zero letter tokens
    # has no term_counts rows and would silently vanish from the scores
    # (the keep-filter-join-vs-anti-join divergence unigram_lm_scores
    # documents). Such docs report n_tokens 0, NULL logit, keep false.
    ids = docs.select(F.col(id_col).alias("_id"))
    scored = per_doc.select(
        "_id",
        "n_tokens",
        F.round(logit, 6).alias("quality_logit"),
        (logit > F.lit(0.0)).alias("quality_keep"),
    )
    return ids.join(scored, on="_id", how="left").select(
        F.col("_id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        "quality_logit",
        F.coalesce("quality_keep", F.lit(False)).alias("quality_keep"),
    )


def cross_source_dup_matrix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for every ordered source pair
    (a < b), how many normalized-content fingerprints appear in BOTH and
    how many cross-source document pairs those shared fingerprints induce
    — the provenance question ("which domains mirror which") a curator
    answers before setting per-source dedup and mixture policy.

    Scale design: one fingerprint aggregate per (source, fp), then a
    fp-keyed self-equi-join restricted to source_a < source_b — candidate
    rows exist only for fingerprints actually shared across sources, so
    the join output is duplication-shaped, never all-pairs of sources ×
    docs. A boilerplate fingerprint present in s sources contributes
    s·(s−1)/2 pair rows (sources, not documents), and the document
    multiplicities multiply only inside the aggregated n_doc_pairs
    product. Same one-shuffle word-count shape at 100 TB.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    fp_counts = (
        docs.select(F.col(source_col).alias("source"), F.md5(norm).alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    a = fp_counts.select(
        F.col("fp"), F.col("source").alias("source_a"), F.col("_c").alias("_ca")
    )
    b = fp_counts.select(
        F.col("fp"), F.col("source").alias("source_b"), F.col("_c").alias("_cb")
    )
    return (
        a.join(b, on="fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_fps"),
            F.sum(F.col("_ca") * F.col("_cb")).cast("bigint").alias("n_doc_pairs"),
        )
    )


def domain_mixture_weights(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Domain-reweighting table (the DoReMi/Pile-style mixture step
    reduced to its data-engineering core): per source, observed document
    and whitespace-token shares, and the sampling weight that would
    equalize token mass across sources (uniform target) — multiply by a
    learned target vector for non-uniform mixtures; the execution shape
    is identical.

    Scale design: one partial-aggregable per-source aggregate; corpus
    totals are a second 1-row aggregate broadcast back — no window over
    the corpus, no driver collect. Shares/weights are exact BIGINT ratios
    rounded at the end.
    """
    per_source = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(
                F.filter(
                    F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            )
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    totals = per_source.agg(
        F.sum("n_docs").cast("bigint").alias("_tot_docs"),
        F.sum("n_tokens").cast("bigint").alias("_tot_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("_n_sources"),
    )
    token_share = F.col("n_tokens") / F.col("_tot_tokens")
    return (
        per_source.join(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("_tot_docs"), 6).alias("doc_share"),
            F.round(token_share, 6).alias("token_share"),
            # weight ∝ target_share / observed_share with uniform target
            # 1/n_sources; >1 ⇒ upsample, <1 ⇒ downsample.
            F.round(1.0 / (F.col("_n_sources") * token_share), 6).alias(
                "uniform_weight"
            ),
        )
    )


def token_fertility_profile(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility profile per group (language): characters per
    whitespace token and per BPE-ish token, and the BPE/whitespace blow-up
    ratio — the statistic that prices a tokenizer change against a corpus
    and catches languages the tokenizer fragments.

    Corpus-level exact-integer sums (not averages of per-doc ratios, which
    would weight short documents up); single partial-aggregable shuffle.
    """
    ws = F.size(
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != F.lit("")
        )
    )
    bpe = F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
        )
    )
    per_group = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(text_col)).cast("bigint").alias("n_chars"),
        F.sum(ws).cast("bigint").alias("n_ws_tokens"),
        F.sum(bpe).cast("bigint").alias("n_bpe_tokens"),
    )
    return per_group.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_chars",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.round(F.col("n_chars") / F.col("n_ws_tokens"), 6).alias("chars_per_ws_token"),
        F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6).alias(
            "chars_per_bpe_token"
        ),
        F.round(F.col("n_bpe_tokens") / F.col("n_ws_tokens"), 6).alias(
            "bpe_blowup"
        ),
    )


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Bigram language-model quality scoring with stupid backoff (Brants
    et al. 2007, "Large Language Models in Machine Translation"): the
    model trains on HALF the corpus (even ids) and scores every
    document, so held-out documents genuinely exercise the backoff path
    — score(w2|w1) = c(w1 w2)/c(w1) when the bigram was seen, else
    α·c(w2)/total, else α/total for OOV — unlike a self-trained model
    where every bigram trivially exists.

    Outputs per doc: bigram count, mean log-score, and the backoff rate
    (fraction of bigrams that fell back) — the latter is itself a
    domain-shift signal.

    Scale: bigram/unigram models are corpus-vocabulary-sized aggregates;
    scoring joins are keyed shuffles on (w1,w2) and w — word-count
    shaped, map-side combinable, no broadcast assumption (a web-scale
    bigram table does not broadcast). Accumulation is DECIMAL(38,12)
    (order-free exact), doubles only at the end — same cross-engine
    discipline as unigram_lm_scores.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"), _letter_tokens(text_col).alias("_t")
    )
    bigrams = F.when(
        F.size("_t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.struct(
                F.element_at("_t", i).alias("w1"),
                F.element_at("_t", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<w1 STRING, w2 STRING>>)"))
    doc_bg = toks.select("_id", F.explode(bigrams).alias("bg")).select(
        "_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    tf = doc_bg.groupBy("_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))

    train = toks.filter(F.col("_id") % 2 == 0)
    uni = (
        train.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = (
        train.select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    total = uni.agg(F.sum("c1").cast("bigint").alias("total"))

    scored = (
        tf.join(bi, on=["w1", "w2"], how="left")
        .join(uni.select(F.col("w").alias("w1"), "c1"), on="w1", how="left")
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c1").alias("c2")),
            on="w2",
            how="left",
        )
        .join(F.broadcast(total))
    )
    logp = F.when(
        F.col("c12").isNotNull(),
        F.log(F.col("c12").cast("double") / F.col("c1").cast("double")),
    ).otherwise(
        F.log(
            F.lit(alpha)
            * F.coalesce(F.col("c2"), F.lit(1)).cast("double")
            / F.col("total").cast("double")
        )
    )
    backed_off = F.when(F.col("c12").isNull(), F.col("tf")).otherwise(F.lit(0))
    per_doc = scored.groupBy("_id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.sum((F.col("tf") * logp).cast("decimal(38,12)")).alias("_lp"),
        F.sum(backed_off).cast("bigint").alias("_n_back"),
    )
    avg = F.col("_lp").cast("double") / F.col("n_bigrams")
    out = docs.select(F.col(id_col).alias("_id")).join(per_doc, "_id", "left")
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
        F.round(avg, 6).alias("avg_logprob"),
        F.round(
            F.coalesce(F.col("_n_back").cast("double") / F.col("n_bigrams"), F.lit(0.0)),
            6,
        ).alias("backoff_rate"),
    )


def export_training_shards(
    docs: DataFrame,
    out_dir: str,
    chunk_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
) -> DataFrame:
    """The pipeline's last mile: write pack-annotated documents as
    training shards (parquet partitioned by shard, rows ordered by
    packing offset within each shard) and return the per-shard manifest
    (docs, tokens, chunks) that ships alongside them — what a trainer's
    data loader reads to plan epochs without scanning the shards.

    Layout notes: partitionBy(shard) gives per-shard directories a
    loader can open independently; sortWithinPartitions(start_offset)
    makes each file's row order the packing order, so sequential reads
    reconstruct the token stream without a shuffle at load time. The
    manifest is computed by READING BACK the shards just written — one
    pack/shuffle job total (the lineage-recompute form ran the whole
    packing plan twice, once per consumer — r5 review), and the manifest
    is guaranteed consistent with the bytes on disk.
    """
    packed = pack_sequences(
        docs, chunk_tokens, text_col=text_col, id_col=id_col, shard_col=shard_col
    ).join(docs.select(F.col(id_col), F.col(text_col)), on=id_col)
    (
        packed.repartition("shard")
        .sortWithinPartitions("start_offset")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    written = docs.sparkSession.read.parquet(out_dir)
    return (
        written.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            (F.max("end_chunk") + 1).cast("bigint").alias("n_chunks"),
        )
    )


def split_column(
    id_col: str = "doc_id", train_pct: int = 80, val_pct: int = 10
) -> "F.Column":
    """Deterministic train/val/test assignment as a pure column
    expression: the first 8 hex digits of md5(id) parsed as an integer
    land each document in a percent bucket; buckets map to splits. No
    RNG, no shuffle, identical on any engine and any partitioning — the
    property a 100 TB pipeline needs so that split membership never
    changes when the corpus is re-partitioned, re-ordered, or
    incrementally extended (a new document's split is a function of its
    id alone).

    md5 (not a multiplicative-congruential map) matters for arbitrary
    id spaces: a linear map of the id collapses when ids are allocated
    with a stride sharing factors with 100 (sharded schemes emitting
    multiples of 20/50/100 would land val/test empty), and Spark's %
    keeps sign so negative ids would all fall in 'train'. The md5
    bucket is uniform and sign-safe for any 64-bit id, and mirrors
    byte-for-byte in the DuckDB oracle
    (``plans/textdata._SPLIT_CASE``).
    """
    from data_eng_project_spark.functions.hashing import md5_bucket

    bucket = md5_bucket(id_col, 100)
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Per-(split, source) composition report for a deterministic split:
    document and token counts plus each cell's share of its split's
    docs — the table a data-mixture owner reads to confirm val/test are
    compositionally representative of train before signing off a
    dataset release. One scan, one groupBy; the split is a pushed-down
    expression so at scale this is a pure map-side-combine aggregate.
    """
    toks = F.filter(tokens(text_col), lambda x: x != F.lit(""))
    assigned = docs.select(
        split_column(id_col, train_pct, val_pct).alias("split"),
        F.col(source_col).alias("source"),
        F.size(toks).alias("_nt"),
    )
    per_cell = assigned.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )
    split_tot = per_cell.groupBy("split").agg(
        F.sum("n_docs").alias("_split_docs")
    )
    return per_cell.join(F.broadcast(split_tot), on="split").select(
        "split",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.col("_split_docs"), 6).alias("doc_share"),
    )


def cross_split_leakage(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Contamination audit: near-duplicate pairs whose two members fall
    in *different* splits of a deterministic hash split — exactly the
    pairs through which evaluation data leaks into training. Takes the
    pair list from any dedup detector (exact, n-gram Jaccard, MinHash,
    SemDeDup) so the audit's notion of "duplicate" matches the
    pipeline's. The split of each endpoint is recomputed from its id
    (no join against the corpus needed), so the audit costs one
    projection + filter over the pair list.
    """
    sa = split_column(id_a, train_pct, val_pct)
    sb = split_column(id_b, train_pct, val_pct)
    return (
        pairs.select(
            "*", sa.alias("split_a"), sb.alias("split_b")
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Soft dedup: instead of dropping near-duplicates, weight every
    document by 1/|its duplicate cluster| so each duplicate *family*
    contributes one document's worth of training mass (the repetition-
    aware reweighting alternative to hard removal — keeps coverage,
    kills over-representation). Documents outside the pair graph keep
    weight 1. Emitted per document: component, cluster size, weight,
    raw and effective (weight-scaled) token counts — the numbers a
    mixture planner feeds into its sampling rates.

    Scale design: one connected-components run over the pair list
    (min-label propagation, O(diameter) rounds — operators/clusters.py),
    one cluster-size aggregate, one left join back to the corpus scan.
    The weight is derived, not stored state, so incremental corpus
    growth just re-runs components on the (small) pair graph.
    """
    from data_eng_project_spark.operators.clusters import connected_components

    # Exactly ONE of ``pairs`` / ``components`` (r13, ADVICE r12): pass
    # ``components`` (an (id, comp) frame) when a materialized component
    # artifact exists — e.g. the staged dup_components parquet
    # (pipelines/staging.py), which the canonical-keep consumer already
    # shares; recomputing the O(diameter)-round propagation per consumer
    # multiplies the one iterative job in this family by the consumer
    # count (r12). The caller owns the derivation invariant: a supplied
    # components frame must be the connected components OF the pair
    # graph this corpus' dedup detector produces (the staged path keys
    # the artifact by corpus dir + parameters + producing-operator
    # source fingerprint, so a mismatched artifact cannot be served as
    # current — see staging.dup_components_path). Accepting both inputs
    # made ``pairs`` silently dead when components was passed, hiding
    # exactly that mismatch risk.
    if (pairs is None) == (components is None):
        raise ValueError(
            "soft_dedup_weights: pass exactly one of pairs= or components="
        )
    comps = components if components is not None else connected_components(pairs)
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("_csize"))
    assigned = comps.join(sizes, on="comp").select(
        F.col("id").alias("_cid"), F.col("comp").alias("_comp"), "_csize"
    )
    toks = F.filter(tokens(text_col), lambda x: x != F.lit(""))
    base = docs.select(F.col(id_col), F.size(toks).alias("_nt"))
    csize = F.coalesce(F.col("_csize"), F.lit(1))
    return base.join(
        assigned, base[id_col] == assigned["_cid"], "left"
    ).select(
        F.col(id_col),
        F.coalesce("_comp", F.col(id_col)).alias("component"),
        csize.cast("bigint").alias("cluster_size"),
        F.round(F.lit(1.0) / csize, 6).alias("weight"),
        F.col("_nt").cast("bigint").alias("n_tokens"),
        F.round(F.col("_nt") / csize, 6).alias("effective_tokens"),
    )


def collocation_lift(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Corpus collocations: adjacent word pairs ranked by association
    lift = P(w1 w2) / (P(w1)·P(w2)) — the quantity whose log is PMI
    (the log is monotone, so ranking by lift IS ranking by PMI; lift is
    emitted instead because ln() is not correctly-rounded across math
    libraries while the division tree below is plain IEEE arithmetic
    both engines evaluate identically). High-lift pairs are the
    multi-word expressions a tokenizer/phrase-miner should fuse and the
    boilerplate bellwethers a curator inspects; the ``min_count`` floor
    removes the hapax pairs whose lift is spuriously huge.

    Scale shape: two word-count aggregates (unigrams, bigram strings)
    over one tokenization pass, two vocab-sized equi-joins to attach
    the unigram counts (AQE decides broadcast vs shuffle), a 1-row
    totals broadcast, and a TakeOrdered top-k — no window over the
    corpus, no self-join.
    """
    toks = docs.select(_letter_tokens(text_col).alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = F.when(
        F.size("_t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.concat(
                F.element_at("_t", i), F.lit(" "), F.element_at("_t", i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    bc_all = (
        toks.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    bc = bc_all.filter(F.col("n_pair") >= min_count)
    # Totals re-aggregate the two count tables (vocab-sized), not the
    # corpus — and because bc_all/uni appear twice with identical
    # subplans, AQE's ReuseExchange serves the second read from the
    # first's shuffle output instead of re-tokenizing the corpus.
    totals = uni.agg(F.sum("c").cast("double").alias("n_uni")).crossJoin(
        bc_all.agg(F.sum("n_pair").cast("double").alias("n_big"))
    )
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    scored = (
        bc.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(
                (F.col("n_pair").cast("double") / F.col("n_big"))
                / (
                    (F.col("c1").cast("double") / F.col("n_uni"))
                    * (F.col("c2").cast("double") / F.col("n_uni"))
                ),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)
