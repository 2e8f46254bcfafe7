#!/usr/bin/env python3
"""Generate QUERIES.md — the complete registry index (name, verification
mode, tags, headline membership, implementing module) — so coverage can
be audited without reading the plans package. Run after adding queries:
    python tools/gen_query_index.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_eng_project_spark.plans import REGISTRY  # noqa: E402

# Why each rows-only query is PERMANENTLY rows-only (not a conversion
# backlog): registry oracles are static ANSI SQL that must hold at EVERY
# scale factor, so anything whose exact output depends on the data
# (learned codebooks, compressed bytes) or on an engine-specific
# primitive DuckDB lacks cannot carry one. Each entry names the exact
# non-SQL dependency; the pytest twin named in its docstring is the
# verification instead.
_ROWS_ONLY_RATIONALE = {
    "similarity_ann_ivf": "centroids come from a sampled pyspark.ml fit "
    "(the right 100 TB design); a full-corpus replay fit just to gain "
    "an oracle would trade the design for gradeability; recall is "
    "oracle-graded via ann_recall_report",
    "similarity_ann_pq": "per-subspace codebooks from a sampled "
    "pyspark.ml fit — same rationale as similarity_ann_ivf",
    "similarity_ann_ivfpq": "coarse quantizer + codebooks from a "
    "sampled pyspark.ml fit — same rationale as similarity_ann_ivf",
    "semdedup_embeddings": "k-means coarse clusters from a sampled "
    "pyspark.ml fit; the cluster-restricted exactness property is "
    "pytest-pinned (test_semdedup_matches_clusterwise_exact) and "
    "precision/recall are oracle-graded via semdedup_accuracy_report "
    "(audit universe size-pinned at 10k ids, r9)",
    "compression_quality_signal": "zlib (LZ77 window + Huffman over "
    "byte streams) is not expressible in SQL, and compressed sizes "
    "depend on the data, so no static-SQL or table-literal twin can "
    "hold at every sf; exact python-twin equality is pytest-asserted "
    "and the decompress-roundtrip invariant is oracle-graded via "
    "compression_roundtrip_report (r9)",
    "bpe_encode_corpus_stats": "the greedy BPE merge table depends on "
    "the data, so a VALUES-literal fit at one sf is wrong at every "
    "other; exact pure-python-twin parity is pytest-asserted and the "
    "encode-decode identity is oracle-graded via bpe_roundtrip_report",
    "streaming_dedup_index_probe": "stateful streaming probe: output "
    "is the engine's own state-store round-trip, which has no batch "
    "SQL equivalent; replay-idempotence is pytest-asserted and probe "
    "recall is oracle-graded via streaming_dedup_recall_report "
    "(probe batch size-pinned at 1000 ids, r9)",
    "audio_fingerprint_match": "rFFT-peak fingerprints (numpy inside "
    "the Arrow batch) have no SQL twin; match determinism is "
    "pytest-pinned and planted-truth top-1 accuracy is oracle-graded "
    "via audio_match_accuracy_report (quadruple-onset constellation "
    "hashes after the r9 500k-clip false-tie fix)",
    "embedding_pca_scree": "eigendecomposition of the d×d moment "
    "matrix (numpy, driver-side on a bounded matrix) has no SQL twin; "
    "reconstruction properties are pytest-pinned and the trace/"
    "variance-preservation invariants are oracle-graded via "
    "pca_trace_report",
    "embedding_pca_project": "projection through the eigenbasis — "
    "same rationale as embedding_pca_scree; the basis and the "
    "projection itself are additionally oracle-graded via "
    "pca_projection_agreement_report (fixed-seed power-iteration "
    "twin, r11)",
}


QUERIES_MD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")


def render() -> str:
    """The text of QUERIES.md for the current REGISTRY."""
    # The rationale table must track the REGISTRY's actual rows-only
    # set (oracle is None).
    rows_only = {n for n, s in REGISTRY.items() if s.oracle is None}
    missing = rows_only - set(_ROWS_ONLY_RATIONALE)
    extra = set(_ROWS_ONLY_RATIONALE) - rows_only
    if missing or extra:
        raise SystemExit(
            f"rows-only rationale out of sync: missing={missing} extra={extra}"
        )
    lines = [
        "# Query index (generated by tools/gen_query_index.py)",
        "",
        f"{len(REGISTRY)} registered queries; "
        f"{sum(1 for s in REGISTRY.values() if s.oracle)} DuckDB-oracle-checked "
        "(row count + schema + exact values at sf0.01 via the driver, sf0.001 via "
        "pytest); the rest are rows-only with exact-twin or property tests named "
        "in each docstring. ★ = headline bench set (bench.py).",
        "",
        "| Query | Verified | Tags | Module |",
        "| --- | --- | --- | --- |",
    ]
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        star = " ★" if spec.headline else ""
        mode = "oracle" if spec.oracle else "rows-only + tests"
        module = spec.fn.__module__.replace("data_eng_project_spark.plans.", "plans/")
        lines.append(f"| `{name}`{star} | {mode} | {', '.join(spec.tags)} | {module} |")
    lines += [
        "",
        "## Permanently rows-only (by nature, not backlog)",
        "",
        "Registry oracles are static ANSI SQL that must hold at every "
        "scale factor; these queries' exact outputs depend on the data "
        "(learned fits, compressed bytes) or on primitives DuckDB lacks, "
        "so they cannot carry one. Verification is the named pytest twin.",
        "",
        "| Query | Why no oracle can exist |",
        "| --- | --- |",
    ]
    for name in sorted(_ROWS_ONLY_RATIONALE):
        lines.append(f"| `{name}` | {_ROWS_ONLY_RATIONALE[name]} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(QUERIES_MD, "w") as f:
        f.write(render())
    print(f"wrote {QUERIES_MD}: {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
