#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of headline queries.

Run from the repo root: python scripts/dump_plans.py
Keeps the plan evidence in the repo honest — the file is generated,
never hand-edited; plan regressions are caught by tests/test_plans.py.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from bolson_spark.queries import QUERIES  # noqa: E402
from bolson_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

HEADLINERS = {
    "convert_pipeline": "the flagship convert path (parse->scalable seq->batch id->agg)",
    "pricing_summary": "TPC-H Q1 shape: pushdown + partial/final aggregation",
    "local_supplier_volume": "TPC-H Q5 shape: 6-way join, broadcast dims",
    "large_volume_customers": "TPC-H Q18 shape: HAVING-aggregate before join, TakeOrdered",
    "topk_orders": "global top-k as TakeOrderedAndProject (no sort shuffle)",
    "asof_attribution": "as-of join: single Exchange (union + running last)",
    "clean_corpus": "corpus cleaning: one shuffle, JVM-only",
    "simhash_pairs": "banded near-dup: equi-join candidate generation",
    "dedup_minhash": "MinHash LSH: size-ratio prefilter inside the candidate join",
    "decontaminate": "eval-gram broadcast probe, one pass over the corpus gram stream",
    "bm25_search": "BM25: broadcast stats row, lambda-filter tf, TakeOrdered",
    "zorder_layout": "Morton interleave + bucket stats: one min/max broadcast, one agg",
    "convert_parse_battery": "battery differential corpus: list parse -> scalable seq",
    "convert_quarantine": "dead-letter parse routing: classify, never fail",
    "boilerplate_chunks": "chunk-df aggregation + broadcast anti-join back",
    "intra_doc_dedup": "within-doc passage dedup: pure narrow map, zero shuffle",
    "lm_quality": "unigram LM scoring: explode, broadcast vocab join, one doc agg",
    "semantic_decontaminate": "eval-matrix GEMM via mapInPandas: one corpus scan",
    "incremental_minhash": "delta-vs-corpus banded probe: equi-joins only, no corpus rescan",
    "dedup_embedding_ivf_scaled": "scalable-cells IVF dedup: shuffle-free GEMM assign, one pair-stage exchange",
    "canonical_containment": "canonicalize-then-contain: one extra groupBy removes the dup-mass quadratic",
    "ivf_knn_batch": "batched ANN serving: one corpus assign scan, per-query windowed top-k",
    # hll_distinct's registry fn is EAGER since round 7 (register
    # aggregates collected so the persist releases) — the register
    # build's plan is dumped via the lazy construction below instead
    "cm_frequency": "count-min: constant-size grid broadcast to the probe join",
    "hashed_quality_score": "hashed linear classifier: ONE narrow map, zero exchanges",
    "balanced_shards": "token-balanced shards: scalable seq, no range-partitioned sort",
    "heavy_hitters_twopass": "exact heavy hitters, candidate route: pass-2 verify — broadcast candidate semi-join, candidate-only aggregation (pass 1 runs eagerly; its plan is dumped below)",
    "hist_quantiles": "histogram quantile sketch: partial-agg bins, window over n_bins rows",
    "training_corpus_neardup": "flagship pipeline with near-dup survivors: rep-level set_fp stage, anti-join survivors",
    "knn_sq_whitened": "whiten-then-int8 kNN: one narrow whiten+quantize scan, broadcast query row, TakeOrdered",
    "pmi_collocations": "PMI-ratio collocations: min_pair tail cut before joins, unigram exchange reused, normalizers derived (no third token scan)",
    "ivf_knn_saved": "saved-index ANN probe: partition-pruned cell scan (PartitionFilters), TakeOrdered",
    "ivf_pq_knn_saved": "saved IVFADC probe: pruned PQ-code cell scan + broadcast-LUT ADC, full vectors never read",
    "dup_span_coverage": "substring dedup signal: stride-1 window counts, gaps-and-islands span merge",
    "strip_dup_spans": "keep-one span removal: canonical argmin join, narrow indexed-lambda reassembly",
    "training_corpus_spandedup": "composed substring + near-dup pipeline: span-strip feeds cleaned text to LSH dedup; lineage truncated at the cleaned-corpus boundary",
    "repetition_metrics": "Gopher Table-A1 family: one narrow map of seven sorted-run folds per document; the only Exchange is _spread's round-robin on under-split input",
    "dsir_selection": "DSIR importance weights: two token aggs, broadcast stats row, vocab ratio join, one doc agg",
}


# lazy constructions whose registry twin is eager or route-dependent:
# dumped from the building blocks so the evidence stays visible
def _extra_plans(spark):
    from bolson_spark.functions.sketch import _hh_local_stats, hll_registers
    from bolson_spark.queries_corpus import _doc_tokens

    # the SAME token stream the registry queries build (_doc_tokens,
    # incl. its empty-token filter) — the dumped plan must be the plan
    # the production register build compiles, not a lookalike
    toks = _doc_tokens(spark, SF)
    yield (
        "hll_registers (hll_distinct's register build)",
        "register HLL: map-side partial_max combine — the corpus-scale "
        "job hll_distinct/hll_union run eagerly since round 7",
        hll_registers(toks, "token", "source", p=6),
    )
    yield (
        "heavy_hitters pass 1 (candidate generation)",
        "per-Arrow-batch local counting emits the guaranteed candidate "
        "superset + per-batch `_n` rows — the tail never leaves its "
        "partition; heavy_hitters materializes this eagerly, so it is "
        "invisible in the registry query's own plan",
        _hh_local_stats(toks.select("token"), "token", 1, 500),
    )


def main() -> None:
    spark = get_spark("plan-dump", cpus=4, shuffle_partitions=4)
    out = [
        "# PLANS — physical-plan evidence (generated)\n",
        "Generated by `python scripts/dump_plans.py` at sf0.001 "
        "(plan SHAPE is scale-independent; AQE may upgrade joins at "
        "runtime). What to look for: `PushedFilters` reaching scans, "
        "pruned `ReadSchema`, `BroadcastHashJoin` on dims, "
        "`TakeOrderedAndProject` for top-k, `WholeStageCodegen` spans, "
        "and Exchange counts. Guarded by tests/test_plans.py.\n",
    ]
    def dump(name, why, df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n{why}\n\n```\n{plan.rstrip()}\n```\n")

    for name, why in HEADLINERS.items():
        dump(name, why, QUERIES[name].fn(spark, SF))
    for name, why, df in _extra_plans(spark):
        dump(name, why, df)
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
