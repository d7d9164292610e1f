"""insideout-spark: PySpark-native dual-cover point-in-polygon engine +
web-scale training-data toolkit (see README.md).

Public API (lazy imports keep `import insideout_spark` dependency-light
until a function is actually used):

    build_index / save_index / load_index / get_feature / typed_prop
    pip_join (strategies: jvm | fused | salted | bucketed)
    assign_tiles / dissolve_tiles / knn_join
    exact_dedup_groups / minhash_lsh_pairs / simhash64 /
    ngram_jaccard_pairs / embedding_near_dup_pairs / fingerprint
    cosine_topk_brute / lsh_bucket_ann / ivf_ann
    doc_stats / lang_guess / quality_rules / token_counts
    run_checkpointed / read_lineage / read_output
"""

from __future__ import annotations

from insideout_spark import _worker

_worker.install()

_EXPORTS = {
    "build_index": "insideout_spark.plans.index_build",
    "save_index": "insideout_spark.plans.index_build",
    "save_index_bucketed": "insideout_spark.plans.index_build",
    "load_index": "insideout_spark.plans.index_build",
    "cover_guard_stats": "insideout_spark.plans.index_build",
    "pip_join": "insideout_spark.plans.pip_join",
    "get_feature": "insideout_spark.plans.metrics",
    "typed_prop": "insideout_spark.plans.metrics",
    "filter_properties": "insideout_spark.plans.metrics",
    "assign_tiles": "insideout_spark.plans.tiles",
    "dissolve_tiles": "insideout_spark.plans.tiles",
    "knn_join": "insideout_spark.plans.knn",
    "knn_brute": "insideout_spark.plans.knn",
    "knn_cell_join": "insideout_spark.plans.knn",
    "exact_dedup_groups": "insideout_spark.plans.webtext",
    "drop_exact_dups": "insideout_spark.plans.webtext",
    "minhash_lsh_pairs": "insideout_spark.plans.webtext",
    "simhash64": "insideout_spark.plans.webtext",
    "ngram_jaccard_pairs": "insideout_spark.plans.webtext",
    "embedding_near_dup_pairs": "insideout_spark.plans.webtext",
    "fingerprint": "insideout_spark.plans.webtext",
    "cosine_topk_brute": "insideout_spark.plans.webtext",
    "lsh_bucket_ann": "insideout_spark.plans.webtext",
    "ivf_ann": "insideout_spark.plans.webtext",
    "doc_stats": "insideout_spark.plans.webtext",
    "lang_guess": "insideout_spark.plans.webtext",
    "quality_rules": "insideout_spark.plans.webtext",
    "token_counts": "insideout_spark.plans.webtext",
    "run_checkpointed": "insideout_spark.plans.checkpoint",
    "read_lineage": "insideout_spark.plans.checkpoint",
    "read_output": "insideout_spark.plans.checkpoint",
    "get_spark": "insideout_spark.session",
    "CoverParams": "insideout_spark.geo.cover",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module 'insideout_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)
