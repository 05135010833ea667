"""The benchmark's workloads: named job lists over the query catalog.

A *job* is one ``QUERIES[name](spark, data_dir)`` call plus a full
materialization of its result; a *pass* runs a workload's jobs once, the
first pass in the order listed here and later ones in an order permuted by
the seed.  Each workload loads different package layers, so that a change to
one layer has a workload that exercises it and one that does not.  The lists
are short because every run pays two ~10 s JVM cold starts (a set-up probe
and its own) and a first pass 2–4x slower than a warm one, and the
benchmark's runs must fit a fixed time budget.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    jobs: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tpch_star",
            "read-only star-schema analytics (c2, j11, a5, o4): loads io.scan, operators.joins, "
            "query plan building and the shuffle; no Python workers, no sinks",
            (
                "c2_regional_revenue",
                "j11_salted_skew_join",
                "a5_rollup",
                "o4_topk_per_group",
            ),
        ),
        Workload(
            "llm_lake",
            "LLM operators (l1 dedup, l8 text, l27 similarity, l11f decode in Python workers) "
            "plus write-then-read round trips through io sinks and fixed_width (s5, s20)",
            (
                "l1_exact_dedup",
                "l8_text_quality",
                "l27_quantized_dot",
                "l11f_png_decode",
                "s5_parquet_roundtrip",
                "s20_python_datasource",
            ),
        ),
    )
}
