"""Merged query registry backing __spark_entry__.

Each submodule contributes a QueryRegistry; keys are the SURVEY.md §2
declared query names and must be globally unique (merge() enforces).

The merged key order is merge order: the modules in ``MODULES`` order,
then registration order within each module. It depends on the code
alone — building the registry reads no file and runs no subprocess.
"""

from __future__ import annotations

import importlib

from ngram_analytics_spark.registry import ROWS_ONLY_BY_DESIGN, QueryRegistry

#: query submodules, in merge order
MODULES: tuple[str, ...] = (
    "text_q",
    "relational",
    "relational2",
    "relational3",
    "relational4",
    "relational5",
    "relational6",
    "relational7",
    "llm_q",
    "timeseries_q",
    "udf_q",
    "pipeline_q",
    "events_q",
    "corpus_q",
    "graph_q",
    "layout_q",
    "sampling_q",
    "quality_q",
)


def build_registry() -> QueryRegistry:
    merged = QueryRegistry()
    for mod in MODULES:
        merged.merge(importlib.import_module(f"{__name__}.{mod}").REG)

    no_oracle = set(merged.queries) - set(merged.oracles)
    if no_oracle != set(ROWS_ONLY_BY_DESIGN):
        raise ValueError(
            "no-oracle keys drifted from ROWS_ONLY_BY_DESIGN: "
            f"undocumented={sorted(no_oracle - set(ROWS_ONLY_BY_DESIGN))} "
            f"stale={sorted(set(ROWS_ONLY_BY_DESIGN) - no_oracle)}"
        )
    return merged
