"""The benchmark's workloads: which registry lanes run, on what inputs,
and into which sink.

A lane is a registry query name. Its action is a ``noop`` sink (forces
every join and aggregate, unlike ``count()``), or for ``etl_sink`` the
named writer from ``sources.writers``. ``sf`` is the generator's scale
factor (``lineitem`` rows = 6,000,000 x ``sf`` before the 90 % keep).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    lanes: tuple[str, ...]
    # lane -> writer in sources.writers; lanes not listed use the noop sink
    sinks: dict[str, str]


# The build layer: most of a pass is plan construction and build-time
# jobs (eager checkpoints, driver round trips), plus the Arrow boundary.
LLM_CORPUS = Workload(
    name="llm_corpus",
    sf=0.02,
    lanes=(
        "q141_pii_redaction",
        "q432_multimodal_decode_arrow",
        "q185_triangle_census",
        "q131_foreachbatch_materialized_counts",
    ),
    sinks={},
)

# The write path: the three notebooks' lanes, each written through
# sources.writers (CSV for the cleaned tables, as the notebooks do),
# over the same star tables that carry the scan/join/aggregate work.
_PRE_ANALYSIS = ("q34_profile_summary_stats",)
_PRE_PROCESS = ("q22_dedup_keep_first", "q07_conditional_update", "q11_left_anti_delete")
_TRANSFORM = ("q01_revenue_by_nation", "q06_case_when_buckets", "q54_customer_features")

ETL_SINK = Workload(
    name="etl_sink",
    sf=0.05,
    lanes=_PRE_ANALYSIS + _PRE_PROCESS + _TRANSFORM,
    sinks={
        **{q: "write_parquet" for q in _PRE_ANALYSIS + _TRANSFORM},
        **{q: "write_csv" for q in _PRE_PROCESS},
    },
)

WORKLOADS = {w.name: w for w in (LLM_CORPUS, ETL_SINK)}
