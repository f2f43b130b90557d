"""Registry order: the SURVEY §2 spec surface leads ``QUERIES``.

A budget-limited correctness check samples a prefix of the registry, so
the spec surface must come first, and ``load_all`` must register every
query the package defines. Import-only: no SparkSession.
"""

from __future__ import annotations

import os
import re

from ting_data_etl_spark import registry

SPEC_PREFIXES = ("flagship", "job_", "prim_", "sink_", "e2e_", "csv_")

#: SURVEY §2: the flagship, the six reference jobs plus the config-driven
#: one, the primitives, the per-group sink and the CSV end-to-end paths.
SPEC_SURFACE = {
    "flagship_pricing_summary",
    "job_23_1_annual_kpi",
    "job_23_2_monthly_yoy",
    "job_24_1_performance_kpi",
    "job_24_2_branch_month_conversion",
    "job_25_1_top5_branches",
    "job_25_2_bottom5_branches",
    "job_generic_config_sum",
    "prim_to_number_cleaning",
    "prim_parse_month",
    "prim_filter_predicates",
    "prim_pivot_status",
    "prim_topk_orders_per_customer",
    "prim_anti_join_inactive_customers",
    "prim_union_by_name",
    "prim_distinct_count",
    "prim_presence_check",
    "prim_fanout_routing_counts",
    "prim_fmt_pct",
    "sink_per_group_monthly_csv",
    "prim_fanout_verify",
    "e2e_csv_pipeline",
    "csv_dir_scan_profile",
}


def _decorated_names() -> set[str]:
    """Every ``@register("name", ...)`` in the package source."""
    root = os.path.dirname(registry.__file__)
    pat = re.compile(r'@register\(\s*"([^"]+)"')
    names: set[str] = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    names.update(pat.findall(fh.read()))
    return names


def test_spec_surface_is_a_prefix():
    # a family imported before load_all registers first; it must not lead
    import ting_data_etl_spark.operators.curation  # noqa: F401

    registry.load_all()
    names = list(registry.QUERIES)
    spec = [n for n in names if n.startswith(SPEC_PREFIXES)]
    assert set(spec) == SPEC_SURFACE
    assert names[: len(spec)] == spec, names[: len(spec) + 5]


def test_load_all_registers_every_decorated_query():
    registry.load_all()
    assert set(registry.QUERIES) == _decorated_names()
