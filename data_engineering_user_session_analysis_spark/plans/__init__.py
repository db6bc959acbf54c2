"""Physical-plan introspection utilities (see `plans.audit`)."""

from data_engineering_user_session_analysis_spark.plans.audit import (  # noqa: F401
    count_exchanges,
    count_joins,
    count_scans,
    count_windows,
    executed_plan,
    has_pushed_filter,
    is_equi_join_only,
    jobs_of,
    plan_features,
    plan_nodes,
    whole_stage_codegen_spans,
)
