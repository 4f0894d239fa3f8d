from udacity_data_engineering_capstone_project_spark.plans.lint import (
    assert_scalable,
    lint_plan,
    plan_summary,
)
from udacity_data_engineering_capstone_project_spark.plans.pipeline import (
    orphaned_checkpoint_trees,
    run_pipeline,
)
from udacity_data_engineering_capstone_project_spark.plans.star import build_dimension

__all__ = [
    "assert_scalable",
    "build_dimension",
    "lint_plan",
    "plan_summary",
    "orphaned_checkpoint_trees",
    "run_pipeline",
]
