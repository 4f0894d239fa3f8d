from udacity_data_engineering_capstone_project_spark.operators.cleaning import (
    cast_columns,
    fix_mojibake,
    normalize_domain,
    normalize_unicode,
)
from udacity_data_engineering_capstone_project_spark.operators.quality import (
    annotate_filter_cascade,
    apply_filter_cascade,
    key_skew_report,
    quantile_bins,
    rolling_zscore,
    run_expectations,
    schema_drift,
    winsorize,
)
from udacity_data_engineering_capstone_project_spark.operators.textstats import (
    calibration_bins,
    classifier_pr_curve,
)
from udacity_data_engineering_capstone_project_spark.operators.sketches import (
    estimate_sketch_intersection,
    heavy_hitters,
    merge_quantile_sketches,
    quantile_sketch,
    sketch_quantiles,
)
from udacity_data_engineering_capstone_project_spark.operators.sampling import (
    temperature_mix,
)
from udacity_data_engineering_capstone_project_spark.operators.relational import (
    argmax_join,
    avg_of_avgs,
    maybe_broadcast,
    star_left_join,
    top_per_group,
)
from udacity_data_engineering_capstone_project_spark.operators.quality import (
    QualityError,
    expect_distinct_count,
    expect_non_null,
    expect_row_count,
    expect_schema,
)
from udacity_data_engineering_capstone_project_spark.operators.bloom import (
    bloom_might_contain,
    bloom_screen_new,
    build_bloom,
    merge_blooms,
    optimal_num_bits,
    optimal_num_hashes,
)

__all__ = [
    "annotate_filter_cascade",
    "apply_filter_cascade",
    "fix_mojibake",
    "run_expectations",
    "schema_drift",
    "winsorize",
    "key_skew_report",
    "quantile_bins",
    "rolling_zscore",
    "calibration_bins",
    "classifier_pr_curve",
    "estimate_sketch_intersection",
    "heavy_hitters",
    "merge_quantile_sketches",
    "quantile_sketch",
    "sketch_quantiles",
    "temperature_mix",
    "bloom_might_contain",
    "bloom_screen_new",
    "build_bloom",
    "merge_blooms",
    "optimal_num_bits",
    "optimal_num_hashes",
    "cast_columns",
    "normalize_domain",
    "normalize_unicode",
    "argmax_join",
    "avg_of_avgs",
    "maybe_broadcast",
    "star_left_join",
    "top_per_group",
    "QualityError",
    "expect_distinct_count",
    "expect_non_null",
    "expect_row_count",
    "expect_schema",
]
