"""The reference pipeline, re-expressed Spark-first (parity layer).

Reproduces the full semantics of `etl.py` (immigration + temperature +
airport-codes -> 7-table star schema -> quality checks) as composable
functions over DataFrames, with the reference's Catalyst blockers
removed (SURVEY.md §4):

- SAS-date Python UDF (`etl.py:41-47`) -> native `date_add` expression.
- argmax via count->max->self-join (`etl.py:181-204`) -> one window
  pass (`top_per_group`; count ties break on state asc).
- `monotonically_increasing_id` surrogate keys -> deterministic keys,
  the same on every action and every run: the facts hash their natural
  keys (`id_imm` = xxhash64(cicid), `id_temp` = xxhash64(dayofmonth,
  month, state)), the dims number their distinct values with a
  `row_number` over the natural key.
- cosmetic ORDER BYs inside subqueries dropped (they forced pointless
  range exchanges, `etl.py:176,185,195,198,214`).

Functions take DataFrames (not paths) so tests feed synthetic staging
fixtures shaped per FIXTURES.md.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.functions.dates import (
    sas_date_to_date,
    with_date_parts,
)
from udacity_data_engineering_capstone_project_spark.functions.keys import add_surrogate_key
from udacity_data_engineering_capstone_project_spark.functions.strings import (
    extract_decimal,
    printf_round0,
    split_item,
)
from udacity_data_engineering_capstone_project_spark.operators.cleaning import normalize_domain
from udacity_data_engineering_capstone_project_spark.operators.quality import (
    expect_distinct_count,
    expect_row_count,
)
from udacity_data_engineering_capstone_project_spark.operators.relational import (
    star_left_join,
    top_per_group,
)
from udacity_data_engineering_capstone_project_spark.plans.star import build_dimension

#: Valid US states (reference `etl.py:21-25`).
VALID_US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DC", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD",
    "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ",
    "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY",
]


def clean_immigration(raw: DataFrame) -> DataFrame:
    """Immigration staging -> cleaned/conformed (reference
    `read_immigration_staging`, `etl.py:89-118`): SAS-date decode,
    date parts, state normalization, null fills, full-row dedup,
    projection, tourism filter (i94visa == 2), surrogate id.

    ``id_imm`` hashes the raw record id ``cicid`` BEFORE the
    projection, so rows that differ only in dropped columns keep
    distinct ids."""
    cleaned = (
        raw.withColumn("arrdate_dt", sas_date_to_date("arrdate"))
        .withColumn("depdate_dt", sas_date_to_date("depdate"))
    )
    cleaned = with_date_parts(cleaned, "arrdate_dt", prefix="arrdate_")
    cleaned = normalize_domain(
        cleaned.withColumn("state", F.col("i94addr")), "state", VALID_US_STATES
    )
    return (
        add_surrogate_key(cleaned, "id_imm", natural_key=["cicid"])
        .fillna("unknown", subset=["gender"])
        .dropDuplicates()
        .select(
            "i94port", "biryear", "gender", "airline", "i94visa",
            "arrdate_dt", "depdate_dt", "arrdate_dayofmonth",
            "arrdate_month", "arrdate_year", "state", "id_imm",
        )
        .filter(F.col("i94visa") == 2)
    )


def clean_temperature(raw: DataFrame) -> DataFrame:
    """Temperature CSV staging -> conformed (reference
    `read_temperature_staging`, `etl.py:120-139`): US filter, date
    parse + parts, coordinate extraction (regex) + printf coarsening
    (string join keys kept for reference parity), dropna."""
    return (
        raw.filter(F.col("Country") == "United States")
        .select(
            F.to_date(F.col("dt"), "yyyy-MM-dd").alias("dt"),
            "AverageTemperature", "City", "Country", "Latitude", "Longitude",
        )
        .withColumns({
            "dayofmonth": F.dayofmonth(F.col("dt")),
            "month": F.month(F.col("dt")),
            "year": F.year(F.col("dt")),
            "latitude_rounded": printf_round0(extract_decimal("Latitude")),
            "longitude_rounded": printf_round0(extract_decimal("Longitude")),
        })
        .dropna()
    )


def clean_airport_codes(raw: DataFrame) -> DataFrame:
    """Airport-codes CSV staging -> conformed (reference
    `read_airport_codes_staging`, `etl.py:141-162`): US filter,
    'lon, lat' coordinate split + abs + printf coarsening, 'US-PA'
    region split, state normalization."""
    return (
        raw.filter(F.col("iso_country") == "US")
        .withColumns({
            "latitude": printf_round0(
                F.abs(split_item("coordinates", ",", 1).cast("double"))
            ),
            "longitude": printf_round0(
                F.abs(split_item("coordinates", ",", 0).cast("double"))
            ),
            "state": split_item("iso_region", "-", 1),
        })
        .transform(lambda df: normalize_domain(df, "state", VALID_US_STATES))
    )


def build_state_temperature(
    temperature: DataFrame,
    airport_codes: DataFrame,
    key_mode: str = "xxhash64",
) -> DataFrame:
    """fact_temp / state_temp (reference `create_temperature_table`,
    `etl.py:164-219`): average temperature per coarsened coordinate,
    dominant state per coordinate (argmax), coordinate join, then
    avg-of-avgs per (dayofmonth, month, state).

    One window pass replaces the reference's two-agg + self-join (half
    the shuffles); note the window breaks count ties deterministically
    (state asc) while the reference join KEEPS ties — at tie sites the
    two formulations differ, matching SURVEY.md §4's documented
    divergence (`argmax_join` keeps the tie-preserving form).

    ``id_temp`` hashes the group key (dayofmonth, month, state), so
    every action sees the same ids. ``key_mode`` accepts only
    ``"xxhash64"``; it remains for callers that still pass it.
    """
    if key_mode != "xxhash64":
        raise ValueError(f"unknown key_mode: {key_mode!r}")
    temp_by_coord = temperature.groupBy(
        F.col("latitude_rounded").alias("lat"),
        F.col("longitude_rounded").alias("long"),
        "month",
        "dayofmonth",
    ).agg(F.avg("AverageTemperature").alias("AvgTemp"))

    counted = airport_codes.groupBy("latitude", "longitude", "state").agg(
        F.count("state").alias("num")
    )
    dominant = top_per_group(
        counted,
        partition_by=["latitude", "longitude"],
        order_by=[F.col("num").desc(), F.col("state").asc()],
    )

    state_temp = temp_by_coord.join(
        dominant,
        on=[
            temp_by_coord["lat"] == dominant["latitude"],
            temp_by_coord["long"] == dominant["longitude"],
        ],
    )

    out = state_temp.groupBy("dayofmonth", "month", "state").agg(
        F.avg("AvgTemp").alias("avg_temp")
    )
    return add_surrogate_key(
        out, "id_temp", natural_key=["dayofmonth", "month", "state"]
    )


def build_star_schema(
    immigration: DataFrame,
    state_temp: DataFrame,
    persist_dims: bool = True,
) -> dict[str, DataFrame]:
    """Dims + facts (reference `create_dim_*`/`create_fact_*`,
    `etl.py:221-293`). Returns the 7 star-schema tables; the dims number
    their values with a `row_number` over the natural key, so outputs
    are hash-checkable.

    ``persist_dims`` caches each shared lineage once, so no action
    recomputes it (reference C1, `etl.py:311-319`, persists only the
    dims; SURVEY.md §3):

    - each dimension: consumed at least twice (its own write + the
      fact join);
    - the cleaned ``immigration`` input (the caller's frame): it feeds
      4 dims, ``dim_person`` and ``fact_imm``, and without the cache
      every one of them re-scans the raw input and redoes the cleaning
      and its ``dropDuplicates`` shuffle;
    - ``state_temp`` (returned as ``fact_temp``): written, joined into
      ``fact_imm`` and read again by `analyst_query`.

    ``fact_imm`` is not cached: it is the fact-scale side of the star,
    and each consumer (its write, the analyst query) reads it once.
    ``persist_dims=False`` caches nothing."""
    if persist_dims:
        immigration.persist()
        state_temp.persist()
    dim_state = build_dimension(immigration, ["state"], "id_state")
    dim_time = build_dimension(
        immigration,
        [("arrdate_dt", "date"), ("arrdate_dayofmonth", "day_of_month"),
         ("arrdate_month", "month"), ("arrdate_year", "year")],
        "id_time",
        key_order=["date"],
    )
    # dim_person is deliberately NOT deduplicated — 1:1 with fact rows
    # (reference `etl.py:242-249`); its key rides the immigration id so
    # no global window is needed at fact scale.
    dim_person = immigration.select("gender", "biryear", "id_imm").withColumn(
        "id_person", F.col("id_imm")
    )
    dim_ports = build_dimension(immigration, ["i94port"], "id_port")
    dim_airlines = build_dimension(immigration, ["airline"], "id_airline")

    if persist_dims:
        for d in (dim_state, dim_time, dim_ports, dim_airlines):
            d.persist()

    # Join-side copies with renamed natural keys: the dims derive from
    # the fact input, so joining on the original columns would be an
    # ambiguous self-join (same attribute on both sides — Spark 4
    # rejects the reference's literal formulation, etl.py:287-292).
    j_time = dim_time.select("date", "id_time")
    j_air = dim_airlines.withColumnRenamed("airline", "__k_airline")
    j_ports = dim_ports.withColumnRenamed("i94port", "__k_i94port")
    j_state = dim_state.withColumnRenamed("state", "__k_state")
    j_person = dim_person.select(
        F.col("id_imm").alias("__k_id_imm"), "id_person"
    )
    j_temp = state_temp.select(
        F.col("dayofmonth").alias("__k_dom"),
        F.col("month").alias("__k_month"),
        F.col("state").alias("__k_state_t"),
        "id_temp",
    )

    fact_imm = star_left_join(
        immigration,
        dims=[
            (j_time, immigration["arrdate_dt"] == j_time["date"]),
            (j_air, immigration["airline"] == F.col("__k_airline")),
            (j_ports, immigration["i94port"] == F.col("__k_i94port")),
            (j_state, immigration["state"] == F.col("__k_state")),
            (j_temp, [
                immigration["arrdate_dayofmonth"] == F.col("__k_dom"),
                immigration["arrdate_month"] == F.col("__k_month"),
                immigration["state"] == F.col("__k_state_t"),
            ]),
            (j_person, immigration["id_imm"] == F.col("__k_id_imm")),
        ],
        select=[
            immigration["id_imm"], "id_state", "id_time", "id_person",
            "id_port", "id_airline", "id_temp",
        ],
    )
    return {
        "dim_state": dim_state,
        "dim_time": dim_time,
        "dim_person": dim_person,
        "dim_ports": dim_ports,
        "dim_airlines": dim_airlines,
        "fact_temp": state_temp,
        "fact_imm": fact_imm,
    }


def run_quality_checks(
    tables: dict[str, DataFrame],
    expected_counts: dict[str, int],
    expected_distinct_states: int | None = None,
) -> None:
    """Reference quality gate (`etl.py:336-360`): exact row counts per
    table + distinct-state cardinality."""
    for name, expected in expected_counts.items():
        expect_row_count(tables[name], expected, name=name)
    if expected_distinct_states is not None:
        expect_distinct_count(
            tables["dim_state"], "state", expected_distinct_states, name="dim_state"
        )


def incremental_capstone_update(
    spark,
    landing_dir: str,
    checkpoint_dir: str,
    staging_dir: str,
    state_temp: DataFrame,
) -> tuple[int, dict[str, DataFrame] | None]:
    """Daily incremental processing — the reference write-up's explicit
    wish (Capstone_Project.ipynb cell 44: "the data should be updated
    daily... append the latest data incrementally").

    Each invocation:

    1. ingests ONLY the staging files that landed since the last run
       (checkpointed availableNow stream; idempotent per-batch output —
       `streaming.events.incremental_ingest`);
    2. if anything new arrived, re-derives the star schema over the
       ACCUMULATED raw staging. The clean + dims must see the full
       history: a delta can introduce new dimension values and dedup /
       surrogate keys are defined over the whole table, so dims and
       facts are recomputed (cheap relative to ingest — they are
       aggregates of the cleaned staging), while the expensive raw
       ingest is strictly incremental.

    Returns (rows ingested this run, star-schema tables or None when
    nothing new landed).
    """
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        incremental_ingest,
    )

    n_new = incremental_ingest(spark, landing_dir, checkpoint_dir, staging_dir)
    if n_new == 0:
        return 0, None
    # CRITICAL for cross-run correctness: the previous run persisted
    # its dims, and Spark's CacheManager serves any plan fragment that
    # MATCHES a cached plan — a fresh read of the same staging path
    # would silently resolve to the stale cached dimensions (measured:
    # dim_state missed a newly-ingested state). refreshByPath evicts
    # caches + file listings derived from the path.
    spark.catalog.refreshByPath(staging_dir)
    raw = spark.read.parquet(staging_dir).drop("batch_id")
    tables = build_star_schema(clean_immigration(raw), state_temp)
    return n_new, tables


def analyst_query(fact_imm: DataFrame, fact_temp: DataFrame) -> DataFrame:
    """The reference's analyst query (nb cell 46): tourists + average
    temperature per (month, state), busiest first."""
    joined = fact_imm.join(fact_temp, on="id_temp")
    return (
        joined.groupBy("month", "state")
        .agg(
            F.round(F.avg("avg_temp"), 6).alias("avg_temp"),
            F.count(fact_imm["id_imm"]).alias("tourist_num"),
        )
        .orderBy(F.col("tourist_num").desc(), "month", "state")
    )
