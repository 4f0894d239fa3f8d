"""End-to-end run of the reference pipeline (the `python etl.py`
workflow, SURVEY.md §3 entry point 1) on synthetic staging data:

  generate staging files (parquet + CSV, FIXTURES.md shapes)
  -> clean/conform each source
  -> build the 7-table star schema (deterministic surrogate keys)
  -> partitioned parquet writes (the reference's acknowledged gap),
     each reporting its own committed rows and files
  -> row-count (against the writes' figures) + distinct-cardinality
     quality checks
  -> analyst query

Usage: python examples/run_capstone.py [output_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row

from udacity_data_engineering_capstone_project_spark import get_spark
from udacity_data_engineering_capstone_project_spark.plans import capstone
from udacity_data_engineering_capstone_project_spark.session import job_group
from udacity_data_engineering_capstone_project_spark.sources.readers import read_csv, read_parquet
from udacity_data_engineering_capstone_project_spark.sources.sinks import write_parquet


def generate_staging(spark, staging_dir: str) -> None:
    """Synthetic staging files in the reference's raw shapes."""
    states = ["NY", "FL", "CA", "TX", "XX", None]
    ports = ["NYC", "MIA", "LAX", "HOU"]
    airlines = ["AA", "DL", "UA", None]
    imm = spark.createDataFrame(
        [
            Row(
                cicid=float(i),
                i94port=ports[i % 4],
                arrdate=float(20540 + i % 61),
                i94addr=states[i % 6],
                depdate=float(20550 + i % 61) if i % 7 else None,
                i94visa=float(1 + i % 3),
                biryear=float(1950 + i % 60),
                gender=["M", "F", None][i % 3],
                airline=airlines[i % 4],
            )
            for i in range(5000)
        ]
        # exact duplicates to exercise dropDuplicates (etl.py:111)
        + [
            Row(cicid=0.0, i94port="NYC", arrdate=20540.0, i94addr="NY",
                depdate=None, i94visa=1.0, biryear=1950.0, gender="M", airline="AA")
        ] * 5
    )
    imm.write.mode("overwrite").parquet(f"{staging_dir}/i94_parquet")

    coords = [("40.71N", "74.00W"), ("25.76N", "80.19W"), ("34.05N", "118.24W"), ("29.76N", "95.36W")]
    cities = ["New York", "Miami", "Los Angeles", "Houston"]
    temp_lines = ["dt,AverageTemperature,City,Country,Latitude,Longitude"]
    for day in range(1, 32):
        for c in range(4):
            temp_lines.append(
                f"2016-05-{day:02d},{15 + c * 3 + day % 5}.5,{cities[c]},United States,{coords[c][0]},{coords[c][1]}"
            )
    temp_lines.append("2016-05-01,,NoTemp City,United States,50.00N,100.00W")
    temp_lines.append("2016-05-01,10.0,Toronto,Canada,43.65N,79.38W")

    air_lines = ["ident,iso_country,iso_region,coordinates"]
    regions = ["US-NY", "US-FL", "US-CA", "US-TX"]
    for c in range(4):
        lat = coords[c][0][:-1]
        lon = coords[c][1][:-1]
        air_lines.append(f'A{c},US,{regions[c]},"-{lon}, {lat}"')
    air_lines.append('BAD,US,US-U-A,"-100.0, 35.0"')
    air_lines.append('YYZ,CA,CA-ON,"-79.63, 43.68"')

    import pathlib

    pathlib.Path(f"{staging_dir}/temperature.csv").write_text("\n".join(temp_lines))
    pathlib.Path(f"{staging_dir}/airport_codes.csv").write_text("\n".join(air_lines))


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="capstone_")
    staging = f"{out_dir}/staging"
    processed = f"{out_dir}/processed"

    spark = get_spark(app_name="capstone-example")
    spark.sparkContext.setLogLevel("ERROR")

    with job_group(spark, "Generate", "synthetic staging files"):
        generate_staging(spark, staging)

    with job_group(spark, "Read", "read + clean staging sources"):
        imm_final = capstone.clean_immigration(
            read_parquet(spark, f"{staging}/i94_parquet")
        )
        temp_final = capstone.clean_temperature(
            read_csv(spark, f"{staging}/temperature.csv")
        )
        air_final = capstone.clean_airport_codes(
            read_csv(spark, f"{staging}/airport_codes.csv")
        )

    with job_group(spark, "Transform", "star schema build"):
        state_temp = capstone.build_state_temperature(temp_final, air_final)
        tables = capstone.build_star_schema(imm_final, state_temp)

    with job_group(spark, "Write", "partitioned parquet star schema"):
        for name, df in tables.items():
            partition_by = ["month"] if name == "fact_temp" else None
            written = write_parquet(df, f"{processed}/{name}", partition_by=partition_by)
            if written is None:
                print(f"  {name}: written (no write metrics found)")
            else:
                print(f"  {name}: {written['rows']} rows, {written['files']} files")

    with job_group(spark, "DataQuality", "row counts + cardinality"):
        n = imm_final.count()
        capstone.run_quality_checks(
            tables,
            expected_counts={"fact_imm": n, "dim_person": n},
            expected_distinct_states=tables["dim_state"].count(),
        )

    with job_group(spark, "FuzzyResolve", "dirty airline strings vs dim_airlines"):
        # Entity resolution against the curated dimension (VERDICT r10
        # #5): a free-text airline feed with typos resolved onto
        # dim_airlines within Levenshtein 1, keep_unmatched=True so
        # unresolved strings surface with a NULL-distance marker for a
        # review queue instead of silently dropping. The reference's
        # exact-code lookup (etl.py:261-269) would lose every typo row.
        from pyspark.sql import functions as F

        from udacity_data_engineering_capstone_project_spark.operators.fuzzy import (
            fuzzy_join_reference,
        )

        dim_air = tables["dim_airlines"].filter(F.col("airline").isNotNull())
        dirty_feed = spark.createDataFrame(
            [
                Row(feed_id=1, airline_raw="AA"),   # exact
                Row(feed_id=2, airline_raw="AAX"),  # one insert
                Row(feed_id=3, airline_raw="D"),    # one delete of DL
                Row(feed_id=4, airline_raw="UU"),   # one substitute of UA
                Row(feed_id=5, airline_raw="QANTAS"),  # no match -> NULL
            ]
        )
        resolved = fuzzy_join_reference(
            dirty_feed,
            "feed_id",
            "airline_raw",
            dim_air,
            "id_airline",
            "airline",
            max_distance=1,
            keep_unmatched=True,
        ).join(dirty_feed, "feed_id")
        for r in resolved.orderBy("feed_id").collect():
            status = "UNRESOLVED" if r["id_airline"] is None else f"id_airline={r['id_airline']} d={r['distance']}"
            print(f"  feed {r['feed_id']} {r['airline_raw']!r}: {status}")

    with job_group(spark, "Analysis", "analyst query"):
        top = capstone.analyst_query(tables["fact_imm"], tables["fact_temp"]).limit(5)
        for r in top.collect():
            print(
                f"  month={r['month']} state={r['state']} "
                f"avg_temp={r['avg_temp']} tourists={r['tourist_num']}"
            )

    print(f"star schema written to {processed}")
    spark.stop()


if __name__ == "__main__":
    main()
