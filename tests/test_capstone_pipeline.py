"""End-to-end reference-pipeline parity on synthetic staging data
shaped per FIXTURES.md: clean -> conform -> star schema -> quality
checks, asserting the invariants from FIXTURES.md §4 / SURVEY.md §5."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.quality import QualityError
from udacity_data_engineering_capstone_project_spark.plans import capstone


@pytest.fixture(scope="module")
def staging(spark):
    # Immigration staging: SAS dates (days since 1960-01-01), invalid
    # state codes, null genders, an exact duplicate, a non-tourism row.
    imm_rows = [
        # cicid, i94port, arrdate, i94addr, depdate, i94visa, biryear, gender, airline
        Row(cicid=1.0, i94port="NYC", arrdate=20583.0, i94addr="NY", depdate=20590.0,
            i94visa=2.0, biryear=1980.0, gender="M", airline="AA"),
        Row(cicid=1.0, i94port="NYC", arrdate=20583.0, i94addr="NY", depdate=20590.0,
            i94visa=2.0, biryear=1980.0, gender="M", airline="AA"),  # exact dup
        Row(cicid=2.0, i94port="MIA", arrdate=20584.0, i94addr="FL", depdate=None,
            i94visa=2.0, biryear=1990.0, gender=None, airline="DL"),
        Row(cicid=3.0, i94port="LVG", arrdate=20585.0, i94addr="99", depdate=20600.0,
            i94visa=2.0, biryear=1975.0, gender="F", airline="UA"),
        Row(cicid=4.0, i94port="SFO", arrdate=None, i94addr=None, depdate=None,
            i94visa=2.0, biryear=2000.0, gender="F", airline=None),
        Row(cicid=5.0, i94port="NYC", arrdate=20583.0, i94addr="NY", depdate=20591.0,
            i94visa=1.0, biryear=1985.0, gender="M", airline="BA"),  # business -> dropped
    ]
    imm = spark.createDataFrame(imm_rows)

    temp_rows = [
        Row(dt="2016-05-09", AverageTemperature="20.5", City="New York",
            Country="United States", Latitude="40.71N", Longitude="74.00W"),
        Row(dt="2016-05-09", AverageTemperature="21.5", City="Newark",
            Country="United States", Latitude="40.73N", Longitude="74.17W"),
        Row(dt="2016-05-10", AverageTemperature="25.0", City="Miami",
            Country="United States", Latitude="25.76N", Longitude="80.19W"),
        Row(dt="2016-05-09", AverageTemperature=None, City="Boston",
            Country="United States", Latitude="42.36N", Longitude="71.06W"),  # dropna
        Row(dt="2016-05-09", AverageTemperature="15.0", City="Toronto",
            Country="Canada", Latitude="43.65N", Longitude="79.38W"),  # non-US
    ]
    temp = spark.createDataFrame(temp_rows)

    air_rows = [
        # two NY airports vs one NJ at the same rounded coordinate ->
        # argmax keeps NY
        Row(ident="JFK", iso_country="US", iso_region="US-NY", coordinates="-74.00, 40.64"),
        Row(ident="LGA", iso_country="US", iso_region="US-NY", coordinates="-73.87, 40.77"),
        Row(ident="EWR", iso_country="US", iso_region="US-NJ", coordinates="-74.17, 40.69"),
        Row(ident="MIA", iso_country="US", iso_region="US-FL", coordinates="-80.29, 25.79"),
        Row(ident="BAD", iso_country="US", iso_region="US-U-A", coordinates="-100.0, 35.0"),  # 'other'
        Row(ident="YYZ", iso_country="CA", iso_region="CA-ON", coordinates="-79.63, 43.68"),  # non-US
    ]
    air = spark.createDataFrame(air_rows)
    return imm, temp, air


def test_clean_immigration(spark, staging):
    imm, _, _ = staging
    final = capstone.clean_immigration(imm)
    rows = {r["i94port"]: r for r in final.collect()}
    # dup dropped, business dropped: 4 rows
    assert len(rows) == 4
    assert rows["NYC"]["state"] == "NY"
    assert rows["LVG"]["state"] == "other"  # invalid code normalized
    assert rows["SFO"]["state"] == "other"  # null normalized
    assert rows["MIA"]["gender"] == "unknown"  # null filled
    assert str(rows["NYC"]["arrdate_dt"]) == "2016-05-09"  # SAS decode
    assert rows["SFO"]["arrdate_dt"] is None  # null-in -> null-out
    assert rows["NYC"]["arrdate_month"] == 5


def test_clean_temperature(spark, staging):
    _, temp, _ = staging
    final = capstone.clean_temperature(temp)
    rows = final.collect()
    assert len(rows) == 3  # null temp + non-US dropped
    ny = next(r for r in rows if r["City"] == "New York")
    assert ny["latitude_rounded"] == "41" and ny["longitude_rounded"] == "74"


def test_clean_airport_codes(spark, staging):
    _, _, air = staging
    final = capstone.clean_airport_codes(air)
    rows = {r["ident"]: r for r in final.collect()}
    assert len(rows) == 5  # non-US dropped
    assert rows["JFK"]["state"] == "NY"
    assert rows["JFK"]["latitude"] == "41" and rows["JFK"]["longitude"] == "74"
    assert rows["BAD"]["state"] == "other"  # malformed region normalized


def test_state_temperature_argmax(spark, staging):
    _, temp, air = staging
    t = capstone.clean_temperature(temp)
    a = capstone.clean_airport_codes(air)
    st = capstone.build_state_temperature(t, a)
    rows = {(r["dayofmonth"], r["month"], r["state"]): r for r in st.collect()}
    # NY wins the (41,74) coordinate argmax (2 NY airports vs 1 NJ)
    assert (9, 5, "NY") in rows
    assert rows[(9, 5, "NY")]["avg_temp"] == pytest.approx((20.5 + 21.5) / 2)
    assert (10, 5, "FL") in rows
    assert not any(k[2] == "NJ" for k in rows)


def test_full_star_schema_and_quality(spark, staging):
    imm, temp, air = staging
    final = capstone.clean_immigration(imm)
    st = capstone.build_state_temperature(
        capstone.clean_temperature(temp), capstone.clean_airport_codes(air)
    )
    tables = capstone.build_star_schema(final, st)

    n_final = final.count()
    # FIXTURES.md §4: left joins preserve every fact row; dim_person 1:1.
    capstone.run_quality_checks(
        tables,
        expected_counts={
            "fact_imm": n_final,
            "dim_person": n_final,
            "dim_state": 3,  # NY, FL, other
            "dim_time": final.select("arrdate_dt").distinct().count(),
            "dim_ports": 4,
            "dim_airlines": 4,  # AA, DL, UA, null
        },
        expected_distinct_states=3,
    )
    # fact_imm schema: pure surrogate-key table (etl.py:293)
    assert set(tables["fact_imm"].columns) == {
        "id_imm", "id_state", "id_time", "id_person", "id_port", "id_airline", "id_temp"
    }
    # NYC arrivals on 2016-05-09 land in NY with a temperature key
    fact = tables["fact_imm"].join(
        tables["fact_temp"], "id_temp"
    ).select("state", "avg_temp").collect()
    assert any(r["state"] == "NY" and abs(r["avg_temp"] - 21.0) < 1e-9 for r in fact)

    # wrong expectation raises (etl.py:80-86 semantics)
    with pytest.raises(QualityError):
        capstone.run_quality_checks(tables, {"dim_state": 99})


def test_incremental_capstone_cross_run(spark, staging, tmp_path):
    """The write-up's 'daily incremental processing' wish end-to-end:
    run 1 ingests the initial staging drop, run 2 is a no-op, run 3
    ingests ONLY the new file's rows and the rebuilt star schema passes
    the quality gate on the combined totals."""
    import shutil

    imm, temp, air = staging
    st = capstone.build_state_temperature(
        capstone.clean_temperature(temp), capstone.clean_airport_codes(air)
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    stage = str(tmp_path / "staging")

    def land(df, name):
        outd = tmp_path / f"w_{name}"
        df.coalesce(1).write.parquet(str(outd))
        part = next(p for p in outd.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, landing / name)

    land(imm, "batch1.parquet")
    n1, tables = capstone.incremental_capstone_update(
        spark, str(landing), ckpt, stage, st
    )
    assert n1 == 6  # raw staging rows ingested
    assert tables["fact_imm"].count() == 4  # dup + business row dropped

    n2, t2 = capstone.incremental_capstone_update(
        spark, str(landing), ckpt, stage, st
    )
    assert n2 == 0 and t2 is None  # nothing new landed

    delta = spark.createDataFrame(
        [
            Row(cicid=6.0, i94port="ORD", arrdate=20585.0, i94addr="IL",
                depdate=None, i94visa=2.0, biryear=1999.0, gender="F",
                airline="WN"),
        ],
        schema=imm.schema,
    )
    land(delta, "batch2.parquet")
    n3, t3 = capstone.incremental_capstone_update(
        spark, str(landing), ckpt, stage, st
    )
    assert n3 == 1  # ONLY the delta was ingested
    capstone.run_quality_checks(
        t3,
        expected_counts={
            "fact_imm": 5,
            "dim_person": 5,
            "dim_state": 4,      # NY, FL, other + new IL
            "dim_ports": 5,      # + ORD
            "dim_airlines": 5,   # + WN
        },
        expected_distinct_states=4,
    )


def test_hash_id_imm_keys_raw_record_id(spark, staging):
    """The hashed id_imm is taken from the raw ``cicid`` before the
    projection: two records that differ only in dropped columns are
    identical after cleaning yet keep distinct ids."""
    imm, _, _ = staging
    twin = [
        Row(cicid=c, i94port="BOS", arrdate=20583.0, i94addr="MA",
            depdate=20590.0, i94visa=2.0, biryear=1970.0, gender="F",
            airline="B6")
        for c in (10.0, 11.0)
    ]
    raw = spark.createDataFrame(twin, schema=imm.schema)
    rows = capstone.clean_immigration(raw).collect()
    cleaned = [{k: v for k, v in r.asDict().items() if k != "id_imm"} for r in rows]
    assert len(cleaned) == 2 and cleaned[0] == cleaned[1]
    ids = {r["id_imm"] for r in rows}
    assert len(ids) == 2
    assert ids == {
        r["id"]
        for r in raw.select(F.xxhash64("cicid").alias("id")).collect()
    }


def test_hash_id_temp_is_the_group_key_hash(spark, staging):
    _, temp, air = staging
    st = capstone.build_state_temperature(
        capstone.clean_temperature(temp),
        capstone.clean_airport_codes(air),
    )
    rows = st.withColumn(
        "expect", F.xxhash64("dayofmonth", "month", "state")
    ).collect()
    assert rows and all(r["id_temp"] == r["expect"] for r in rows)
    with pytest.raises(ValueError):
        capstone.build_state_temperature(
            capstone.clean_temperature(temp),
            capstone.clean_airport_codes(air),
            key_mode="monotonic",
        )


def test_analyst_query(spark, staging):
    imm, temp, air = staging
    final = capstone.clean_immigration(imm)
    st = capstone.build_state_temperature(
        capstone.clean_temperature(temp), capstone.clean_airport_codes(air)
    )
    tables = capstone.build_star_schema(final, st)
    out = capstone.analyst_query(tables["fact_imm"], tables["fact_temp"]).collect()
    assert out, "analyst query returned no rows"
    top = out[0]
    assert top["tourist_num"] >= 1 and top["month"] == 5


def test_clean_steps_keep_their_schemas(spark, staging):
    """Each clean step is one projection; the column names, order and
    types are the reference shapes the star build and the writes rely
    on."""
    from udacity_data_engineering_capstone_project_spark.functions.dates import (
        with_date_parts,
    )

    imm, temp, air = staging

    def fields(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert fields(capstone.clean_immigration(imm)) == [
        ("i94port", "string"), ("biryear", "double"), ("gender", "string"),
        ("airline", "string"), ("i94visa", "double"), ("arrdate_dt", "date"),
        ("depdate_dt", "date"), ("arrdate_dayofmonth", "int"),
        ("arrdate_month", "int"), ("arrdate_year", "int"), ("state", "string"),
        ("id_imm", "bigint"),
    ]
    assert fields(capstone.clean_temperature(temp)) == [
        ("dt", "date"), ("AverageTemperature", "string"), ("City", "string"),
        ("Country", "string"), ("Latitude", "string"), ("Longitude", "string"),
        ("dayofmonth", "int"), ("month", "int"), ("year", "int"),
        ("latitude_rounded", "string"), ("longitude_rounded", "string"),
    ]
    assert fields(capstone.clean_airport_codes(air)) == [
        ("ident", "string"), ("iso_country", "string"), ("iso_region", "string"),
        ("coordinates", "string"), ("latitude", "string"), ("longitude", "string"),
        ("state", "string"),
    ]
    parts = with_date_parts(
        spark.sql("SELECT DATE'2016-05-09' AS d, 1 AS x"), "d", prefix="p_"
    )
    assert fields(parts) == [
        ("d", "date"), ("x", "int"), ("p_dayofmonth", "int"),
        ("p_month", "int"), ("p_year", "int"),
    ]
    assert parts.collect()[0][2:] == (9, 5, 2016)


def _star(staging, persist_dims=True):
    imm, temp, air = staging
    final = capstone.clean_immigration(imm)
    st = capstone.build_state_temperature(
        capstone.clean_temperature(temp), capstone.clean_airport_codes(air)
    )
    return final, st, capstone.build_star_schema(final, st, persist_dims=persist_dims)


def _uncache(*dfs):
    for df in dfs:
        df.unpersist()


def test_build_star_schema_caches_shared_lineages(spark, staging):
    """The cleaned input and state_temp (= fact_temp) are computed once:
    build_star_schema persists them with the dims; fact_imm stays
    uncached. persist_dims=False caches nothing."""
    final, st, tables = _star(staging)
    try:
        assert final.storageLevel.useMemory
        assert tables["fact_temp"].storageLevel.useMemory
        assert tables["dim_state"].storageLevel.useMemory
        assert not tables["fact_imm"].storageLevel.useMemory
    finally:
        _uncache(final, st, *tables.values())

    # a plan no other test caches (the cache manager matches plans, not
    # frame objects)
    imm, temp, air = staging
    staging_ = (imm.filter(F.col("cicid") < 100), temp, air)
    final, st, tables = _star(staging_, persist_dims=False)
    assert not final.storageLevel.useMemory
    assert not st.storageLevel.useMemory
    assert not any(t.storageLevel.useMemory for t in tables.values())


def _write_star(tables, out):
    from udacity_data_engineering_capstone_project_spark.sources.sinks import write_parquet

    for name, df in tables.items():
        write_parquet(df, f"{out}/{name}",
                      partition_by=["month"] if name == "fact_temp" else None)


def _true_counts(final, tables):
    n = final.count()
    return {
        "fact_imm": n, "dim_person": n, "dim_state": 3,
        "dim_time": final.select("arrdate_dt").distinct().count(),
        "dim_ports": 4, "dim_airlines": 4,
        "fact_temp": tables["fact_temp"].count(),
    }


def test_gate_catches_a_short_write(spark, staging, tmp_path):
    """The gate checks what was written: a fact_imm write that lost a
    row fails the row-count check against the true count."""
    final, st, tables = _star(staging)
    try:
        counts = _true_counts(final, tables)
        dropped = tables["fact_imm"].select("id_imm").first()["id_imm"]
        tables["fact_imm"] = tables["fact_imm"].filter(F.col("id_imm") != dropped)
        _write_star(tables, tmp_path)
        assert tables["fact_imm"]._sg_written["rows"] == counts["fact_imm"] - 1
        with pytest.raises(QualityError, match="fact_imm"):
            capstone.run_quality_checks(tables, counts, expected_distinct_states=3)
    finally:
        _uncache(final, st, *tables.values())


def test_gate_after_writes_runs_at_most_one_job(spark, staging, tmp_path):
    """After the 7 writes the row counts come from the writes' own
    metrics: the whole gate runs at most one Spark job (the
    distinct-state check on the cached dim_state)."""
    from udacity_data_engineering_capstone_project_spark.session import job_group

    final, st, tables = _star(staging)
    try:
        counts = _true_counts(final, tables)
        _write_star(tables, tmp_path)
        group = f"gate-{tmp_path.name}"
        with job_group(spark, group):
            capstone.run_quality_checks(tables, counts, expected_distinct_states=3)
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) <= 1
    finally:
        _uncache(final, st, *tables.values())
