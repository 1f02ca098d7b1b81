"""The I94-immigration star-schema ETL rebuilt Spark-first.

Parity target: the eight ``process_*`` stages of the reference
(dags/scripts/spark/data_preparation.py:110-499), producing the same
11 tables (4 facts + 7 dims, reference README.md:67-81) from the same
raw files -- with the reference's documented bugs fixed by default
(SURVEY.md §7 hazards):

* ``INT(admnum)``/``INT(insnum)`` 32-bit overflow -> BIGINT
  (data_preparation.py:445,447).
* ``gen_uuid()`` non-deterministic surrogate keys -> sha2 business keys
  (data_preparation.py:87).
* ``dim_states`` not deduplicated -> ``.distinct()``
  (data_preparation.py:406-409).
* ``fact_us_race`` drops the ``race`` column, collapsing the fact ->
  keep it (data_preparation.py:391-399).
* Travel mode 3='Land' missing from the hand-built dim -> included
  (data_preparation.py:265-269 vs I94_SAS_Labels_Descriptions.SAS:972).

Set ``fix_reference_bugs=False`` for bug-for-bug row parity with the
reference output (useful when diffing against a reference run).

Architecture notes (vs the reference's temp-view + string-SQL chain):
stages are pure DataFrame functions; every output is still registered
as a temp view (the reference's invariant that SQL and DataFrame code
see the same relations, SURVEY.md §3 E2). All dim joins broadcast; the
only large table (immigration) is written partitioned by year/month --
the partition-pruning axis for the declared queries (README.md:114-117).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from data_engineering_capstone_project_spark.functions.dates import date_parts, sas_date
from data_engineering_capstone_project_spark.functions.keys import surrogate_key
from data_engineering_capstone_project_spark.functions.parsing import (
    parse_country_line,
    parse_gdp_usd,
    parse_iso_code,
    parse_port_of_entry_line,
)
from data_engineering_capstone_project_spark.quality import (
    check_observed,
    expect_no_nulls,
    expect_nonempty,
    observe_quality,
)
from data_engineering_capstone_project_spark.sources import (
    read_csv,
    read_literal_rows,
    read_parquet,
    read_text_lines,
    register_view,
    write_parquet,
    write_parquet_partitioned,
)

# The 10 (table, column) quality pairs the reference gates on
# (dag_immigration.py:337-348).
QUALITY_CHECKS = [
    ("dim_airlines", "airline_name"),
    ("dim_countries", "country_name"),
    ("dim_date", "date"),
    ("dim_port_of_entry", "port_of_entry_name"),
    ("dim_states", "state_name"),
    ("dim_travel_modes", "travel_mode_name"),
    ("dim_visa_categories", "visa_category_name"),
    ("fact_immigration", "admission_number"),
    ("fact_us_population", "city"),
    ("fact_us_race", "city"),
]


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    # Tables whose write was skipped because the resume manifest
    # already records a committed output (resume=True runs only).
    resumed: list[str] = field(default_factory=list)
    # {table: {"rows": n, "nulls_<col>": k}} for each table written in
    # this run, observed by the write job itself.
    quality: dict[str, dict[str, int]] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Stage 1: countries (reference process_countries, data_preparation.py:110-197)


def build_staging_countries(spark: SparkSession, input_path: str) -> DataFrame:
    """Conform the I94 internal country dictionary with the world
    country-codes CSV, applying the manually-curated correction file."""
    # S1 + D1: internal code dictionary ("236 =  'AFGHANISTAN'").
    lines = read_text_lines(spark, f"{input_path}/internal_country_codes.txt")
    parsed = parse_country_line(F.col("value"))
    int_countries = lines.select(
        parsed["int_country_code"].alias("int_country_code"),
        parsed["int_country_name"].alias("int_country_name"),
    )

    # Manually-curated corrections (reference README.md:51): keeps the
    # curated name when present, else title-cases the raw name.
    unmatched = read_csv(spark, f"{input_path}/unmatched_countries_updated.csv")
    corrections = unmatched.select(
        "int_country_code",
        F.coalesce(
            F.col("actual_country_name"), F.initcap(F.col("int_country_name"))
        ).alias("int_country_name"),
    )

    # J1: tiny-to-tiny broadcast left join on the code.
    corrected = (
        int_countries.alias("ic")
        .join(broadcast(corrections).alias("uc"), "int_country_code", "left")
        .select(
            "int_country_code",
            F.coalesce(F.col("uc.int_country_name"), F.col("ic.int_country_name"))
            .alias("int_country_name"),
        )
    )

    # S2 + D2/D3: world country codes with explicit schema.
    cc_schema = StructType(
        [
            StructField("COUNTRY", StringType()),
            StructField("COUNTRY CODE", IntegerType()),
            StructField("ISO CODES", StringType()),
            StructField("POPULATION", IntegerType()),
            StructField("AREA KM2", DoubleType()),
            StructField("GDP $USD", StringType()),
        ]
    )
    country_codes = (
        read_csv(spark, f"{input_path}/country_codes.csv", schema=cc_schema)
        .withColumnsRenamed(
            {
                "COUNTRY": "country_name",
                "COUNTRY CODE": "country_code",
                "ISO CODES": "iso_codes",
                "POPULATION": "population",
                "AREA KM2": "area_km2",
                "GDP $USD": "gdp_usd",
            }
        )
        .withColumn("country_iso_code", parse_iso_code(F.col("iso_codes")))
        .withColumn("gdp_usd_billion", parse_gdp_usd(F.col("gdp_usd")))
    )
    register_view(country_codes, "staging_country_codes")

    # J2: case-insensitive name equi-join (broadcast; both sides tiny).
    staging = (
        corrected.alias("ic")
        .join(
            broadcast(country_codes).alias("cc"),
            F.upper(F.col("ic.int_country_name")) == F.upper(F.col("cc.country_name")),
            "left",
        )
        .select(
            "int_country_code",
            "int_country_name",
            "country_code",
            "country_iso_code",
            F.coalesce(F.col("cc.country_name"), F.col("ic.int_country_name")).alias(
                "country_name"
            ),
            "population",
            "area_km2",
            "gdp_usd_billion",
        )
    )
    return register_view(staging, "staging_countries")


def build_dim_countries(staging_countries: DataFrame) -> DataFrame:
    dim = staging_countries.select(
        F.col("int_country_code").cast("int").alias("country_key"),
        F.col("country_code").cast("int").alias("country_code"),
        "country_iso_code",
        "country_name",
    )
    return register_view(dim, "dim_countries")


# ---------------------------------------------------------------------------
# Stage 2: temperature (reference process_temperature,
# data_preparation.py:200-238). The raw CSV is a missing large blob in
# this checkout; the stage is fully implemented and exercised on a
# fixture in tests.


def build_fact_temperature(
    spark: SparkSession,
    input_path: str,
    staging_countries: DataFrame,
    fix_reference_bugs: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """-> (staging_temperature, fact_temperature).

    J3 at scale: temperature is the big side; staging_countries (~240
    rows) broadcasts, so the fact scan never shuffles. The left join +
    country_name IS NOT NULL filter is effectively an inner join
    (reference :208-216)."""
    temperature = read_csv(
        spark, f"{input_path}/GlobalLandTemperaturesByCountry.csv"
    )
    dims = broadcast(
        staging_countries.select("country_name", "int_country_code", "country_code")
    )
    staging = (
        temperature.alias("tp")
        .join(dims.alias("sc"), F.upper(F.col("tp.Country")) == F.upper(F.col("sc.country_name")), "left")
        .filter(F.col("sc.country_name").isNotNull())
        .filter(F.col("tp.AverageTemperature").isNotNull())
        .select(
            F.col("tp.dt").alias("date"),
            F.col("tp.AverageTemperature").alias("average_temperature"),
            F.col("tp.AverageTemperatureUncertainty").alias(
                "average_temperature_uncertainty"
            ),
            "country_name",
            "int_country_code",
            "country_code",
        )
    )
    register_view(staging, "staging_temperature")

    if fix_reference_bugs:
        # Deterministic surrogate key (fix of gen_uuid, SURVEY.md §7).
        row_id = surrogate_key(F.col("date"), F.col("int_country_code"))
    else:
        row_id = F.expr("uuid()")
    fact = staging.select(
        row_id.alias("id"),
        F.col("date").cast("date").alias("date_key"),
        F.col("int_country_code").cast("int").alias("country_key"),
        F.col("average_temperature").cast("double").alias("average_temperature"),
        F.col("average_temperature_uncertainty")
        .cast("double")
        .alias("average_temperature_uncertainty"),
    )
    return staging, register_view(fact, "fact_temperature")


# ---------------------------------------------------------------------------
# Stages 3-6: small dims (reference :241-319)


def build_dim_airlines(spark: SparkSession, input_path: str) -> DataFrame:
    airlines = read_csv(spark, f"{input_path}/airlines.csv")
    dim = airlines.withColumnsRenamed({"Code": "airline_key", "Airline": "airline_name"})
    return register_view(dim, "dim_airlines")


TRAVEL_MODES = [
    (1, "Air"),
    (2, "Sea"),
    (3, "Land"),  # present in I94 data; missing from the reference dim
    (9, "Not reported"),
]
VISA_CATEGORIES = [(1, "Business"), (2, "Pleasure"), (3, "Student")]


def build_dim_travel_modes(
    spark: SparkSession, fix_reference_bugs: bool = True
) -> DataFrame:
    rows = TRAVEL_MODES if fix_reference_bugs else [r for r in TRAVEL_MODES if r[0] != 3]
    dim = read_literal_rows(
        spark, rows, "travel_mode_key int, travel_mode_name string"
    )
    return register_view(dim, "dim_travel_modes")


def build_dim_visa_categories(spark: SparkSession) -> DataFrame:
    dim = read_literal_rows(
        spark, VISA_CATEGORIES, "visa_category_key int, visa_category_name string"
    )
    return register_view(dim, "dim_visa_categories")


def build_dim_port_of_entry(spark: SparkSession, input_path: str) -> DataFrame:
    lines = read_text_lines(spark, f"{input_path}/port_of_entry.txt")
    parsed = parse_port_of_entry_line(F.col("value"))
    dim = lines.select(
        parsed["port_of_entry_code"].alias("port_of_entry_key"),
        parsed["port_of_entry_name"].alias("port_of_entry_name"),
    )
    return register_view(dim, "dim_port_of_entry")


# ---------------------------------------------------------------------------
# Stage 7: US cities demographics (reference :322-416)


def build_demographics(
    spark: SparkSession, input_path: str, fix_reference_bugs: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (fact_us_population, fact_us_race, dim_states)."""
    schema = StructType(
        [
            StructField("City", StringType()),
            StructField("State", StringType()),
            StructField("Median Age", DoubleType()),
            StructField("Male Population", IntegerType()),
            StructField("Female Population", IntegerType()),
            StructField("Total Population", IntegerType()),
            StructField("Number of Veterans", IntegerType()),
            StructField("Foreign-born", IntegerType()),
            StructField("Average Household Size", DoubleType()),
            StructField("State Code", StringType()),
            StructField("Race", StringType()),
            StructField("Count", IntegerType()),
        ]
    )
    demo = read_csv(
        spark, f"{input_path}/us-cities-demographics.csv", schema=schema, sep=";"
    ).withColumnsRenamed(
        {
            "City": "city",
            "State": "state_name",
            "Median Age": "median_age",
            "Male Population": "male_population",
            "Female Population": "female_population",
            "Total Population": "total_population",
            "Number of Veterans": "number_of_veterans",
            "Foreign-born": "foreign_born",
            "Average Household Size": "avg_household_size",
            "State Code": "state_code",
            "Race": "race",
            "Count": "count",
        }
    )
    register_view(demo, "staging_us_cities_demographics")

    pop_cols = [
        "state_key", "city", "median_age", "male_population",
        "female_population", "total_population", "number_of_veterans",
        "foreign_born",
    ]
    population = (
        demo.select(F.col("state_code").alias("state_key"), *pop_cols[1:])
        .distinct()
        # id over the full distinct grain: (state, city) alone could
        # collide if the source carries inconsistent duplicate stats.
        .withColumn("id", surrogate_key(*[F.col(c) for c in pop_cols]))
        .select("id", *pop_cols)
    )
    register_view(population, "fact_us_population")

    race_cols = ["state_key", "city", "race", "count"] if fix_reference_bugs else [
        "state_key", "city", "count"
    ]
    race = (
        demo.select(F.col("state_code").alias("state_key"), "city", "race", "count")
        .select(*race_cols)
        .distinct()
        .withColumn("id", surrogate_key(*[F.col(c) for c in race_cols]))
        .select("id", *race_cols)
    )
    register_view(race, "fact_us_race")

    states = demo.select(
        F.col("state_code").alias("state_key"), F.col("state_name")
    )
    if fix_reference_bugs:
        # The reference loads 2,891 duplicated rows into a PK'd table
        # (data_preparation.py:406-409); dedup to the real grain.
        states = states.distinct()
    return population, race, register_view(states, "dim_states")


# ---------------------------------------------------------------------------
# Stage 8: immigration fact + date dim (reference :419-485)


def build_fact_immigration(
    spark: SparkSession, input_path: str, fix_reference_bugs: bool = True
) -> DataFrame:
    """The 3.1M-row fact. All casts stay in codegen; admnum/insnum use
    BIGINT (values exceed int32 -- reference bug, SURVEY.md §7)."""
    imm = read_parquet(spark, f"{input_path}/sas_data")
    register_view(imm, "immigration")
    num_t = "bigint" if fix_reference_bugs else "int"
    fact = imm.select(
        F.col("cicid").cast("int").alias("id"),
        F.col("i94cit").cast("int").alias("country_citizen_key"),
        F.col("i94res").cast("int").alias("country_resident_key"),
        F.col("i94port").cast("string").alias("port_of_entry_key"),
        sas_date(F.col("arrdate")).alias("arrival_date_key"),
        F.col("i94mode").cast("int").alias("travel_mode_key"),
        F.col("i94addr").cast("string").alias("state_key"),
        sas_date(F.col("depdate")).alias("departure_date_key"),
        F.col("i94bir").cast("int").alias("age"),
        F.col("i94visa").cast("int").alias("visa_category_key"),
        F.col("matflag").isNotNull().alias("match_flag"),
        F.col("gender").cast("string").alias("gender"),
        # insnum carries alphanumerics ('XM0167'); the reference's Spark 3
        # non-ANSI INT() returned NULL for those -- try_cast is the
        # Spark 4 (ANSI-default) equivalent.
        F.col("insnum").try_cast(num_t).alias("ins_num"),
        F.col("airline").cast("string").alias("airline_key"),
        F.col("admnum").try_cast(num_t).alias("admission_number"),
        F.col("fltno").cast("string").alias("flight_number"),
        F.col("visatype").cast("string").alias("visa_type"),
        F.col("i94yr").cast("int").alias("year"),
        F.col("i94mon").cast("int").alias("month"),
    )
    return register_view(fact, "fact_immigration")


def build_dim_date(fact_immigration: DataFrame) -> DataFrame:
    """A3/U1 + F4: date domain = distinct arrival ∪ departure dates."""
    dates = (
        fact_immigration.select(F.col("arrival_date_key").alias("date"))
        .filter(F.col("date").isNotNull())
        .union(
            fact_immigration.select(F.col("departure_date_key").alias("date")).filter(
                F.col("date").isNotNull()
            )
        )
        .distinct()
    )
    parts = date_parts(F.col("date"))
    dim = dates.select(
        F.col("date").alias("date_key"),
        "date",
        *[c.alias(k) for k, c in parts.items()],
    )
    return register_view(dim, "dim_date")


# ---------------------------------------------------------------------------
# Orchestration (replaces the EMR/Redshift DAG hops, SURVEY.md §3 E1:
# everything stays inside one SparkSession; quality gates are function
# calls, not a second system).


def _manifest_path(output_path: str) -> str:
    return os.path.join(output_path, "_pipeline_manifest.json")


def _load_manifest(output_path: str) -> dict:
    """Per-table success manifest ({table: {completed_at}}). Written
    after EACH table's output lands, so a run that dies at table k
    leaves k committed entries and a rerun resumes at k+1."""
    import json

    try:
        with open(_manifest_path(output_path)) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return {}


def _mark_complete(output_path: str, manifest: dict, name: str) -> None:
    import json
    import time

    manifest[name] = {"completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    tmp = _manifest_path(output_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(output_path))  # atomic on POSIX


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str | None = None,
    fix_reference_bugs: bool = True,
    run_quality_checks: bool = True,
    resume: bool = False,
) -> PipelineResult:
    """Execute all stages in the reference's dependency order
    (data_preparation.py:488-499); optionally write parquet outputs and
    run the ported quality gates. Missing optional inputs (the
    temperature blob) skip their stage and are reported, not fatal.

    Each written table's gate (Q2 row count, Q1 NULLs in its
    ``QUALITY_CHECKS`` column) is computed by the job that writes it
    (``quality.observe_quality``) and recorded in ``result.quality``.
    A failing gate raises DataQualityError right after that table's
    write, before later tables are written; the failed table is not
    added to the resume manifest, so a ``resume=True`` rerun rewrites
    it. Tables not written in this run (no ``output_path``, or resumed)
    are gated with ``expect_nonempty`` / ``expect_no_nulls``, which
    rebuild the table from the raw inputs.

    ``resume=True`` restores the retry semantics the reference's
    Airflow DAG had (dag_immigration.py:355-386: each load is its own
    retryable task): a success manifest in ``output_path`` records
    each table whose write committed, and a rerun skips those writes —
    a failure at table 9 of 11 redoes tables 9-11, not everything.
    Stage *construction* is lazy, so skipped tables cost nothing; the
    writes are the work. Safe because every write is
    overwrite-idempotent (K1/K2 contract)."""
    result = PipelineResult()
    t = result.tables

    staging_countries = build_staging_countries(spark, input_path)
    t["dim_countries"] = build_dim_countries(staging_countries)

    if os.path.exists(f"{input_path}/GlobalLandTemperaturesByCountry.csv"):
        _, t["fact_temperature"] = build_fact_temperature(
            spark, input_path, staging_countries, fix_reference_bugs
        )
    else:
        result.skipped.append("fact_temperature (missing GlobalLandTemperaturesByCountry.csv)")

    t["dim_airlines"] = build_dim_airlines(spark, input_path)
    t["dim_travel_modes"] = build_dim_travel_modes(spark, fix_reference_bugs)
    t["dim_visa_categories"] = build_dim_visa_categories(spark)
    t["dim_port_of_entry"] = build_dim_port_of_entry(spark, input_path)
    t["fact_us_population"], t["fact_us_race"], t["dim_states"] = build_demographics(
        spark, input_path, fix_reference_bugs
    )
    t["fact_immigration"] = build_fact_immigration(spark, input_path, fix_reference_bugs)
    t["dim_date"] = build_dim_date(t["fact_immigration"])

    if output_path:
        manifest = _load_manifest(output_path) if resume else {}
        gated = dict(QUALITY_CHECKS)
        for name, df in t.items():
            if name in manifest:
                result.resumed.append(name)
                continue
            column = gated.get(name)
            observed, obs = observe_quality(df, [column] if column else [])
            if name == "fact_immigration":
                # K2: partition by the dominant filter axes (reference
                # :459-460) -> partition pruning for the declared queries.
                write_parquet_partitioned(observed, f"{output_path}/{name}.parquet", ["year", "month"])
            else:
                write_parquet(observed, f"{output_path}/{name}.parquet")
            result.quality[name] = check_observed(
                obs, name, gate=run_quality_checks and column is not None
            )
            _mark_complete(output_path, manifest, name)

    if run_quality_checks:
        for name, column in QUALITY_CHECKS:
            if name not in t or name in result.quality:
                continue
            expect_nonempty(t[name], name)
            expect_no_nulls(t[name], [column], name)
    return result
