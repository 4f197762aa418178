"""Taxi-DAG contract queries — the reference pipeline itself, oracled.

The driver's tables don't include taxi-shaped data, so these queries
generate the deterministic fixtures (fixtures.py, seed=42) at a stable
path that BOTH engines read: Spark runs the real pipeline plans
(plans/staging.py, plans/core.py), and the oracle SQL re-derives the
same models in DuckDB from the same raw files via read_parquet/read_csv
— i.e. the driver's correctness report covers the actual reference DAG,
not just its operator parts.

Oracle SQL here is a single WITH-chain per query, faithfully rendering
the reference models (stg_green_tripdata.sql, stg_yellow_tripdata.sql,
dim_zones.sql, fact_trips.sql, dm_monthly_zone_revenue.sql) with the
engine's pinned cross-engine normalizations (SURVEY §1.4/§5).
"""

from __future__ import annotations

from .contract import query
from .fixtures import DEFAULT_FIXTURE_DIR, ensure_taxi_fixtures
from .functions.parity import present_doubles
from .session import per_session

_PATHS = ensure_taxi_fixtures()

_G = _PATHS["green_tripdata"]
_Y = _PATHS["yellow_tripdata"]
_Z = _PATHS["taxi_zone_lookup"]

_STG_TEMPLATE = """
  SELECT
    md5(coalesce(CAST(CAST(vendorid AS INTEGER) AS VARCHAR), '_dbt_utils_surrogate_key_null_')
        || '-' ||
        coalesce(strftime({p}_pickup_datetime, '%Y-%m-%d %H:%M:%S'), '_dbt_utils_surrogate_key_null_')
    ) AS tripid,
    CAST(vendorid AS INTEGER) AS vendorid,
    CAST(ratecodeid AS INTEGER) AS ratecodeid,
    CAST(pulocationid AS INTEGER) AS pickup_locationid,
    CAST(dolocationid AS INTEGER) AS dropoff_locationid,
    CAST({p}_pickup_datetime AS TIMESTAMP) AS pickup_datetime,
    CAST({p}_dropoff_datetime AS TIMESTAMP) AS dropoff_datetime,
    CAST(store_and_fwd_flag AS VARCHAR) AS store_and_fwd_flag,
    CAST(passenger_count AS INTEGER) AS passenger_count,
    CAST(trip_distance AS DECIMAL(18,3)) AS trip_distance,
    {trip_type} AS trip_type,
    CAST(fare_amount AS DECIMAL(18,3)) AS fare_amount,
    CAST(extra AS DECIMAL(18,3)) AS extra,
    CAST(mta_tax AS DECIMAL(18,3)) AS mta_tax,
    CAST(tip_amount AS DECIMAL(18,3)) AS tip_amount,
    CAST(tolls_amount AS DECIMAL(18,3)) AS tolls_amount,
    {ehail_fee} AS ehail_fee,
    CAST(improvement_surcharge AS DECIMAL(18,3)) AS improvement_surcharge,
    CAST(total_amount AS DECIMAL(18,3)) AS total_amount,
    CAST(payment_type AS INTEGER) AS payment_type,
    CASE WHEN CAST(payment_type AS INTEGER) = 1 THEN 'Credit card'
         WHEN CAST(payment_type AS INTEGER) = 2 THEN 'Cash'
         WHEN CAST(payment_type AS INTEGER) = 3 THEN 'No charge'
         WHEN CAST(payment_type AS INTEGER) = 4 THEN 'Dispute'
         WHEN CAST(payment_type AS INTEGER) = 5 THEN 'Unknown'
         WHEN CAST(payment_type AS INTEGER) = 6 THEN 'Voided trip'
    END AS payment_type_description,
    CAST(congestion_surcharge AS DECIMAL(18,3)) AS congestion_surcharge
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vendorid, {p}_pickup_datetime) AS rn
    FROM read_parquet('{path}') WHERE vendorid IS NOT NULL
  ) WHERE rn = 1
"""

_STG_GREEN = _STG_TEMPLATE.format(
    p="lpep", path=_G,
    trip_type="CAST(trip_type AS INTEGER)",
    ehail_fee="CAST(ehail_fee AS DECIMAL(18,3))",
)
_STG_YELLOW = _STG_TEMPLATE.format(
    p="tpep", path=_Y,
    trip_type="CAST(1 AS INTEGER)",
    ehail_fee="CAST(0 AS DECIMAL(18,3))",
)

# Contract-boundary presentation: money/measure columns stay DECIMAL
# inside the DAG (exact order-independent sums), but are presented as
# DOUBLE to the driver's hash — a Spark decimal reaches pandas as
# Decimal('12.500') while DuckDB's pandas path yields float64 12.5,
# hash-different despite identical values (the p2/a1 parity-kit
# convention; functions/parity.present_doubles is the Spark twin).
_MONEY_COLS = (
    "trip_distance fare_amount extra mta_tax tip_amount tolls_amount "
    "ehail_fee improvement_surcharge total_amount congestion_surcharge"
).split()


def _present_sql(inner: str, cols: list[str]) -> str:
    sel = ",\n    ".join(
        f"CAST({c} AS DOUBLE) AS {c}" if c in _MONEY_COLS else c for c in cols
    )
    return f"SELECT\n    {sel}\n  FROM ({inner})"


_STG_COLS = [
    "tripid", "vendorid", "ratecodeid", "pickup_locationid",
    "dropoff_locationid", "pickup_datetime", "dropoff_datetime",
    "store_and_fwd_flag", "passenger_count", "trip_distance", "trip_type",
    "fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
    "ehail_fee", "improvement_surcharge", "total_amount", "payment_type",
    "payment_type_description", "congestion_surcharge",
]
_FACT_COLS = [
    "tripid", "vendorid", "service_type", "ratecodeid", "pickup_locationid",
    "pickup_borough", "pickup_zone", "dropoff_locationid", "dropoff_borough",
    "dropoff_zone", "pickup_datetime", "dropoff_datetime",
    "store_and_fwd_flag", "passenger_count", "trip_distance", "trip_type",
    "fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
    "ehail_fee", "improvement_surcharge", "total_amount", "payment_type",
    "payment_type_description", "congestion_surcharge",
]

_FACT_CTES = f"""
WITH stg_green_tripdata AS ({_STG_GREEN}),
stg_yellow_tripdata AS ({_STG_YELLOW}),
taxi_zone_lookup AS (
  SELECT CAST(locationid AS INTEGER) AS locationid, borough, zone, service_zone
  FROM read_csv('{_Z}', header=true)
),
dim_zones AS (
  SELECT locationid, borough, zone,
         replace(service_zone, 'Boro', 'Green') AS service_zone
  FROM taxi_zone_lookup
),
dim_zones_known AS (SELECT * FROM dim_zones WHERE borough != 'Unknown'),
trips_unioned AS (
  SELECT *, 'Green' AS service_type FROM stg_green_tripdata
  UNION ALL
  SELECT *, 'Yellow' AS service_type FROM stg_yellow_tripdata
),
fact_trips AS (
  SELECT
    t.tripid, t.vendorid, t.service_type, t.ratecodeid,
    t.pickup_locationid, pu.borough AS pickup_borough, pu.zone AS pickup_zone,
    t.dropoff_locationid, do_.borough AS dropoff_borough, do_.zone AS dropoff_zone,
    t.pickup_datetime, t.dropoff_datetime, t.store_and_fwd_flag, t.passenger_count,
    t.trip_distance, t.trip_type, t.fare_amount, t.extra, t.mta_tax, t.tip_amount,
    t.tolls_amount, t.ehail_fee, t.improvement_surcharge, t.total_amount,
    t.payment_type, t.payment_type_description, t.congestion_surcharge
  FROM trips_unioned t
  JOIN dim_zones_known pu ON t.pickup_locationid = pu.locationid
  JOIN dim_zones_known do_ ON t.dropoff_locationid = do_.locationid
)
"""


# Built model DataFrames, memoized per session. dbt materializes the
# core models as TABLES (dbt_project.yml:40-41): downstream reads hit
# stored rows, not a re-run of staging. The Spark analog is a
# write-through parquet materialization — the fact is WRITTEN once per
# session and every downstream consumer (revenue mart, metrics) scans
# the stored table. At 100 TB this is the only correct shape: a
# .cache() pins the fact in executor memory/disk and evaporates with
# the session, while the parquet table survives, feeds other jobs, and
# gives downstream scans column pruning + filter pushdown into the
# store. Plan construction (CSV seed read + wide cast/md5 projections)
# is likewise paid once.
@per_session
def _spark_models(spark):
    """Build the Spark-side models from the shared fixtures."""
    import os

    from .plans.core import dim_zones, dm_monthly_zone_revenue, fact_trips
    from .plans.staging import stg_green_tripdata, stg_yellow_tripdata
    from .sources.seeds import TAXI_ZONE_LOOKUP_SCHEMA, load_seed_csv

    green = stg_green_tripdata(spark.read.parquet(_G))
    yellow = stg_yellow_tripdata(spark.read.parquet(_Y))
    zones = dim_zones(load_seed_csv(spark, _Z, TAXI_ZONE_LOOKUP_SCHEMA))
    # The fact table goes under its own directory, named for the
    # application: two concurrent processes (pytest + bench) or two
    # sessions of one application must not mode('overwrite') a shared
    # path out from under each other's memoized DataFrames
    # (FileNotFound / torn reads otherwise). Every session leaves a
    # copy behind (ADVICE r4: unbounded disk growth across rounds).
    # Clean up: our own copy goes at interpreter exit; stale siblings
    # from dead applications go now, age-gated at 2h so a genuinely
    # concurrent session (minutes old) is never touched.
    import atexit
    import shutil
    import tempfile
    import time

    app_prefix = f"fact_trips-{spark.sparkContext.applicationId}-"
    warehouse = os.path.join(DEFAULT_FIXTURE_DIR, "warehouse")
    os.makedirs(warehouse, exist_ok=True)
    cutoff = time.time() - 2 * 3600
    for d in os.listdir(warehouse):
        p = os.path.join(warehouse, d)
        if (
            d.startswith("fact_trips-")
            and not d.startswith(app_prefix)
            and os.path.getmtime(p) < cutoff
        ):
            shutil.rmtree(p, ignore_errors=True)
    fact_path = tempfile.mkdtemp(prefix=app_prefix, dir=warehouse)
    atexit.register(shutil.rmtree, fact_path, ignore_errors=True)
    fact_trips(green, yellow, zones).write.mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    return green, yellow, zones, fact, dm_monthly_zone_revenue(fact)


@query(
    "taxi_stg_green_tripdata",
    oracle=_present_sql(_STG_GREEN, _STG_COLS),
)
def taxi_stg_green_tripdata(spark, sf_dir):
    """The reference staging model end-to-end (stg_green_tripdata.sql:
    null filter, arbitrary-survivor dedup — full-row-duplicate fixtures
    make it value-stable — 22-column cast list, md5 surrogate key,
    payment decode). sf_dir is unused: the DAG runs on the shared
    fixtures both engines read."""
    return present_doubles(_spark_models(spark)[0])


@query(
    "taxi_stg_yellow_tripdata",
    oracle=_present_sql(_STG_YELLOW, _STG_COLS),
)
def taxi_stg_yellow_tripdata(spark, sf_dir):
    """The yellow staging model (stg_yellow_tripdata.sql): same
    21-column canonical schema as green, with the synthesized
    ``trip_type = 1`` and ``ehail_fee = 0`` literals that make the
    positional union in fact_trips legal."""
    return present_doubles(_spark_models(spark)[1])


@query(
    "taxi_dim_zones",
    oracle=f"""
    SELECT CAST(locationid AS INTEGER) AS locationid, borough, zone,
           replace(service_zone, 'Boro', 'Green') AS service_zone
    FROM read_csv('{_Z}', header=true)
    """,
)
def taxi_dim_zones(spark, sf_dir):
    """The zone dimension (dim_zones.sql): CSV seed with the
    locationid type override (dbt_project.yml:45-49, cast to INT per
    SURVEY §1.4) and the Boro→Green service_zone rewrite."""
    return _spark_models(spark)[2]


@query(
    "taxi_fact_trips",
    oracle=_FACT_CTES + _present_sql("SELECT * FROM fact_trips", _FACT_COLS),
)
def taxi_fact_trips(spark, sf_dir):
    """The reference fact model (fact_trips.sql): union + literal
    service tags + two broadcast zone joins dropping Unknown/unmatched
    zones + 27-column projection."""
    return present_doubles(_spark_models(spark)[3])


@query(
    "taxi_dm_monthly_zone_revenue",
    oracle=_FACT_CTES
    + """
    SELECT
      pickup_zone AS revenue_zone,
      CAST(date_trunc('month', pickup_datetime) AS TIMESTAMP) AS revenue_month,
      service_type,
      CAST(SUM(fare_amount) AS DOUBLE) AS revenue_monthly_fare,
      CAST(SUM(extra) AS DOUBLE) AS revenue_monthly_extra,
      CAST(SUM(mta_tax) AS DOUBLE) AS revenue_monthly_mta_tax,
      CAST(SUM(tip_amount) AS DOUBLE) AS revenue_monthly_tip_amount,
      CAST(SUM(tolls_amount) AS DOUBLE) AS revenue_monthly_tolls_amount,
      CAST(SUM(ehail_fee) AS DOUBLE) AS revenue_monthly_ehail_fee,
      CAST(SUM(improvement_surcharge) AS DOUBLE) AS revenue_monthly_improvement_surcharge,
      CAST(SUM(total_amount) AS DOUBLE) AS revenue_monthly_total_amount,
      CAST(SUM(congestion_surcharge) AS DOUBLE) AS revenue_monthly_congestion_surcharge,
      COUNT(tripid) AS total_monthly_trips,
      CAST(SUM(CAST(passenger_count AS DECIMAL(18,0))) AS DOUBLE) / COUNT(passenger_count)
        AS avg_monthly_passenger_count,
      CAST(SUM(trip_distance) AS DOUBLE) / COUNT(trip_distance)
        AS avg_monthly_trip_distance
    FROM fact_trips
    GROUP BY 1, 2, 3
    """,
)
def taxi_dm_monthly_zone_revenue(spark, sf_dir):
    """The reference revenue mart (dm_monthly_zone_revenue.sql): the
    full DAG — staging → fact → 12-aggregate monthly rollup."""
    return present_doubles(_spark_models(spark)[4])


def _average_distance_metric(filters=()):
    """The reference's dbt metric, field-for-field (README.md:228-242):
    average trip_distance on fact_trips over pickup_datetime grains."""
    from .plans.metrics import Metric

    return Metric(
        name="average_distance",
        calculation_method="average",
        expression="trip_distance",
        timestamp="pickup_datetime",
        time_grains=("month", "quarter", "year"),
        filters=filters,
    )


# davg(trip_distance, 18, 6) ≡ CAST(SUM(CAST(x AS DECIMAL(18,6))) AS
# DOUBLE) / COUNT(x) — see functions/parity.py docstring.
_AVG_DISTANCE_AGG = (
    "CAST(SUM(CAST(trip_distance AS DECIMAL(18,6))) AS DOUBLE)"
    " / COUNT(trip_distance) AS average_distance"
)


@query(
    "taxi_metric_average_distance_month",
    oracle=_FACT_CTES
    + f"""
    SELECT CAST(date_trunc('month', pickup_datetime) AS TIMESTAMP) AS period_month,
           {_AVG_DISTANCE_AGG}
    FROM fact_trips GROUP BY 1
    """,
)
def taxi_metric_average_distance_month(spark, sf_dir):
    """The reference's ``average_distance`` dbt metric at month grain
    (A5; README.md:228-242) compiled by plans/metrics.py over the real
    fact table — PipeRider's per-(metric, grain) query, same engine."""
    from .plans.metrics import compile_metric

    return compile_metric(_spark_models(spark)[3], _average_distance_metric(), "month")


@query(
    "taxi_metric_avg_distance_manhattan_quarter",
    oracle=_FACT_CTES
    + f"""
    SELECT CAST(date_trunc('quarter', pickup_datetime) AS TIMESTAMP) AS period_quarter,
           {_AVG_DISTANCE_AGG}
    FROM fact_trips
    WHERE pickup_borough = 'Manhattan' AND dropoff_borough = 'Manhattan'
    GROUP BY 1
    """,
)
def taxi_metric_avg_distance_manhattan_quarter(spark, sf_dir):
    """The filtered-metric acceptance case (A5+F4; README.md:286-308):
    average_distance restricted to Manhattan→Manhattan trips, quarter
    grain."""
    from .plans.metrics import MetricFilter, compile_metric

    filters = (
        MetricFilter("pickup_borough", "=", "Manhattan"),
        MetricFilter("dropoff_borough", "=", "Manhattan"),
    )
    return compile_metric(
        _spark_models(spark)[3], _average_distance_metric(filters), "quarter"
    )


@query(
    "taxi_dm_monthly_zone_statistics",
    oracle=_FACT_CTES
    + """
    SELECT
      pickup_zone,
      CAST(date_trunc('month', pickup_datetime) AS TIMESTAMP) AS trip_month,
      service_type,
      COUNT(tripid) AS total_monthly_trips,
      CAST(SUM(CAST(passenger_count AS DECIMAL(18,0))) AS DOUBLE) / COUNT(passenger_count)
        AS avg_monthly_passenger_count,
      CAST(SUM(trip_distance) AS DOUBLE) / COUNT(trip_distance)
        AS avg_monthly_trip_distance
    FROM fact_trips
    GROUP BY 1, 2, 3
    """,
)
def taxi_dm_monthly_zone_statistics(spark, sf_dir):
    """The README's optional statistics mart (reference README.md:96-119,
    ``dm_monthly_zone_statistics``): trips count + deterministic averages
    per (pickup zone, month, service type) over the real fact table."""
    from .plans.core import dm_monthly_zone_statistics

    return dm_monthly_zone_statistics(_spark_models(spark)[3])
