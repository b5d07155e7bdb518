"""E1 as a driver-checked registry key: the full TB pipeline
(clean -> pivot -> join -> derive -> summarize) over the arithmetic-
noise synthetic source, so the whole DAG — not just its operators —
gets a DuckDB oracle (ADVICE r1: tb_pipeline was dead code).

The golden-parity test (tests/test_golden_parity.py) checks the same
pipeline against the reference's committed CSVs; this key checks it
against an independent SQL restatement every round at sf0.01.
ref: spark_data_processor.py:756-795.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.tb_pipeline import run_tb_pipeline, summarize
from ..sources.synthetic import _BASE_RATES, _POPULATIONS
from ._memo import artifact, session_memo
from .relational import _SYN_DIM

from ._base import make_registry

QUERIES, ORACLE, q = make_registry()


# The oracle restates the pipeline's ANSWER (not its plan): the
# synthetic wide grid is already the post-pivot shape, so the SQL
# computes marts directly while Spark goes the long way through
# melt -> clean -> pivot -> join -> derive. Agreement therefore
# exercises the whole reshape/join/rate chain. Decimal casts mirror
# functions/rates.py (reference_parity decimal(12,2)) and are cast to
# DOUBLE at the oracle surface per the FIXTURES.md §B convention.
_RATE = "base_rate * power(0.98, year - 2018) * noise"
ORACLE_TB_PIPELINE = f"""
WITH dim(iso3, base_rate, population) AS (VALUES {_SYN_DIM}),
years AS (SELECT UNNEST(range(2018, 2024)) AS year),
grid AS (
  SELECT iso3, base_rate, population, CAST(year AS INT) AS year,
         0.9 + ((year * 37 + ascii(substr(iso3, 1, 1)) * 11 + ascii(substr(iso3, 3, 1)) * 5) % 200) / 1000.0 AS noise
  FROM dim, years
),
syn AS (
  SELECT iso3, year, population,
         ROUND({_RATE} * population / 100000.0, 0) AS total_cases,
         ROUND({_RATE} * population / 100000.0 * 0.12, 0) AS deaths
  FROM grid
)
SELECT iso3 AS country, iso3, year,
       total_cases, CAST(0 AS DOUBLE) AS new_cases, deaths,
       ROUND(CAST(CASE WHEN population > 0
                       THEN CAST(total_cases * 100000 / population AS DECIMAL(12,2))
                       ELSE 0 END AS DOUBLE), 2) AS total_cases_per_100k,
       CAST(0 AS DOUBLE) AS new_cases_per_100k,
       ROUND(CAST(CASE WHEN population > 0
                       THEN CAST(deaths * 100000 / population AS DECIMAL(12,2))
                       ELSE 0 END AS DOUBLE), 2) AS deaths_per_100k
FROM syn
"""


def synthetic_tb_inputs(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(tb_raw, pop_raw) in the reference's raw long/population shapes,
    generated with arithmetic pseudo-noise (no RNG — FIXTURES.md: the
    oracle must be able to reproduce every input). Shared by the
    tb_pipeline key and the serving_q endpoint keys."""
    dim = spark.createDataFrame(
        [(iso3, rate, float(_POPULATIONS[iso3])) for iso3, rate in _BASE_RATES.items()],
        "iso3 string, base_rate double, population double",
    )
    years = spark.range(2018, 2024).select(F.col("id").cast("int").alias("year"))
    noise = (
        F.lit(0.9)
        + (
            (
                F.col("year") * 37
                + F.ascii(F.substring("iso3", 1, 1)) * 11
                + F.ascii(F.substring("iso3", 3, 1)) * 5
            )
            % 200
        )
        / F.lit(1000.0)
    )
    rate = F.col("base_rate") * F.pow(F.lit(0.98), F.col("year") - F.lit(2018)) * noise
    wide = dim.crossJoin(years).select(
        "iso3",
        "year",
        F.round(rate * F.col("population") / F.lit(100_000.0), 0).alias("e_inc_num"),
        F.round(rate * F.col("population") / F.lit(100_000.0) * F.lit(0.12), 0).alias(
            "e_mort_num"
        ),
    )
    long = wide.melt(
        ids=["iso3", "year"],
        values=["e_inc_num", "e_mort_num"],
        variableColumnName="indicator",
        valueColumnName="value",
    )
    tb_raw = long.select(
        F.col("iso3").alias("country"),
        "iso3",
        F.lit("SEA").alias("g_whoregion"),
        "indicator",
        F.col("year").cast("string").alias("year"),
        "value",
    )
    pop_raw = dim.crossJoin(years).select(
        F.col("iso3").alias("country"),
        "iso3",
        F.col("year").cast("string").alias("year"),
        "population",
    )
    return tb_raw, pop_raw


# deliberately NOT snapshot-keyed: the marts read no corpus, so one
# build serves every sf_dir in the session
_MARTS_CACHE: dict = {}


@artifact("tb_marts", memo=False)
def synthetic_marts(spark: SparkSession, sf_dir: str | None = None):
    """The four TB marts over the synthetic inputs, memoized per
    SparkSession; ``sf_dir`` is accepted for the artifact accessor
    signature and ignored. Nine registry keys (tb_pipeline + the
    serve_* family) consume these marts; without memoization each key
    re-plans and re-executes the pivot/join pipeline — a serving layer
    builds its marts once and answers many queries off them, so the
    cache models the real deployment shape. Mart DataFrames are
    eagerly localCheckpoint-ed: the data is mart-scale tiny (60 rows)
    and checkpointing cuts the pivot's value-discovery job from every
    downstream query plan."""
    def build():
        tb_raw, pop_raw = synthetic_tb_inputs(spark)
        marts = run_tb_pipeline(tb_raw, pop_raw, reference_parity=True, repair_swap=False)
        # checkpoint the shared FINAL table once (one pipeline
        # execution), then re-derive the three marts from the
        # checkpointed frame — checkpointing each mart separately would
        # run the pivot/join pipeline three times
        marts.final = marts.final.localCheckpoint(eager=True)
        marts.country_summary, marts.yearly_trends, marts.country_trends = summarize(
            marts.final
        )
        return marts

    return session_memo(_MARTS_CACHE, spark, None, build)


@q("tb_pipeline", ORACLE_TB_PIPELINE, artifacts={"tb_marts"})
def tb_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 end-to-end on synthetic input: build the long fact table
    (arithmetic pseudo-noise, no RNG), run the full pipeline, return
    the country_trends mart with rates cast to DOUBLE for the oracle
    surface. repair_swap=False: the input is well-formed, skipping the
    F12 probe action (that path is exercised by the golden test and
    the col_swap key)."""
    ct = synthetic_marts(spark).country_trends
    return ct.select(
        "country",
        "iso3",
        "year",
        "total_cases",
        "new_cases",
        "deaths",
        F.round(F.col("total_cases_per_100k").cast("double"), 2).alias("total_cases_per_100k"),
        F.round(F.col("new_cases_per_100k").cast("double"), 2).alias("new_cases_per_100k"),
        F.round(F.col("deaths_per_100k").cast("double"), 2).alias("deaths_per_100k"),
    )
