"""Gold dimensions: dim_athletes, dim_countries, dim_divisions.

Reference: 04a/04b/04c notebooks. All three dims derive from silver
with shapes that stay cheap at scale: the athlete argmax is one window
shuffle keyed by natural key; countries/divisions are distinct-domain
extractions whose outputs are tiny (→ broadcast on the fact side).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.scalar import surrogate_key
from ironman_medallion_lakehouse_spark.plans.country_mapping import COUNTRY_MAPPING


def _natural_key() -> F.Column:
    """athlete_natural_key = lower(strip-non-alnum(name) + '_' +
    coalesce(country, 'UNKNOWN')) — 04a:130-140, repeated at 04d:140-150."""
    return F.lower(
        F.concat_ws(
            "_",
            F.regexp_replace(F.col("athlete_name"), "[^a-zA-Z0-9]", ""),
            F.coalesce(F.col("country"), F.lit("UNKNOWN")),
        )
    )


def build_dim_athletes(silver_df: DataFrame) -> DataFrame:
    """04a_gold_dim_athletes.ipynb: one row per natural key; attributes
    from the latest record (W2 argmax: row_number over natural key
    ORDER BY year DESC, load_timestamp DESC NULLS LAST → rn=1,
    :155-168); athlete_key = abs(hash(name_country)) (:185-195) —
    computed from the *raw* name while the natural key strips
    punctuation, a latent reference collision reproduced as-is
    (SURVEY §7 risk 4)."""
    with_key = silver_df.withColumn("athlete_natural_key", _natural_key())
    w = Window.partitionBy("athlete_natural_key").orderBy(
        F.col("year").desc(), F.col("load_timestamp").desc_nulls_last()
    )
    athletes = (
        with_key.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("athlete_natural_key", "athlete_name", "first_name", "last_name", "country")
    )
    athletes = athletes.withColumn(
        "athlete_key", surrogate_key(F.concat_ws("_", F.col("athlete_name"), F.col("country")))
    )
    athletes = athletes.withColumn("created_at", F.current_timestamp()).withColumn(
        "updated_at", F.current_timestamp()
    )
    return athletes.select(
        "athlete_key",
        "athlete_natural_key",
        "athlete_name",
        "first_name",
        "last_name",
        "country",
        "created_at",
        "updated_at",
    )


def build_dim_countries(spark: SparkSession, silver_df: DataFrame) -> DataFrame:
    """04b_gold_dim_countries.ipynb: distinct non-null countries (A4,
    :130-140) LEFT JOIN the static 92-row code map (J4, :255-266,
    broadcast), fallbacks name=code / continent='Unknown' (:310-322),
    athlete_count = countDistinct(athlete_name) per country (A3/J5,
    :340-374), country_key = abs(hash(country)) (:324). The map goes in
    as an Arrow table, so it plans as a ``LocalTableScan`` held in the
    driver; a Python list would plan ``Scan ExistingRDD`` and fork
    Python workers to serve 92 rows."""
    countries = (
        silver_df.select("country").filter(F.col("country").isNotNull()).distinct()
    )
    mapping = spark.createDataFrame(
        pa.table(
            list(zip(*COUNTRY_MAPPING)),
            names=["country_code", "country_name", "continent"],
        )
    )
    enriched = (
        countries.alias("c")
        .join(F.broadcast(mapping).alias("m"), F.col("c.country") == F.col("m.country_code"), "left")
        .select(F.col("c.country"), F.col("m.country_name"), F.col("m.continent"))
        .withColumn("country_name", F.coalesce(F.col("country_name"), F.col("country")))
        .withColumn("continent", F.coalesce(F.col("continent"), F.lit("Unknown")))
        .withColumn("country_key", surrogate_key("country"))
    )
    athlete_counts = (
        silver_df.filter(F.col("country").isNotNull())
        .groupBy("country")
        .agg(F.countDistinct("athlete_name").alias("athlete_count"))
    )
    out = (
        enriched.join(athlete_counts, on="country", how="left")
        .withColumn("athlete_count", F.coalesce(F.col("athlete_count"), F.lit(0)))
        .withColumn("created_at", F.current_timestamp())
        .withColumn("updated_at", F.current_timestamp())
    )
    return out.select(
        "country_key",
        "country",
        "country_name",
        "continent",
        "athlete_count",
        "created_at",
        "updated_at",
    )


def build_dim_divisions(silver_df: DataFrame) -> DataFrame:
    """04c_gold_dim_divisions.ipynb: distinct divisions; gender from
    M/F prefix else UNKNOWN (:146-151); is_professional = contains
    'PRO' (:153-156); age bounds via regexp_extract r"(\\d+\\-\\d+)"
    then split-cast (:178-205); human description (:222-243);
    division_key = abs(hash(division)) (:260-270)."""
    d = silver_df.select("division").filter(F.col("division").isNotNull()).distinct()
    d = d.withColumn(
        "gender",
        F.when(F.col("division").startswith("M"), "M")
        .when(F.col("division").startswith("F"), "F")
        .otherwise("UNKNOWN"),
    ).withColumn(
        "is_professional",
        F.when(F.col("division").contains("PRO"), True).otherwise(False),
    )
    d = d.withColumn("age_range", F.regexp_extract(F.col("division"), r"(\d+\-\d+)", 1))
    d = (
        d.withColumn(
            "age_group_start",
            F.when(
                F.col("age_range") != "",
                F.split(F.col("age_range"), "-").getItem(0).cast("integer"),
            ).otherwise(None),
        )
        .withColumn(
            "age_group_end",
            F.when(
                F.col("age_range") != "",
                F.split(F.col("age_range"), "-").getItem(1).cast("integer"),
            ).otherwise(None),
        )
        .drop("age_range")
    )
    gender_word = F.when(F.col("gender") == "M", F.lit("Male")).otherwise(F.lit("Female"))
    d = d.withColumn(
        "division_description",
        F.when(
            F.col("is_professional") == True,  # noqa: E712
            F.concat(gender_word, F.lit(" Professional")),
        )
        .when(
            F.col("age_group_start").isNotNull(),
            F.concat(
                gender_word,
                F.lit(" Age "),
                F.col("age_group_start"),
                F.lit(" to "),
                F.col("age_group_end"),
            ),
        )
        .otherwise(F.col("division")),
    )
    d = (
        d.withColumn("division_key", surrogate_key("division"))
        .withColumn("created_at", F.current_timestamp())
        .withColumn("updated_at", F.current_timestamp())
    )
    return d.select(
        "division_key",
        "division",
        "division_description",
        "gender",
        "is_professional",
        "age_group_start",
        "age_group_end",
        "created_at",
        "updated_at",
    )
