"""Enforced schemas for the engine's record types.

The reference declares an ideal schema it never enforces (SURVEY §1.3:
``FoodEntry`` at reference models.py:28-56 is instantiated nowhere; the
pipeline carries whatever dict keys the API returns). This engine flips
that: the schemas below are applied at the source boundary with
permissive JSON parsing plus a rescue column for unexpected fields.

All wire values arrive as strings (SURVEY §1.2) and are coerced by
``calorista_spark.functions.numeric.coerce_double`` /
``functions.dates.epoch_days_to_date``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Core fact record — reference models.py:28-41 plus fields observed in
# pipeline code (main.py:54-60, streamlit_app.py:20-27). Wire types are
# all strings; coercion happens in the normalizer (sources/payload.py).
FOOD_ENTRY_WIRE = T.StructType(
    [
        T.StructField("food_entry_id", T.StringType(), False),
        T.StructField("date_int", T.StringType(), False),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("meal", T.StringType(), True),
        T.StructField("food_entry_name", T.StringType(), True),
        T.StructField("food_entry_description", T.StringType(), True),
        T.StructField("calories", T.StringType(), True),
        T.StructField("carbohydrate", T.StringType(), True),
        T.StructField("fat", T.StringType(), True),
        T.StructField("protein", T.StringType(), True),
        T.StructField("fiber", T.StringType(), True),
        T.StructField("sugar", T.StringType(), True),
        T.StructField("sodium", T.StringType(), True),
        T.StructField("number_of_units", T.StringType(), True),
    ]
)

# Typed engine schema after coercion (FIXTURES.md A1).
FOOD_ENTRY = T.StructType(
    [
        T.StructField("food_entry_id", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("date_int", T.IntegerType(), False),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("meal", T.StringType(), True),
        T.StructField("food_entry_name", T.StringType(), True),
        T.StructField("food_entry_description", T.StringType(), True),
        T.StructField("calories", T.DoubleType(), False),
        T.StructField("carbohydrate", T.DoubleType(), False),
        T.StructField("fat", T.DoubleType(), False),
        T.StructField("protein", T.DoubleType(), False),
        T.StructField("fiber", T.DoubleType(), False),
        T.StructField("sugar", T.DoubleType(), False),
        T.StructField("sodium", T.DoubleType(), False),
        T.StructField("number_of_units", T.DoubleType(), True),
        T.StructField("fingerprint", T.StringType(), False),
    ]
)

# User profile dimension — reference models.py:5-25 (FIXTURES.md A3).
USER_PROFILE = T.StructType(
    [
        T.StructField("goal_weight_kg", T.DoubleType(), True),
        T.StructField("height_cm", T.DoubleType(), True),
        T.StructField("height_measure", T.StringType(), True),
        T.StructField("last_weight_kg", T.DoubleType(), True),
        T.StructField("weight_measure", T.StringType(), True),
        T.StructField("last_weight_date_int", T.IntegerType(), True),
        T.StructField("last_weight_comment", T.StringType(), True),
    ]
)

# Multimodal asset column group (SURVEY §2.11 L5): opaque binary payload
# + typed metadata, one row per asset.
MULTIMODAL_ASSET = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)
