"""kgfarm_spark — a PySpark-native point-in-time feature-engineering engine.

A brand-new implementation (NOT a port) of the query and data-processing
capabilities of CoDS-GCS/KGFarm (reference snapshot at /root/reference,
surveyed in SURVEY.md): point-in-time-correct enrichment (as-of joins with a
freshness window, reference `operations/api.py:518-571`), windowed feature
backfill (lag/lead, rolling aggregates, gap-based sessionize), column
profiling + entity detection, cleaning (null normalization, fills,
interpolation), transformations (scalers, encoders, unary transforms), and
feature selection — all expressed as lazy DataFrame plans whose physical
plan Catalyst/AQE choose.
"""

from kgfarm_spark.session import get_spark
from kgfarm_spark.api import FeatureFarm
from kgfarm_spark.operators.asof import asof_join
from kgfarm_spark.operators.backfill import backfill_asof_fused
from kgfarm_spark.operators.windows import (
    lag_lead_features,
    rolling_aggregates,
    sessionize,
    role_transitions,
    backfill_features,
)
from kgfarm_spark.pipeline import engineer_features, run_auto_pipeline
from kgfarm_spark.curation import curate
from kgfarm_spark.ml import evaluate_model, train_model

__all__ = [
    "curate",
    "get_spark",
    "FeatureFarm",
    "asof_join",
    "backfill_asof_fused",
    "lag_lead_features",
    "rolling_aggregates",
    "sessionize",
    "role_transitions",
    "backfill_features",
    "engineer_features",
    "run_auto_pipeline",
    "train_model",
    "evaluate_model",
]

__version__ = "0.1.0"
