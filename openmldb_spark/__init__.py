"""openmldb_spark — a PySpark-native feature-engineering engine.

A brand-new engine with the query/data-processing capabilities of the
OpenMLDB offline feature platform (reference survey in SURVEY.md),
re-expressed Spark-first: DataFrame/SQL plans that Catalyst optimizes,
with an Arrow-vectorized ``mapInArrow`` kernel only where Spark's
built-in window frames cannot express the semantics (MAXSIZE, OPEN
bounds, EXCLUDE CURRENT_TIME/ROW, WINDOW UNION, LAST JOIN).

Public API re-exports the stable surface.
"""

from openmldb_spark.session import get_spark, SessionConfig
from openmldb_spark.operators.window import (
    WindowSpec,
    Agg,
    window_agg,
)
from openmldb_spark.operators.last_join import last_join
from openmldb_spark.operators.sessionize import sessionize
from openmldb_spark.plans.backfill import backfill_features

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "SessionConfig",
    "WindowSpec",
    "Agg",
    "window_agg",
    "last_join",
    "sessionize",
    "backfill_features",
    "__version__",
]
