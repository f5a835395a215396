"""Import every operator module so its queries register with the registry.

The registry's order is the registration order these imports produce.
"""

from pyspark_ml_features_spark import pipeline  # noqa: F401
from pyspark_ml_features_spark.operators import (  # noqa: F401
    advanced_sql,
    array_scaling,
    basic,
    curation7,
    dedup,
    experiments,
    features,
    graph,
    ml,
    multimodal,
    packing,
    python_udfs,
    quality,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    scaling,
    sessionize,
    similarity,
    sketches,
    stewardship,
    surface8,
    surface9,
    surface10,
    surface11,
    surface12,
    surface13,
    textops,
)
from pyspark_ml_features_spark.streaming import events, stateful  # noqa: F401
