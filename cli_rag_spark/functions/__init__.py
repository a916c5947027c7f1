"""Column-level expression builders (no actions, no UDF registration
side effects). Everything here returns a pyspark Column so operators
can compose them inside a single Catalyst plan."""

from cli_rag_spark.functions.vectors import (  # noqa: F401
    cosine_distance,
    cosine_similarity,
    dot,
    l2_norm,
)
