"""Import all query modules so their @register calls populate the registry."""

from collective_als_spark.queries import (  # noqa: F401
    events_queries,
    extended,
    extended3,
    extended4,
    extended5,
    extended6,
    lake_queries,
    llm_data,
    ml_queries,
    relational,
)
