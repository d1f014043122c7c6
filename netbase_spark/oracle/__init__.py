from netbase_spark.oracle.rules import (  # noqa: F401
    dissect_name,
    dissect_parent,
    filter_candidates,
    oracle_triples,
)
