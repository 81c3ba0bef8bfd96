from map_reduce_project_spark.graph.ccf import (
    CCFResult,
    ccf_dedup,
    ccf_iterate,
    ccf_iterate_join,
    ccf_iterate_secondary_sort_conformance,
    component_count,
    component_summary,
    connected_components,
)
from map_reduce_project_spark.graph.generators import (
    generate_chain_graph,
    generate_cluster_graph,
    generate_random_graph,
)
from map_reduce_project_spark.graph.star import (
    large_star,
    small_star,
)

__all__ = [
    "CCFResult",
    "ccf_dedup",
    "ccf_iterate",
    "ccf_iterate_join",
    "ccf_iterate_secondary_sort_conformance",
    "component_count",
    "component_summary",
    "connected_components",
    "large_star",
    "small_star",
    "generate_chain_graph",
    "generate_cluster_graph",
    "generate_random_graph",
]
