from webgraph_algo_rs_spark.plans.superstep import (  # noqa: F401
    materialize,
    symmetrize,
    undirected_canonical,
    graph_vertices,
)
