from .aggregates import (AggregatorRegistry, argmax_vertex, histogram,
                         map_reduce_edges, map_reduce_vertices)
from .join_ops import injective_vertex_join
from .vertex_ops import (select_vertices, transform_edges, transform_vertices,
                         vset_intersect, vset_invert, vset_minus, vset_union)
from .vertex_program import (CC_PROGRAM, MERGES, PAGERANK_PROGRAM,
                             VertexProgram)
from .skew import key_skew_report, partition_balance
from .ingress import (assign_edges, ingress_report, replication_factor,
                      sharding_constraint)
from .warp import (broadcast_neighborhood, map_reduce_neighborhood,
                   neighborhood, parfor_all_vertices,
                   transform_neighborhood, warp_pagerank)
