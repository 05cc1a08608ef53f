"""The benchmark's workloads, each a fixed list of registered queries
(their one-line reasons are in BENCHMARK.json).

`tables` are the inputs the set-up scans once. `rounds` is the least number
of rounds a run measures after its warm-up, and `warm` the number of warm
passes that follow the cold pass of each round.
"""

WORKLOADS = {
    "graph_superstep": {
        "tables": ["lineitem", "supplier"],
        "queries": ["label_propagation", "bfs_hops", "degree_assortativity"],
        "rounds": 3,
        "warm": 3,
    },
    "stream_gates": {
        "tables": ["events"],
        "queries": ["stream_exec_join", "stream_exec_state"],
        "rounds": 4,
        "warm": 1,
    },
}
