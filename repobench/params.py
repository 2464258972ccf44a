"""Workload sizes and the fixed knobs every module of the benchmark shares."""

#: Cores of the single Spark process (``local[CORES]``).
CORES = 4

#: Share of its table that each sync delta changes.
DELTA_FRACTION = 0.01
SCD2_TRACKED = ["c_acctbal", "c_mktsegment"]
SCD2_AS_OF = "2024-02-01"

#: The mapped copy of lineitem: (target column, Spark SQL). The DuckDB
#: twin computes the expected target.
MAPPED = [
    ("orderkey", "l_orderkey"),
    ("partkey", "cast(l_partkey as int)"),
    ("qty", "l_quantity"),
    ("net_price", "l_extendedprice * (1 - l_discount)"),
    ("ship_day", "cast(l_shipdate as date)"),
    ("flags", "concat(l_returnflag, l_linestatus)"),
    ("origin", "'tpch'"),
]
MAPPED_SQL = [
    ("orderkey", "l_orderkey"),
    ("partkey", "CAST(l_partkey AS INTEGER)"),
    ("qty", "l_quantity"),
    ("net_price", "l_extendedprice * (1 - l_discount)"),
    ("ship_day", "CAST(l_shipdate AS DATE)"),
    ("flags", "concat(l_returnflag, l_linestatus)"),
    ("origin", "'tpch'"),
]


LLM_OPS = [
    "q_dedup_minhash",
    "q_emb_pca_k",
    "q_sim_ivf_pq_persisted",
]

#: min_warm: warm passes a run measures at least. A copy pass is long
#: and steady after one pass; llm passes fall for three to five passes.
WORKLOADS = {
    "copy": {"sf": 0.05, "derby_sf": 0.02, "min_warm": 1},
    "llm_pipeline": {"docs": 1000, "vecs": 1000, "ops": LLM_OPS, "min_warm": 3},
}

#: Output rows of each operator. The corpus structure is seed-independent,
#: so these hold for every seed; the check fails if one differs.
LLM_ROWS = {
    "q_dedup_minhash": 2354,
    "q_emb_pca_k": 1000,
    "q_sim_ivf_pq_persisted": 60,
}
