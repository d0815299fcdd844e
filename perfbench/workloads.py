"""The benchmark's workloads: which ops one pass runs, on which data, and why.

Every workload runs as a closed loop: one client thread, one op at a time, on
one JVM with local[4]. A pass runs every op of the workload once, registry
keys in an order the seed permutes. A run is three warm-up passes, then
round(seconds / 4) timed passes, 4 s being the length of a pass of either
workload on a 4-core box; the timed region is whole passes, so every run
times the same set of ops.

A run costs 45-65 s (JVM start, three warm-up passes that take five timed
passes' time, four timed passes, output checks) on a 4-core box, and a full
measurement of both workloads (48 runs) has to fit into an hour. That budget
is why each workload holds a sample of its family of keys, not the whole
family; why no workload is larger than memory; and why there is no
driver-loop workload (see CHANGES.md): its keys take about 2 s each, so a
run of it held too few ops to give steady figures.
"""
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DATA = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = {
    # Task CPU, shuffle and scan: builders that start no job beyond reading
    # parquet footers, on keys whose time grows with the data (at least 2x
    # from sf0.001 to sf0.1), run on 10x the base data. q_attribution
    # carries an exclusive-prefix window. Changes to driver-side builder work
    # should read no change here.
    "scan": {
        "scale": 10,
        "prefix": [],
        "keys": ["q_sort", "q_corr_matrix", "q_cube", "q_fn_zorder", "q_attribution"],
    },
    # The reference DAG (CSV and nested-JSON ingest into the lake), then keys
    # that write before they read: parquet writes and TxnLog commits, whose
    # builders start jobs on the driver; q_dedup_incremental also keeps a
    # checkpointed block in the BlockManager.
    "lake": {
        "scale": 1,
        "prefix": ["etl.covid", "etl.municipios"],
        "keys": ["q_txn_commit", "q_merge_upsert", "q_dedup_incremental"],
    },
}

# Key columns offset per copy when the base data is scaled up, so that every
# copy is a disjoint set of entities; dimension tables are copied unchanged.
_OFFSETS = {
    "customer": [("c_custkey", "customer", "c_custkey")],
    "orders": [("o_orderkey", "orders", "o_orderkey"), ("o_custkey", "customer", "c_custkey")],
    "lineitem": [("l_orderkey", "orders", "o_orderkey")],
    "events": [("event_id", "events", "event_id"), ("user_id", "events", "user_id")],
    "documents": [("doc_id", "documents", "doc_id")],
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def data_dir(scale, build_dir):
    """The workload's data directory: the committed base data, or a copy
    scaled up `scale` times under build_dir (made once, before set-up)."""
    if scale == 1:
        return BASE_DATA
    out = os.path.join(build_dir, "data", f"sf0.01x{scale}")
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src = {t: os.path.join(BASE_DATA, f"{t}.parquet") for t in TABLES}
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if t not in _OFFSETS:
            con.sql(f"COPY (SELECT * FROM '{src[t]}') TO '{dst}' (FORMAT parquet)")
            continue
        repl = ", ".join(
            f"{c} + k * (SELECT max({kc}) + 1 FROM '{src[kt]}') AS {c}"
            for c, kt, kc in _OFFSETS[t])
        con.sql(f"COPY (SELECT * EXCLUDE (k, rn) REPLACE ({repl}) FROM "
                f"(SELECT *, row_number() OVER () AS rn FROM '{src[t]}'), range({scale}) r(k) "
                f"ORDER BY k, rn) TO '{dst}' (FORMAT parquet)")
    open(done, "w").close()
    return out
