"""Build one workload's inputs for one seed, before any clock starts.

A cache entry holds everything a run needs that a user of the engine
would already have: the seeded input tables, the Derby source database,
the published base targets and deltas of the sync modes, and the
expected results the checks compare against. Entries live under
``<work>/cache/<digest>/<workload>-s<seed>`` where the digest covers the
generator, this file and the engine's oracle sources, so a change to any
of them builds afresh.

Run as a child process (``python3 prepare.py WORKLOAD SEED DEST``) so
the measuring process starts with a cold interpreter and no JVM.
"""

from __future__ import annotations

import csv
import glob
import importlib.util
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from params import DELTA_FRACTION, MAPPED_SQL, SCD2_AS_OF, SCD2_TRACKED, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))

#: Derby runs without forcing log writes to disk (``durability=test``) in
#: every JVM the benchmark starts, so the source and target databases
#: share one flush policy; UTC keeps TIMESTAMPs as written.
DERBY_PROPS = ["-Dderby.system.durability=test", "-Duser.timezone=UTC"]


def derby_jars() -> list[str]:
    spec = importlib.util.find_spec("pyspark")
    jars = os.path.join(spec.submodule_search_locations[0], "jars")
    found = sorted(glob.glob(os.path.join(jars, "derby*.jar")))
    if not found:
        raise FileNotFoundError(f"no Derby jars under {jars}")
    return found


def _csv(t: pa.Table, path: str) -> None:
    # str() of a float round-trips exactly; of a datetime, Derby's format
    with open(path, "w", newline="") as fh:
        csv.writer(fh).writerows(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def build_derby(tables: dict[str, pa.Table], db_dir: str, work_dir: str) -> None:
    """The source database of the Derby→Derby copy: CUSTOMER and ORDERS
    with primary keys, a secondary index and a foreign key, bulk
    imported from CSV with Derby's own import procedure."""
    stmts = [
        f"CONNECT 'jdbc:derby:{db_dir};create=true';",
        "CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY, "
        "c_name VARCHAR(25) NOT NULL, c_nationkey INT NOT NULL, "
        "c_acctbal DOUBLE, c_mktsegment VARCHAR(10));",
        "CREATE TABLE orders (o_orderkey BIGINT NOT NULL PRIMARY KEY, "
        "o_custkey BIGINT NOT NULL, o_orderstatus VARCHAR(1), "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR(15));",
    ]
    for name in ("customer", "orders"):
        path = os.path.join(work_dir, f"{name}.csv")
        _csv(tables[name], path)
        stmts.append(
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, '{name.upper()}', "
            f"'{path}', NULL, NULL, 'UTF-8', 0);"
        )
    stmts += [
        "CREATE INDEX orders_custkey ON orders (o_custkey);",
        "ALTER TABLE orders ADD CONSTRAINT orders_customer FOREIGN KEY "
        "(o_custkey) REFERENCES customer (c_custkey);",
        "DISCONNECT;",
        "EXIT;",
    ]
    script = os.path.join(work_dir, "build.sql")
    with open(script, "w") as fh:
        fh.write("\n".join(stmts) + "\n")
    out = subprocess.run(
        ["java", *DERBY_PROPS, f"-Dderby.stream.error.file={work_dir}/derby.log",
         "-cp", os.pathsep.join(derby_jars()), "org.apache.derby.tools.ij", script],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0 or "ERROR" in out.stdout:
        raise RuntimeError(f"Derby build failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def _duck(sql: str, **views: str) -> pa.Table:
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).arrow()
    finally:
        con.close()


def prepare_copy_bulk(seed: int, dest: str, sf: float, derby_sf: float) -> dict:
    tables = gen.tpch(seed, sf)
    src = os.path.join(dest, "src")
    gen.write_tables(tables, src)
    rng = np.random.default_rng([seed, 4])
    n_cust = gen.tpch_sizes(derby_sf)["customer"]
    derby = {
        "customer": gen.customer_table(rng, n_cust),
        "orders": gen.orders_table(
            rng, np.arange(gen.tpch_sizes(derby_sf)["orders"], dtype=np.int64), n_cust
        ),
    }
    gen.write_tables(derby, os.path.join(dest, "derby_tables"))
    build_derby(derby, os.path.join(dest, "derby_src"), dest)
    mapped = _duck(
        "SELECT " + ", ".join(f"{expr} AS {name}" for name, expr in MAPPED_SQL) + " FROM lineitem",
        lineitem=os.path.join(src, "lineitem.parquet"),
    )
    exp = os.path.join(dest, "expected")
    os.makedirs(exp, exist_ok=True)
    pq.write_table(mapped, os.path.join(exp, "lineitem_mapped.parquet"))
    for f in glob.glob(os.path.join(dest, "*.csv")):
        os.remove(f)
    return {
        "rows": {t: tables[t].num_rows for t in tables},
        "derby_rows": {t: derby[t].num_rows for t in derby},
    }


def prepare_copy_sync(seed: int, dest: str, sf: float) -> dict:
    """Published bases plus one seeded delta per recurring-sync mode."""
    rng = np.random.default_rng([seed, 3])
    sizes = gen.tpch_sizes(sf)
    n, n_cust = sizes["orders"], sizes["customer"]
    d = max(4, int(n * DELTA_FRACTION))
    orders = gen.orders_table(rng, np.arange(n, dtype=np.int64), n_cust)
    customer = gen.customer_table(rng, n_cust)

    def new_orders(first: int, count: int) -> pa.Table:
        return gen.orders_table(rng, np.arange(first, first + count, dtype=np.int64), n_cust)

    def fresh_values(keys: np.ndarray) -> pa.Table:
        return gen.orders_table(rng, np.sort(keys), n_cust)

    def sources(name: str, tables: dict[str, pa.Table]) -> None:
        gen.write_tables(tables, os.path.join(dest, name))

    # incremental: the source has 1% new rows past the target's high-water mark
    sources("inc", {"orders": pa.concat_tables([orders, new_orders(n, d)])})
    # merge: half updates of existing keys, half new keys
    upd = rng.choice(n, d // 2, replace=False)
    sources("merge", {"orders": pa.concat_tables([fresh_values(upd), new_orders(n + d, d - d // 2)])})
    # cdc: updates and deletes of existing keys, inserts of new keys, and a
    # later update of some inserted keys (ordering by seq decides)
    n_u, n_d = (4 * d) // 10, (3 * d) // 10
    n_i = d - n_u - n_d
    picked = rng.choice(n, n_u + n_d, replace=False)
    ins = new_orders(n + 2 * d, n_i)
    reins = fresh_values(ins.column("o_orderkey").to_numpy()[: max(1, n_i // 4)])
    parts = [
        (ins, "I"),
        (fresh_values(picked[:n_u]), "U"),
        (orders.take(np.sort(picked[n_u:])), "D"),
        (reins, "U"),
    ]
    changes = pa.concat_tables([t for t, _ in parts])
    ops = np.concatenate([np.full(t.num_rows, op) for t, op in parts])
    order = rng.permutation(changes.num_rows - reins.num_rows)
    seq = np.empty(changes.num_rows, np.int64)
    seq[: order.size] = order
    seq[order.size:] = np.arange(order.size, changes.num_rows)  # re-updates come last
    changes = changes.append_column("op", pa.array(ops)).append_column("seq", pa.array(seq))
    os.makedirs(os.path.join(dest, "cdc"))
    pq.write_table(changes, os.path.join(dest, "cdc", "orders_changes.parquet"))
    # scd2: a full customer snapshot in which 1% of rows changed a tracked column
    d_c = max(2, int(n_cust * DELTA_FRACTION))
    changed = np.zeros(n_cust, bool)
    changed[rng.choice(n_cust, d_c, replace=False)] = True
    bal = customer.column("c_acctbal").to_numpy()
    snapshot = customer.set_column(
        3, "c_acctbal", pa.array(np.where(changed, bal + 1.0, bal))
    )
    sources("scd2", {"customer": snapshot})
    dim = customer.select(["c_custkey", *SCD2_TRACKED]).append_column(
        "valid_from", pa.array(["2024-01-01"] * n_cust)
    ).append_column("valid_to", pa.array([None] * n_cust, pa.string())).append_column(
        "is_current", pa.array([True] * n_cust)
    )
    # delete: 1% of keys, requested as a batch
    del_keys = np.sort(rng.choice(n, d, replace=False))
    with open(os.path.join(dest, "delete_keys.json"), "w") as fh:
        json.dump([int(k) for k in del_keys], fh)

    base = os.path.join(dest, "base")
    for target in ("orders_inc", "orders_merge", "orders_cdc", "orders_delete"):
        gen.write_parts(orders, os.path.join(base, target), 4)
    gen.write_parts(dim, os.path.join(base, "customer_scd2"), 4)

    b = os.path.join(base, "orders_inc")
    exp = {
        "orders_inc": _duck("SELECT * FROM s", s=os.path.join(dest, "inc", "orders.parquet")),
        "orders_merge": _duck(
            "SELECT * FROM b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s) "
            "UNION ALL SELECT * FROM s",
            b=b + "/*.parquet", s=os.path.join(dest, "merge", "orders.parquet"),
        ),
        "orders_cdc": _duck(
            "SELECT * EXCLUDE (op, seq, rn) FROM ("
            " SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn"
            " FROM (SELECT *, 'I' AS op, -1::BIGINT AS seq FROM b UNION ALL SELECT * FROM c))"
            " WHERE rn = 1 AND op <> 'D'",
            b=b + "/*.parquet", c=os.path.join(dest, "cdc", "orders_changes.parquet"),
        ),
        "customer_scd2": _duck(
            f"SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, valid_to, is_current FROM ("
            f" SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from,"
            f"  CASE WHEN d.c_acctbal = s.c_acctbal THEN NULL ELSE '{SCD2_AS_OF}' END AS valid_to,"
            f"  d.c_acctbal = s.c_acctbal AS is_current"
            f" FROM d JOIN s USING (c_custkey)"
            f" UNION ALL"
            f" SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment, '{SCD2_AS_OF}', NULL, true"
            f" FROM d JOIN s USING (c_custkey) WHERE d.c_acctbal <> s.c_acctbal)",
            d=os.path.join(base, "customer_scd2") + "/*.parquet",
            s=os.path.join(dest, "scd2", "customer.parquet"),
        ),
        "orders_delete": _duck(
            "SELECT * FROM b WHERE o_orderkey NOT IN (SELECT unnest(["
            + ",".join(str(int(k)) for k in del_keys) + "]))",
            b=b + "/*.parquet",
        ),
    }
    os.makedirs(os.path.join(dest, "expected"), exist_ok=True)
    for name, t in exp.items():
        pq.write_table(t, os.path.join(dest, "expected", f"{name}.parquet"))
    return {
        "base_rows": {"orders": n, "customer": n_cust},
        "delta_rows": {"incremental": d, "merge": d, "cdc": changes.num_rows,
                       "scd2": d_c, "delete": d},
        "expected_rows": {k: v.num_rows for k, v in exp.items()},
    }


def prepare_llm_pipeline(seed: int, dest: str, root: str) -> dict:
    w = WORKLOADS["llm_pipeline"]
    tables = gen.corpus(seed, w["docs"], w["vecs"])
    corpus_dir = os.path.join(dest, "corpus")
    gen.write_tables(tables, corpus_dir)
    sys.path.insert(0, root)
    import duckdb

    from copy_databasetables_spark.operators import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
        )
    exp = os.path.join(dest, "expected")
    os.makedirs(exp)
    rows = {}
    for key in w["ops"]:
        t = con.execute(oracles[key]).arrow()
        pq.write_table(t, os.path.join(exp, f"{key}.parquet"))
        rows[key] = t.num_rows
    con.close()
    return {"expected_rows": rows}


def main(argv: list[str]) -> int:
    workload, seed, dest = argv[0], int(argv[1]), argv[2]
    root = os.path.dirname(HERE)
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "copy":
        w = WORKLOADS["copy"]
        info = {**prepare_copy_bulk(seed, tmp, w["sf"], w["derby_sf"]),
                **prepare_copy_sync(seed, tmp, w["sf"])}
    else:
        info = prepare_llm_pipeline(seed, tmp, root)
    with open(os.path.join(tmp, "info.json"), "w") as fh:
        json.dump(info, fh, indent=1, sort_keys=True)
    os.rename(tmp, dest)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
