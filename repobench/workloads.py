"""The two workloads: what one pass calls, and how its outputs are checked.

Each pass calls the engine's public functions inside spans named
``<layer>.<call>``. Work that a user would not repeat per pass (emptying
targets, restoring the sync bases, removing index files) runs in
``before_pass``/``after_pass``, outside the clock. Checks run outside
the clock too and return ``(ops covered, error or None)`` items.

Engine modules are imported when a workload is built, which happens
inside the set-up clock.
"""

from __future__ import annotations

import json
import os
import shutil
import traceback

import pyarrow.parquet as pq

import checks
import gen
from params import LLM_ROWS, MAPPED, SCD2_AS_OF, SCD2_TRACKED, WORKLOADS

CheckItem = tuple[list[str], "str | None"]


def stage_run_dir(workload: str, entry: str, run_dir: str) -> None:
    """Per-run copies of cached inputs that the engine writes to (before
    the clock): Derby writes into any database it boots."""
    if workload == "copy":
        shutil.copytree(os.path.join(entry, "derby_src"), os.path.join(run_dir, "derby_src"))


class Workload:
    name = ""

    def __init__(self, spark, tracer, entry: str, run_dir: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.entry, self.run_dir, self.seed = entry, run_dir, seed
        self.failed: list[str] = []

    def setup(self) -> None:
        """Per-process work a user pays before the first job (timed)."""

    def before_pass(self) -> None:
        pass

    def run_pass(self) -> tuple[int, list[str]]:
        """Run one timed pass; return (ops attempted, ops that failed)."""
        self.failed = []
        ops = self._pass()
        return ops, self.failed

    def _pass(self) -> int:
        raise NotImplementedError

    def check_pass(self) -> list[CheckItem]:
        return []

    def after_pass(self) -> None:
        pass

    def check_outputs(self) -> list[CheckItem]:
        """Checks run once, between the first and the warm passes."""
        return []

    def call(self, op: str, span: str, tag: str | None, fn, count=None):
        """Run ``fn`` in a span; a failure marks ``op`` failed. A traced
        span records ``count(result)``, such as the rows a copy published."""
        with self.tracer.span(span, tag) as s:
            try:
                out = fn()
            except Exception:
                traceback.print_exc()
                self.failed.append(op)
                return None
            if s is not None and count is not None:
                s.count = count(out)
            return out


def published(result) -> int:
    return result.rows_copied


class Copy(Workload):
    """Bulk copies, then recurring syncs. Bulk: checksum-verified copies
    of the seven TPC-H tables, a plain and a mapped copy, and a
    schema-fidelity Derby→Derby copy read back over a partitioned JDBC
    read. Sync: each mode applies a ~1% delta onto a published base that
    is restored before every pass."""

    name = "copy"

    def __init__(self, *a):
        super().__init__(*a)
        from copy_databasetables_spark.copy import engine
        from copy_databasetables_spark.sources import introspect, jdbc

        self.engine, self.introspect, self.jdbc = engine, introspect, jdbc
        self.src = os.path.join(self.entry, "src")
        self.targets = os.path.join(self.run_dir, "targets")
        self.live = os.path.join(self.run_dir, "sync")
        self.src_url = f"jdbc:derby:{os.path.join(self.run_dir, 'derby_src')}"
        self.dst_url = f"jdbc:derby:{os.path.join(self.run_dir, 'derby_dst')};create=true"
        with open(os.path.join(self.entry, "info.json")) as fh:
            self.derby_rows = json.load(fh)["derby_rows"]
        with open(os.path.join(self.entry, "delete_keys.json")) as fh:
            self.delete_keys = json.load(fh)

    def before_pass(self) -> None:
        shutil.rmtree(self.targets, ignore_errors=True)
        restore_base(self.entry, self.live)

    def _pass(self) -> int:
        return self._bulk() + self._sync()

    def _bulk(self) -> int:
        e, sp, t = self.engine, self.spark, self.targets
        for table in gen.TPCH_TABLES:
            self.call(f"checksum:{table}", "copy.copy_table", "checksum",
                      lambda: e.copy_table(sp, self.src, table, f"{t}/{table}",
                                           verify_checksum=True), published)
        self.call("plain:orders", "copy.copy_table", "plain",
                  lambda: e.copy_table(sp, self.src, "orders", f"{t}/orders_plain"),
                  published)
        self.call("mapped:lineitem", "copy.copy_table_mapped", "mapped",
                  lambda: e.copy_table_mapped(sp, self.src, "lineitem",
                                              f"{t}/lineitem_mapped", MAPPED), published)
        self.call("jdbc:schema_copy", "introspect.copy_tables_jdbc_with_schema", None,
                  lambda: self.introspect.copy_tables_jdbc_with_schema(
                      sp, self.src_url, self.dst_url, ["customer", "orders"]),
                  lambda _: sum(self.derby_rows.values()))
        for table, key in (("customer", "c_custkey"), ("orders", "o_orderkey")):
            spec = self.jdbc.JdbcReadSpec(
                url=self.dst_url, table=table.upper(), partition_column=key.upper(),
                lower_bound=0, upper_bound=self.derby_rows[table], num_partitions=4,
            )
            self.call(f"jdbc:read_{table}", "jdbc.JdbcReadSpec", table,
                      lambda: spec.load(sp).write.mode("overwrite").parquet(f"{t}/{table}_jdbc"))
        return len(gen.TPCH_TABLES) + 5

    def _sync(self) -> int:
        e, sp, en, live = self.engine, self.spark, self.entry, self.live
        self.call("incremental", "copy.copy_table_incremental", "incremental",
                  lambda: e.copy_table_incremental(
                      sp, f"{en}/inc", "orders", f"{live}/orders_inc", "o_orderkey"),
                  published)
        self.call("merge", "copy.merge_table", "merge",
                  lambda: e.merge_table(sp, f"{en}/merge", "orders",
                                        f"{live}/orders_merge", "o_orderkey"),
                  published)
        self.call("cdc", "copy.cdc_apply_table", "cdc",
                  lambda: e.cdc_apply_table(sp, f"{en}/cdc/orders_changes.parquet",
                                            "orders", f"{live}/orders_cdc", "o_orderkey"),
                  published)
        self.call("scd2", "copy.scd2_table", "scd2",
                  lambda: e.scd2_table(sp, f"{en}/scd2", "customer",
                                       f"{live}/customer_scd2", "c_custkey",
                                       SCD2_TRACKED, SCD2_AS_OF), published)
        self.call("delete", "copy.delete_rows", "delete",
                  lambda: e.delete_rows(sp, f"{live}/orders_delete", "o_orderkey",
                                        self.delete_keys), published)
        return len(SYNC_TARGETS)

    def check_pass(self) -> list[CheckItem]:
        return check_copy_bulk(self.entry, self.targets) + check_copy_sync(self.entry, self.live)


def check_copy_bulk(entry: str, targets: str) -> list[CheckItem]:
    with open(os.path.join(entry, "info.json")) as fh:
        info = json.load(fh)
    rows = info["rows"]

    def source(table: str, folder: str = "src"):
        return pq.read_table(os.path.join(entry, folder, f"{table}.parquet"))

    items = [
        ([f"checksum:{t}"], checks.check_target(f"{targets}/{t}", source(t), rows[t]))
        for t in gen.TPCH_TABLES
    ]
    items.append((["plain:orders"], checks.check_target(
        f"{targets}/orders_plain", source("orders"), rows["orders"])))
    items.append((["mapped:lineitem"], checks.check_target(
        f"{targets}/lineitem_mapped",
        pq.read_table(os.path.join(entry, "expected", "lineitem_mapped.parquet")),
        rows["lineitem"])))
    for t in ("customer", "orders"):
        items.append((["jdbc:schema_copy", f"jdbc:read_{t}"], checks.check_target(
            f"{targets}/{t}_jdbc", source(t, "derby_tables"), info["derby_rows"][t])))
    return items


#: the sync targets, in pass order: (target, mode)
SYNC_TARGETS = [
    ("orders_inc", "incremental"),
    ("orders_merge", "merge"),
    ("orders_cdc", "cdc"),
    ("customer_scd2", "scd2"),
    ("orders_delete", "delete"),
]


def restore_base(entry: str, live: str) -> None:
    """Put every sync target back to its published base."""
    for target, _ in SYNC_TARGETS:
        checks.restore(os.path.join(entry, "base", target), os.path.join(live, target))


def check_copy_sync(entry: str, live: str) -> list[CheckItem]:
    with open(os.path.join(entry, "info.json")) as fh:
        rows = json.load(fh)["expected_rows"]
    return [
        ([mode], checks.check_target(
            os.path.join(live, target),
            pq.read_table(os.path.join(entry, "expected", f"{target}.parquet")),
            rows[target]))
        for target, mode in SYNC_TARGETS
    ]


class LlmPipeline(Workload):
    """The production-path LLM operators over the cached corpus, in
    seeded order, each built, executed to the noop sink and followed by
    freeing its checkpoints."""

    name = "llm_pipeline"

    def __init__(self, *a):
        super().__init__(*a)
        import random

        from copy_databasetables_spark import io, operators
        from copy_databasetables_spark.operators import _helpers, similarity

        self.io, self.free_ckpts = io, _helpers.free_ckpts
        self.queries = operators.all_queries()
        self.corpus = os.path.join(self.entry, "corpus")
        self.ops = list(WORKLOADS["llm_pipeline"]["ops"])
        random.Random(self.seed).shuffle(self.ops)
        # persisted indexes go under the run directory, not the engine's /tmp default
        self.index_dir = os.path.join(self.run_dir, "ivf_index")
        if hasattr(similarity, "_ivf_index_path"):
            similarity._ivf_index_path.__defaults__ = (self.index_dir,)

    def setup(self) -> None:
        for table in ("documents", "embeddings"):
            with self.tracer.span("io.load_table", table):
                self.io.load_table(self.spark, self.corpus, table).cache().count()

    def _pass(self) -> int:
        for key in self.ops:
            with self.tracer.span("operators.call", key):
                df = self.call(key, "operators.build", key,
                               lambda: self.queries[key](self.spark, self.corpus))
                if df is not None:
                    self.call(key, "operators.exec", key,
                              lambda: df.write.format("noop").mode("overwrite").save())
                self.tracer.sample_storage()
                with self.tracer.span("ckpt.free_ckpts", key) as s:
                    freed = self.free_ckpts(self.spark)
                    if s is not None:
                        s.count = freed
        return len(self.ops)

    def after_pass(self) -> None:
        shutil.rmtree(self.index_dir, ignore_errors=True)

    def check_outputs(self) -> list[CheckItem]:
        out = []
        for key in self.ops:
            try:
                actual = self.queries[key](self.spark, self.corpus).toPandas()
                err = checks.diff_frames(actual, expected_output(self.entry, key), LLM_ROWS[key])
            except Exception as exc:
                traceback.print_exc()
                err = f"{type(exc).__name__}: {exc}"
            finally:
                self.free_ckpts(self.spark)
            out.append(([key], err))
        self.after_pass()
        return out


def expected_output(entry: str, key: str):
    return pq.read_table(os.path.join(entry, "expected", f"{key}.parquet")).to_pandas()


WORKLOAD_CLASSES = {w.name: w for w in (Copy, LlmPipeline)}
