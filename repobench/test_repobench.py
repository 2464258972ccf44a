"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest repobench -q
"""

from __future__ import annotations

import filecmp
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import checks
import gen
import layers
import prepare
import run
import workloads
from params import LLM_OPS, LLM_ROWS, WORKLOADS
from spans import Span, covered, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _span(i, parent, start, end):
    return Span(i, f"layer.call{i}", None, parent, 1, start, end)


def test_self_time_subtracts_nested_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),
        _span(4, 1, 5.0, 7.0),
    ]
    assert self_times(spans) == pytest.approx({1: 5.0, 2: 2.0, 3: 1.0, 4: 2.0})


def test_covered_counts_overlap_once_and_clips():
    assert covered([(1.0, 4.0), (3.0, 6.0)], 0.0, 10.0) == pytest.approx(5.0)
    assert covered([(-2.0, 1.0), (9.0, 12.0)], 0.0, 10.0) == pytest.approx(2.0)
    assert covered([], 0.0, 10.0) == 0.0


def test_settled_at_marks_first_pass_that_did_not_fall():
    assert run.settled_at([7.1, 6.2, 5.9, 6.0]) == 3
    assert run.settled_at([5.0, 5.0]) == 1
    assert run.settled_at([9.0, 8.0, 7.0]) is None
    assert run.settled_at([4.0]) is None


def test_corpus_structure_is_seed_independent():
    a, b = gen.corpus(1, 300, 50), gen.corpus(2, 300, 50)
    ta, tb = a["documents"].column("text").to_pylist(), b["documents"].column("text").to_pylist()
    assert ta != tb
    assert [set(x.split()) for x in ta] == [set(x.split()) for x in tb]
    assert [len(x.split()) for x in ta] == [len(x.split()) for x in tb]
    assert a["embeddings"].column("embedding") != b["embeddings"].column("embedding")


def test_tpch_sizes_do_not_depend_on_seed():
    a, b = gen.tpch(1, 0.001), gen.tpch(2, 0.001)
    assert {k: t.num_rows for k, t in a.items()} == {k: t.num_rows for k, t in b.items()}
    assert not a["lineitem"].equals(b["lineitem"])


@pytest.fixture(scope="module")
def copy_entry(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("copy"))
    info = {**prepare.prepare_copy_bulk(3, dest, 0.005, 0.002),
            **prepare.prepare_copy_sync(3, dest, 0.005)}
    with open(os.path.join(dest, "info.json"), "w") as fh:
        json.dump(info, fh)
    return dest


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_restore_leaves_every_target_byte_identical(copy_entry, tmp_path):
    live = str(tmp_path / "sync")
    workloads.restore_base(copy_entry, live)
    # what a pass leaves behind: a rewritten file, a new file, a removed file
    first = os.path.join(live, "orders_merge", "part-00000.parquet")
    with open(first, "r+b") as fh:
        fh.seek(100)
        fh.write(b"\0\0\0\0")
    open(os.path.join(live, "orders_inc", "part-new.parquet"), "wb").close()
    os.remove(os.path.join(live, "orders_delete", "part-00001.parquet"))

    workloads.restore_base(copy_entry, live)
    base = os.path.join(copy_entry, "base")
    assert _tree(base) == _tree(live)
    for rel in _tree(base):
        assert filecmp.cmp(os.path.join(base, rel), os.path.join(live, rel), shallow=False), rel


def _publish(table: pa.Table, path: str) -> None:
    gen.write_parts(table, path, 2)


def _fake_copy_outputs(entry: str, root: str) -> tuple[str, str]:
    """Targets as a correct pass publishes them."""
    targets, live = os.path.join(root, "targets"), os.path.join(root, "sync")
    src = os.path.join(entry, "src")
    for t in gen.TPCH_TABLES:
        _publish(pq.read_table(f"{src}/{t}.parquet"), f"{targets}/{t}")
    _publish(pq.read_table(f"{src}/orders.parquet"), f"{targets}/orders_plain")
    _publish(pq.read_table(f"{entry}/expected/lineitem_mapped.parquet"), f"{targets}/lineitem_mapped")
    for t in ("customer", "orders"):
        jdbc = pq.read_table(f"{entry}/derby_tables/{t}.parquet")
        _publish(jdbc.rename_columns([c.upper() for c in jdbc.column_names]), f"{targets}/{t}_jdbc")
    for target, _ in workloads.SYNC_TARGETS:
        _publish(pq.read_table(f"{entry}/expected/{target}.parquet"), f"{live}/{target}")
    return targets, live


def _copy_errors(entry, targets, live):
    items = workloads.check_copy_bulk(entry, targets) + workloads.check_copy_sync(entry, live)
    return {tuple(ops): err for ops, err in items}


def _change_one_row(path: str, column: str) -> None:
    part = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
    full = os.path.join(path, part)
    t = pq.read_table(full)
    col = t.column(column).to_pylist()
    col[0] = col[0] + 1
    pq.write_table(t.set_column(t.schema.get_field_index(column), column,
                                pa.array(col, t.schema.field(column).type)), full)


def test_copy_checks_pass_on_correct_outputs(copy_entry, tmp_path):
    errs = _copy_errors(copy_entry, *_fake_copy_outputs(copy_entry, str(tmp_path)))
    assert all(e is None for e in errs.values()), errs


@pytest.mark.parametrize("target,column,ops", [
    ("targets/lineitem", "l_quantity", ("checksum:lineitem",)),
    ("targets/lineitem_mapped", "net_price", ("mapped:lineitem",)),
    ("targets/orders_jdbc", "O_TOTALPRICE", ("jdbc:schema_copy", "jdbc:read_orders")),
    ("sync/orders_merge", "o_totalprice", ("merge",)),
    ("sync/customer_scd2", "c_acctbal", ("scd2",)),
])
def test_copy_check_fails_on_one_changed_row(copy_entry, tmp_path, target, column, ops):
    targets, live = _fake_copy_outputs(copy_entry, str(tmp_path))
    _change_one_row(os.path.join(str(tmp_path), target), column)
    errs = _copy_errors(copy_entry, targets, live)
    assert errs[ops] is not None
    assert [k for k, e in errs.items() if e is not None] == [ops]


def test_copy_check_fails_on_unapplied_sync(copy_entry, tmp_path):
    targets, live = _fake_copy_outputs(copy_entry, str(tmp_path))
    workloads.restore_base(copy_entry, live)  # no mode ran
    errs = _copy_errors(copy_entry, targets, live)
    assert all(errs[(mode,)] is not None for _, mode in workloads.SYNC_TARGETS)


@pytest.fixture(scope="module")
def llm_entry(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("llm"))
    prepare.prepare_llm_pipeline(5, dest, ROOT)
    return dest


def test_oracle_row_counts_match_the_seed_independent_constants(llm_entry):
    for key in LLM_OPS:
        assert len(workloads.expected_output(llm_entry, key)) == LLM_ROWS[key], key


@pytest.mark.parametrize("key", LLM_OPS)
def test_llm_check_fails_on_one_perturbed_value(llm_entry, key):
    expected = workloads.expected_output(llm_entry, key)
    assert checks.diff_frames(expected.copy(), expected, LLM_ROWS[key]) is None
    bad = expected.copy()
    col = [c for c in bad.columns if bad[c].dtype.kind in "fi"][-1]
    bad.loc[bad.index[len(bad) // 2], col] += 1
    assert checks.diff_frames(bad, expected, LLM_ROWS[key]) is not None
    assert checks.diff_frames(expected.iloc[1:], expected, LLM_ROWS[key]) is not None


def test_benchmark_json_names_what_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "first_pass_s", "pass_s"}
    traced_only = {
        "trace.overhead_s", "calib.cpu_s", "calib.shuffle_s", "calib.python_s",
        "session.start_s", "io.input_ready_s", "io.cached_mb", "peak_storage_mb", "fail_ratio",
    }
    assert {m["name"] for m in bench["per_layer"]} == set(layers.UNITS) | traced_only


def test_unchanged_table_has_no_diff():
    t = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, None]})
    assert checks.diff_tables(t, t.take([2, 0, 1])) is None
    assert "column v" in checks.diff_tables(
        t.set_column(1, "v", pc.add(t["v"], 1.0)), t
    )
