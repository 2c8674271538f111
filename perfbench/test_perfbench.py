"""The benchmark's own tests: output checks count wrong results as
failed, inputs are a pure function of the seed, the event-log fold
attributes work to the right span, and BENCHMARK.json names exactly the
metrics the runner prints.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _problems(got, want):
    return checks.result_problems(checks.result_digest(*got), checks.result_digest(*want))


def test_result_problems_ignores_row_and_column_order():
    got = (["b", "a"], [(2, "x"), (1, "y")])
    want = (["a", "b"], [("y", 1), ("x", 2)])
    assert _problems(got, want) == []


@pytest.mark.parametrize("got_cols, got_rows", [
    (["a", "b"], [("y", 1), ("x", 3)]),            # a wrong value
    (["a", "b"], [("y", 1)]),                      # a missing row
    (["a", "b"], [("y", 1), ("y", 1)]),            # a duplicated row
    (["a", "c"], [("y", 1), ("x", 2)]),            # a wrong column
    (["a", "b"], [("y", 1.0000001), ("x", 2)]),    # a rounding difference
])
def test_result_problems_flags_wrong_results(got_cols, got_rows):
    assert _problems((got_cols, got_rows), (["a", "b"], [("y", 1), ("x", 2)]))


def test_a_wrong_result_counts_as_failed():
    ops = [("q1", 0.5, None), ("q2", 0.7, None), ("q1", 0.6, None), ("q3", 0.2, "boom")]
    problems = {"q1": ["rows 3 != 4"], "q2": []}
    assert run.count_failed(ops, problems) == 3  # both q1 runs and the q3 error
    assert run.count_failed(ops[:2], {"q1": [], "q2": []}) == 0


def test_traced_window_pairs_flip_order():
    calls = []

    class Workload:
        ROUND = ["a", "b", "c", "d", "e"]

        def run_op(self, spark, label, span):
            calls.append((label, span is not None))

        def record(self, label, output):
            pass

    untraced, traced = run.traced_window(Workload(), None, span=object())
    assert [op[0] for op in traced] == Workload.ROUND
    assert [op[0] for op in untraced] == Workload.ROUND[:run.PAIRED]
    assert calls == [("a", False), ("a", True), ("b", True), ("b", False),
                     ("c", False), ("c", True), ("d", True), ("d", False), ("e", True)]


def test_count_problems():
    assert checks.count_problems({"a": 1, "b": 2}, {"a": 1, "b": 2}) == []
    assert checks.count_problems({"a": 1, "b": 3}, {"a": 1, "b": 2}) == ["b: 3 != 2"]


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    return inputs.cached_inputs(str(root), "tables", 5, 1)


def test_lake_query_check_flags_a_wrong_query_result(tables):
    data_dir, manifest = tables
    wl = workloads.LakeQuery(data_dir, manifest, data_dir)
    from us_immigration_data_lake_spark.plans.queries import QUERIES

    con = duckdb.connect()
    for t in workloads.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in workloads.QUERY_NAMES:  # outputs equal to the oracle's ...
        res = con.sql(QUERIES[name].oracle)
        wl.record(name, (res.columns, res.fetchall()))
    assert all(not p for p in wl.check(None).values())

    res = con.sql(QUERIES["q01_pricing_summary"].oracle)  # ... then one wrong row
    cols, rows = res.columns, res.fetchall()
    con.close()
    wl.record("q01_pricing_summary", (cols, [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]))
    problems = wl.check(None)
    assert problems["q01_pricing_summary"] == ["values differ"]
    assert not any(problems[q] for q in workloads.QUERY_NAMES if q != "q01_pricing_summary")


def _files(path):
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            with open(os.path.join(d, n), "rb") as fh:
                out[os.path.relpath(os.path.join(d, n), path)] = fh.read()
    return out


@pytest.mark.parametrize("kind, size", [("lake", 5_000), ("tables", 1)])
def test_inputs_are_a_pure_function_of_seed_and_size(tmp_path, kind, size):
    a, ma = inputs.cached_inputs(str(tmp_path / "a"), kind, 7, size)
    b, mb = inputs.cached_inputs(str(tmp_path / "b"), kind, 7, size)
    c, _ = inputs.cached_inputs(str(tmp_path / "c"), kind, 8, size)
    assert ma == mb
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_lake_manifest_counts_match_the_raw_files(tmp_path):
    path, m = inputs.cached_inputs(str(tmp_path), "lake", 3, 5_000)
    con = duckdb.connect()
    raw = f"'{path}/sas_data/*.parquet'"
    assert con.sql(f"SELECT count(*) FROM {raw}").fetchone()[0] == m["raw_rows"]
    assert con.sql(f"SELECT count(*) FROM (SELECT DISTINCT * FROM {raw})").fetchone()[0] \
        == m["fact_rows"]
    assert con.sql(f"SELECT count(DISTINCT arrdate) FROM {raw}").fetchone()[0] \
        == m["arrival_dates"]
    stay = con.sql(f"SELECT sum(depdate - arrdate) FROM (SELECT DISTINCT * FROM {raw})")
    assert stay.fetchone()[0] == m["stay_sum"]


def _write_lake(src, lake, partitions, change=None):
    """The reference lake, written by DuckDB as partitioned parquet;
    ``change`` = (table, SQL UPDATE suffix) alters one table first."""
    con = duckdb.connect()
    con.create_function("py_title", str.title, ["VARCHAR"], "VARCHAR")
    for table, sql in checks._lake_reference(src).items():
        con.sql(f"CREATE TABLE {table} AS {sql}")
        if change and change[0] == table:
            con.sql(f"UPDATE {table} {change[1]}")
        by = partitions.get(table)
        opts = f"FORMAT parquet, PARTITION_BY ({', '.join(by)})" if by else "FORMAT parquet"
        target = os.path.join(lake, table) if by else os.path.join(lake, table, "part.parquet")
        os.makedirs(os.path.dirname(target), exist_ok=True)
        con.sql(f"COPY {table} TO '{target}' ({opts})")
    con.close()


@pytest.mark.parametrize("change", [
    None,
    ("immigration", "SET stay = stay + 1 WHERE cicid = 7"),
    ("arrival_date", "SET date_season = 'winter'"),
    ("demographics", "SET Asian = Asian + 1 WHERE City = 'City 0003'"),
    ("country", "SET Temperature = Temperature + 0.001 WHERE Temperature IS NOT NULL"),
    ("country", "SET Country = upper(Country)"),
])
def test_lake_check_flags_a_wrong_table(tmp_path, change):
    src, _ = inputs.cached_inputs(str(tmp_path / "in"), "lake", 3, 5_000)
    lake = str(tmp_path / "lake")
    _write_lake(src, lake, workloads.LakeEtl.PARTITIONS, change)
    problems = checks.lake_problems(src, lake)
    assert sorted(problems) == sorted(workloads.LakeEtl.SUITES)
    assert [t for t, p in problems.items() if p] == ([change[0]] if change else [])


def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_event_log_attributes_tasks_scans_and_joins(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    scan = {"nodeName": "Scan parquet ", "metadata": {"Location": "InMemoryFileIndex[/x/sas_data]"},
            "metrics": [{"name": "number of files read", "accumulatorId": 1},
                        {"name": "size of files read", "accumulatorId": 2}], "children": []}
    plan = {"nodeName": "BroadcastHashJoin", "metrics": [{"name": "rows", "accumulatorId": 3}],
            "children": [scan, {"nodeName": "SortMergeJoin",
                                "metrics": [{"name": "rows", "accumulatorId": 4}]}]}

    def task(stage, lo, hi, shuffle=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": lo * 1000, "Finish Time": hi * 1000},
                "Task Metrics": {"Executor CPU Time": 5e8, "JVM GC Time": 100,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    _write_log(tmp_path / "log", [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "read"}, "Submission Time": 10_000},
        # no job group: attributed by submission time to the enclosing span
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {},
         "Submission Time": 21_000},
        task(0, 10.0, 11.0, shuffle=7), task(0, 10.5, 12.0), task(1, 21.0, 22.0),
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0, "time": 10_000,
         "sparkPlanInfo": plan},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[1, 14], [2, 4096]]},
    ])
    log = eventlog.parse(str(tmp_path / "log"), {"read": [(10.0, 12.0)], "build": [(20.0, 23.0)]})
    assert log.spans["read"].tasks == 2 and log.spans["read"].shuffle_write_bytes == 7
    assert log.spans["build"].tasks == 1
    w = log.window(9.0, 13.0)
    assert w.tasks == 2 and w.busy_s(9.0, 13.0) == pytest.approx(2.0)
    assert w.cpu_s == pytest.approx(1.0) and w.gc_s == pytest.approx(0.2)
    assert log.file_scans("/sas_data", 0, 100) == (1, 4096)
    assert log.file_scans("/other", 0, 100) == (0, 0)
    assert log.join_counts(0, 100) == (1, 2)


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
