"""The benchmark's own tests. Run from the repo root:

    python3 -m pytest e2ebench -q -p no:cacheprovider

None of them starts Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import mix  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

# ---------------- percentiles ----------------


@pytest.mark.parametrize(
    "n, expected",
    [(10_000, 99.9), (1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0),
     (100, 90.0), (99, 75.0), (40, 75.0), (20, 50.0), (19, None), (1, None)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_samples_beyond_counts_real_samples():
    for n in range(1, 1200, 7):
        values = [float(v) for v in range(n)]
        for p in stats.PERCENTILES:
            cut = stats.percentile(values, p)
            assert sum(v > cut for v in values) == stats.samples_beyond(n, p)
        p = stats.tail_percentile(n)
        if p is not None:
            assert stats.samples_beyond(n, p) >= 10
            higher = [q for q in stats.PERCENTILES if q > p]
            assert all(stats.samples_beyond(n, q) < 10 for q in higher)


# ---------------- seeded inputs ----------------


def _raw(tmp_path: Path, name: str, seed: int, clock: float, monkeypatch) -> dict[str, bytes]:
    monkeypatch.setattr(zipfile.time, "time", lambda: clock)
    paths = inputs.make_raw_sources(tmp_path / name, seed)
    return {k: Path(p).read_bytes() for k, p in paths.items()}


def _row_counts(raw: dict[str, bytes], tmp_path: Path) -> dict[str, int]:
    from state_economics_end_to_end_data_pipeline_spark.io.excel import read_xlsx_grid

    xlsx = tmp_path / "probe.xlsx"
    xlsx.write_bytes(raw["unemployment_xlsx"])
    counts = {k: v.count(b"\n") for k, v in raw.items() if k != "unemployment_xlsx"}
    counts["unemployment_xlsx"] = len(read_xlsx_grid(str(xlsx)))
    return counts


def test_same_seed_gives_identical_bytes_at_any_clock(tmp_path, monkeypatch):
    a = _raw(tmp_path, "a", 7, 1_700_000_000.0, monkeypatch)
    b = _raw(tmp_path, "b", 7, 1_700_086_400.0, monkeypatch)
    assert a == b


def test_fixture_generator_alone_stamps_the_clock(tmp_path, monkeypatch):
    """Why the xlsx is re-packed: without it the bytes follow the clock."""
    from tests.fixtures_gen import generate_all

    got = []
    for i, clock in enumerate((1_700_000_000.0, 1_700_086_400.0)):
        monkeypatch.setattr(zipfile.time, "time", lambda c=clock: c)
        got.append(Path(generate_all(tmp_path / f"g{i}", seed=7)["unemployment_xlsx"]).read_bytes())
    assert got[0] != got[1]


def test_new_seed_gives_other_bytes_same_row_counts(tmp_path, monkeypatch):
    a = _raw(tmp_path, "a", 7, 1_700_000_000.0, monkeypatch)
    b = _raw(tmp_path, "b", 8, 1_700_000_000.0, monkeypatch)
    assert all(a[k] != b[k] for k in a)
    assert _row_counts(a, tmp_path) == _row_counts(b, tmp_path)


def test_request_mix_is_seeded_and_complete():
    tables = [f"t{i}" for i in range(11)]
    a, b, c = (inputs.request_mix(tables, s) for s in (1, 1, 2))
    assert a == b and a != c
    assert sorted(a) == sorted(c) == sorted((t, n) for t in tables for n in inputs.LIMITS)


def _catalog_tables(tmp_path: Path, name: str, seed: int) -> dict[str, bytes]:
    rows = tables.make_catalog_tables(tmp_path / name, seed)
    assert rows == tables.expected_rows()
    return {p.name: p.read_bytes() for p in sorted((tmp_path / name).iterdir())}


def test_catalog_tables_same_seed_same_bytes_new_seed_other_bytes(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (_catalog_tables(tmp_path, n, s) for n, s in (("a", 7), ("b", 7), ("c", 8)))
    assert a == b
    assert all(a[k] != c[k] for k in a)
    for name in a:
        assert pq.read_metadata(tmp_path / "a" / name).num_rows == pq.read_metadata(tmp_path / "c" / name).num_rows


def test_catalog_tables_match_the_testdata_schema(tmp_path):
    import pyarrow.parquet as pq

    manifest = json.loads((ROOT / "tools" / "testdata_manifest.json").read_text())["sf0.01"]
    tables.make_catalog_tables(tmp_path, 1)
    for path in sorted(tmp_path.iterdir()):
        got = [[f.name, str(f.type)] for f in pq.read_schema(path)]
        assert got == manifest[path.stem], path.stem


def test_block_orders_are_seeded_shuffles_of_the_mix():
    def first(seed, n=4):
        orders = mix.block_orders(seed)
        return [next(orders) for _ in range(n)]

    a, b, c = first(1), first(1), first(2)
    assert a == b and a != c
    assert a[0] == c[0] == list(mix.MIX)  # the cold block does not depend on the seed
    assert all(sorted(o) == sorted(mix.MIX) for o in a + c)
    assert len({tuple(o) for o in a}) > 1  # each block draws a new order


# ---------------- output checks reject perturbed results ----------------

PK = {"parent": ["id"], "child": ["id"]}
FK = [("child", "pid", "parent", "id")]
ROWS = {"parent": 2, "child": 3}


def _tables(**override):
    import pyarrow as pa

    t = {
        "parent": pa.table({"id": [1, 2], "name": ["a", "b"]}),
        "child": pa.table({"id": [10, 11, 12], "pid": [1, 2, None]}),
    }
    t.update(override)
    return t


def test_published_check_accepts_the_contract():
    assert checks.check_published(_tables(), ROWS, PK, FK) == []


@pytest.mark.parametrize(
    "perturbed",
    [
        {"child": {"id": [10, 11], "pid": [1, 2]}},            # a row lost
        {"child": {"id": [10, 10, 12], "pid": [1, 2, None]}},   # duplicate PK
        {"child": {"id": [10, None, 12], "pid": [1, 2, None]}},  # null PK
        {"child": {"id": [10, 11, 12], "pid": [1, 3, None]}},   # orphan FK
    ],
)
def test_published_check_rejects_perturbed_tables(perturbed):
    import pyarrow as pa

    tables = _tables(**{k: pa.table(v) for k, v in perturbed.items()})
    assert checks.check_published(tables, ROWS, PK, FK)


def test_published_check_rejects_a_missing_table():
    tables = _tables()
    del tables["child"]
    assert checks.check_published(tables, ROWS, PK, FK)


def test_expected_rows_cover_the_eleven_tables():
    from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import PRIMARY_KEYS

    assert len(checks.EXPECTED_ROWS) == 11
    assert set(PRIMARY_KEYS) <= set(checks.EXPECTED_ROWS)


COLS = {"a": ["x", "y"], "b": ["z"]}


def test_catalog_check():
    good_cols = {n: {"columns": list(reversed(c))} for n, c in COLS.items()}
    assert checks.check_catalog({"tables": ["a", "b"]}, good_cols, COLS) == []
    assert checks.check_catalog({"tables": ["a"]}, good_cols, COLS)
    assert checks.check_catalog({"tables": ["a", "b"]}, {**good_cols, "b": {"columns": ["w"]}}, COLS)
    assert checks.check_catalog({"tables": ["a", "b"]}, {"a": good_cols["a"]}, COLS)


def _reply(n: int, cols=("x", "y"), table="a"):
    return {"table": table, "columns": list(cols), "rows": [{c: i for c in cols} for i in range(n)]}


def test_reply_check():
    assert checks.check_reply(200, _reply(10), "a", 10, 50, ["x", "y"]) is None
    assert checks.check_reply(200, _reply(50), "a", 100, 50, ["x", "y"]) is None
    perturbed = [
        (500, _reply(10)),                               # not HTTP 200
        (200, _reply(9)),                                # a row short
        (200, _reply(11)),                               # beyond the limit
        (200, _reply(10, cols=("x",))),                  # a column missing
        (200, _reply(10, table="b")),                    # another table
        (200, {**_reply(10), "rows": [{"x": 1}] * 10}),  # rows lack a column
        (200, None),                                     # not JSON
    ]
    for status, payload in perturbed:
        assert checks.check_reply(status, payload, "a", 10, 50, ["x", "y"]) is not None


def test_fingerprint_ignores_column_and_row_order():
    a = mix.fingerprint(["y", "x"], [(1, "p"), (2, "q")])
    b = mix.fingerprint(["x", "y"], [("q", 2), ("p", 1)])
    assert a == b == [("p", 1), ("q", 2)]


def test_entry_check_rejects_perturbed_results():
    good = mix.fingerprint(["k", "n"], [(1, 10), (2, 20)])
    assert checks.check_entry("e", good, None, None) is None
    assert checks.check_entry("e", good, list(good), list(good)) is None
    perturbed = [
        mix.fingerprint(["k", "n"], [(1, 10)]),            # a row lost
        mix.fingerprint(["k", "n"], [(1, 10), (2, 21)]),   # a value changed
        mix.fingerprint(["k", "n"], [(1, 10), (2, 20), (3, 30)]),  # a row added
    ]
    for bad in perturbed:
        assert checks.check_entry("e", bad, good, None) is not None   # against the first block
        assert checks.check_entry("e", bad, None, good) is not None   # against the oracle
    assert checks.check_entry("e", [], None, None) is not None       # no rows at all


# ---------------- spans ----------------


def _span(i, start, end, parent=None, name="s"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_times_add_up_to_the_root_wall():
    tree = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, 1),
        _span(3, 2.0, 3.0, 2),
        _span(4, 5.0, 9.0, 1),
    ]
    selfs = spans.self_times(tree)
    assert selfs == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0}
    assert sum(selfs.values()) == 10.0
    assert {s["id"] for s in spans.subtree(tree, 1)} == {2, 3, 4}


def test_attributed_share_drops_below_one_for_a_gap():
    root = _span(1, 0.0, 10.0)
    tiled = [_span(2, 0.0, 4.0, 1), _span(3, 4.0, 10.0, 1), _span(4, 5.0, 6.0, 3)]
    assert layers.attributed_share(root, tiled) == 1.0
    gap = [_span(2, 0.0, 4.0, 1), _span(3, 6.0, 10.0, 1)]
    assert layers.attributed_share(root, gap) == 0.8


def test_jobs_of_other_groups_are_attributed_by_window():
    jobs = [
        {"group": "span-2", "submit": 1.0},
        {"group": "span-9", "submit": 1.5},           # another span's job
        {"group": "0b7c-stream-run-id", "submit": 2.0},  # a streaming query's micro-batch
        {"group": None, "submit": 3.0},
        {"group": None, "submit": 9.0},               # outside the window
    ]
    got, by_window = layers._attribute(jobs, {2}, (0.5, 5.0))
    assert [j["submit"] for j in got] == [1.0, 2.0, 3.0] and by_window == 2


def test_wrap_keeps_static_methods_static_and_nests_spans():
    class Owner:
        @staticmethod
        def inner(x):
            return x + 1

        def outer(self, x):
            return self.inner(x) * 2

    tracer = spans.Tracer()
    tracer.wrap(Owner, "inner", "inner")
    tracer.wrap(Owner, "outer", "outer")
    assert Owner().outer(1) == 4
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]


def test_event_log_attributes_jobs_to_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {spans.GROUP_KEY: "span-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 20_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3},
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "250"},
             {"Name": "data returned from Python workers", "Update": "4096"},
             {"Name": "number of output rows", "Update": "9"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (job,) = spans.read_event_log(tmp_path)  # job 1 never finished
    assert job["group"] == "span-3" and job["submit"] == 1.0 and job["end"] == 1.25
    assert (job["stages"], job["tasks"], job["executor_run_ms"]) == (1, 1, 40)
    assert (job["shuffle_read_bytes"], job["shuffle_write_bytes"], job["spill_bytes"]) == (12, 11, 3)
    assert (job["python_run_ms"], job["python_bytes_received"]) == (250, 4096)


# ---------------- the runner outside a checkout ----------------


def test_runner_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", "etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
