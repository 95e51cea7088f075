import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, datagen


def test_compare_is_bit_exact():
    cols = ["b", "a"]
    assert checks.compare(cols, [(1.0, 2)], ["a", "b"], [(2, 1.0)]) is None
    assert checks.compare(["x"], [(float("nan"),)], ["x"], [(float("nan"),)]) is None
    assert "differs" in checks.compare(["x"], [(-0.0,)], ["x"], [(0.0,)])
    assert "differs" in checks.compare(["x"], [(0.1 + 0.2,)], ["x"], [(0.3,)])
    assert "rows" in checks.compare(["x"], [(1,)], ["x"], [(1,), (1,)])
    assert "columns" in checks.compare(["x"], [(1,)], ["y"], [(1,)])


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("data"))
    return d, datagen.write_tables(d, seed=5)


def test_datagen_is_seeded(tables, tmp_path):
    d, rows = tables
    assert rows == {"documents": datagen.N_DOCS, "events": datagen.N_EVENTS,
                    "embeddings": datagen.N_VECS}
    again = str(tmp_path / "again")
    datagen.write_tables(again, seed=5)
    other = str(tmp_path / "other")
    datagen.write_tables(other, seed=6)
    for t in rows:
        a = pq.read_table(os.path.join(d, f"{t}.parquet"))
        assert a.equals(pq.read_table(os.path.join(again, f"{t}.parquet")))
        assert not a.equals(pq.read_table(os.path.join(other, f"{t}.parquet")))


def test_query_check_rejects_a_wrong_answer(tables):
    con = checks.oracle_connection(tables[0])
    sql = "SELECT user_id, sum(value) AS total FROM events GROUP BY user_id"
    cols, rows = checks.oracle_rows(con, sql)
    assert checks.check_query(con, sql, cols, rows) is None
    wrong = [rows[0][:1] + (rows[0][1] + 0.01,)] + rows[1:]
    assert checks.check_query(con, sql, cols, wrong) is not None
    assert checks.check_query(con, sql, cols, rows[1:]) is not None


def _write_sweep(out_dir, values):
    part = os.path.join(out_dir, "complete", "family=zz", "config_id=zz_1")
    os.makedirs(part)
    pq.write_table(
        pa.table({"t": [float(i) for i in range(len(values))],
                  "var": ["X1"] * len(values), "value": values}),
        os.path.join(part, "part-0.parquet"),
    )


def test_sweep_check_rejects_a_changed_value(tmp_path, monkeypatch):
    _write_sweep(str(tmp_path / "a"), [0.5, 1.5, 2.5])
    digest = checks.sweep_digest(str(tmp_path / "a"))
    assert digest[0] == 3
    monkeypatch.setitem(checks.SWEEP_EXPECTED, "zz", digest)
    assert checks.check_sweep("zz", str(tmp_path / "a")) is None

    _write_sweep(str(tmp_path / "b"), [0.5, 1.5, 2.5000000000000004])
    assert checks.check_sweep("zz", str(tmp_path / "b")) is not None
    _write_sweep(str(tmp_path / "c"), [0.5, 1.5])
    assert checks.check_sweep("zz", str(tmp_path / "c")) is not None


def test_sweep_digest_ignores_file_layout(tmp_path):
    _write_sweep(str(tmp_path / "one"), [0.5, 1.5, 2.5])
    two = tmp_path / "two" / "complete" / "family=zz" / "config_id=zz_1"
    two.mkdir(parents=True)
    table = pa.table({"t": [2.0, 0.0, 1.0], "var": ["X1"] * 3, "value": [2.5, 0.5, 1.5]})
    pq.write_table(table.slice(0, 1), str(two / "part-0.parquet"))
    pq.write_table(table.slice(1), str(two / "part-1.parquet"))
    assert checks.sweep_digest(str(tmp_path / "one")) == checks.sweep_digest(
        str(tmp_path / "two")
    )
