"""The benchmark's result checks catch wrong results and wrong expectations.

Runs without Spark: the engine's output is stood in for by rows rendered
the way ``print_result`` and the ``\\s`` exports render them.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from localsql_spark.sinks.writers import _write_xlsx_stdlib
from pyspark.sql import Row

from perfbench import inputs, oracle, workloads


def _printed(cursor) -> str:
    cols = [d[0] for d in cursor.description]
    return "\n".join(str(Row(**dict(zip(cols, r)))) for r in cursor.fetchall())


@pytest.fixture(scope="module")
def analyst(tmp_path_factory):
    wl = workloads.AnalystSql(tmp_path_factory.mktemp("analyst"), seed=5)
    yield wl
    wl.close()


def test_compare_rows_tolerates_summation_order_only():
    assert oracle.compare_rows([(1, 0.1 + 0.2, "a")], [(1, 0.3, "a")]) is None
    assert oracle.compare_rows([(1, 0.31, "a")], [(1, 0.3, "a")])
    assert oracle.compare_rows([(1,), (2,)], [(2,), (1,)])
    assert oracle.compare_rows([(1,), (2,)], [(2,), (1,)],
                               ordered=False) is None
    assert oracle.compare_rows([(1,)], [(1,), (2,)])
    assert oracle.compare_rows([(None,)], [(0,)])


def test_printed_rows_round_trip():
    text = "\n".join(str(r) for r in (Row(a=1, b="x'y", c=1.5, d=None),
                                      Row(a=-2, b="", c=1e-300, d=True)))
    assert oracle.parse_printed_rows(text) == [(1, "x'y", 1.5, None),
                                               (-2, "", 1e-300, True)]


@pytest.mark.parametrize("template", sorted(workloads.ANALYST_TEMPLATES))
def test_analyst_check_catches_wrong_result(analyst, template):
    op = workloads.Op(0, template, workloads._analyst_params(
        inputs.rng_for(5, 99), template))
    sql = workloads.ANALYST_TEMPLATES[template].format(**op.params)
    good = _printed(analyst.duck.execute(oracle.to_duck_sql(sql)))
    assert good, f"{template} returns no rows on the test inputs"
    assert analyst.check(op, good) is None
    # the last printed row dropped
    assert analyst.check(op, good.rsplit("\n", 1)[0] if "\n" in good else "")


def test_analyst_check_catches_wrong_expectation(analyst, monkeypatch):
    op = workloads.Op(0, "groupby", {"price": 5000})
    sql = workloads.ANALYST_TEMPLATES["groupby"].format(**op.params)
    good = _printed(analyst.duck.execute(oracle.to_duck_sql(sql)))
    assert analyst.check(op, good) is None
    # a deliberately wrong expectation: the oracle's filter is off by one
    wrong = workloads.ANALYST_TEMPLATES["groupby"].replace(
        "o_totalprice > {price}", "o_totalprice >= {price} - 1000")
    monkeypatch.setitem(workloads.ANALYST_TEMPLATES, "groupby", wrong)
    assert "expected" in analyst.check(op, good)


def test_probe_oracles_find_planted_pairs(analyst):
    rows = analyst._expected_probe_rows()
    assert sum(r[1] for r in rows) > 0, "no near-duplicate pairs"
    assert sum(r[2] for r in rows) > 0, "no pair among the kNN top 5"


def _write_exports(out, rows: list[tuple], cols: list[str]) -> None:
    """The four \\s formats as the engine writes them: csv with a header,
    json lines, a one-sheet xlsx and a parquet directory."""
    pdf = pd.DataFrame(rows, columns=cols)
    out.mkdir(parents=True, exist_ok=True)
    pdf.to_csv(out / "result.csv", index=False)
    with (out / "result.jsonl").open("w") as fh:
        for rec in pdf.to_dict(orient="records"):
            fh.write(json.dumps(rec) + "\n")
    _write_xlsx_stdlib(pdf, out / "result.xlsx")
    (out / "result.parquet").mkdir()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   out / "result.parquet" / "part-00000.parquet")


def test_ingest_check_reads_back_every_export(tmp_path):
    wl = workloads.IngestExport(tmp_path, seed=5)
    op = workloads.Op(0, "ingest")
    wl.prepare(op)
    _, paths, nation = wl._op_dirs[op.tag]
    con = oracle.connect()
    oracle.register_star(con, paths, nation)
    cur = con.execute(oracle.to_duck_sql(workloads.INGEST_SQL))
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    assert len(rows) > 20

    good = tmp_path / "good"
    _write_exports(good, rows, cols)
    assert wl.check(op, good) is None

    # one count off by one, in one format at a time
    wrong = tmp_path / "wrong"
    _write_exports(wrong, [rows[0][:2] + (rows[0][2] + 1,) + rows[0][3:]]
                   + rows[1:], cols)
    for fmt in workloads.EXPORTS:
        bad = tmp_path / f"bad_{fmt}"
        shutil.copytree(good, bad)
        target = bad / f"result.{fmt}"
        if target.is_dir():
            shutil.rmtree(target)
            shutil.copytree(wrong / target.name, target)
        else:
            shutil.copy(wrong / target.name, target)
        assert wl.check(op, bad).startswith(f"{fmt} export:")
