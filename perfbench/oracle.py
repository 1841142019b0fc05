"""Result checks: DuckDB expectations, printed-row parsing, export readers.

DuckDB runs on the same generated files as the engine (the xlsx sheet is
registered from the frame it was written from, since DuckDB has no xlsx
reader here), always outside the timed regions.
"""

from __future__ import annotations

import ast
import math
import re
import zipfile
import xml.etree.ElementTree as ET
from decimal import Decimal
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

# SQLite's typeof() storage classes, which functions.sqlite_compat returns
SQLITE_TYPEOF_MACRO = """
CREATE OR REPLACE MACRO sqlite_typeof(x) AS CASE
  WHEN x IS NULL THEN 'null'
  WHEN typeof(x) IN ('BOOLEAN', 'TINYINT', 'SMALLINT', 'INTEGER', 'BIGINT',
                     'HUGEINT') THEN 'integer'
  WHEN typeof(x) IN ('FLOAT', 'DOUBLE') OR typeof(x) LIKE 'DECIMAL%'
    THEN 'real'
  ELSE 'text' END
"""
GLOB_MACRO = "CREATE OR REPLACE MACRO glob_match(s, p) AS s GLOB p"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # one thread: the check runs between timed ops and must not leave
    # work behind that competes with the next one
    con.execute("SET threads = 1")
    con.execute(SQLITE_TYPEOF_MACRO)
    con.execute(GLOB_MACRO)
    return con


def to_duck_sql(spark_sql: str) -> str:
    """The engine's SQLite dialect -> DuckDB: backtick identifiers become
    double-quoted, typeof() becomes the SQLite-semantics macro."""
    return re.sub(r"\btypeof\(", "sqlite_typeof(",
                  spark_sql.replace("`", '"'))


def register_star(con: duckdb.DuckDBPyConnection, paths: dict[str, Path],
                  nation: pd.DataFrame) -> None:
    """Tables named like the engine's catalog names the star-schema files,
    with the nested customer records flattened to the engine's dotted
    ``json_normalize`` column names.  Each file is read once, here, not
    once per checked query."""
    con.execute(f"CREATE OR REPLACE TABLE sales_parquet AS SELECT * FROM "
                f"read_parquet('{paths['sales']}')")
    con.execute(f"CREATE OR REPLACE TABLE orders_csv_gz AS SELECT * FROM "
                f"read_csv('{paths['orders']}', header = true)")
    con.execute(
        "CREATE OR REPLACE TABLE customers_jsonl AS SELECT c_custkey, c_name,"
        ' address.nationkey AS "address.nationkey",'
        ' address.city AS "address.city",'
        ' account.balance AS "account.balance",'
        ' account.segment AS "account.segment" '
        f"FROM read_json('{paths['customers']}', "
        "format = 'newline_delimited')")
    con.register("nation_frame", nation)
    con.execute("CREATE OR REPLACE TABLE nation_xlsx AS "
                "SELECT * FROM nation_frame")
    con.unregister("nation_frame")


def registry_oracle(name: str) -> str:
    """The DuckDB oracle SQL the engine's workload registry pins for one of
    its operator queries (all read a ``documents`` / ``embeddings`` view)."""
    from localsql_spark.workload import REGISTRY
    from localsql_spark.workload import extensions  # noqa: F401 — registers

    return REGISTRY[name].oracle


def register_quality(con: duckdb.DuckDBPyConnection, docs: Path,
                     table: str) -> None:
    """``table`` holds what the ``\\quality`` view holds for the columns
    the workloads read: quality score, language ID and token count."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs}')")
    con.execute(
        f"CREATE TABLE {table} AS SELECT q.doc_id,"
        " CAST(q.quality AS BIGINT) AS quality_score,"
        " l.lang_pred AS lang, t.ws_tokens AS tokens_ws"
        f" FROM ({registry_oracle('text_quality_scores')}) q"
        f" JOIN ({registry_oracle('text_langid')}) l USING (doc_id)"
        f" JOIN ({registry_oracle('text_token_stats')}) t USING (doc_id)")


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _same(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _key(row) -> tuple:
    return tuple((1, "") if v is None else (0, repr(round(v, 6)))
                 if isinstance(v, float) else (0, repr(v))
                 for v in map(_norm, row))


def compare_rows(got: list, expected: list, ordered: bool = True
                 ) -> str | None:
    """None when the rows match, else a one-line reason.  Numbers compare
    with a relative tolerance of 1e-9 (the two engines sum in different
    orders); unordered results are sorted on a rounded key first."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    if not ordered:
        got, expected = sorted(got, key=_key), sorted(expected, key=_key)
    for i, (g, e) in enumerate(zip(got, expected)):
        if len(g) != len(e) or not all(map(_same, g, e)):
            return f"row {i}: {tuple(g)!r} != expected {tuple(e)!r}"
    return None


def parse_printed_rows(text: str) -> list[tuple]:
    """Rows from ``print_result`` output with pretty print off, where each
    line is a ``Row(name=value, ...)`` repr of literal values."""
    rows = []
    for line in text.splitlines():
        if not line.startswith("Row("):
            continue
        call = ast.parse(line, mode="eval").body
        rows.append(tuple(ast.literal_eval(kw.value) for kw in call.keywords))
    return rows


def read_xlsx(path: Path) -> list[tuple]:
    """Data rows of the first worksheet (header row dropped)."""
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in sheet.iter(f"{ns}row"):
        vals = []
        for c in row:
            if c.get("t") == "inlineStr":
                vals.append("".join(t.text or "" for t in c.iter(f"{ns}t")))
            else:
                v = c.find(f"{ns}v").text
                vals.append(int(v) if re.fullmatch(r"-?\d+", v) else float(v))
        rows.append(tuple(vals))
    return rows[1:]


def read_export(path: Path) -> list[tuple]:
    """Rows of an exported result, read back without the engine."""
    ext = path.suffix.lstrip(".")
    if ext == "csv":
        pdf = pd.read_csv(path)
    elif ext == "jsonl":
        pdf = pd.read_json(path, lines=True)
    elif ext == "parquet":
        pdf = pq.read_table(path).to_pandas()
    elif ext == "xlsx":
        return read_xlsx(path)
    else:
        raise ValueError(f"no reader for {path}")
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def tree_bytes(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
