"""The two workloads: inputs, set-up load, op sequence, op, result check,
and the traced run's probes.

Each op is driven only through the engine's public surface
(``LocalSparkSQL.load_directory`` / ``load_file`` / ``run_sql`` /
``special`` / ``print_result``, ``catalog.register_file``,
``sinks.merge.merge_into_partitioned``), wrapped in spans named after the
layer the call enters.  Every op is checked against
DuckDB outside the timed region; ``run`` raises or ``check`` returns a
reason for a wrong result.
"""

from __future__ import annotations

import contextlib
import io
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import inputs, oracle

ROWS = 20  # rows print_result shows, and every template's LIMIT bound

# The timed window holds a fixed number of ops: as many whole rounds of
# ``round_len`` ops as take ``--seconds`` at the workload's nominal pace
# (``op_seconds``, measured on a quiet 4-vCPU guest).  Every run of a
# workload then does the same work whatever the host's load.  Windows cut
# by time held fewer ops on a slow host, and those ops sat earlier in the
# JVM's warm-up, so CPU per op followed the load.
#
# ``settle_ops``: untimed ops between set-up and the window.  The JVM keeps
# compiling hot paths for several ops after the warm-up pass.  The settle
# stops short of steady state so that each run fits the benchmark's time
# budget.


@dataclass
class Op:
    index: int              # -1 for warm-up ops
    template: str
    params: dict = field(default_factory=dict)

    @property
    def tag(self) -> str:
        return f"warm{self.template}" if self.index < 0 else f"op{self.index}"


class Workload:
    """Hooks the runner calls; ``run`` is the only timed one."""

    name: str
    op_seconds: float
    round_len = 1
    settle_ops = 0

    def window_ops(self, seconds: float) -> int:
        rounds = round(seconds / (self.op_seconds * self.round_len))
        return self.round_len * max(1, rounds)

    def load(self, eng) -> None:
        """Catalog load, inside the set-up interval."""

    def prepare(self, op: Op) -> None:
        """The op's inputs, before it is timed."""

    def finish(self, eng, op: Op) -> None:
        """Clean-up after the op's check."""

    def close(self) -> None:
        """Release what the constructor opened."""


def _printed(eng, df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        eng.print_result(df, n=ROWS)
    return buf.getvalue()


def _quiet(eng, command: str):
    """A special command, with its progress line kept off the console."""
    with contextlib.redirect_stderr(io.StringIO()):
        return eng.run_sql(command)


def _median_of(fn, repeats: int = 3) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _probe_register(eng, paths: dict[str, Path], tr) -> dict[str, float]:
    """sources.register_<format>_s: one catalog.register_file per format,
    median of three, against files the workload itself reads."""
    from localsql_spark.catalog import register_file

    labels = {"csv.gz": "csv_gz", "jsonl": "jsonl_nested", "xlsx": "xlsx",
              "parquet": "parquet"}
    out = {}
    for path in paths.values():
        fmt = path.name.split(".", 1)[1]
        if fmt not in labels:
            continue
        name = f"sources.register_{labels[fmt]}_s"
        if name in out:
            continue
        with tr.span(name):
            out[name] = _median_of(lambda: register_file(
                eng.spark, path, json_normalize=True, name="perfbench_probe"))
    eng.spark.catalog.dropTempView("perfbench_probe")
    return out


def _probe_commands(eng, commands, tr) -> dict[str, float]:
    """operators.<op>_s: a pipeline command's build plus one action on the
    view it registers, median of three."""
    out = {}
    for span, command in commands:
        with tr.span(span):
            out[f"{span}_s"] = _median_of(
                lambda command=command: _quiet(eng, command).count())
    return out


# -- analyst_sql ----------------------------------------------------------------

# SQLite-dialect templates over the tables load_directory names
# sales_parquet, orders_csv_gz, customers_jsonl, nation_xlsx and
# docs_parquet.  Every ORDER BY is total, so the printed rows are one exact
# sequence.
ANALYST_TEMPLATES: dict[str, str] = {
    "filter": """
SELECT l_id, l_orderkey, l_quantity, l_extendedprice
FROM sales_parquet
WHERE l_returnflag = '{flag}' AND l_quantity BETWEEN {qty} AND {qty} + 3
  AND l_discount < {disc}
ORDER BY l_extendedprice DESC, l_id LIMIT 20""",
    "join4": """
SELECT n.n_name AS nation, count(*) AS lines,
       sum(s.l_extendedprice * (1 - s.l_discount)) AS revenue
FROM sales_parquet s
JOIN orders_csv_gz o ON s.l_orderkey = o.o_orderkey
JOIN customers_jsonl c ON o.o_custkey = c.c_custkey
JOIN nation_xlsx n ON c.`address.nationkey` = n.n_nationkey
WHERE o.o_orderdate >= '{date}' AND c.`account.segment` <> '{segment}'
GROUP BY n.n_name ORDER BY revenue DESC, nation LIMIT 10""",
    "groupby": """
SELECT o_orderpriority AS priority, o_orderstatus AS status, count(*) AS n,
       avg(o_totalprice) AS avg_price, max(o_totalprice) AS max_price
FROM orders_csv_gz WHERE o_totalprice > {price}
GROUP BY o_orderpriority, o_orderstatus ORDER BY priority, status""",
    "window": """
SELECT nationkey, custkey, total, rnk FROM (
  SELECT c.`address.nationkey` AS nationkey, c.c_custkey AS custkey,
         sum(o.o_totalprice) AS total,
         ROW_NUMBER() OVER (PARTITION BY c.`address.nationkey`
                            ORDER BY sum(o.o_totalprice) DESC,
                                     c.c_custkey) AS rnk
  FROM orders_csv_gz o JOIN customers_jsonl c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderstatus = '{status}'
  GROUP BY c.`address.nationkey`, c.c_custkey) t
WHERE rnk <= 2 AND nationkey >= {nation}
ORDER BY nationkey, rnk LIMIT 20""",
    "setop": """
SELECT o_custkey AS custkey FROM orders_csv_gz
WHERE o_orderpriority = '{priority}'
{setop}
SELECT c_custkey FROM customers_jsonl WHERE `account.segment` = '{segment}'
ORDER BY custkey LIMIT 20""",
    "correlated": """
SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
       o.o_totalprice AS price
FROM orders_csv_gz o
WHERE o.o_orderpriority = '{priority}' AND o.o_totalprice > {factor} * (
  SELECT avg(o2.o_totalprice) FROM orders_csv_gz o2
  WHERE o2.o_custkey = o.o_custkey)
ORDER BY price DESC, orderkey LIMIT 20""",
    "glob": """
SELECT c_custkey AS custkey, c_name AS name, `address.city` AS city
FROM customers_jsonl
WHERE glob_match(c_name, 'Customer#000000{digit}[{lo}-{hi}]*')
ORDER BY custkey LIMIT 20""",
    "typeof": """
SELECT typeof(`account.balance`) AS t_balance, typeof(c_custkey) AS t_key,
       typeof(`address.city`) AS t_city, count(*) AS n
FROM customers_jsonl WHERE c_custkey % {mod} = {rem}
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "having": """
SELECT l_partkey AS partkey, count(*) AS n, sum(l_quantity) AS qty
FROM sales_parquet WHERE l_shipdate >= '{date}'
GROUP BY l_partkey HAVING count(*) >= {min_n}
ORDER BY n DESC, partkey LIMIT 20""",
    "quality": """
SELECT lang, count(*) AS docs, sum(quality_score) AS score,
       sum(tokens_ws) AS tokens
FROM doc_quality WHERE doc_id % {mod} = {rem}
GROUP BY lang ORDER BY lang""",
    "case_like_in": """
SELECT substr(o_orderpriority, 1, 1) AS p,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS finished,
       count(*) AS n, min(o_totalprice) AS lo
FROM orders_csv_gz
WHERE o_orderpriority LIKE '%{word}%' OR o_custkey IN ({k1}, {k2}, {k3})
GROUP BY substr(o_orderpriority, 1, 1) ORDER BY p""",
}
# REPL pipeline commands a template runs first; the view it registers is
# what the template's SQL reads
ANALYST_COMMANDS = {"quality": ("operators.quality",
                                "\\quality docs_parquet AS doc_quality")}
# pipeline commands only the traced run's probes time, over the same
# documents (with planted near-duplicates) and their embeddings
PROBE_COMMANDS = (
    ("operators.dedup_minhash", "\\dedup minhash docs_parquet AS nd"),
    ("operators.knn", "\\knn emb_parquet queries_parquet k=5 AS nn"),
)
# the probes' check over their views: near-duplicate pairs whose later copy
# has a two-letter language, by that copy's quality, and how many of them
# the exact kNN view also ranks in the original's top 5
PROBE_SQL = """
SELECT q.quality_score AS quality, count(*) AS pairs,
       sum(CASE WHEN k.neighbor_id IS NULL THEN 0 ELSE 1 END) AS knn_hits,
       sum(q.tokens_ws) AS tokens
FROM nd d JOIN doc_quality q ON q.doc_id = d.doc_b
LEFT JOIN nn k ON k.query_id = d.doc_a AND k.neighbor_id = d.doc_b
WHERE glob_match(q.lang, '[a-z][a-z]')
GROUP BY q.quality_score ORDER BY quality"""
# the merge probe: the store starts with every quality score at version 1,
# then each timed merge upserts one shard of doc ids at a newer version
SHARDS = 4
UPSERT_SQL = ("SELECT doc_id, quality_score, lang, {version} AS version "
              "FROM doc_quality WHERE doc_id % " + str(SHARDS) + " {where}")


def _analyst_params(rng, template: str) -> dict:
    year = int(rng.integers(1992, 1998))
    pick = lambda xs: xs[int(rng.integers(len(xs)))]  # noqa: E731
    if template == "filter":
        return {"flag": pick(inputs.FLAGS), "qty": int(rng.integers(1, 47)),
                "disc": round(float(rng.uniform(0.02, 0.1)), 2)}
    if template == "join4":
        return {"date": f"{year}-01-01", "segment": pick(inputs.SEGMENTS)}
    if template == "groupby":
        return {"price": int(rng.integers(1000, 300_000))}
    if template == "window":
        return {"status": pick(inputs.STATUSES),
                "nation": int(rng.integers(0, 16))}
    if template == "setop":
        return {"priority": pick(inputs.PRIORITIES),
                "segment": pick(inputs.SEGMENTS),
                "setop": pick(("INTERSECT", "EXCEPT", "UNION"))}
    if template == "correlated":
        return {"priority": pick(inputs.PRIORITIES),
                "factor": round(float(rng.uniform(1.2, 1.8)), 2)}
    if template == "glob":
        lo = int(rng.integers(0, 8))
        return {"digit": int(rng.integers(0, 2)), "lo": lo, "hi": lo + 2}
    if template in ("typeof", "quality"):
        mod = int(rng.integers(2, 6))
        return {"mod": mod, "rem": int(rng.integers(0, mod))}
    if template == "having":
        return {"date": f"{year}-06-01", "min_n": int(rng.integers(10, 20))}
    if template == "case_like_in":
        ks = rng.integers(0, inputs.SF0_1["n_customers"], 3)
        return {"word": pick(("URGENT", "HIGH", "LOW", "SPEC")),
                "k1": int(ks[0]), "k2": int(ks[1]), "k3": int(ks[2])}
    raise KeyError(template)


class AnalystSql(Workload):
    """The interactive user: one directory loaded once, then a seeded
    sequence of SQLite-dialect queries (one after a ``\\quality`` command),
    each printed as print_result shows it."""

    name = "analyst_sql"
    round_len = settle_ops = len(ANALYST_TEMPLATES)
    op_seconds = 0.3
    sizes = inputs.SF0_1
    corpus_sizes = {"n_base": 1_200, "n_planted": 150, "dim": 16,
                    "n_queries": 10}

    def __init__(self, root: Path, seed: int) -> None:
        self.seed = seed
        self.dir = root / "analyst"
        self.store = root / "store" / "quality"
        frames = inputs.star_frames(inputs.rng_for(seed, 0), **self.sizes)
        self.paths = inputs.write_star(self.dir, frames)
        corpus = inputs.corpus_frames(inputs.rng_for(seed, 3),
                                      **self.corpus_sizes)
        self.paths.update(inputs.write_corpus(
            self.dir, {"docs": corpus["docs"]}))
        # the embeddings only the probes load, outside the set-up directory
        self.probe_paths = inputs.write_corpus(
            root / "probe", {"emb": corpus["emb"],
                             "queries": corpus["queries"]})
        self.duck = oracle.connect()
        oracle.register_star(self.duck, self.paths, frames["nation"])
        oracle.register_quality(self.duck, self.paths["docs"], "doc_quality")

    def load(self, eng) -> None:
        found = eng.load_directory(self.dir, json_normalize=True,
                                   verbose=False)
        expected = {"sales_parquet", "orders_csv_gz", "customers_jsonl",
                    "nation_xlsx", "docs_parquet"}
        if set(found) != expected:
            raise RuntimeError(f"loaded {sorted(found)}, "
                               f"expected {sorted(expected)}")
        with contextlib.redirect_stdout(io.StringIO()):
            eng.run_sql("\\pp")  # print_result emits Row(...) lines

    def warm_ops(self) -> list[Op]:
        rng = inputs.rng_for(self.seed, 10)
        return [Op(-1, t, _analyst_params(rng, t)) for t in ANALYST_TEMPLATES]

    def ops(self):
        """Rounds of every template once, each round in a seeded order;
        a window of whole rounds holds every template equally often."""
        rng = inputs.rng_for(self.seed, 11)
        names = list(ANALYST_TEMPLATES)
        i = 0
        while True:
            for t in rng.permutation(names):
                yield Op(i, str(t), _analyst_params(rng, str(t)))
                i += 1

    def run(self, eng, op: Op, tr):
        sql = ANALYST_TEMPLATES[op.template].format(**op.params)
        if op.template in ANALYST_COMMANDS:
            span, command = ANALYST_COMMANDS[op.template]
            with tr.span(span):
                _quiet(eng, command)
        with tr.span("engine.run_sql"):
            df = eng.run_sql(sql)
        with tr.span("engine.fetch"):
            return _printed(eng, df)

    def check(self, op: Op, result) -> str | None:
        sql = ANALYST_TEMPLATES[op.template].format(**op.params)
        expected = self.duck.execute(oracle.to_duck_sql(sql)).fetchall()
        return oracle.compare_rows(oracle.parse_printed_rows(result),
                                   expected)

    def probes(self, eng, tr) -> tuple[dict[str, float], list[str]]:
        """Single-call probes after the traced window, and the reasons any
        of their results is wrong: the pipeline views are checked with the
        registry's own operator oracles, the store is read back."""
        for path in self.probe_paths.values():
            eng.load_file(path)
        out = {**_probe_register(eng, self.paths, tr),
               **_probe_commands(eng, [*ANALYST_COMMANDS.values(),
                                       *PROBE_COMMANDS], tr)}
        failures = []
        why = oracle.compare_rows(
            oracle.parse_printed_rows(_printed(eng, eng.run_sql(PROBE_SQL))),
            self._expected_probe_rows())
        if why:
            failures.append(f"probe views: {why}")
        out["sinks.merge_s"], why = self._probe_merge(eng, tr)
        if why:
            failures.append(f"probe store after merge: {why}")
        return out, failures

    def _expected_probe_rows(self) -> list[tuple]:
        con = self.duck
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{self.probe_paths['emb']}')")
        con.execute("CREATE TABLE nd AS "
                    + oracle.registry_oracle("dedup_minhash_pairs"))
        # the registry's kNN oracle queries vec_id < 10: the query file
        # holds exactly those vectors
        con.execute("CREATE TABLE nn AS "
                    + oracle.registry_oracle("knn_brute_force_top5"))
        return con.execute(PROBE_SQL).fetchall()

    def _probe_merge(self, eng, tr) -> tuple[float, str | None]:
        """sinks.merge_s: median of three merge_into_partitioned upserts,
        each of one shard of doc ids, into a store seeded with every row."""
        from localsql_spark.sinks.merge import merge_into_partitioned

        def merge(version: int, where: str) -> float:
            updates = eng.run_sql(UPSERT_SQL.format(version=version,
                                                    where=where))
            t0 = time.perf_counter()
            merge_into_partitioned(eng.spark, str(self.store), updates,
                                   key="doc_id", version="version",
                                   partition_col="lang")
            return time.perf_counter() - t0

        merge(1, ">= 0")
        with tr.span("sinks.merge"):
            walls = [merge(shard + 2, f"= {shard}") for shard in range(3)]
        got = self.duck.execute(
            "SELECT doc_id, quality_score, lang, version FROM read_parquet("
            f"'{self.store}/*/*.parquet', hive_partitioning = true) "
            "ORDER BY doc_id").fetchall()
        want = self.duck.execute(
            "SELECT doc_id, quality_score, lang, CASE WHEN doc_id % "
            f"{SHARDS} < 3 THEN doc_id % {SHARDS} + 2 ELSE 1 END "
            "FROM doc_quality ORDER BY doc_id").fetchall()
        return statistics.median(walls), oracle.compare_rows(got, want)

    def close(self) -> None:
        self.duck.close()


# -- ingest_export --------------------------------------------------------------

INGEST_SQL = """
SELECT n.n_name AS nation, o.o_orderstatus AS status, count(*) AS lines,
       sum(s.l_quantity) AS qty, sum(s.l_extendedprice) AS gross,
       max(c.`account.segment`) AS top_segment
FROM sales_parquet s
JOIN orders_csv_gz o ON s.l_orderkey = o.o_orderkey
JOIN customers_jsonl c ON o.o_custkey = c.c_custkey
JOIN nation_xlsx n ON c.`address.nationkey` = n.n_nationkey
GROUP BY n.n_name, o.o_orderstatus ORDER BY nation, status"""
EXPORTS = ("csv", "jsonl", "xlsx", "parquet")


class IngestExport(Workload):
    """The reference's native product: each op loads a fresh directory of
    csv.gz / nested jsonl / xlsx / parquet, runs one join/aggregate and
    exports it with \\s to four formats."""

    name = "ingest_export"
    op_seconds, settle_ops = 2.0, 3
    # sf0.01, not sf0.1: an sf0.1 op took 8.3 s wall, and a run then took
    # longer than the benchmark's time budget allows (README)
    sizes = inputs.SF0_01
    tables = ("customers_jsonl", "nation_xlsx", "orders_csv_gz",
              "sales_parquet")

    def __init__(self, root: Path, seed: int) -> None:
        self.seed = seed
        self.root = root / "ingest"
        self.bytes_written: dict[str, int] = {}
        self._op_dirs: dict[str, tuple[Path, dict, object]] = {}

    def _generate(self, op: Op) -> None:
        d = self.root / op.tag
        shutil.rmtree(d, ignore_errors=True)
        frames = inputs.star_frames(
            inputs.rng_for(self.seed, 1, op.index + 1), **self.sizes)
        paths = inputs.write_star(d / "in", frames)
        (d / "out").mkdir()
        self._op_dirs[op.tag] = (d, paths, frames["nation"])

    def warm_ops(self) -> list[Op]:
        op = Op(-1, "ingest")
        self._generate(op)
        return [op]

    def ops(self):
        i = 0
        while True:
            yield Op(i, "ingest")
            i += 1

    def prepare(self, op: Op) -> None:
        if op.tag not in self._op_dirs:
            self._generate(op)

    def run(self, eng, op: Op, tr):
        d, _, _ = self._op_dirs[op.tag]
        with tr.span("sources.load"):
            found = eng.load_directory(d / "in", json_normalize=True,
                                       verbose=False)
        if set(found) != set(self.tables):
            raise RuntimeError(f"loaded {sorted(found)}")
        with tr.span("engine.run_sql"):
            eng.run_sql(INGEST_SQL)
        for fmt in EXPORTS:
            with tr.span(f"sinks.export_{fmt}"):
                _quiet(eng, f"\\s {d / 'out' / ('result.' + fmt)}")
        return d / "out"

    def check(self, op: Op, result) -> str | None:
        d, paths, nation = self._op_dirs[op.tag]
        con = oracle.connect()
        try:
            oracle.register_star(con, paths, nation)
            expected = con.execute(oracle.to_duck_sql(INGEST_SQL)).fetchall()
        finally:
            con.close()
        self.bytes_written[op.tag] = oracle.tree_bytes(result)
        for fmt in EXPORTS:
            why = oracle.compare_rows(
                oracle.read_export(result / f"result.{fmt}"), expected,
                ordered=False)
            if why:
                return f"{fmt} export: {why}"
        return None

    def finish(self, eng, op: Op) -> None:
        """Drop the op's views so the next load gets the same names, and
        its files."""
        for name in self.tables:
            eng.tables.pop(name, None)
            eng.spark.catalog.dropTempView(name)
        d, _, _ = self._op_dirs.pop(op.tag)
        shutil.rmtree(d, ignore_errors=True)

    def probes(self, eng, tr) -> tuple[dict[str, float], list[str]]:
        probe = Op(10**6, "probe")
        self._generate(probe)
        try:
            return _probe_register(eng, self._op_dirs[probe.tag][1], tr), []
        finally:
            shutil.rmtree(self._op_dirs.pop(probe.tag)[0], ignore_errors=True)


WORKLOADS = {w.name: w for w in (AnalystSql, IngestExport)}
