"""Seeded input generators for the two workloads.

Every table is synthesized from a ``numpy`` generator seeded by the run's
``--seed``: the same seed writes byte-identical inputs, and every seed writes
the same row counts, so two seeds differ only in values.  The star schema
has the shapes and the row counts of TPC-H at a scale factor (0.1 is the
scale the engine's registry runs on): lineitem -> ``sales``, orders,
customer, part keys, nation.  A document corpus with embeddings rides
along.
Timestamps are microsecond precision, so the catalog's nanosecond rewrite
(which caches under the package directory) never fires.
"""

from __future__ import annotations

import gzip
import json
from pathlib import Path

import numpy as np
import pandas as pd
from localsql_spark.sinks.writers import _write_xlsx_stdlib

N_NATIONS = 25
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
FLAGS = ("A", "N", "R")
CITIES = ("north", "south", "east", "west", "harbor", "hill", "lake", "mill")
# TPC-H row counts at scale factors 0.1 and 0.01 (lineitem is ~600k and
# ~60k there)
SF0_1 = {"n_sales": 600_000, "n_orders": 150_000, "n_customers": 15_000,
         "n_parts": 20_000}
SF0_01 = {"n_sales": 60_000, "n_orders": 15_000, "n_customers": 1_500,
          "n_parts": 2_000}


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream])


def nation_frame() -> pd.DataFrame:
    return pd.DataFrame({
        "n_nationkey": np.arange(N_NATIONS, dtype=np.int64),
        "n_name": [f"NATION_{i:02d}" for i in range(N_NATIONS)],
        "n_regionkey": np.arange(N_NATIONS, dtype=np.int64) % 5,
    })


def star_frames(rng: np.random.Generator, n_sales: int, n_orders: int,
                n_customers: int, n_parts: int) -> dict[str, pd.DataFrame]:
    """sales (lineitem-like fact), orders, customers (nested), nation."""
    o_date = (np.datetime64("1992-01-01")
              + rng.integers(0, 2400, n_orders).astype("timedelta64[D]"))
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders),
        "o_orderstatus": rng.choice(STATUSES, n_orders),
        "o_totalprice": np.round(rng.uniform(900, 400_000, n_orders), 2),
        "o_orderdate": pd.to_datetime(o_date).strftime("%Y-%m-%d"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    ship_us = (np.datetime64("1992-01-01T00:00:00", "us")
               + rng.integers(0, 2500 * 86_400 * 10**6, n_sales,
                              dtype=np.int64).astype("timedelta64[us]"))
    qty = rng.integers(1, 51, n_sales).astype(np.float64)
    sales = pd.DataFrame({
        "l_id": np.arange(n_sales, dtype=np.int64),
        "l_orderkey": rng.integers(0, n_orders, n_sales),
        "l_partkey": rng.integers(0, n_parts, n_sales),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_sales), 2),
        "l_discount": rng.integers(0, 11, n_sales) / 100.0,
        "l_returnflag": rng.choice(FLAGS, n_sales),
        "l_shipdate": pd.Series(ship_us),
    })
    balance = np.round(rng.uniform(-999, 9999, n_customers), 2)
    customers = [{
        "c_custkey": int(i),
        "c_name": f"Customer#{i:09d}",
        "address": {"nationkey": int(nk), "city": str(city)},
        "account": {"balance": None if null else float(bal),
                    "segment": str(seg)},
    } for i, nk, city, bal, null, seg in zip(
        range(n_customers), rng.integers(0, N_NATIONS, n_customers),
        rng.choice(CITIES, n_customers), balance,
        rng.random(n_customers) < 0.1, rng.choice(SEGMENTS, n_customers))]
    return {"sales": sales, "orders": orders, "customers": customers,
            "nation": nation_frame()}


def write_star(directory: Path, frames: dict) -> dict[str, Path]:
    """Write the star schema as parquet, csv.gz, nested jsonl and xlsx."""
    directory.mkdir(parents=True, exist_ok=True)
    paths = {"sales": directory / "sales.parquet",
             "orders": directory / "orders.csv.gz",
             "customers": directory / "customers.jsonl",
             "nation": directory / "nation.xlsx"}
    frames["sales"].to_parquet(paths["sales"], index=False)
    with gzip.open(paths["orders"], "wt", newline="") as fh:
        frames["orders"].to_csv(fh, index=False)
    with paths["customers"].open("w") as fh:
        for rec in frames["customers"]:
            fh.write(json.dumps(rec) + "\n")
    _write_xlsx_stdlib(frames["nation"], paths["nation"])
    return paths


# -- document corpus ----------------------------------------------------------

# Stopwords of the engine's language-ID heuristic mixed into a shared
# vocabulary, so the \quality view's langid spreads documents over several
# store partitions.
_STOP = {"en": ("the", "and", "is", "of", "to"),
         "de": ("der", "die", "und", "nicht", "das"),
         "fr": ("le", "la", "et", "les", "une"),
         "es": ("el", "los", "que", "una", "por")}
_VOCAB = tuple(f"w{i:03d}" for i in range(400)) + (
    "spark", "table", "query", "row", "column", "join", "merge", "scan",
    "3.5", "x-ray", "(draft)", "2024")


def corpus_frames(rng: np.random.Generator, n_base: int, n_planted: int,
                  dim: int, n_queries: int) -> dict[str, pd.DataFrame]:
    """Documents with planted near-duplicates, one embedding per document,
    and the query vectors for ``\\knn``.

    The first ``n_planted`` base documents each get a copy with ~8% of its
    words replaced and an embedding nudged by small noise, so minhash finds
    the pair and the pair's vectors are near neighbours.  Query vectors are
    the embeddings of documents ``0..n_queries-1``."""
    langs = tuple(_STOP)
    texts, src_lang = [], []
    for _ in range(n_base):
        lang = langs[rng.integers(len(langs))]
        n_words = int(rng.integers(20, 90))
        words = list(rng.choice(_VOCAB, n_words))
        for pos in rng.choice(n_words, 6, replace=False):
            words[pos] = _STOP[lang][rng.integers(5)]
        texts.append(words)
        src_lang.append(lang)
    emb = rng.standard_normal((n_base + n_planted, dim)).astype(np.float32)
    for j in range(n_planted):
        words = list(texts[j])
        for pos in rng.choice(len(words), max(1, len(words) // 12),
                              replace=False):
            words[pos] = _VOCAB[rng.integers(len(_VOCAB))]
        texts.append(words)
        src_lang.append(src_lang[j])
        emb[n_base + j] = emb[j] + 0.05 * rng.standard_normal(dim)
    text = [" ".join(w) for w in texts]
    docs = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": text,
        "lang": src_lang,
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    vectors = pd.DataFrame({"vec_id": docs["doc_id"],
                            "embedding": list(emb)})
    return {"docs": docs, "emb": vectors,
            "queries": vectors.iloc[:n_queries].reset_index(drop=True)}


def write_corpus(directory: Path, frames: dict) -> dict[str, Path]:
    directory.mkdir(parents=True, exist_ok=True)
    paths = {name: directory / f"{name}.parquet" for name in frames}
    for name, pdf in frames.items():
        pdf.to_parquet(paths[name], index=False)
    return paths
