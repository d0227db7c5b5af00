"""Seeded inputs for the benchmark.

Two kinds of input:

* ``make_tables`` writes the ten parquet tables the registry queries read
  (the TPC-H-like star schema plus events/documents/embeddings), with the
  column names, types and value ranges of the engine's fixture schema.
  The tables are the same for every workload seed, so they are generated
  once per checkout and reused.
* ``make_mr_inputs`` writes the two text inputs of the ``mr_jobs``
  workload from the workload seed.

Only numpy and pyarrow are used, so generation never touches Spark.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated tables change, so stale caches are not reused.
TABLES_VERSION = 1
TABLE_SEED = 42

_DOC_VOCAB = (
    "a the data table row column key value group join sort hash filter "
    "merge scan query agg window batch stream order part line customer "
    "vector spark fast slow big small"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n)).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _tables(sf: float, out_dir: str) -> None:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(
            np.sort(t0 + rng.integers(0, span_us, n_events)), pa.timestamp("us")
        ),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    vocab = np.array(_DOC_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup queries expect
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })


def make_tables(cache_root: str, sf: float) -> str:
    """Return a directory holding the tables at scale ``sf``, generating
    them on first use. Generation writes to a temporary directory that is
    renamed into place, so an interrupted run never leaves a partial set."""
    out = os.path.join(cache_root, f"tables-v{TABLES_VERSION}-sf{sf}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _tables(sf, tmp)
    os.replace(tmp, out)
    return out


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words; the word at index ``i`` has
    ``3 + i % 8`` letters. Fixing length by index keeps the byte size of a
    Zipf-drawn text the same for every seed: the few most frequent words
    carry much of the text, and random lengths there would move its size."""
    out: list[str] = []
    seen: set[str] = set()
    for k in 3 + np.arange(n) % 8:
        word = rng.integers(ord("a"), ord("z") + 1, k, dtype=np.uint8).tobytes().decode()
        while word in seen:
            word = rng.integers(ord("a"), ord("z") + 1, k, dtype=np.uint8).tobytes().decode()
        seen.add(word)
        out.append(word)
    return np.array(out)


def _zipf_ids(rng: np.random.Generator, n_items: int, s: float, size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def _write_lines(path: str, tokens: np.ndarray, widths: np.ndarray) -> None:
    bounds = np.concatenate(([0], np.cumsum(widths))).tolist()
    tokens = tokens.tolist()
    with open(path, "w") as fh:
        fh.writelines(
            " ".join(tokens[a:b]) + "\n" for a, b in zip(bounds[:-1], bounds[1:])
        )


def make_mr_inputs(seed: int, out_dir: str, n_tokens: int, suspect_lines: int) -> dict:
    """Write the word-count corpus and the suspects sightings for ``seed``;
    return their paths and sizes in MB."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    vocab = _words(rng, 50_000)
    ids = _zipf_ids(rng, len(vocab), 1.1, n_tokens)
    widths = rng.integers(4, 17, n_tokens // 4)
    widths = widths[np.cumsum(widths) <= n_tokens]
    corpus = os.path.join(out_dir, "corpus.txt")
    _write_lines(corpus, vocab[ids[: int(widths.sum())]], widths)

    names = _words(rng, 40)
    families = _words(rng, 40)
    cities = _words(rng, 60)
    years = np.arange(1990, 2000).astype(str)
    n_keys = len(names) * len(families) * len(years)
    key = _zipf_ids(rng, n_keys, 0.7, suspect_lines)
    name_i, rest = np.divmod(key, len(families) * len(years))
    fam_i, year_i = np.divmod(rest, len(years))
    city_i = rng.integers(0, len(cities), suspect_lines)
    rows = np.stack(
        [names[name_i], families[fam_i], cities[city_i], years[year_i]], axis=1
    ).tolist()
    sightings = os.path.join(out_dir, "sightings.txt")
    with open(sightings, "w") as fh:
        fh.writelines(" ".join(row) + "\n" for row in rows)

    mb = lambda p: os.path.getsize(p) / (1024 * 1024)  # noqa: E731
    return {
        "corpus": corpus,
        "corpus_mb": mb(corpus),
        "sightings": sightings,
        "sightings_mb": mb(sightings),
    }
