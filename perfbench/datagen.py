"""Seeded input generator for the benchmark.

Every input a workload feeds the engine is made here from the run's
seed: the fixture-shaped parquet tables (same schemas as the engine's
fixtures) and the loose mixed-format document files of the ingest
workload. The same seed always gives byte-identical inputs.

Row counts follow the fixture scale factors: ``sf=0.1`` gives 5,000
documents, 2,000 embeddings and ~600k lineitem rows. Tables of at least
``LAYOUT_MIN_BYTES`` are written with several row groups, the same
layout rule the repository's ``bench.py`` applies at set-up, so scans
split across cores.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 40-word vocabulary: wide enough that two unrelated documents share
#: almost no word 3-grams, so planted near-duplicates are the only
#: high-Jaccard pairs.
VOCAB = (
    "spark window merge table column vector stream value data small "
    "big fast slow scan sort hash join group agg filter query key row "
    "part line batch order customer index shard cache plan stage task "
    "shuffle spill page chunk token embed"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DIM = 64
LAYOUT_MIN_BYTES = 4 << 20
LAYOUT_MAX_GROUPS = 32


def _ms(y: int, m: int = 1, d: int = 1) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp() * 1000)


def _write(table: pa.Table, path: str) -> None:
    """Write ``table``; re-write with up to 32 row groups when the
    single-group file is big enough to span several scan splits."""
    pq.write_table(table, path)
    if os.path.getsize(path) >= LAYOUT_MIN_BYTES:
        groups = max(1, min(LAYOUT_MAX_GROUPS, table.num_rows // 256))
        pq.write_table(
            table, path, row_group_size=-(-table.num_rows // groups)
        )


def random_text(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(
        VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(lo, hi))
    )


def near_duplicate(rng: np.random.Generator, text: str) -> str:
    """``text`` with its last word replaced, which changes one word
    3-gram: Jaccard >= 27/29 > 0.9 for the >= 30-word sources the
    generator plants copies of, where the engine's 16x4 MinHash banding
    misses a pair with probability < 1e-9."""
    words = text.split()
    words[-1] = VOCAB[(VOCAB.index(words[-1]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
    return " ".join(words)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars); ~5% of the documents are
    planted near-duplicates of an earlier original, so near-duplicate
    clusters are stars whatever the seed."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            src = originals[int(rng.integers(0, len(originals)))]
            if len(texts[src].split()) >= 30:
                texts.append(near_duplicate(rng, texts[src]))
                continue
        originals.append(i)
        texts.append(random_text(rng, 10, 80))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = unit_vectors(rng, n)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def relational(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema: region, nation, customer, supplier,
    part, orders, lineitem (~4 lines per order)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = n_ord * 4
    ts = pa.timestamp("ms")
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [
                ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY")[i]
                for i in rng.integers(0, 5, n_cust)
            ],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"part {i % 64}" for i in range(n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [
                ("LARGE", "SMALL", "MEDIUM", "ECONOMY", "PROMO", "STANDARD")[i]
                for i in rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 2),
        }
    )
    day = 86_400_000
    lo, hi = _ms(1995), _ms(2002)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": pa.array(
                rng.integers(lo // day, hi // day, n_ord) * day, ts
            ),
            "o_orderpriority": [
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW")[i]
                for i in rng.integers(0, 5, n_ord)
            ],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                rng.integers(lo // day, hi // day, n_li) * day, ts
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(
    out_dir: str,
    seed: int,
    n_docs: int,
    n_vecs: int,
    sf: float | None = None,
) -> dict[str, pa.Table]:
    """Write documents + embeddings (and the star schema when ``sf``
    is given) under ``out_dir``; returns the in-memory tables so the
    correctness checks need not read them back."""
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, n_docs), "embeddings": embeddings(rng, n_vecs)}
    if sf is not None:
        tables.update(relational(rng, sf))
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables


#: extension cycle of the ingest workload's loose files
INGEST_EXTS = (
    ".txt", ".md", ".html", ".docx", ".pdf", ".pptx", ".odt", ".epub",
    ".enex",
)
DECOY_EXT = ".xyz"


def _file_bytes(ext: str, text: str) -> bytes:
    from conversadocs_spark.sources import fixtures

    builders = {
        ".docx": lambda: fixtures.make_docx([text]),
        ".pdf": lambda: fixtures.make_pdf([text]),
        ".pptx": lambda: fixtures.make_pptx([text]),
        ".odt": lambda: fixtures.make_odt([text]),
        ".epub": lambda: fixtures.make_epub([text]),
        ".enex": lambda: fixtures.make_enex([("note", text)]),
        ".html": lambda: f"<html><body><p>{text}</p></body></html>".encode(),
    }
    return builders.get(ext, text.encode)()


def increment_files(
    rng: np.random.Generator,
    first: int,
    n_files: int,
    earlier: list[tuple[str, str]],
    dup_share: float,
) -> tuple[list[tuple[str, bytes]], list[tuple[str, str]]]:
    """One ingest increment: ``n_files`` supported files numbered from
    ``first`` (extensions cycle through INGEST_EXTS) plus one decoy with
    an unknown extension. A ``dup_share`` of the files are planted
    near-duplicates of a random document in ``earlier`` (a list of
    (key, text); keys are file names, or ``doc:<id>`` for the base
    corpus). Returns (files as (name, bytes), planted (new, earlier)
    key pairs); appends the new documents to ``earlier``."""
    files: list[tuple[str, bytes]] = []
    planted: list[tuple[str, str]] = []
    new: list[tuple[str, str]] = []
    for i in range(first, first + n_files):
        name = f"doc_{i:06d}{INGEST_EXTS[i % len(INGEST_EXTS)]}"
        if rng.random() < dup_share:
            key, src = earlier[int(rng.integers(0, len(earlier)))]
            text = near_duplicate(rng, src)
            planted.append((name, key))
        else:
            text = random_text(rng, 30, 80)
        new.append((name, text))
        files.append((name, _file_bytes(os.path.splitext(name)[1], text)))
    files.append((f"decoy_{first:06d}{DECOY_EXT}", b"not a document"))
    earlier.extend(new)
    return files, planted
