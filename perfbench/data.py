"""Input generation for the benchmark.

Two layers, so that outputs that must not depend on ``--seed`` cannot:

* ``base_tables`` makes the TPC-H-shaped ``customer`` / ``orders`` /
  ``documents`` tables from a FIXED generator seed (the same shapes and
  value domains as the project's ``sf*`` test data). Every
  reconciliation result, and so every expected correction count, is a
  function of these tables only.
* the ``--seed`` then decides everything a real feed changes from day to
  day without changing meaning: the row order and file split of the four
  raw exports, and which documents form each corpus page and which pages
  carry the planted duplicate / short-line / decomposed-accent edits.
"""

from __future__ import annotations

import os
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: generator seed of the base tables (NOT the ``--seed`` argument)
BASE_SEED = 42

#: customer rows per unit of scale (TPC-H: 150,000 per sf)
CUSTOMERS_PER_SF = 150_000
ORDERS_PER_CUSTOMER = 10
DOCUMENTS_PER_SF = 50_000

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: page plants, as in the legacy bench's page derivation: every 7th page
#: re-pastes its first line, every 11th gets an unpunctuated short line,
#: every 13th leads with a decomposed-accent line
DUP_SHARE, C4_SHARE, NFC_SHARE = 7, 11, 13
DOCS_PER_PAGE = 5
NFC_LINE = unicodedata.normalize("NFD", "café menu offers plenty of seasonal words here.")
C4_LINE = "no punct tail"


def base_tables(out_dir: str, scale: float) -> dict[str, int]:
    """Write customer/orders/documents parquet under ``out_dir``; return
    row counts."""
    rng = np.random.default_rng(BASE_SEED)
    n_c = max(50, int(CUSTOMERS_PER_SF * scale))
    n_o = n_c * ORDERS_PER_CUSTOMER
    n_d = max(50, int(DOCUMENTS_PER_SF * scale))
    os.makedirs(out_dir, exist_ok=True)

    ck = np.arange(n_c, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_c),
        }
    )
    days = rng.integers(0, 2404, n_o)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
            "o_orderdate": pa.array(
                (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, n_o),
        }
    )
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 101))))
        for _ in range(n_d)
    ]
    # ~5% near-duplicates: an earlier document plus one or two " dup"
    for i in rng.choice(np.arange(1, n_d), n_d // 20, replace=False):
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    documents = pa.table(
        {
            "doc_id": np.arange(n_d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_d),
            "source": [f"src{i % 20}" for i in range(n_d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    for name, t in (("customer", customer), ("orders", orders), ("documents", documents)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"customer": n_c, "orders": n_o, "documents": n_d}


RAW_EXPORTS = ("relius", "matrix", "demo", "basis")


def raw_exports(base_dir: str, out_dir: str, seed: int) -> dict[str, int]:
    """Render the four raw exports from the base tables with the project's
    fixture derivation (its DuckDB rendering), shuffle their rows and split
    each into 2-5 parquet files, both decided by ``seed``. Returns rows
    per export."""
    import duckdb

    from recon_spark.oracles.fixtures_sql import FIXTURE_CTES

    rng = np.random.default_rng(seed)
    con = duckdb.connect()
    try:
        con.execute("SET threads=2; SET memory_limit='1GB'")
        for t in ("customer", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base_dir}/{t}.parquet'")
        rows = {}
        for name in RAW_EXPORTS:
            table = con.sql(f"WITH {FIXTURE_CTES} SELECT * FROM {name}_raw").arrow()
            if not isinstance(table, pa.Table):  # some DuckDB versions return a reader
                table = table.read_all()
            table = table.take(pa.array(rng.permutation(table.num_rows)))
            n_files = int(rng.integers(2, 6))
            cuts = np.sort(rng.choice(np.arange(1, table.num_rows), n_files - 1, replace=False))
            d = os.path.join(out_dir, name)
            os.makedirs(d, exist_ok=True)
            for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, table.num_rows])):
                pq.write_table(table.slice(a, b - a), os.path.join(d, f"part-{i:02d}.parquet"))
            rows[name] = table.num_rows
        return rows
    finally:
        con.close()


def corpus_pages(base_dir: str, out_path: str, seed: int) -> list[tuple[int, str]]:
    """Page-shaped corpus: ``seed`` permutes the documents into pages of
    five lines and picks which pages get each plant (shares fixed at 1/7,
    1/11 and 1/13 of the pages). Writes ``(doc_id, text)`` parquet and
    returns the rows."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"), columns=["text"])
    texts = [t for t in docs.column("text").to_pylist() if t is not None]
    order = rng.permutation(len(texts))
    n_pages = len(texts) // DOCS_PER_PAGE
    pages = [
        [texts[j] + "." for j in order[p * DOCS_PER_PAGE : (p + 1) * DOCS_PER_PAGE]]
        for p in range(n_pages)
    ]

    def picked(share: int) -> set[int]:
        return set(rng.choice(n_pages, n_pages // share, replace=False).tolist())

    dup, c4, nfc = picked(DUP_SHARE), picked(C4_SHARE), picked(NFC_SHARE)
    rows = []
    for p, lines in enumerate(pages):
        if p in dup:
            lines = lines[:1] + lines
        if p in c4:
            lines = lines + [C4_LINE]
        if p in nfc:
            lines = [NFC_LINE] + lines
        rows.append((p, "\n".join(lines)))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
            }
        ),
        out_path,
    )
    return rows
