"""Seeded benchmark inputs and the two oracles they are checked against.

Inputs are written without Spark, so generating them costs no Spark job:
  * pages: the rows `synth_pages(spark, n, seed)` yields (it maps
    `build_doc(i, seed)` over `range(n)`), written as `nproc` parquet
    files in id order, as Spark's own write of that table would be split;
  * lineitem: a TPC-H-shaped table whose columns follow the sf0.1
    testdata ranges, with orderkeys sampled from the sf0.1 key space by
    the seed. `words_from_lineitem` turns it into 50 three-page documents.

Oracles:
  * `pyref_bodies`: the pure-Python reference (oracle/pyref.py) body of
    the given documents, built as the analysis-vs-oracle tests build it;
  * `duckdb_flagship`: the contract's DuckDB SQL twin of the flagship,
    over the given documents.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PAGE_WIDTH, PAGE_HEIGHT = 612.0, 792.0
SF01_ORDERKEYS = 150_000  # l_orderkey domain of the sf0.1 lineitem
PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def write_pages(path: str, n_docs: int, seed: int, n_files: int) -> list[str]:
    """Write the seeded pages table; returns its urls in id order."""
    from pdf_plumber_util_spark.sources.pages import build_doc

    rows = [build_doc(i, seed) for i in range(n_docs)]
    for r in rows:
        r["warc_ts"] = r["warc_ts"].tz_localize("UTC")
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
    for k in range(n_files):
        chunk = rows[bounds[k]:bounds[k + 1]]
        pq.write_table(pa.Table.from_pylist(chunk, schema=PAGES_ARROW),
                       f"{path}/part-{k:05d}.parquet")
    return [r["url"] for r in rows]


def write_lineitem(sf_dir: str, n_rows: int, seed: int) -> list[str]:
    """Write `<sf_dir>/lineitem.parquet`; returns the document urls the
    lineitem-derived words table will have."""
    rng = np.random.default_rng([seed, 0x11])
    orderkey = rng.choice(SF01_ORDERKEYS, size=n_rows)
    table = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_rows), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_rows).astype(float), pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_rows), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_rows), pa.string()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, f"{sf_dir}/lineitem.parquet")
    return sorted({f"doc{k % 50}" for k in orderkey.tolist()})


def pyref_bodies(ids, seed: int) -> dict[str, str]:
    """url -> reference body text for the given synthetic doc ids."""
    from pdf_plumber_util_spark.oracle import pyref
    from pdf_plumber_util_spark.sources.pages import build_doc
    from pdf_plumber_util_spark.sources.render import layout_html

    out = {}
    for i in ids:
        doc = build_doc(i, seed)
        by_page: dict[int, list] = {}
        for w in layout_html(doc["html"].decode()):
            by_page.setdefault(w["page"], []).append(w)
        pages = [pyref.build_lines(ws, p, PAGE_WIDTH, PAGE_HEIGHT)
                 for p, ws in sorted(by_page.items())]
        out[doc["url"]] = pyref.extract_body_text(
            [dict(p) for p in pyref.drop_blank_lines(pages)]
        )
    return out


def duckdb_flagship(sf_dir: str, tmp_dir: str, urls) -> pd.DataFrame:
    """The flagship's DuckDB SQL twin over the rows of the same lineitem
    file that make the documents `urls`. Every step of the query is keyed
    by url, so a document's row does not depend on the others."""
    import duckdb

    from pdf_plumber_util_spark.contract import ORACLES

    keys = ", ".join(str(int(u[len("doc"):])) for u in sorted(urls))
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/lineitem.parquet') "
                    f"WHERE l_orderkey % 50 IN ({keys})")
        return con.execute(ORACLES["flagship_body_text"]).fetchdf()
    finally:
        con.close()


def url_check(got_urls: list[str], want_urls: list[str]) -> set[str]:
    """Urls that are missing, duplicated or unexpected in the output."""
    seen: dict[str, int] = {}
    for u in got_urls:
        seen[u] = seen.get(u, 0) + 1
    want = set(want_urls)
    bad = {u for u in want if seen.get(u, 0) != 1}
    return bad | (set(seen) - want)
