"""Seeded input generation. The program only ever sees the paths written here.

Every generator is a pure function of ``seed`` (and a row count), so the same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Rated currencies come first; INR has no row in the rates CSV, so its
#: amounts take the missing-rate default of the reference.
CURRENCIES = ("USD", "EUR", "GBP", "JPY", "INR")
RATED = ("EUR", "GBP", "JPY")
CATEGORIES = tuple(
    f"{a}-{b}"
    for a in ("Electronics", "Home", "Garden", "Toys", "Books", "Sports")
    for b in ("A", "B", "C")
)
N_PRODUCTS = 20_000
CATEGORISED_SHARE = 0.85
YEAR_START = np.datetime64("2025-01-01T00:00:00", "s")
YEAR_SECONDS = 365 * 86_400


def _write_csv(table: pa.Table, path: str) -> None:
    pacsv.write_csv(
        table, path, pacsv.WriteOptions(quoting_style="needed")
    )


def write_etl_inputs(seed: int, n_rows: int, out_dir: str) -> None:
    """transactions / currency_rates / product_categories CSVs in the
    reference's layout (FIXTURES.md section A).

    - currency is drawn from all five codes, including the unrated INR;
    - product ids are Zipf-skewed over ``N_PRODUCTS`` products, and about
      15% of products have no category row, so their rows get NULL;
    - timestamps cover one calendar year (2025) at one-second resolution.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(n_rows, dtype=np.int64) + seed * n_rows
    # numpy's zipf is unbounded; fold the tail back onto the catalogue
    products = (rng.zipf(1.2, n_rows) - 1) % N_PRODUCTS
    product_perm = rng.permutation(N_PRODUCTS)
    ts = YEAR_START + rng.integers(0, YEAR_SECONDS, n_rows).astype(
        "timedelta64[s]"
    )
    transactions = pa.table(
        {
            "transaction_id": pc.cast(pa.array(ids), pa.string()),
            "user_id": pc.cast(
                pa.array(rng.integers(1, 200_000, n_rows)), pa.string()
            ),
            "product_id": pc.binary_join_element_wise(
                "P", pc.cast(pa.array(product_perm[products]), pa.string()), ""
            ),
            "amount": pc.cast(
                pa.array(rng.integers(100, 100_000, n_rows) / 100.0),
                pa.string(),
            ),
            "currency": pa.array(
                np.array(CURRENCIES)[rng.integers(0, len(CURRENCIES), n_rows)]
            ),
            "timestamp": pc.strftime(
                pa.array(ts), format="%Y-%m-%dT%H:%M:%SZ"
            ),
        }
    )
    # several dated rates per currency with distinct dates, so the
    # latest-rate-wins rule has one answer
    rate_rows = [
        (cur, f"{rng.uniform(0.005, 1.5):.4f}", f"2025-0{m}-0{1 + i}T00:00:00Z")
        for i, cur in enumerate(RATED)
        for m in range(1, 5)
    ]
    rates = pa.table(
        dict(zip(("currency", "rate_to_usd", "rate_date"), map(list, zip(*rate_rows))))
    )
    categorised = rng.permutation(N_PRODUCTS)[: int(N_PRODUCTS * CATEGORISED_SHARE)]
    categories = pa.table(
        {
            "product_id": [f"P{p}" for p in np.sort(categorised)],
            "category": list(
                np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), len(categorised))]
            ),
        }
    )
    _write_csv(transactions, os.path.join(out_dir, "transactions.csv"))
    _write_csv(rates, os.path.join(out_dir, "currency_rates.csv"))
    _write_csv(categories, os.path.join(out_dir, "product_categories.csv"))


#: The ``documents`` table of the repository's sf0.1 test set (schema in
#: FIXTURES.md B3; perfbench/README.md compares the two on shape and on
#: ``corpus_funnel_stats``): 5000 docs of 10-99 words drawn uniformly from a
#: 30-word vocabulary; 250 docs replaced by another doc's text plus a
#: ``dup`` word; language weights and ``src{doc_id % 20}`` sources as there.
N_DOCUMENTS = 5000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_DUPS = 250


def write_documents(seed: int, out_dir: str) -> None:
    """A seeded ``documents.parquet``. Keys are offset by the replica rule
    of ``tools/make_scale_data.py`` (replica ``k`` shifts ``doc_id`` by
    ``k`` times the table's row count, with ``k`` from the seed), and rows
    are written in a seeded order."""
    from tools.make_scale_data import SHIFTS

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = N_DOCUMENTS
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), length)])
        for length in rng.integers(10, 100, n)
    ]
    # a source may itself be a replaced doc, and two replaced docs may share
    # a source, as in the test set (4 dup-of-dup and 8 exact copies there)
    for i in rng.choice(n, N_DUPS, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    replica = 1 + seed % 4
    for col, _ in SHIFTS["documents"]:  # stride: the documents row count
        table = table.set_column(
            table.schema.get_field_index(col),
            col,
            pc.add(table.column(col), pa.scalar(replica * n, pa.int64())),
        )
    table = table.take(pa.array(rng.permutation(n)))
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
