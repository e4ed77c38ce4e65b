"""Deterministic synthetic inputs for the benchmark workloads.

The tables follow the schemas of the repository's test data (the TPC-H-ish
``orders`` table and the ``documents`` text corpus), so the product's CLI
verbs run on them unchanged. Every table is drawn from a
fixed NumPy generator seeded by ``DATA_SEED``: the benchmark's ``--seed``
only picks workload choices (increment splits, queries, monitor history),
never the table contents, so digests of the outputs stay comparable.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Row counts per scale. "bench" is what the timed runs use; "smoke" is the
# smallest size at which every verb still has work to do.
SCALES = {
    "bench": {"customers": 1500, "orders": 15000, "documents": 500},
    "smoke": {"customers": 150, "orders": 1500, "documents": 200},
}

_STATUS = ["O", "F", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Shared words plus a per-language vocabulary, so documents of one language
# share terms the way real text does.
_COMMON = ("spark line column order sort value scan hash group agg filter "
           "merge stream key query table row data join window vector").split()
_LANG_WORDS = {
    "en": "the a fast slow small big batch part customer".split(),
    "fr": "le la rapide lent petit grand lot partie client".split(),
    "es": "el una rapido lento chico gran lote parte cliente".split(),
    "de": "der die schnell langsam klein gross stapel teil kunde".split(),
    "zh": "de yi kuai man xiao da pi bufen kehu".split(),
}
_LANGS = list(_LANG_WORDS)
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _orders(rng, n, n_cust):
    start = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2400, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n, dtype=np.int64),
        "o_orderstatus": rng.choice(_STATUS, n),
        "o_totalprice": np.round(rng.uniform(900.0, 400000.0, n), 2),
        "o_orderdate": pa.array(start + days, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITY, n),
    })


def _documents(rng, n):
    langs = rng.choice(_LANGS, n, p=_LANG_P)
    texts = []
    for lang in langs:
        words = _COMMON + _LANG_WORDS[lang] * 3
        texts.append(" ".join(rng.choice(words, int(rng.integers(8, 90)))))
    # a near-duplicate tail: the last 6% copy an earlier doc plus one word
    n_dup = max(1, n * 6 // 100)
    for i in range(n - n_dup, n):
        texts[i] = texts[i - (n - n_dup)] + " spark"
        langs[i] = langs[i - (n - n_dup)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int32),
    })


def write_tables(out_dir: str, scale: str) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet``; return the paths."""
    sizes = SCALES[scale]
    # one generator per table, so adding a table changes no other
    tables = {
        "orders": _orders(np.random.default_rng([DATA_SEED, 1]),
                          sizes["orders"], sizes["customers"]),
        "documents": _documents(np.random.default_rng([DATA_SEED, 2]),
                                sizes["documents"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
