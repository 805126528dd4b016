"""Seeded input generators.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, and nothing is read from outside the checkout.
Shapes follow the star schema the package is tested on (lineitem,
orders, documents, embeddings), generated with numpy instead of read
from a fixture directory.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_EPOCH_US = 694_224_000_000_000  # 1992-01-01T00:00:00Z in microseconds
_DAY_US = 86_400_000_000

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us", tz="UTC")),
    ]
)

LINES_PER_ORDER = 4


def lineitem_rows(rng: np.random.Generator, orderkeys: np.ndarray, linenumbers: np.ndarray) -> pa.Table:
    """Lineitem rows for the given ``(l_orderkey, l_linenumber)`` keys,
    with every non-key column drawn from ``rng``."""
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    ship = _EPOCH_US + rng.integers(0, 2500, n) * _DAY_US
    return pa.table(
        [
            pa.array(orderkeys, pa.int64()),
            pa.array(linenumbers, pa.int32()),
            pa.array(rng.integers(1, 20_000, n), pa.int64()),
            pa.array(rng.integers(1, 1_000, n), pa.int64()),
            pa.array(qty),
            pa.array(price),
            pa.array(rng.integers(0, 11, n) / 100.0),
            pa.array(rng.integers(0, 9, n) / 100.0),
            pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            pa.array(ship, pa.timestamp("us", tz="UTC")),
        ],
        schema=LINEITEM_SCHEMA,
    )


def lineitem(seed: int, n: int) -> pa.Table:
    """``n`` lineitem rows keyed by ``(l_orderkey, l_linenumber)``,
    ``LINES_PER_ORDER`` lines per order."""
    rng = np.random.default_rng([seed, 1])
    idx = np.arange(n)
    return lineitem_rows(rng, idx // LINES_PER_ORDER + 1, (idx % LINES_PER_ORDER + 1).astype(np.int32))


def orders(seed: int, n_orders: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 15_000, n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_orders)
                ]
            ),
        }
    )


# Documents: English stopwords make the quality score's stopword term
# non-trivial; the topical vocabulary is large enough that two
# unrelated documents share almost no word 3-grams, so near-duplicates
# come only from the planted copies.
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
_VOCAB = np.array(_STOP + [f"w{i}" for i in range(400)] + ["!!!", "...", "#", "$$"])


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents of 20–120 tokens.  About 6% are exact copies and
    10% near copies (two tokens replaced) of an earlier document — the
    near-dup density ``tools/make_sf1.py`` keeps — so exact and
    near-dup detection both have work."""
    rng = np.random.default_rng([seed, 3])
    p = np.full(len(_VOCAB), 1.0)
    p[: len(_STOP)] = 12.0
    p[-4:] = 3.0
    p /= p.sum()
    texts: list[str] = []
    for i in range(n):
        kind = rng.random() if i > 10 else 1.0
        if kind < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        elif kind < 0.16:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = str(_VOCAB[rng.integers(len(_STOP), len(_VOCAB) - 4)])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_VOCAB[rng.choice(len(_VOCAB), int(rng.integers(20, 121)), p=p)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        }
    )


def embeddings(seed: int, n: int, dim: int) -> pa.Table:
    """``n`` float32 vectors around 32 seeded centroids."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(size=(32, dim))
    vecs = (centers[rng.integers(0, 32, n)] + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
        }
    )
