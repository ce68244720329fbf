"""Seeded input generators for the ETL benchmark.

Everything a workload reads is made here from the workload seed, with
numpy's PCG64 generator, so the same seed gives byte-identical inputs on
any machine. Tables follow the TPC-H star (nation, customer, part,
supplier, orders, lineitem) at a scale factor ``sf``; a small share of
order/lineitem foreign keys deliberately point at keys that do not
exist, so the fact load's unmatched-FK path (SK -1) is exercised.

Money columns are decimal(12,2) and dates are date32, so every value
has one exact string form in Spark and in DuckDB.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa

EPOCH = datetime.date(1970, 1, 1)
FIRST_DAY = (datetime.date(2014, 1, 1) - EPOCH).days
LAST_ORDER_DAY = (datetime.date(2021, 8, 31) - EPOCH).days

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
BRANDS = [f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)]
TYPES = [
    f"{a} {b} {c}"
    for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
    for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]

# share of orders whose customer key, and of lineitems whose part key,
# has no matching dimension row
UNMATCHED_SHARE = 0.004


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream) so adding a stream
    never shifts the values of another."""
    salt = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, salt])


def _cents_to_decimal(cents: np.ndarray) -> pa.Array:
    """decimal128(12,2) from integer cents, built from the unscaled
    128-bit little-endian words (no float round trip, no per-row
    Python objects)."""
    cents = np.asarray(cents, dtype=np.int64)
    words = np.empty((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(12, 2), len(cents), [None, pa.py_buffer(words.tobytes())]
    )


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int32), pa.date32())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), size=n)
    return pa.array(np.asarray(choices, dtype=object)[idx])


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 10),
        "part": max(int(200_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "orders": max(int(1_500_000 * sf), 20),
    }


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H star at scale factor ``sf`` (lineitem ≈ 6M·sf rows)."""
    n = sizes(sf)
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    r = rng_for(seed, "customer")
    ck = np.arange(1, n["customer"] + 1)
    customer = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _cents_to_decimal(r.integers(-99_999, 999_999, n["customer"])),
        "c_mktsegment": _pick(r, SEGMENTS, n["customer"]),
    })

    r = rng_for(seed, "part")
    pk = np.arange(1, n["part"] + 1)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _names("Part", pk),
        "p_brand": _pick(r, BRANDS, n["part"]),
        "p_type": _pick(r, TYPES, n["part"]),
        "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": _cents_to_decimal(r.integers(90_000, 200_000, n["part"])),
    })

    r = rng_for(seed, "supplier")
    sk = np.arange(1, n["supplier"] + 1)
    supplier = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _cents_to_decimal(r.integers(-99_999, 999_999, n["supplier"])),
    })

    r = rng_for(seed, "orders")
    n_ord = n["orders"]
    ok = np.arange(1, n_ord + 1) * 4  # sparse keys, like TPC-H
    n_bad = int(n["customer"] * UNMATCHED_SHARE / (1 - UNMATCHED_SHARE)) + 1
    custkey = r.integers(1, n["customer"] + 1 + n_bad, n_ord)
    odate = r.integers(FIRST_DAY, LAST_ORDER_DAY + 1, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(custkey, pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents_to_decimal(r.integers(100_000, 50_000_000, n_ord)),
        "o_orderdate": _dates(odate),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = rng_for(seed, "lineitem")
    per_order = r.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    l_order = np.repeat(ok, per_order)
    l_odate = np.repeat(odate, per_order)
    starts = np.cumsum(per_order) - per_order
    l_line = np.arange(n_li) - np.repeat(starts, per_order) + 1
    n_bad = int(n["part"] * UNMATCHED_SHARE / (1 - UNMATCHED_SHARE)) + 1
    qty = r.integers(1, 51, n_li)
    price_cents = qty * r.integers(90_000, 200_000, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(r.integers(1, n["part"] + 1 + n_bad, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, n["supplier"] + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": _cents_to_decimal(qty * 100),
        "l_extendedprice": _cents_to_decimal(price_cents),
        "l_discount": _cents_to_decimal(r.integers(0, 11, n_li)),
        "l_tax": _cents_to_decimal(r.integers(0, 9, n_li)),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(r, ["F", "O"], n_li),
        "l_shipdate": _dates(l_odate + r.integers(1, 122, n_li)),
    })
    return {
        "nation": nation, "customer": customer, "part": part,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }


# -- documents -----------------------------------------------------------

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "en", "que", "por"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}
LANG_MIX = (("en", 0.5), ("de", 0.14), ("fr", 0.13), ("es", 0.13), ("zh", 0.10))
WORDS = (
    "spark batch column stream window filter merge table query vector "
    "partition shuffle cluster storage record schema lineage warehouse "
    "dimension measure summary extract transform loader journal audit "
    "pipeline source target snapshot surrogate natural foreign balance "
    "segment market nation region supplier customer order invoice ledger "
    "metric latency budget capacity replica tenant archive compact"
).split()


def documents(seed: int, n: int = 5000) -> pa.Table:
    """A seeded multilingual corpus: 30-120 tokens per doc (short docs
    fail the quality rules), with 8% near-duplicates (2 tokens changed)
    and 3% exact duplicates of earlier docs."""
    r = rng_for(seed, "documents")
    langs = [lang for lang, _ in LANG_MIX]
    pick = r.choice(len(langs), n, p=[w for _, w in LANG_MIX])
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        kind = r.random()
        if i > 20 and kind < 0.03:
            texts.append(texts[r.integers(0, i)])
            continue
        if i > 20 and kind < 0.11:
            toks = texts[r.integers(0, i)].split(" ")
            for j in r.integers(0, len(toks), 2):
                toks[j] = words[r.integers(0, len(words))]
            texts.append(" ".join(toks))
            continue
        lang = langs[pick[i]]
        n_tok = int(r.integers(30, 121))
        stop = np.asarray(STOPWORDS[lang] + (STOPWORDS["en"] if r.random() < 0.3 else []), dtype=object)
        is_stop = r.random(n_tok) < 0.3
        toks = np.where(
            is_stop, stop[r.integers(0, len(stop), n_tok)], words[r.integers(0, len(words), n_tok)]
        )
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n)]),
    })
