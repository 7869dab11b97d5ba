"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files (numpy ``default_rng`` streams,
pyarrow parquet writes with fixed row-group and compression settings,
plain-text CDR files). The program under test receives only these
files; the seed never reaches it.

- ``write_warehouse``: the TPC-H-shaped star schema plus ``events``
  that the ``queries/relational.py`` and ``queries/windows.py`` entries
  read, with the value domains of the project's reference fixtures.
  Fact tables are split into ``FILES_PER_TABLE`` parquet files so a
  scan is several tasks, not one.
- ``write_corpus``: ``documents`` (word-soup text with planted exact
  and near duplicates) and ``embeddings`` (clustered unit vectors).
- ``cdr_files``: wire-packet CDR files (``k=v`` entries joined by
  ``|``) with planted duplicates, records missing ``s`` (dropped) and
  records missing ``t`` (dead-lettered), plus the ledger of what a
  correct pipeline must commit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES_PER_TABLE = 8

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]

#: CDR component types and their tariff: unit price, discount, tax.
TARIFF = {
    "voice": (0.05, 0.02, 0.08),
    "data": (0.10, 0.00, 0.05),
    "sms": (0.01, 0.05, 0.00),
    "mms": (0.02, 0.01, 0.03),
}
DEAD_LETTER = "dead-letter"

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory
    ``path``, a contiguous row range each."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="snappy",
            row_group_size=1 << 20,
        )


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def warehouse_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """The star schema at ``n_orders`` orders (lineitem = 4 x orders,
    customer = orders / 10, part = orders / 7.5, supplier = orders /
    150, events = orders / 1.5), as in-memory Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(n_orders // 10, 50)
    n_part = max(int(n_orders / 7.5), 50)
    n_supp = max(n_orders // 150, 10)
    n_li = 4 * n_orders
    n_ev = int(n_orders / 1.5)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _choice(rng, ORDER_STATUS, n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, _EPOCH_1995_US, 2404, n_orders),
        "o_orderpriority": _choice(rng, PRIORITIES, n_orders),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, RETURN_FLAGS, n_li),
        "l_linestatus": _choice(rng, LINE_STATUS, n_li),
        "l_shipdate": _days(rng, _EPOCH_1995_US + _DAY_US, 2498, n_li),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def write_warehouse(out_dir: str, seed: int, n_orders: int) -> None:
    """Write the star schema under ``out_dir/<table>.parquet/``."""
    for name, table in warehouse_tables(seed, n_orders).items():
        n_files = FILES_PER_TABLE if table.num_rows >= 10_000 else 1
        _write_table(table, os.path.join(out_dir, f"{name}.parquet"), n_files)


def corpus_tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` with ``n_docs`` rows each.

    About 3 % of documents are exact copies of an earlier original
    document (re-cased or re-spaced, so normalisation matters) and 6 %
    are near copies: an original rotated by a few tokens with one token
    replaced, which keeps most 5-gram shingles. Copies are only made of
    originals, so near-duplicate clusters are stars. Embeddings are unit
    vectors around 10 cluster centres (``label``)."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < 0.03:
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            texts.append(src.upper() if rng.random() < 0.5 else src.replace(" ", "  ", 3))
        elif i >= 20 and r < 0.09:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            shift = int(rng.integers(1, 4))
            toks = toks[shift:] + toks[:shift]
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            originals.append(i)
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_docs)
    vec = centres[label] + rng.normal(scale=0.9, size=(n_docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }),
    }


def write_corpus(out_dir: str, seed: int, n_docs: int) -> None:
    """Write ``documents`` and ``embeddings`` under ``out_dir``."""
    for name, table in corpus_tables(seed, n_docs).items():
        _write_table(table, os.path.join(out_dir, f"{name}.parquet"), FILES_PER_TABLE)


def charge_cents(usage: float, route: str) -> int:
    """The charge a correct rating stage computes for one CDR, in
    cents: ``round(usage * price * (1 - discount) * (1 + tax), 2)``,
    rounded half-up on the shortest decimal form of the double, as
    Spark's ``round`` does."""
    price, disc, tax = TARIFF[route]
    x = usage * price * (1 - disc) * (1 + tax)
    return int(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)


@dataclass
class CdrLedger:
    """What a correct pipeline commits for a set of CDR files: one row
    per distinct valid CDR id, its route and its charge."""

    expected: dict[int, tuple[str, int | None]] = field(default_factory=dict)
    planted_dups: int = 0
    no_s: int = 0
    no_t: int = 0

    def route_totals(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for route, cents in self.expected.values():
            acc = out.setdefault(route, [0, 0])
            acc[0] += 1
            acc[1] += cents or 0
        return {k: (v[0], v[1]) for k, v in out.items()}


def cdr_files(
    seed: int, n_files: int, per_file: int, first_id: int, interval_us: int,
    prefix: str, start_us: int = 0,
) -> tuple[list[tuple[str, str, list[int]]], CdrLedger]:
    """Generate ``n_files`` CDR files of ``per_file`` records each.

    Record ``j`` is created ``start_us + j * interval_us / per_file``
    microseconds after the stream starts; key ``c`` carries that
    creation time as microseconds after 2024-01-01T00:00:00Z (its event
    time). About 5 % of records repeat an earlier record verbatim, from
    the same file or one of the four before it; 2 % lack ``s`` and 2 %
    lack ``t``. CDR ids start at ``first_id``. Returns ``(name, text,
    created_offsets_us)`` per file and the ledger."""
    rng = np.random.default_rng([seed, 3, first_id])
    routes = list(TARIFF)
    ledger = CdrLedger()
    files = []
    recent: list[str] = []  # lines with an ``s`` of the last four files
    next_id = first_id
    for fi in range(n_files):
        name = f"{prefix}{fi:05d}.cdr"
        kinds = rng.random(per_file)
        picks = rng.random(per_file)
        usages = rng.integers(1, 100_000, per_file) / 100.0
        route_idx = rng.integers(0, 4, per_file)
        created = [start_us + (fi * per_file + j) * interval_us // per_file
                   for j in range(per_file)]
        lines: list[str] = []
        valid: list[str] = []
        for j in range(per_file):
            k = kinds[j]
            n_pool = len(recent) + len(valid)
            if k < 0.05 and n_pool:
                i = int(picks[j] * n_pool)
                lines.append(recent[i] if i < len(recent) else valid[i - len(recent)])
                ledger.planted_dups += 1
                continue
            usage = float(usages[j])
            ts = _EPOCH_2024_US + created[j]
            route = routes[route_idx[j]]
            if k < 0.07:
                lines.append(f"t={route}|u={usage}|c={ts}|f={name}")
                ledger.no_s += 1
                continue
            sid = next_id
            next_id += 1
            if k < 0.09:
                line = f"s={sid}|u={usage}|c={ts}|f={name}"
                ledger.no_t += 1
                ledger.expected[sid] = (DEAD_LETTER, None)
            else:
                line = f"s={sid}|t={route}|u={usage}|c={ts}|f={name}"
                ledger.expected[sid] = (route, charge_cents(usage, route))
            lines.append(line)
            valid.append(line)
        files.append((name, "\n".join(lines) + "\n", created))
        recent = (recent + valid)[-4 * per_file:]
    return files, ledger


def table_rows(data_dir: str) -> dict[str, int]:
    """Rows per ``<table>.parquet`` directory, from the parquet footers."""
    rows = {}
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            d = os.path.join(data_dir, name)
            rows[name[:-8]] = sum(
                pq.read_metadata(os.path.join(d, f)).num_rows for f in sorted(os.listdir(d))
            )
    return rows
