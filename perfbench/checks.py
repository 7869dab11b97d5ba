"""Output checks and summary statistics.

- ``table_hash``: an order-insensitive hash of a result table (columns
  sorted by name, cells canonicalised, rows sorted), the same
  comparison the project's DuckDB oracle harness makes.
- ``OracleCache``: the hash of each query's ``oracle_sql()`` on one
  generated input directory, computed with DuckDB outside the timed
  region and cached on disk per input directory.
- ``check_cdr_output``: the CDR ledger check.
- ``tail``: the highest percentile that has at least ten samples
  beyond it, the reported tail statistic.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import math
import os

TAIL_BEYOND = 10


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def table_hash(tbl) -> str:
    """Order-insensitive md5 of a ``pyarrow.Table``: column names and
    row count are part of the hash."""
    names = sorted(tbl.schema.names)
    cols = {n: [_cell(v) for v in tbl.column(n).to_pylist()] for n in names}
    rows = sorted(zip(*[cols[n] for n in names])) if names else []
    h = hashlib.md5(("\x1f".join(names) + f"\x1e{len(rows)}").encode())
    for r in rows:
        h.update(("\x1e" + "\x1f".join(r)).encode())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle hashes for one input directory, cached in
    ``<data_dir>/oracle.json`` (an input directory is named by its
    workload, size and seed, so the cache is per seed)."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.data_dir = data_dir
        self.tables = tables
        self.path = os.path.join(data_dir, "oracle.json")
        self.hashes: dict[str, str] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.hashes = json.load(f)

    def ensure(self, oracles: dict[str, str]) -> None:
        missing = {n: sql for n, sql in oracles.items() if n not in self.hashes}
        if not missing:
            return
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{self.data_dir}/{t}.parquet/*.parquet')"
                )
            for name, sql in missing.items():
                self.hashes[name] = table_hash(con.sql(sql).arrow())
        finally:
            con.close()
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.hashes, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def check_cdr_output(rows, ledger) -> list[str]:
    """Compare committed CDR rows ``(s, route, charge)`` with the
    generator ledger. Returns one message per violated rule: per-route
    counts and charge sums (in cents), every planted duplicate dropped
    exactly once (each valid CDR id committed exactly once), and no
    CDR id that was never generated."""
    problems = []
    seen: dict[int, int] = {}
    got: dict[str, list[int]] = {}
    for s, route, charge in rows:
        seen[s] = seen.get(s, 0) + 1
        acc = got.setdefault(route, [0, 0])
        acc[0] += 1
        acc[1] += 0 if charge is None else int(round(charge * 100))
        exp = ledger.expected.get(s)
        if exp is None:
            problems.append(f"CDR s={s} was never generated")
        elif exp[0] != route:
            problems.append(f"CDR s={s} routed to {route}, expected {exp[0]}")
    twice = sum(1 for n in seen.values() if n > 1)
    if twice:
        problems.append(f"{twice} CDR ids committed more than once")
    lost = len(set(ledger.expected) - set(seen))
    if lost:
        problems.append(f"{lost} valid CDRs missing from the output")
    want = ledger.route_totals()
    for route in sorted(set(want) | set(got)):
        w, g = want.get(route, (0, 0)), tuple(got.get(route, [0, 0]))
        if w != g:
            problems.append(
                f"route {route}: (count, cents) {g}, expected {w}"
            )
    return problems[:20]


def tail(xs: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` for the highest percentile of ``xs``
    that has at least ``TAIL_BEYOND`` samples above it: with ``n``
    sorted samples that is the sample at rank ``n - TAIL_BEYOND``
    (1-based), the ``100 * (n - TAIL_BEYOND) / n``-th percentile. With
    too few samples for any such percentile the maximum is returned
    with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    k = n - TAIL_BEYOND
    return s[k - 1], 100.0 * k / n, n
