"""The benchmark's input generators are pure functions of the seed.

Run: ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import hashlib
import os

from perfbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_writes_byte_identical_tables(tmp_path):
    for sub in ("a", "b"):
        gen.write_warehouse(str(tmp_path / sub), seed=5, n_orders=3000)
        gen.write_corpus(str(tmp_path / sub), seed=5, n_docs=200)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a and a == b
    # fact tables are split so a scan is several tasks
    assert len([k for k in a if k.startswith("lineitem.parquet")]) == gen.FILES_PER_TABLE


def test_other_seed_writes_other_tables(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), seed=5, n_docs=200)
    gen.write_corpus(str(tmp_path / "b"), seed=6, n_docs=200)
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))


def test_same_seed_gives_identical_cdr_files_and_ledger():
    a_files, a_ledger = gen.cdr_files(9, 6, 400, 0, 250_000, "r")
    b_files, b_ledger = gen.cdr_files(9, 6, 400, 0, 250_000, "r")
    assert a_files == b_files
    assert a_ledger == b_ledger
    c_files, _ = gen.cdr_files(10, 6, 400, 0, 250_000, "r")
    assert c_files != a_files


def test_cdr_files_plant_duplicates_and_invalid_records():
    files, ledger = gen.cdr_files(3, 20, 1000, 0, 250_000, "r")
    lines = [ln for _, text, _ in files for ln in text.splitlines()]
    assert len(lines) == 20_000
    with_s = [ln for ln in lines if ln.startswith("s=")]
    # every line with an id is either the first occurrence of a ledger
    # entry or a verbatim repeat of an earlier line
    assert len(set(with_s)) == len(ledger.expected)
    assert len(with_s) - len(set(with_s)) == ledger.planted_dups
    assert 0.03 < ledger.planted_dups / len(lines) < 0.07
    assert 0.01 < ledger.no_s / len(lines) < 0.03
    assert 0.01 < ledger.no_t / len(lines) < 0.03
    assert sum(1 for ln in lines if not ln.startswith("s=")) == ledger.no_s
