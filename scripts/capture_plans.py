"""Capture .explain("formatted") for every registered query into
plans/<tag>/<query>_<suffix>.txt plus a one-line-per-query plan-shape
summary (Exchange count, join strategies, Python eval nodes, scan
pushdown) on stdout.

Usage: python scripts/capture_plans.py <tag> <suffix> [query ...]
  tag     e.g. r14 -> writes under plans/r14/
  suffix  e.g. before / after
  query   optional subset; default = all registered queries

       python scripts/capture_plans.py --diff <tag_a> <tag_b>
  compares the plan files of two captures (plans/<tag>/, or a directory
  path), paired by file name, so capture both sides with one suffix.
  Expression ids, lambda-variable counters, plan_id, object hashes,
  temp-view hashes, RDD ids and temp-directory names are stripped first; any other difference, or a file
  only one side has, is printed and the exit status is 1.

Plan-only: builds each DataFrame and formats the physical plan without
executing it (explain is driver-side), so this is safe to run while
other jobs own the executors.
"""

from __future__ import annotations

import difflib
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: Per-session noise in a formatted plan, and what it is replaced by.
_NOISE = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_"),  # lambda-variable counters
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@"),  # object identity hashes
    (re.compile(r"\b(\w+?_)[0-9a-f]{32}\b"), r"\1"),  # uuid-named temp views
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),  # RDD ids count the session's earlier RDDs
    # mkdtemp directories (persisted indexes) get a random name per run
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\]\s]+"), "<tmp>"),
]


def shape_summary(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "BHJ": len(re.findall(r"BroadcastHashJoin", plan)),
        "SMJ": len(re.findall(r"SortMergeJoin", plan)),
        "SHJ": len(re.findall(r"ShuffledHashJoin", plan)),
        "BNLJ": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "Cartesian": len(re.findall(r"CartesianProduct", plan)),
        "Sort": len(re.findall(r"\bSort\b", plan)),
        "Window": len(re.findall(r"\bWindow\b", plan)),
        "PyEval": len(re.findall(r"(?:BatchEvalPython|ArrowEvalPython)", plan)),
        "MapInPandas": len(re.findall(r"(?:MapInPandas|MapInArrow|FlatMapGroupsInPandas)", plan)),
        "Scan": len(re.findall(r"Scan parquet", plan)),
        "Generate": len(re.findall(r"\bGenerate\b", plan)),
        "TakeOrdered": len(re.findall(r"TakeOrderedAndProject", plan)),
    }
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    parts = [f"{k}={v}" for k, v in counts.items() if v]
    parts.append(f"PushedFilterScans={pushed}")
    return " ".join(parts)


def normalize(plan: str) -> str:
    for pattern, repl in _NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def diff(tag_a: str, tag_b: str) -> int:
    """Print every plan difference between two captures beyond
    per-session noise; the number of differing plan files."""
    dirs = [os.path.join(ROOT, "plans", t) for t in (tag_a, tag_b)]
    files = [set(os.listdir(d)) for d in dirs]
    names = sorted(files[0] | files[1])
    differing = 0
    for name in names:
        if not all(name in f for f in files):
            only = tag_a if name in files[0] else tag_b
            print(f"{name}: only in {only}")
            differing += 1
            continue
        texts = []
        for d in dirs:
            with open(os.path.join(d, name)) as f:
                texts.append(normalize(f.read()).splitlines())
        if texts[0] != texts[1]:
            differing += 1
            print(f"{name}: plans differ")
            for line in difflib.unified_diff(*texts, tag_a, tag_b, lineterm="", n=1):
                print("  " + line)
    print(f"{len(names) - differing} of {len(names)} plans identical after normalization")
    return differing


def main() -> None:
    if sys.argv[1] == "--diff":
        sys.exit(1 if diff(sys.argv[2], sys.argv[3]) else 0)
    from etl_work_flow_for_big_data_spark.queries import load_all
    from etl_work_flow_for_big_data_spark.session import get_spark

    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    todo = names or sorted(registry)
    for name in todo:
        spec = registry[name]
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — capture harness
            print(f"{name}: ERROR {type(exc).__name__}: {exc}", file=sys.stderr)
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {shape_summary(plan)}")


if __name__ == "__main__":
    main()
