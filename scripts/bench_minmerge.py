"""Merge two or more full bench records into a noise-robust committed
record: per-query MINIMUM across runs, total recomputed.

Why (VERDICT r14 "What's wrong" #2 / next-round #3): this host shows
episodic multi-minute slow windows that inflate whatever happens to be
running 3-10x, with DISJOINT slow sets across back-to-back runs — the
r14 round-close record carried rate_charge at 2.77 s (steady state
1.0 s) and the IVF family 1.5-2x above its own same-session A/Bs. sf0.1
noise is one-sided upward (GC/page-cache/host stalls), so the per-query
minimum across independent full runs is the best steady-state estimate
the committed record can carry, and it is exactly the technique the
verdict prescribes ("commit the per-query minimum across two runs").

The merged record is marked with a "min_of" block naming every source
total, so a reader can see it is a derived record, not a single run.
Single-run semantics (bench.py) are unchanged — the driver's own runs
still time the same queries the same way; only the COMMITTED
cross-round snapshot is derived this way at round close.

Usage: python scripts/bench_minmerge.py out.json run1.json run2.json [...]
  where runN.json holds the FULL record line (bench.py stdout line 1 /
  BENCH_LOCAL.json). Metadata (sf, cpus, streaming/IVF attachments) is
  taken from the LAST run; sf, cpus and the attempted query set (timed
  plus "errors") must agree across runs. "errors" is rebuilt: the
  queries no run timed.
"""

from __future__ import annotations

import json
import sys


def attempted(run: dict) -> set[str]:
    """Every query the run tried: timed or failed."""
    return set(run["queries"]) | set(run.get("errors", {}))


def merge(runs: list[dict]) -> dict:
    """The min-merged record of ``runs`` (oldest first). Raises
    ``ValueError`` when the runs differ in sf, cpus or query set: a
    total over a union no single run attempted is not a record."""
    sfs = {r.get("sf") for r in runs}
    cpus = {r.get("cpus") for r in runs}
    if len(sfs) != 1 or len(cpus) != 1:
        raise ValueError(f"refusing to merge across sf {sfs} / cpus {cpus}")
    names = attempted(runs[0])
    for r in runs[1:]:
        if attempted(r) != names:
            raise ValueError(
                "refusing to merge runs over different query sets: "
                f"{sorted(names ^ attempted(r))} not in every run")
    merged = dict(runs[-1])  # newest run's metadata + attachments
    merged["queries"] = {
        q: min(r["queries"][q] for r in runs if q in r["queries"])
        for q in sorted(names)
        if any(q in r["queries"] for r in runs)
    }
    # a query is an error of the merged record only when no run timed
    # it; the message is the newest run's
    errors = {
        q: next(r["errors"][q] for r in reversed(runs) if q in r.get("errors", {}))
        for q in sorted(names - set(merged["queries"]))
    }
    merged.pop("errors", None)
    if errors:
        merged["errors"] = errors
    merged["value"] = round(sum(merged["queries"].values()), 3)
    merged["min_of"] = {
        "n_runs": len(runs),
        "run_totals": [r["value"] for r in runs],
    }
    # med3/noise_band describe a single run's mechanics — drop from the
    # derived record rather than carry one arbitrary run's view
    for k in ("med3", "noise_band", "drift", "common_total_vs_prior"):
        merged.pop(k, None)
    return merged


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_path, run_paths = sys.argv[1], sys.argv[2:]
    runs = []
    for p in run_paths:
        with open(p) as f:
            text = f.read().strip().splitlines()[0]
        runs.append(json.loads(text))
    try:
        merged = merge(runs)
    except ValueError as exc:
        sys.exit(str(exc))
    with open(out_path, "w") as f:
        f.write(json.dumps(merged) + "\n")
    print(
        f"merged {len(runs)} runs -> {out_path}: total "
        f"{merged['value']} (runs: {merged['min_of']['run_totals']})"
    )


if __name__ == "__main__":
    main()
