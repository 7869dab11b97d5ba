"""scripts/capture_plans.py --diff: two plan captures compare equal
through per-session noise and differ on anything else."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "capture_plans.py"
)

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (3)
+- Exchange (2)
   +- Scan parquet (1)

(2) Exchange
Input [2]: [id#{a}L, v#{b}]
Arguments: hashpartitioning(id#{a}L, 8), ENSURE_REQUIREMENTS, [plan_id={p}]
Filter transform(v#{b}, lambdafunction(lambda x_{c}#{d}, lambda x_{c}#{d}, false))
Literal org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@{h}
Arguments: [id#{a}L], MapPartitionsRDD[{r}] at localCheckpoint, ExistingRDD
Location: InMemoryFileIndex [file:{tmp}/ivf_{t}/index/postings]
"""


def _capture(root, tag, plans):
    d = root / tag
    d.mkdir()
    for name, text in plans.items():
        (d / f"{name}_plan.txt").write_text(text)
    return str(d)


def _diff(a, b):
    return subprocess.run([sys.executable, SCRIPT, "--diff", a, b],
                          capture_output=True, text=True)


def test_session_noise_is_not_a_difference(tmp_path):
    tmp = tempfile.gettempdir()
    a = _capture(tmp_path, "a", {"q": PLAN.format(
        a=12, b=13, p=40, c=7, d=99, h="16fe8b5f", r=139, tmp=tmp, t="we435k1a")})
    b = _capture(tmp_path, "b", {"q": PLAN.format(
        a=812, b=813, p=4, c=71, d=9, h="970a3955", r=115, tmp=tmp, t="k8tb8ef4")})
    proc = _diff(a, b)
    assert proc.returncode == 0, proc.stdout
    assert "1 of 1 plans identical" in proc.stdout


def test_plan_change_or_missing_plan_fails(tmp_path):
    base = PLAN.format(a=1, b=2, p=3, c=4, d=5, h="abcd1234", r=6, tmp="/data", t="x")
    a = _capture(tmp_path, "a", {"q": base, "r": base})
    b = _capture(tmp_path, "b", {"q": base.replace("Exchange", "BroadcastExchange")})
    proc = _diff(a, b)
    assert proc.returncode == 1
    assert "q_plan.txt: plans differ" in proc.stdout
    assert "r_plan.txt: only in" in proc.stdout
