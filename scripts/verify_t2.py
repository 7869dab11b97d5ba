"""Driver-style t2 sweep over the first N registry slots.

Defaults to sf0.01 (the driver's scale); set VERIFY_SF_DIR to sweep
another scale — e.g. sf0.1 catches scale-dependent divergence the
driver never exercises (oracle cost grows super-linearly for the
recursive-CTE / posting-list oracles, so expect minutes there).
Scratch fixtures built by scale_probe.build_fixture store each table
as a DIRECTORY of parquet parts; those get a recursive glob view.
VERIFY_QUERIES=a,b,c restricts the sweep to a named subset (the r12
sf~1 spot-sweep runs the data-dependent dedup/sim/pack families
there instead of the first N slots).
"""
import os, sys, time, traceback
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
import duckdb

N = int(sys.argv[1]) if len(sys.argv) > 1 else 50
SF = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
# VERIFY_CORES=3 reproduces the low-partition sweep (local[3], 3
# shuffle partitions) that shakes out plans whose correctness quietly
# depends on partition count; note every registered query re-applies
# tune_session (queries._tuned), which re-sets shuffle partitions from
# SPARK_GRAFT_CPUS, so both knobs move. catalog.load_table itself sets
# only the confs its parquet read depends on (session.READ_CONF).
CORES = os.environ.get("VERIFY_CORES", "8")
os.environ["SPARK_GRAFT_CPUS"] = CORES
spark = (
    SparkSession.builder.master(f"local[{CORES}]")
    .config("spark.sql.shuffle.partitions", CORES)
    .getOrCreate()
)
import __spark_entry__ as e
qs, osql = e.queries(), e.oracle_sql()

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    src = f"{SF}/{t}.parquet"
    glob = f"{src}/**/*.parquet" if os.path.isdir(src) else src
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")

sys.path.insert(0, "/root/repo/tests")
from parity import compare

fails = []
only = os.environ.get("VERIFY_QUERIES")
names = only.split(",") if only else list(qs)[:N]
for name in names:
    t0 = time.time()
    try:
        # every registered query is hash-oracled (enforced by
        # tests/test_oracle_parity.py::test_every_query_is_hash_oracled)
        compare(qs[name](spark, SF), con.sql(osql[name]))
        status = "ok"
    except Exception as ex:
        status = "FAIL"
        fails.append((name, ex))
        traceback.print_exc()
    print(f"{name:28s} {status:14s} {time.time()-t0:5.1f}s", flush=True)

print(f"\n{len(names)-len(fails)}/{len(names)} pass")
if fails:
    for n, ex in fails:
        print("FAIL:", n, type(ex).__name__, str(ex)[:200])
    sys.exit(1)
