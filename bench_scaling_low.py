"""Apply-stage N->4N at 2 vs 8 threads — BOTH levels below the one-box
memory-bus ceiling, so the end-to-end apply can express its parallelism."""
import sys
import json, os, shutil, subprocess, tempfile

N_EVENTS = 4_000_000
LEVELS = [2, 8]
PASSES = 2

CHILD = r"""
import json, shutil, sys, tempfile, time
from pyspark.sql import functions as F
from data_exchange_hl7_spark.session import build_session
from data_exchange_hl7_spark.datagen import change_events
from data_exchange_hl7_spark.engine import Engine
from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

cpus, n_events, wal_path = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
spark = build_session("scaling_low", master=f"local[{cpus}]")
spark.sparkContext.setLogLevel("ERROR")
wal = spark.read.parquet(wal_path)
warm = Engine(spark, tempfile.mkdtemp(prefix="dex_warm_"), n_buckets=64)
wt = warm.snapshot_table("repo_files")
MicroBatchRunner(warm, epoch_size=100_000).run(wal.filter(F.col("lsn") < 100_000), wt)
best, rows = None, None
for trial in range(2):
    wh = tempfile.mkdtemp(prefix=f"dex_scale_{cpus}_")
    eng = Engine(spark, wh, n_buckets=64)
    table = eng.snapshot_table("repo_files")
    t0 = time.time()
    MicroBatchRunner(eng, epoch_size=n_events // 2).run(wal, table)
    dt = time.time() - t0
    rows = table.snapshot().count()
    best = dt if best is None else min(best, dt)
    shutil.rmtree(wh, ignore_errors=True)
shutil.rmtree(warm.warehouse, ignore_errors=True)
print(json.dumps({"cpus": cpus, "wall_s": round(best, 2),
                  "events_per_sec": round(n_events / best, 1), "rows": rows}))
"""

repo = os.path.dirname(os.path.abspath(__file__))
gen = (
    "import sys, tempfile\n"
    "from data_exchange_hl7_spark.session import build_session\n"
    "from data_exchange_hl7_spark.datagen import change_events\n"
    "spark = build_session('gen', master='local[32]')\n"
    "spark.sparkContext.setLogLevel('ERROR')\n"
    "change_events(spark, int(sys.argv[2])).write.mode('overwrite').parquet(sys.argv[1])\n"
)
wal_path = os.path.join(tempfile.mkdtemp(prefix="dex_wal_low_"), "wal")
subprocess.run([sys.executable, "-c", gen, wal_path, str(N_EVENTS)], cwd=repo,
               check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)

by_level = {c: [] for c in LEVELS}
for p in range(PASSES):
    for cpus in LEVELS:
        load1 = os.getloadavg()[0]
        out = subprocess.run(
            [sys.executable, "-c", CHILD, str(cpus), str(N_EVENTS), wal_path],
            cwd=repo, check=False, capture_output=True, text=True,
            env={**os.environ, "SPARK_DRIVER_MEM": "24g"},
        )
        if out.returncode != 0:
            print(f"child local[{cpus}] pass {p} failed:", out.stderr[-300:])
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["loadavg_at_start"] = round(load1, 1)
        by_level[cpus].append(res)
        print(res)
shutil.rmtree(os.path.dirname(wal_path), ignore_errors=True)
summary = []
for cpus in LEVELS:
    runs = by_level[cpus]
    best = min(r["wall_s"] for r in runs)
    summary.append({"cpus": cpus, "wall_s": best,
                    "events_per_sec": round(N_EVENTS / best, 1),
                    "rows": runs[0]["rows"],
                    "loadavgs": [r["loadavg_at_start"] for r in runs]})
lo, hi = summary
ratio = hi["events_per_sec"] / lo["events_per_sec"]
print(json.dumps({"runs": summary, "speedup": round(ratio, 2),
                  "efficiency": round(ratio / (LEVELS[1] / LEVELS[0]), 3)}))
