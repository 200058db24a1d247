"""Per-head job/stage profile under the exact bench session conf.

``stages`` counts every stage id of a head's jobs, skipped stages
included."""
import os, sys, time, json
sys.path.insert(0, "/root/repo"); sys.path.insert(0, "/root/repo/scripts")
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from capture_plans import bench_session
import __spark_entry__ as entrymod
import bench as benchmod

sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
spark = bench_session()
spark.sparkContext.setLogLevel("ERROR")
q = entrymod.queries()
tracker = spark.sparkContext.statusTracker()
heads = sys.argv[1].split(",") if len(sys.argv) > 1 else benchmod.HEADS
# warmup
for name in heads:
    q[name](spark, sf_dir).collect()
    spark.catalog.clearCache()
out = {}
for _round in range(3):
    for name in heads:
        grp = f"{name}:{_round}"
        spark.sparkContext.setJobGroup(grp, name)
        t0 = time.perf_counter()
        q[name](spark, sf_dir).collect()
        dt = time.perf_counter() - t0
        jobs = tracker.getJobIdsForGroup(grp)
        nstages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)  # None once the job is evicted
            nstages += len(info.stageIds) if info else 0
        spark.catalog.clearCache()
        prev = out.get(name)
        if prev is None or dt < prev["sec"]:
            out[name] = {"sec": round(dt, 3), "jobs": len(jobs), "stages": nstages}
for name in heads:
    print(json.dumps({"head": name, **out[name]}))
spark.stop()
