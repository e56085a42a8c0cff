"""Isolated fresh-session probe: time named queries at an SF, report
per-rep times and executor storage footprint between queries."""
import os, sys, time, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
from kremis_spark.session import get_spark

names = sys.argv[1].split(",") if len(sys.argv) > 1 else [
    "graph_attr_stats", "graph_label_propagation", "graph_modularity"]
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

spark = get_spark("probe")
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as entry
qs = entry.queries()

def storage():
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return [(i.id(), i.name(), i.numCachedPartitions(), i.memSize()) for i in infos]

for name in names:
    fn = qs[name]
    ts = []
    for r in range(reps):
        t0 = time.time()
        fn(spark, sf_dir).collect()
        ts.append(round(time.time() - t0, 3))
    st = storage()
    print(json.dumps({"q": name, "reps": ts,
                      "n_rdds": len(st),
                      "mem_mb": round(sum(s[3] for s in st)/1e6, 1)}))
print("storage detail:")
for s in storage():
    print("  ", s[0], (s[1] or "")[:60], "parts:", s[2], "mem:", round(s[3]/1e6,1), "MB")
