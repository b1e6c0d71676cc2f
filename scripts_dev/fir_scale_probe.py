"""FIR bar scale probe: serial vs chunked FIR ``bar_aggregate`` over one
giant 1-partition stream (default 3M ticks, ~10x sf0.1). The scatter
carries both the convolution terms and the OHLC aggregates, so this
times the whole bar stage: ``chunk_size=None`` is the fused serial
scatter, ``chunk_size`` set (plans/common's at-scale chunk) is the
chunked scatter plus the two-pass bar windows. Measured at 3M ticks on
a 32-core box (the scatter alone, before OHLC joined it): serial 10.67 s
(1-task stages) vs chunked 2.06 s (32-task explode stages); results per
box are in PERF.md.

Usage: python scripts_dev/fir_scale_probe.py [n_ticks]
(the Spark master follows SPARK_GRAFT_CPUS, default all cores)
"""
import json, shutil, sys, time, os
sys.path.insert(0, ".")
evdir = "/tmp/fir-probe-ev"
shutil.rmtree(evdir, ignore_errors=True); os.makedirs(evdir)
from pyspark.sql import SparkSession
SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]").config(
    "spark.eventLog.enabled", "true").config(
    "spark.eventLog.dir", evdir).config(
    "spark.eventLog.compress", "false").getOrCreate()
from tickdatapipeline_spark.session import get_spark
from tickdatapipeline_spark.config import BarProcessingConfig
from tickdatapipeline_spark.operators.bars import bar_aggregate
from tickdatapipeline_spark.plans.common import TWO_PASS_CHUNK
from pyspark.sql import functions as F
spark = get_spark("fir-probe"); spark.sparkContext.setLogLevel("ERROR")
N = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000  # ONE partition: a giant stream
ticks = spark.range(N).select(
    (F.col("id") + 1).alias("tick_idx"),
    (F.col("id") % 97 + 41970).alias("raw_price"),
    F.col("id").alias("timestamp"),
).coalesce(1).localCheckpoint()  # pinned 1-partition input
bp = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="FIR")
chunk = min(max(TWO_PASS_CHUNK, N // 10_000), 1 << 27)
res = {"n_ticks": N}
for label, chunk_size in (("serial", None), ("chunked", chunk)):
    best = None
    for _ in range(2):
        spark.sparkContext.setJobDescription(f"fir:{label}")
        t0 = time.time()
        bar_aggregate(ticks, bp, chunk_size=chunk_size) \
            .write.format("noop").mode("overwrite").save()
        best = min(best or 9e9, time.time() - t0)
    res[label] = round(best, 2)
print(json.dumps(res))
spark.stop()
# task counts per job description
import json as J
from pathlib import Path
desc_of_job, stage_job, stages = {}, {}, {}
for f in Path(evdir).glob("**/*"):
    if not f.is_file(): continue
    for line in open(f, errors="replace"):
        try: ev = J.loads(line)
        except Exception: continue
        if not isinstance(ev, dict): continue
        if ev.get("Event") == "SparkListenerJobStart":
            desc_of_job[ev["Job ID"]] = (ev.get("Properties") or {}).get("spark.job.description", "")
            for sid in ev.get("Stage IDs", []): stage_job[sid] = ev["Job ID"]
        elif ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = si.get("Number of Tasks")
from collections import defaultdict
per = defaultdict(list)
for sid, n in sorted(stages.items()):
    per[desc_of_job.get(stage_job.get(sid), "")].append(n)
print({k: v for k, v in per.items() if k.startswith("fir:")})
