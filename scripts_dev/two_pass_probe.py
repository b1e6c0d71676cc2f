"""Single-stream scale probe: windowed vs two-pass chunked global order.

Generates a synthetic events table N times sf0.1's size (same schema;
only event_id feeds the tick fixture), then times the flagship chain
under both formulations. Shows where the SinglePartition window stops
scaling and the chunked plan crosses over.

Usage: python scripts_dev/two_pass_probe.py [n_events ...]
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, ".")

TMP = Path(".probe_tmp")


def main() -> None:
    sizes = [int(s) for s in sys.argv[1:]] or [100_000, 1_000_000, 4_000_000]

    from pyspark.sql import functions as F

    from tickdatapipeline_spark.plans.common import (
        SP_DERIV,
        _chain,
        set_ticks_cache,
        set_two_pass_threshold,
    )
    from tickdatapipeline_spark.session import get_spark

    spark = get_spark("two-pass-probe")
    spark.sparkContext.setLogLevel("ERROR")
    set_ticks_cache(False)

    for n in sizes:
        d = TMP / f"events_{n}"
        if not (d / "events.parquet").exists():
            spark.range(0, n).select(
                F.col("id").alias("event_id"),
                F.lit(0).cast("long").alias("ts"),
            ).write.mode("overwrite").parquet(str(d / "events.parquet"))
        for tag, thresh in [("window", 1 << 60), ("two-pass", 0)]:
            set_two_pass_threshold(thresh)
            t0 = time.time()
            _chain(spark, str(d), SP_DERIV, False).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            print(f"n={n:>9,}  {tag:<8}  {dt:6.2f} s  "
                  f"({3 * n / dt / 1e3:8.0f} K ticks/s)")
    set_two_pass_threshold(None)
    spark.stop()
    shutil.rmtree(TMP, ignore_errors=True)


if __name__ == "__main__":
    main()
