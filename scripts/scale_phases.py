"""Phase decomposition for the scaling job (run via taskset like scale_runner).

Splits scan → 1-minute rollup → window-salted Gorilla encode into:
  jvm   — scan + rollup shuffle + sum agg (no Python anywhere);
  full  — the complete scale_job (adds the mapInPandas encode kernel).

The encode-phase time is full - jvm (the phases share the scan+shuffle
prefix). Per-phase lo/hi ratios show WHICH stage stops scaling on a shared
box — compute (should approach 4×) vs scan/shuffle (bandwidth + fixed
scheduling cost). Prints one JSON line: {"cpus", "jvm_secs", "full_secs",
"rows"}.

Usage: taskset -c 16-<16+N-1> python scripts/scale_phases.py N
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1])

    from pyspark.sql import functions as F

    from bench import PAGES_PATH, scale_job
    from tslib_spark.operators.rollup import rollup_pages
    from tslib_spark.session import get_spark

    spark = get_spark(
        f"scale-phases-{cpus}",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(cpus, 4))},
    )

    def jvm_phase() -> float:
        t0 = time.time()
        pages = spark.read.parquet(PAGES_PATH)
        rollup_pages(pages).select(F.sum("cnt")).collect()
        return time.time() - t0

    scale_job(spark)  # warm the full mix (JIT, codegen, page faults)
    jvm_secs = min(jvm_phase() for _ in range(2))
    (full_secs, rows) = min((scale_job(spark) for _ in range(2)), key=lambda t: t[0])
    spark.stop()
    print(json.dumps({"cpus": cpus, "jvm_secs": round(jvm_secs, 2),
                      "full_secs": round(full_secs, 2), "rows": rows}))


if __name__ == "__main__":
    main()
