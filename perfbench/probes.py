"""Floors measured in every traced run, next to the layer times.

- kernel: the engine's decode kernel (image_verify._validate_arrow) over
  the workload's image files with pyarrow in `nproc` plain processes,
  no Spark. The slowest process bounds it, as it bounds a decode stage.
- jvm: a fixed whole-stage-codegen aggregation over generated longs, no
  I/O, no Python, no engine code.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import re
import statistics
import time


def _decode_files(paths: list[str]) -> float:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from advanced_data_profile_spark.operators.image_verify import _validate_arrow

    t0 = time.perf_counter()
    for p in paths:
        m = re.search(r"part_id=(\d+)", p)
        pid = int(m.group(1)) if m else 0
        pf = pq.ParquetFile(p)
        for batch in pf.iter_batches(batch_size=2048, columns=["image_id", "bytes", "w", "h", "fmt"]):
            batch = batch.append_column("part_id", pa.array([pid] * batch.num_rows, type=pa.int32()))
            for _ in _validate_arrow([batch]):
                pass
    return time.perf_counter() - t0


def kernel_s(table: str, procs: int, repeats: int = 3) -> float:
    """Median over repeats of the slowest process's decode time."""
    files = sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(table) for f in names if f.endswith(".parquet")
    )
    groups = [g for g in (files[i::procs] for i in range(procs)) if g]
    samples = []
    with mp.get_context("spawn").Pool(len(groups)) as pool:
        for _ in range(repeats):
            samples.append(max(pool.map(_decode_files, groups)))
    return statistics.median(samples)


def jvm_s(spark, procs: int, n: int = 500_000_000, repeats: int = 3) -> float:
    """Median wall time of a sum/avg/count over n generated longs. Each
    repeat plans the query afresh: re-running one DataFrame would reuse
    its materialized shuffle stage and time only the final step."""
    from pyspark.sql import functions as F

    def query():
        return spark.range(0, n, 1, procs).select("id", (F.col("id") % 97).alias("m")).agg(
            F.sum("id"), F.avg("m"), F.count(F.lit(1))
        )

    query().collect()  # compiles the generated code
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        query().collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)
