"""Host speed: a fixed reference Spark job, timed once per cycle.

The host this benchmark runs on shares its cores, and how fast they
run moves by half again from one minute to the next: every figure of a
run, wall and CPU seconds alike, moves with it by the same share. So
each cycle of an untraced run starts with a reference job on the same
session, the same processes and the same input — a parquet scan of the
token lists into the Python workers, a sort there, a sum back in the
JVM. It calls nothing of ``engine`` or ``jobs``: a change to them moves
it only through the session and the processes it shares.

``factor`` is the run's median reference wall over ``REFERENCE_S``.
``run.py`` divides the time figures by it and multiplies the rates by
it, which states them at the speed of a host that runs the reference
job in ``REFERENCE_S``; the raw figures and the factor go to the report
on stderr.
"""

from __future__ import annotations

import statistics
import time

# median reference wall on 30k rows (4-vCPU Xeon host, local[4])
REFERENCE_S = 0.75


def reference_s(spark, path: str, rows: int) -> float:
    """Wall seconds of the reference job on the parquet input at
    ``path``, which holds ``rows`` rows."""
    from pyspark.sql import functions as F

    def _kernel(batches):  # nested, so it ships to the workers by value
        import numpy as np
        import pyarrow as pa
        for b in batches:
            v = b.column(0).flatten().to_numpy()
            yield pa.RecordBatch.from_pydict(
                {"n": [b.num_rows], "s": [int(np.sort(v)[::4096].sum())]})

    t0 = time.perf_counter()
    got = (spark.read.parquet(path).select("tokens")
           .mapInArrow(_kernel, "n long, s long")
           .agg(F.sum("n")).collect()[0][0])
    wall = time.perf_counter() - t0
    if got != rows:
        raise RuntimeError(f"reference job saw {got} rows, not {rows}")
    return wall


def factor(walls: list[float]) -> float:
    """How much slower than the reference host this run's host was."""
    return statistics.median(walls) / REFERENCE_S
