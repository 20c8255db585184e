"""Inputs, expected results and the checked operations of each workload.

Both workloads run the same cycle of four operations, so every
end-to-end metric exists on every workload:

* ``write``  — the input table to storage (tokens counted);
* ``scan``   — a full read, checked by an order-independent checksum
  taken in the same Spark query;
* ``lookup`` — a one-id lookup of a present doc_id followed by one of an
  absent doc_id; the sample is the mean of the two calls, so the latency
  distribution has one mode instead of two;
* ``range``  — a narrow ``n_tok`` interval read.

``roundtrip`` is the blocks table: written with ``strategy="doc_range"``
(the production layout), scanned and point-looked-up there; its range
reads go to a second table written once in set-up with
``strategy="ntok_range"``, the layout on which n_tok ranges prune (on a
doc_range table every block spans all lengths). ``orc`` is a directory
of zstd ORC files written in input order (no shuffle).

Expected results are computed from the input in set-up, outside the
timed region. A checksum is (row count, sum of n_tok, sum of
``pmod(xxhash64(row), 2^31-1)``): the ``pmod`` keeps the sum inside
BIGINT under Spark's ANSI default, where a plain xxhash64 sum overflows.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

HASH_MOD = 2 ** 31 - 1
CORES = 4
LOOKUP_IDS = 32   # seeded one-id lookups, half present, half absent
RANGES = 24       # seeded narrow n_tok intervals
CYCLE = ("write", "scan", "lookup", "range")  # one closed-loop cycle


@dataclass(frozen=True)
class Workload:
    name: str
    layout: str            # "blocks" | "orc"
    rows: int
    cycle_s: float         # nominal seconds per cycle (sets the count)


WORKLOADS = {
    w.name: w for w in (
        Workload("roundtrip", "blocks", 30_000, 5.6),
        Workload("orc", "orc", 30_000, 7.6),
    )
}


@dataclass
class Expected:
    total: tuple
    ranges: list          # [(lo, hi, checksum)]
    lookups: list         # [(doc_id, row_hash or None)]


@dataclass
class Inputs:
    path: str
    rows: int
    tokens: int
    expected: Expected


def row_hash(F):
    return F.pmod(F.xxhash64("doc_id", "tokens", "n_tok", "source"),
                  F.lit(HASH_MOD))


def checksum(df) -> tuple:
    """(count, sum n_tok, sum row hash) in one Spark query."""
    from pyspark.sql import functions as F
    r = df.agg(F.count(F.lit(1)), F.sum("n_tok"),
               F.sum(row_hash(F))).collect()[0]
    return tuple(int(v or 0) for v in r)


def query_plan(table, seed: int) -> tuple[list, list]:
    """Seeded lookup ids (half present) and narrow n_tok intervals,
    drawn from the generated Arrow table."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    n = table.num_rows
    doc_ids = table.column("doc_id")
    sources = table.column("source")
    ids = []
    for k in range(LOOKUP_IDS):
        i = int(rng.integers(0, n))
        if k % 2 == 0:
            ids.append(doc_ids[i].as_py())
        else:  # same shape, an index past the end: never present
            ids.append(f"{sources[i].as_py()}/{n + i:012d}")
    ntok = table.column("n_tok").to_numpy()
    ranges = []
    for _ in range(RANGES):
        lo = int(ntok[int(rng.integers(0, n))])
        ranges.append((lo, lo + int(rng.integers(0, 3))))
    return ids, ranges


def materialise(spark, path: str, rows: int, seed: int,
                corrupt: bool = False) -> Inputs:
    """Generate the F-MAIN input for ``seed`` into ``path`` (parquet)
    and compute every expected result from it."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from jobs.synth import token_table

    table = token_table(rows, seed=seed)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    # 2 x cores equal files: Spark packs them two to a scan partition
    # for every seed, where the splits of one large file would move with
    # its size
    cuts = np.linspace(0, rows, 2 * CORES + 1).astype(int)
    for k in range(2 * CORES):
        pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]),
                       os.path.join(path, f"part-{k}.parquet"))
    ids, ranges = query_plan(table, seed)

    # one grouped query: per n_tok value for the ranges and the total,
    # and per doc_id for the lookup ids
    df = spark.read.parquet(path)
    key = F.when(F.col("doc_id").isin(ids), F.col("doc_id"))
    groups = (df.groupBy(key.alias("k"), "n_tok")
              .agg(F.count(F.lit(1)).alias("c"),
                   F.sum(row_hash(F)).alias("h"))
              .collect())
    ntok = np.array([g["n_tok"] for g in groups], dtype=np.int64)
    cnt = np.array([g["c"] for g in groups], dtype=np.int64)
    hs = np.array([g["h"] for g in groups], dtype=np.int64)

    def agg(mask) -> tuple:
        return (int(cnt[mask].sum()), int((cnt * ntok)[mask].sum()),
                int(hs[mask].sum()))

    total = agg(slice(None))
    if corrupt:  # self-test hook: a wrong expectation must fail scans
        total = (total[0], total[1], total[2] + 1)
    exp_ranges = [(lo, hi, agg((ntok >= lo) & (ntok <= hi)))
                  for lo, hi in ranges]
    by_id = {g["k"]: g["h"] for g in groups if g["k"] is not None}
    exp_lookups = [(d, by_id.get(d)) for d in ids]
    return Inputs(path=path, rows=rows, tokens=total[1],
                  expected=Expected(total, exp_ranges, exp_lookups))


class Store:
    """The workload's storage layout: write / scan / lookup / range,
    each returning ``(ok, detail)`` after checking its output."""

    def __init__(self, spark, layout: str, inputs: Inputs, work: str):
        self.spark = spark
        self.layout = layout
        self.inputs = inputs
        self.work = work
        self.path = None          # the last written table
        self.range_path = None    # the table range reads go to
        self.stored_bytes = None  # bytes of the last write
        self._n = 0

    def _encode(self, out: str, strategy: str) -> dict:
        from jobs.encode import encode_table
        df = self.spark.read.parquet(self.inputs.path)
        return encode_table(self.spark, df, out, num_partitions=2 * CORES,
                            strategy=strategy, codec="mixed")

    def prepare(self) -> None:
        """Set-up: the ntok_range table of the blocks layout."""
        if self.layout == "blocks":
            self.range_path = os.path.join(self.work, "ntok-range")
            m = self._encode(self.range_path, "ntok_range")
            if (m["n_rows"], m["n_values"]) != \
                    (self.inputs.rows, self.inputs.tokens):
                raise RuntimeError(f"ntok_range table holds {m}")

    # -- write ---------------------------------------------------------
    def write(self) -> tuple[bool, dict]:
        self._n += 1
        out = os.path.join(self.work, f"table-{self._n}")
        detail = {"tokens": self.inputs.tokens}
        if self.layout == "orc":
            from jobs.orc_write import write_orc_dir
            df = self.spark.read.parquet(self.inputs.path)
            rows = write_orc_dir(
                df, out, compression="zstd", stripe_rows=8192,
                bloom_columns=("doc_id",)).collect()
            n_rows = sum(r["n_rows"] for r in rows)
            stored = sum(r["n_bytes"] for r in rows)
            n_values = self.inputs.tokens
        else:
            from jobs import table_io
            m = self._encode(out, "doc_range")
            n_rows, stored, n_values = \
                m["n_rows"], m["out_bytes"], m["n_values"]
            detail["kernel_s"] = sum(
                p["wall_ms"] for p in
                table_io.committed_parts(out).values()) / 1e3
        ok = n_rows == self.inputs.rows and n_values == self.inputs.tokens
        # encode is deterministic: every write of one input stores the
        # same bytes
        if self.stored_bytes is not None and stored != self.stored_bytes:
            ok = False
        self.stored_bytes = stored
        old, self.path = self.path, out
        if old:
            shutil.rmtree(old, ignore_errors=True)
        if self.layout == "orc":
            self.range_path = out
        detail["bytes"] = stored
        return ok, detail

    # -- reads ---------------------------------------------------------
    def _read(self, path: str, **kw):
        if self.layout == "orc":
            from jobs.orc_read import read_orc_dir
            filters = []
            if "ntok_min" in kw:
                filters = [("n_tok", ">=", kw["ntok_min"]),
                           ("n_tok", "<=", kw["ntok_max"])]
            return read_orc_dir(self.spark, path, filters=filters or None)
        from jobs.decode import decode_table
        return decode_table(self.spark, path, **kw)

    def scan(self) -> tuple[bool, dict]:
        got = checksum(self._read(self.path))
        return got == self.inputs.expected.total, {"tokens": got[1]}

    def range(self, i: int) -> tuple[bool, dict]:
        from pyspark.sql import functions as F
        lo, hi, want = self.inputs.expected.ranges[
            i % len(self.inputs.expected.ranges)]
        df = self._read(self.range_path, ntok_min=lo, ntok_max=hi)
        got = checksum(df.where(F.col("n_tok").between(lo, hi)))
        return got == want, {"rows": got[0]}

    def _lookup_one(self, doc_id: str, want) -> bool:
        from pyspark.sql import functions as F
        if self.layout == "orc":
            from jobs.orc_read import read_orc_dir
            df = read_orc_dir(self.spark, self.path,
                              filters=[("doc_id", "=", doc_id)])
        else:
            from jobs.decode import lookup_doc_ids
            df = lookup_doc_ids(self.spark, self.path, [doc_id])
        got = [r[0] for r in df.select(row_hash(F)).collect()]
        return got == ([] if want is None else [want])

    def lookup(self, i: int) -> tuple[bool, dict]:
        """A present id, then an absent one (the ids alternate)."""
        ids = self.inputs.expected.lookups
        pair = [ids[(2 * i + k) % len(ids)] for k in (0, 1)]
        ok = all([self._lookup_one(d, want) for d, want in pair])
        return ok, {"calls": 2}
