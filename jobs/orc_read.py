"""Distributed ORC file ingestion (SURVEY.md §2.5 M6 as a *file*
surface, the read twin of jobs/orc_write.py).

One Spark stage, no shuffle, and no row passes through the driver:

1. **Plan** — plan_orc_splits, the one planner behind both read_orc_dir
   and the orcx source's partitions() (jobs/datasource.py). Up to
   DISTRIBUTED_PLANNING_THRESHOLD files (4096) the driver range-reads
   only the ~KB file tails, with threads, drops statistics-precluded
   stripes (engine.orc_read.stripes_matching) and bins each file's
   surviving stripes into splits of ~SPLIT_BYTES; every split carries
   the raw tail it was planned from. Past the threshold it reads no
   tail at all: each file becomes SPLIT_BYTES byte ranges planned from
   its size, and the task reads its own tail, claims the stripes whose
   offset falls in its range and prunes them (resolve_range) — a
   million-file listing plans at os.stat speed.
2. **Decode** — the split list rides in the task closure and
   ``spark.range(n_splits, numPartitions=t)`` hands task k the
   contiguous index run [k·n/t, (k+1)·n/t): t = min(splits,
   parallelism) tasks, at most ⌈n/t⌉ splits each, no shuffle. Each
   task parses the shipped tail instead of reading it again and
   range-reads just its stripes' bytes
   (engine.orc_read.read_orc_stripes), so a file split 100 ways costs
   each task 1/100th of its bytes. Column projection skips unprojected
   streams entirely (never inflated).
3. **Filter** — bind_filters is the one definition of the
   ``[(column, op, literal)]`` conjunction: it checks the ops and
   literals on the driver and types string literals against the file
   schema. The bound list prunes stripes at planning and row groups
   in the task (engine.orc_read, superset tiers), and the same task
   then applies it exactly to the decoded Arrow table, before any row
   crosses into the JVM. read_orc_dir and the orcx ``filters`` option
   both go through it.

The decoders are this engine's vectorized codecs, so files written by
ORC C++ (pyarrow), orc-core Java (spark.write.orc), or
jobs/orc_write.py all come back identically — cross-checked in
tests/test_orc_read.py and the ``orc_read_distributed`` driver query.

Path contract: files must be visible to every task (shared FS or
local mode), same as jobs/orc_write.py; the object-store swap-in is
the Hadoop FS API.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import decimal

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import InputPartition
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from jobs.table_io import _require_local

# above this many files the planner reads no tail (plan_orc_splits)
DISTRIBUTED_PLANNING_THRESHOLD = 4096
SPLIT_BYTES = 64 << 20


class EmptyOrcDirError(FileNotFoundError):
    """A path that resolved but yielded ZERO .orc files — an empty
    directory, a glob with no matches, or a legitimately-committed
    empty snapshot (a write of zero rows publishes a manifest naming
    no files). Distinct from plain FileNotFoundError so surfaces with
    a user-supplied schema (orcx partitions()) can map *emptiness* to
    a valid empty scan while the fail-loud corruption signals — no
    _SUCCESS manifest, manifest naming deleted files — still raise."""


def list_orc_files(path: str, use_manifest: bool = False) -> list[str]:
    """Deterministic file list for a directory, a glob, or one file.

    ``use_manifest``: read the committed SNAPSHOT instead of the
    listing — the ``_SUCCESS`` manifest the orcx batch writer commits
    (jobs/datasource.py) names exactly the files its job published,
    so a reader sees an atomic job result even while stragglers,
    retries of a newer job, or an in-progress compaction are adding
    files to the same directory. Fail-loud when the manifest names a
    file that no longer exists (the snapshot was broken by a delete,
    not by concurrent adds) or when no manifest exists."""
    path = _require_local(path)
    if use_manifest:
        import json as _json
        m = os.path.join(path, "_SUCCESS")
        if not os.path.isfile(m):
            raise FileNotFoundError(
                f"{path!r} has no _SUCCESS manifest; written by a "
                "non-committing writer? (use_manifest=False lists "
                "the directory instead)")
        with open(m) as f:
            files = sorted(_json.loads(line)["path"]
                           for line in f if line.strip())
        missing = [p for p in files if not os.path.isfile(p)]
        if missing:
            raise FileNotFoundError(
                f"manifest {m} names deleted files: {missing[:3]}")
        if not files:
            # a zero-row job commits a manifest naming no files: a
            # valid (empty) snapshot, not corruption — the sentinel
            # lets schema-supplied scans return empty instead of the
            # files[0] IndexError this used to hit downstream
            raise EmptyOrcDirError(
                f"manifest {m} commits an empty snapshot "
                "(zero files)")
        return files
    if os.path.isdir(path):
        found = sorted(glob.glob(os.path.join(path, "*.orc")))
        if not found:
            # fail loud here, once, instead of the obscure downstream
            # crashes an empty listing used to cause (files[0] Index-
            # Error, ThreadPoolExecutor(max_workers=0))
            raise EmptyOrcDirError(
                f"directory {path!r} contains no .orc files")
        return found
    found = sorted(glob.glob(path))
    if not found:
        if glob.has_magic(path):
            raise EmptyOrcDirError(f"no ORC files match {path!r}")
        raise FileNotFoundError(f"no ORC files match {path!r}")
    return found


_INT_RANK = {8: 0, 16: 1, 32: 2, 64: 3}  # bit width; ORC ints are signed


def _widen_type(a: pa.DataType, b: pa.DataType) -> pa.DataType:
    """The wider of two ORC-file types along orc-core's
    ConvertTreeReader widening axes — int8→int16→int32→int64,
    float→double, and decimal precision growth at equal scale —
    recursing through list/struct shapes. Anything else (string vs
    int, scale drift, narrowing would lose rows) raises: a mixed
    directory that far gone needs an explicit rewrite, not a guess."""
    if a.equals(b):
        return a
    if pa.types.is_integer(a) and pa.types.is_integer(b):
        return a if _INT_RANK[a.bit_width] >= _INT_RANK[b.bit_width] \
            else b
    if pa.types.is_floating(a) and pa.types.is_floating(b):
        return a if a == pa.float64() else b
    if pa.types.is_decimal(a) and pa.types.is_decimal(b) \
            and a.scale == b.scale:
        # precision growth only widens the digit budget: every value
        # of the narrow file fits the wide type exactly
        return a if a.precision >= b.precision else b
    if pa.types.is_large_list(a) and pa.types.is_large_list(b):
        return pa.large_list(_widen_type(a.value_type, b.value_type))
    if pa.types.is_struct(a) and pa.types.is_struct(b) and \
            [f.name for f in a] == [f.name for f in b]:
        return pa.struct([
            pa.field(f.name, _widen_type(f.type, b.field(i).type))
            for i, f in enumerate(a)])
    raise ValueError(f"ORC schema drift {a} vs {b} is not a widening")


def merged_orc_schema(files: list[str],
                      spark: SparkSession | None = None,
                      distributed_threshold: int = 64) -> pa.Schema:
    """The union-of-fields, widest-of-types Arrow schema across a
    directory's file tails — the reference schema an evolving job's
    directory needs (columns added over time, int32 columns widened
    to int64, float to double; orc-core ConvertTreeReader semantics).
    Field order is first-seen. Probing reads only the ~KB tails:
    threaded driver-side below ``distributed_threshold`` files, as a
    one-stage Spark job above it (one tail read per file, tiny
    serialized schemas back to the driver) so a million-file listing
    never serializes through driver threads."""
    from engine.orc_read import read_orc_tail
    if spark is not None and len(files) > distributed_threshold:
        def probe(p):
            import pyarrow as pa

            from engine.orc_read import read_orc_tail
            buf = read_orc_tail(p).schema().serialize()
            yield pa.RecordBatch.from_arrays(
                [pa.array([buf.to_pybytes()], type=pa.large_binary())],
                names=["schema"])

        # rows come back in file-list order (_map_in_tasks), so the
        # "first-seen" field order of the merged schema is deterministic
        rows = _map_in_tasks(spark, files, probe, "schema binary").collect()
        schemas = [pa.ipc.read_schema(pa.py_buffer(bytes(r["schema"])))
                   for r in rows]
    else:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
            schemas = list(ex.map(
                lambda p: read_orc_tail(p).schema(), files))
    fields: dict[str, pa.DataType] = {}
    for sch in schemas:
        for f in sch:
            if f.name in fields:
                try:
                    fields[f.name] = _widen_type(fields[f.name], f.type)
                except (ValueError, KeyError) as e:
                    raise ValueError(
                        f"column {f.name!r} across this directory: {e}")
            else:
                fields[f.name] = f.type
    return pa.schema(list(fields.items()))


# the filter ops and the exact Arrow evaluator of each (bind_filters,
# _apply_filters_exact)
_EXACT_OPS = {
    "=": pc.equal, "<": pc.less, "<=": pc.less_equal,
    ">": pc.greater, ">=": pc.greater_equal,
    "in": lambda a, v: pc.is_in(a, value_set=pa.array(list(v))),
    "starts_with": lambda a, v: pc.starts_with(a, pattern=v),
    "is_null": lambda a, _: pc.is_null(a),
    "not_null": lambda a, _: pc.is_valid(a),
}


def bind_filters(filters, schema: pa.Schema) -> list[tuple]:
    """Check a ``filters`` conjunction of ``(column, op, literal)``
    items (lists from JSON too) and bind it to ``schema``: the one
    place that defines the ops and literal rules, shared by
    read_orc_dir, the orcx ``filters`` option and import-orc.

    Ops are ``= < <= > >= in starts_with`` and the valueless
    ``is_null`` / ``not_null``; ``==`` binds as ``=``. A dotted column
    (``meta.score``) names a struct field. A ``str`` literal converts
    to the column's type — int for integer and date kinds, float for
    floating kinds, Decimal for decimals; other literals,
    ``starts_with`` prefixes and columns ``schema`` does not resolve
    pass through. ``in`` members become a tuple. Raises ValueError for
    an unknown op, a valued op with no literal, or a string that does
    not parse as the column's type."""
    bound = []
    for item in filters or ():
        col, op = item[0], item[1]
        val = item[2] if len(item) > 2 else None
        op = "=" if op == "==" else op
        if op not in _EXACT_OPS:
            raise ValueError(f"filters: unsupported op {op!r}")
        if op in ("is_null", "not_null"):
            bound.append((col, op, None))
            continue
        if val is None:
            # a missing literal would compare NULL and silently match
            # no row
            raise ValueError(f"filters: op {op!r} on {col!r} needs a "
                             "literal — [column, op, value]")
        if op != "starts_with":
            typ = _column_type(schema, col)
            val = tuple(_typed_literal(m, typ, col) for m in val) \
                if op == "in" else _typed_literal(val, typ, col)
        bound.append((col, op, val))
    return bound


def _column_type(schema: pa.Schema, name: str) -> pa.DataType | None:
    """The type of a filter column: an exact top-level field first,
    else a dotted path through struct fields; None if neither."""
    i = schema.get_field_index(name)
    if i >= 0:
        return schema.field(i).type
    typ, fields = None, list(schema)
    for part in name.split("."):
        match = [f for f in fields if f.name == part]
        if not match:
            return None
        typ = match[0].type
        fields = list(typ) if pa.types.is_struct(typ) else []
    return typ


def _typed_literal(val, typ: pa.DataType | None, col: str):
    if not isinstance(val, str) or typ is None:
        return val
    if pa.types.is_integer(typ) or pa.types.is_date(typ):
        cast = int
    elif pa.types.is_floating(typ):
        cast = float
    elif pa.types.is_decimal(typ):
        # a Decimal (not str) literal engages the decimal stats and
        # bloom tiers
        cast = decimal.Decimal
    else:
        return val
    try:
        return cast(val)
    except (ValueError, ArithmeticError):
        raise ValueError(f"filters: literal {val!r} on {col!r} is not "
                         f"a {typ} value") from None


@dataclass
class OrcInputPartition(InputPartition):
    """One read split: a run of surviving stripes of one file, their
    row count, and the raw file tail the planner parsed them from
    (None when the planner read none), so the task never reads that
    tail again."""
    path: str
    stripes: tuple
    n_rows: int = 0
    tail: bytes | None = field(default=None, repr=False)

    def tail_info(self):
        """The parsed tail: from the shipped bytes, else read."""
        from engine.orc_read import OrcFileInfo, read_orc_tail
        if self.tail is None:
            return read_orc_tail(self.path)
        info = OrcFileInfo(memoryview(self.tail))
        info.tail_only = True
        return info


@dataclass
class OrcRangePartition(InputPartition):
    """One distributed-planning split: a byte range [start, end) of
    one file, planned from the directory listing's file sizes ALONE —
    zero tail reads on the driver. The task owns the stripes whose
    StripeInformation.offset falls inside its range (the parquet/Hive
    split-assignment convention), resolves them from the ~KB tail it
    reads itself, and prunes statistics-precluded stripes there, so
    both planning I/O and pruning CPU scale with the executors."""
    path: str
    start: int
    end: int


def plan_orc_splits(files: list[str],
                    filters: list[tuple] | None = None,
                    split_bytes: int = SPLIT_BYTES,
                    threshold: int | None = None) -> list:
    """The ORC read planner shared by read_orc_dir and the orcx
    source's partitions(). Returns [] when no stripe survives.

    Up to ``threshold`` files (default DISTRIBUTED_PLANNING_THRESHOLD)
    it reads every ~KB tail, with threads, keeps the stripes that MAY
    match ``filters`` (engine.orc_read.stripes_matching — per-stripe
    Metadata statistics, so pruned stripes and fully-pruned files cost
    no stripe byte and no task; a file without statistics keeps all
    its stripes) and bins each file's survivors into OrcInputPartition
    runs of ~``split_bytes`` stripe bytes, each carrying its tail.
    Past the threshold it reads no tail: every file becomes
    ``split_bytes`` OrcRangePartition byte ranges from its size, which
    the task resolves and prunes itself (resolve_range)."""
    from concurrent.futures import ThreadPoolExecutor

    from engine.orc_read import read_orc_tail, stripes_matching
    if threshold is None:
        threshold = DISTRIBUTED_PLANNING_THRESHOLD
    if len(files) > threshold:
        return [OrcRangePartition(p, s, s + split_bytes) for p in files
                for s in range(0, max(os.path.getsize(p), 1),
                               split_bytes)]

    def plan(p: str) -> list[OrcInputPartition]:
        info = read_orc_tail(p)
        tail = bytes(info.data)
        runs, run, sz = [], [], 0
        for i in stripes_matching(info, filters or None):
            si = info.stripes[i]
            run.append(i)
            sz += si[2] + si[3] + si[4]  # index+data+footer bytes
            if sz >= split_bytes:
                runs.append(run)
                run, sz = [], 0
        if run:
            runs.append(run)
        return [OrcInputPartition(p, tuple(r),
                                  sum(info.stripes[i][5] for i in r), tail)
                for r in runs]

    # tail reads are ~KB I/O; threads overlap them
    with ThreadPoolExecutor(max_workers=max(1, min(32, len(files)))) as ex:
        return [s for per_file in ex.map(plan, files) for s in per_file]


def resolve_range(split: OrcRangePartition, filters: list[tuple] | None
                  ) -> tuple[OrcInputPartition, object]:
    """Task-side half of distributed planning: read the ~KB tail,
    claim the stripes whose offset lies in [start, end), drop the
    statistics-precluded ones (the same stripes_matching tier the
    driver-side planner applies), and return the equivalent stripe
    split plus the parsed tail, so the decode reads it once."""
    from engine.orc_read import read_orc_tail, stripes_matching
    info = read_orc_tail(split.path)
    keep = set(stripes_matching(info, filters or None))
    stripes = tuple(i for i, si in enumerate(info.stripes)
                    if i in keep and split.start <= si[1] < split.end)
    return OrcInputPartition(
        split.path, stripes,
        sum(info.stripes[i][5] for i in stripes)), info


def read_split(split: OrcInputPartition | OrcRangePartition, schema,
               filters: list[tuple] | None = None,
               convention: str | None = None,
               allow_missing: bool = False,
               exact_filters: list[tuple] = ()):
    """Task-side decode of one planned split, shared by read_orc_dir
    and the orcx batch and stream readers: byte range -> its stripes
    (resolve_range) -> engine stripe-range read (``filters`` prune row
    groups as a superset) -> EXACT Arrow-side application of
    ``exact_filters`` (bound by bind_filters) -> null-fill of columns
    the file predates (only with ``allow_missing``) -> cast to the
    Spark ``schema``'s Arrow convention -> RecordBatches.
    ``convention``: pre-1970 timestamp convention (default per file)."""
    from engine.orc_read import read_orc_stripes

    # Spark's own arrow convention (us timestamps, utf8 not
    # large_utf8) — each stripe batch is cast into it
    target = to_arrow_schema(schema)
    info = None
    if isinstance(split, OrcRangePartition):
        split, info = resolve_range(split, filters)
    if not split.stripes:
        yield from target.empty_table().to_batches()
        return
    info = info or split.tail_info()
    names = list(target.names)
    got = info.types[0].field_names
    # a filter may reference a non-projected column: decode its
    # top-level root too, filter exactly, then drop it
    roots = [f[0] if f[0] in got else f[0].split(".")[0]
             for f in exact_filters]
    absent = [c for c in names if c not in got]
    if not allow_missing and (absent or not set(roots) <= set(got)):
        raise ValueError(
            f"{split.path}: ORC schema {got} lacks projected or "
            f"filtered {names + roots}; to null-fill columns this file "
            "predates, pass allow_missing_columns=True (read_orc_dir) "
            "or set merge_schema=true (orcx)")
    # a filter on a column the file PREDATES sees null for every row:
    # is_null is vacuously true (drop the conjunct), everything else —
    # comparisons AND not_null — matches no row (empty split)
    if any(f[1] != "is_null" for f, r in zip(exact_filters, roots)
           if r not in got):
        yield from target.empty_table().to_batches()
        return
    exact_filters = [f for f, r in zip(exact_filters, roots) if r in got]
    # dict.fromkeys: two filters on one non-projected column (the
    # classic range filter lo <= c <= hi) must add its root ONCE — a
    # duplicated projection column makes tbl.column() ambiguous
    extra = list(dict.fromkeys(r for r in roots
                               if r in got and r not in names))
    tbl = read_orc_stripes(
        split.path, list(split.stripes),
        columns=[c for c in names if c not in absent] + extra,
        convention=convention, info=info, filters=filters or None)
    if exact_filters:
        tbl = _apply_filters_exact(tbl, exact_filters)
    for c in absent:
        tbl = tbl.append_column(
            target.field(c), pa.nulls(len(tbl), target.field(c).type))
    yield from tbl.select(names).cast(target).to_batches()


def _apply_filters_exact(tbl, filters: list[tuple]):
    """Exact Arrow-side conjunction of bind_filters output: a null
    never matches, and neither does a NaN in a comparison. Dotted
    names resolve through struct fields."""
    mask = None
    for col, op, val in filters:
        arr = tbl.column(col) if "." not in col else pc.struct_field(
            tbl.column(col.split(".")[0]), col.split(".")[1:])
        m = pc.fill_null(_EXACT_OPS[op](arr, val), False)
        mask = m if mask is None else pc.and_(mask, m)
    return tbl.filter(mask) if mask is not None else tbl


def _map_in_tasks(spark: SparkSession, items: list, fn, schema,
                  parallelism: int | None = None) -> DataFrame:
    """``mapInArrow`` of ``fn(item)`` (an iterator of RecordBatches)
    over ``items`` with no shuffle: the list rides in the task closure
    and spark.range hands task k the contiguous index run
    [k·n/t, (k+1)·n/t), so t = min(n, parallelism) tasks get at most
    ⌈n/t⌉ items each and output rows follow the list order."""
    n_tasks = max(1, min(len(items), parallelism
                         or spark.sparkContext.defaultParallelism))

    def run(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from fn(items[i])

    return spark.range(len(items), numPartitions=n_tasks) \
        .mapInArrow(run, schema)


def read_orc_dir_stats(spark: SparkSession, path: str,
                       columns: list[str],
                       sums: list[str] | tuple = (),
                       use_manifest: bool = False) -> DataFrame:
    """Metadata-only table statistics: one row per file with its row
    count and each requested column's file-level min/max, read from
    the ~KB file tails ALONE (engine.orc_read.OrcFileInfo.file_stats —
    Footer ColumnStatistics; zero stripe bytes touched). COUNT/MIN/MAX
    over a million-file table costs one tail read per file. Columns
    must be int/float/string/decimal/date top-level fields; a file
    without footer statistics yields typed nulls for min/max (its
    n_rows still counts).

    ``sums``: integer or float columns to additionally surface the
    footer statistics sum for (``sum_<col>``: int64 from
    IntegerStatistics, float64 from DoubleStatistics — field 3 of
    both) — SUM over a whole table from file tails alone. Null when
    a file's writer omitted the sum (int overflow / non-finite
    float convention, pre-sum writer). Float sums are order-
    dependent in the last ulp, exactly like any parallel SUM.

    ``use_manifest``: aggregate over the ``_SUCCESS``-committed
    snapshot instead of the listing (see list_orc_files)."""
    files = list_orc_files(path, use_manifest=use_manifest)
    from engine.orc_read import read_orc_tail
    schema = read_orc_tail(files[0]).schema()
    fields = [pa.field("path", pa.string()),
              pa.field("n_rows", pa.int64())]
    for c in columns:
        i = schema.get_field_index(c)
        if i < 0:
            raise KeyError(f"column {c!r} not in ORC schema "
                           f"{schema.names}")
        t = schema.field(i).type
        if pa.types.is_date(t):
            t = pa.date32()
        elif not (pa.types.is_integer(t) or pa.types.is_floating(t)
                  or pa.types.is_string(t) or pa.types.is_large_string(t)
                  or pa.types.is_decimal(t)):
            raise NotImplementedError(
                f"tail-stats on column {c!r} of type {t} (supported: "
                "int/float/string/decimal/date)")
        fields.append(pa.field(f"min_{c}", t))
        fields.append(pa.field(f"max_{c}", t))
    for c in sums:
        i = schema.get_field_index(c)
        if i < 0:
            raise KeyError(f"column {c!r} not in ORC schema "
                           f"{schema.names}")
        t = schema.field(i).type
        if pa.types.is_integer(t):
            fields.append(pa.field(f"sum_{c}", pa.int64()))
        elif pa.types.is_floating(t):
            fields.append(pa.field(f"sum_{c}", pa.float64()))
        else:
            raise NotImplementedError(
                f"tail-sum on column {c!r}: only integer "
                "(IntegerStatistics) and float (DoubleStatistics) "
                "columns carry a footer sum")
    out_schema = pa.schema(fields)
    ddl = ", ".join(
        f"{f.name} {from_arrow_schema(pa.schema([f]))[0].dataType.simpleString()}"
        for f in out_schema)

    def stats(p):
        import pyarrow as pa

        from engine.orc_read import read_orc_tail
        info = read_orc_tail(p)
        fs = info.file_stats()
        sch = info.schema()
        arrs = [pa.array([p], type=pa.string()),
                pa.array([info.num_rows], type=pa.int64())]
        for c in columns:
            # flattened ids: root=0, top-level col i -> subtree root
            # at root.subtypes[i]. A schema-evolved file missing the
            # column yields typed nulls (its n_rows still counts) —
            # get_field_index returns -1 there, which would silently
            # index the LAST column's stats
            j = sch.get_field_index(c)
            if j < 0:
                st = {}
            else:
                fid = info.types[0].subtypes[j]
                st = (fs[fid] if fs and fid < len(fs) else {}) or {}
            typ = out_schema.field(f"min_{c}").type
            for key in ("min", "max"):
                v = st.get(key)
                if v is not None and pa.types.is_date32(typ):
                    arr = pa.array([v], type=pa.int32()).cast(pa.date32())
                else:
                    arr = pa.array([v], type=typ)
                arrs.append(arr)
        for c in sums:
            j = sch.get_field_index(c)
            st = {}
            if j >= 0:
                fid = info.types[0].subtypes[j]
                st = (fs[fid] if fs and fid < len(fs) else {}) or {}
            arrs.append(pa.array([st.get("sum")],
                                 type=out_schema.field(f"sum_{c}").type))
        yield pa.RecordBatch.from_arrays(arrs, schema=out_schema)

    return _map_in_tasks(spark, files, stats, ddl)


def read_orc_dir(spark: SparkSession, path: str,
                 columns: list[str] | None = None,
                 convention: str | None = None,
                 parallelism: int | None = None,
                 filters: list[tuple] | None = None,
                 allow_missing_columns: bool = False,
                 use_manifest: bool = False,
                 merge_schemas: bool = False) -> DataFrame:
    """Read a directory of ORC files as a DataFrame with this
    engine's decoders. ``convention`` pins the pre-1970 timestamp
    convention (default: keyed per file off ``Footer.writer``,
    engine/orc_read.py). Schemas must agree across files (checked in
    the decode tasks against the driver-probed first tail), unless
    ``allow_missing_columns`` is set: then a file lacking a projected
    column fills it with typed nulls — the spark.read.orc
    ``mergeSchema`` ergonomics for a directory written by an evolving
    job (columns added over time). The column's TYPE still must agree
    where present; the driver-probed first tail is the reference, so
    point ``columns`` at the union schema (or probe the newest file
    first) when schemas differ.

    ``merge_schemas``: probe EVERY tail and read at the
    union-of-fields, widest-of-types schema (merged_orc_schema —
    int8→int16→int32→int64 and float→double drift casts up per file,
    orc-core ConvertTreeReader semantics; missing columns null-fill
    as with allow_missing_columns). The probe distributes as a Spark
    job above 64 files, so the driver never fans a huge listing
    through threads.

    ``filters``: [(column, op, literal)] conjunction, checked and
    typed on the driver by bind_filters against the probed (or
    merged) schema before projection; a filter column that schema
    lacks raises KeyError. It prunes in two superset tiers — planning
    drops statistics-precluded stripes before any stripe byte is read
    (engine.orc_read.stripes_matching), and each decode task drops
    statistics- and bloom-precluded ROW GROUPS inside its stripes,
    seeking to the survivors via the ROW_INDEX positions
    (engine.orc_read.row_groups_matching) — and then the decode task
    applies it exactly to the decoded Arrow table, so the result is
    exact, not a superset. A filter column need not be in ``columns``;
    a dotted filter column (``meta.score``) prunes on the nested
    field's own statistics. The exact filter has Arrow semantics: a
    null never matches, and NaN matches no comparison (Spark SQL
    instead orders NaN above every number).

    One Spark stage, no shuffle (module docstring): plan_orc_splits
    plans on the driver — threaded tail reads and stripe pruning up to
    DISTRIBUTED_PLANNING_THRESHOLD files, tail-free byte ranges the
    tasks resolve past it — and the splits go, in list order, to
    min(len(splits), ``parallelism``) decode tasks (default the
    session's default parallelism), at most ⌈splits/tasks⌉ each.
    """
    files = list_orc_files(path, use_manifest=use_manifest)
    from engine.orc_read import read_orc_tail
    if merge_schemas:
        arrow_schema = merged_orc_schema(files, spark=spark)
        allow_missing_columns = True
    else:
        arrow_schema = read_orc_tail(files[0]).schema()
    filters = bind_filters(filters, arrow_schema)
    missing = [c for c in columns or ()
               if arrow_schema.get_field_index(c) < 0]
    missing += [f[0] for f in filters
                if _column_type(arrow_schema, f[0]) is None]
    if missing:
        raise KeyError(f"columns not in ORC schema: {missing}")
    if columns is not None:
        arrow_schema = pa.schema(
            [arrow_schema.field(c) for c in columns])
    # prefer_timestamp_ntz=False: Spark's own ORC reader maps the
    # plain `timestamp` kind to TIMESTAMP (LTZ) — match it, so this
    # reader is a drop-in for spark.read.orc on the same files
    spark_schema = from_arrow_schema(arrow_schema,
                                     prefer_timestamp_ntz=False)
    splits = plan_orc_splits(files, filters)

    def decode(split):
        return read_split(split, spark_schema, filters, convention,
                          allow_missing_columns, exact_filters=filters)

    return _map_in_tasks(spark, splits, decode, spark_schema, parallelism)
