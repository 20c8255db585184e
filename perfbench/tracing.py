"""Traced runs: spans, the Spark event log, and an in-process kernel
replay, reduced to the per-layer metrics.

A traced run (``--trace 1``) does three things:

1. Spans. While a traced operation runs, wrappers on the public
   attributes of ``jobs.*`` and on PySpark's actions record spans (name,
   start, end, parent, one trace id per operation) in memory. Engine
   modules call each other through module attributes (``from . import
   rle2``), so a wrapper on the attribute is what callers resolve.
   Untraced and traced cycles alternate; the ratio of their walls is
   the tracing overhead.
2. Spark event log. Each Spark job is attributed to the innermost span
   enclosing its submission time, which splits Spark's task metrics by
   operation and by layer.
3. Replay. After the timed cycles the benchmark re-runs the Python
   kernels on the same slabs in its own process (one core): once without
   wrappers for the kernel-alone time, once under engine-level wrappers
   for per-stage self time and byte counts, plus the first lookup and
   range queries block by block (or stripe by stripe) for pruning counts.

Metrics of layers a workload never touches read 0 (the orc workload has
no blocks table and the roundtrip workload writes no ORC).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager

# the replay runs the first few of the run's queries: enough to count
# pruning, few enough that a range read that prunes nothing (a full
# decode on the doc_range layout) does not dominate the traced run
REPLAY_LOOKUPS = 8
REPLAY_RANGES = 4

# per-layer metric -> unit, in printed order
UNITS = {
    "encode.plan_s": "s", "encode.sink_s": "s", "encode.commit_s": "s",
    "encode.kernel_s": "s", "encode.task_skew": "ratio",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_write_s": "s",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes",
    "arrow.boundary_s": "s",
    "blocks.encode_block.self_s": "s", "blocks.decode_block.self_s": "s",
    "blocks.count": "count", "blocks.out_bytes": "bytes",
    "rle2.encode_rlev2.self_s": "s", "rle2.decode_rlev2.self_s": "s",
    "bitpack.packed_matrix.self_s": "s",
    "bitpack.unpack_matrix.self_s": "s", "rle2.bytes_out": "bytes",
    "compress.compress_stream.self_s": "s",
    "compress.decompress_stream.self_s": "s",
    "compress.bytes_in": "bytes", "compress.bytes_out": "bytes",
    "strings.encode_strings.self_s": "s", "fsst.build_table.self_s": "s",
    "strings.decode_strings.self_s": "s", "strings.bytes_out": "bytes",
    "bloom.add_strings.self_s": "s", "bloom.test_strings.self_s": "s",
    "lookup.blocks_read": "count", "lookup.blocks_bloom_pruned": "count",
    "lookup.bloom_false_pos": "count",
    "lookup.token_bytes_per_hit": "bytes", "decode.read_blocks_s": "s",
    "range.blocks_pruned": "count", "range.blocks_total": "count",
    "range.strides_decoded": "count", "range.strides_total": "count",
    "blocks.decode_block_rows.self_s": "s",
    "orc_file.write_orc.self_s": "s", "orc.bytes_out": "bytes",
    "orc_read.plan_s": "s", "orc_read.read_orc_stripes.self_s": "s",
    "orc_read.row_groups_matching.self_s": "s",
    "orc.stripes_read": "count", "orc.stripes_total": "count",
    "orc.row_groups_read": "count", "orc.bytes_read": "bytes",
    "host.cpu_user_s": "s", "host.cpu_sys_s": "s",
    "host.sys_user_ratio": "ratio", "host.pgmajfault": "count",
    "phase.write.unattributed_s": "s", "phase.scan.unattributed_s": "s",
    "phase.lookup.unattributed_s": "s", "phase.range.unattributed_s": "s",
    "phase.replay.unattributed_s": "s",
    "trace.overhead_frac": "fraction",
}


def _nbytes(x) -> int:
    if isinstance(x, tuple):  # encode_rlev2(with_sizes=True)
        x = x[0]
    return len(x) if isinstance(x, (bytes, bytearray)) else int(x.nbytes)


def _spark_targets():
    """(owner, attribute, span name) wrapped around traced operations:
    the jobs-level entry points and PySpark's actions."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import engine.orc_read as eor
    import jobs.decode as jd
    import jobs.encode as je
    import jobs.orc_read as jor
    import jobs.orc_write as jow
    import jobs.table_io as jt
    return [
        (je, "encode_table", "encode.encode_table"),
        (je, "plan_input_ranges", "encode.plan"),
        (je, "plan_partitions", "encode.plan"),
        (jt, "commit", "encode.commit"),
        (jd, "decode_table", "decode.decode_table"),
        (jd, "lookup_doc_ids", "decode.lookup_doc_ids"),
        (jd, "read_blocks", "decode.read_blocks"),
        (je, "read_blocks", "decode.read_blocks"),
        (jow, "write_orc_dir", "orc_write.write_orc_dir"),
        (jor, "read_orc_dir", "orc_read.read_orc_dir"),
        (jor, "list_orc_files", "orc_read.plan"),
        (jor, "plan_orc_splits", "orc_read.plan"),
        (eor, "read_orc_tail", "orc_read.plan"),
        (DataFrame, "collect", "spark.collect"),
        (DataFrame, "count", "spark.count"),
        (DataFrameWriter, "parquet", "spark.write_parquet"),
    ]


def _engine_targets():
    """(owner, attribute, span name, byte counter) for the replay."""
    import engine.bitpack as bp
    import engine.blocks as bl
    import engine.bloom as bf
    import engine.compress as co
    import engine.fsst as fs
    import engine.orc_file as of
    import engine.orc_read as eor
    import engine.rle2 as r2
    import engine.strings as st
    import jobs.orc_read as jor

    def strings_out(a, k, r):
        return sum(_nbytes(r[s]) for s in ("data", "length", "dict_data"))

    def row_groups(a, k, r):
        if r is not None:
            return len(r)
        stride = a[0].info.row_index_stride  # None: every group decoded
        return -(-a[0].n_rows // stride) if stride else 1

    return [
        (bl, "encode_block", "blocks.encode_block", None),
        (bl, "decode_block", "blocks.decode_block", None),
        (bl, "decode_block_rows", "blocks.decode_block_rows", None),
        (r2, "encode_rlev2", "rle2.encode_rlev2",
         ("rle2.bytes_out", lambda a, k, r: _nbytes(r))),
        (r2, "decode_rlev2", "rle2.decode_rlev2", None),
        (bp, "packed_matrix", "bitpack.packed_matrix", None),
        (bp, "unpack_matrix", "bitpack.unpack_matrix", None),
        (co, "compress_stream", "compress.compress_stream",
         ("compress.bytes_out", lambda a, k, r: len(r))),
        (co, "decompress_stream", "compress.decompress_stream", None),
        (st, "encode_strings", "strings.encode_strings",
         ("strings.bytes_out", strings_out)),
        (st, "decode_strings", "strings.decode_strings", None),
        (fs, "build_table", "fsst.build_table", None),
        (bf.BloomFilter, "add_strings", "bloom.add_strings", None),
        (bf.BloomFilter, "test_strings", "bloom.test_strings", None),
        (of, "write_orc", "orc_file.write_orc", None),
        (eor, "read_orc_stripes", "orc_read.read_orc_stripes", None),
        (eor, "row_groups_matching", "orc_read.row_groups_matching",
         ("orc.row_groups_read", row_groups)),
        (eor, "read_orc_tail", "orc_read.plan", None),
        (eor, "stripes_matching", "orc_read.plan", None),
        (jor, "list_orc_files", "orc_read.plan", None),
    ]


class Tracer:
    def __init__(self, event_dir: str):
        self.event_dir = event_dir
        # span: [trace, id, parent, name, t0, t1]
        self.spans: list[list] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.ops: list[dict] = []   # traced operations, in run order
        self._stack: list[int] = []
        self._trace = 0
        self._patches: list[tuple] = []
        self.replay_span = None
        self.replay_wall = 0.0
        self.replay_ok = True
        self.alone = {"write": 0.0, "scan": 0.0}

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [self._trace, sid, parent, name, time.time(), None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[5] = time.time()

    def _wrap(self, owner, attr: str, name: str, counter=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **k):
            with tracer.span(name):
                r = fn(*a, **k)
            if counter is not None:
                tracer.counters[counter[0]] += counter[1](a, k, r)
            return r

        wrapped.__wrapped__ = fn
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, fn))

    def _unwrap(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    @contextmanager
    def op(self, kind: str):
        """One traced operation: a new trace id, the Spark-side
        wrappers installed for its duration, one root span."""
        self._trace += 1
        for owner, attr, name in _spark_targets():
            self._wrap(owner, attr, name)
        try:
            with self.span(f"op.{kind}") as rec:
                yield rec
        finally:
            self._unwrap()
        self.ops.append({"kind": kind, "span": rec[1], "trace": rec[0]})

    # -- replay --------------------------------------------------------
    def replay(self, store, inputs) -> None:
        """Kernel-alone and per-stage replay of the last written table
        (call after the timed cycles)."""
        t0 = time.perf_counter()
        run = self._replay_orc if store.layout == "orc" \
            else self._replay_blocks
        run(store, inputs, traced=False)  # kernel-alone, no wrappers
        self._trace += 1
        self._install_engine()
        try:
            with self.span("replay") as rec:
                run(store, inputs, traced=True)
        finally:
            self._unwrap()
        self.replay_span = rec[1]
        self.replay_wall = time.perf_counter() - t0

    def _install_engine(self) -> None:
        for owner, attr, name, counter in _engine_targets():
            self._wrap(owner, attr, name, counter)
        # bytes into the outer codec: the argument of compress_stream
        import engine.compress as co
        inner = co.compress_stream
        tracer = self

        def count_in(data, *a, **k):
            tracer.counters["compress.bytes_in"] += _nbytes(data)
            return inner(data, *a, **k)

        co.compress_stream = count_in
        self._patches.append((co, "compress_stream", inner))

    def _replay_blocks(self, store, inputs, traced: bool) -> None:
        import engine.blocks as bl
        import pyarrow.parquet as pq

        from jobs import table_io
        rows = pq.read_table(table_io.data_dir(store.path)).to_pylist()
        rows.sort(key=lambda r: (r["part_id"], r["block_id"]))
        enc = dec = 0.0
        fsst_cache: dict = defaultdict(dict)  # one per part, as in Spark
        for i, row in enumerate(rows):
            t = time.perf_counter()
            batch = bl.decode_block(row)
            t1 = time.perf_counter()
            again = bl.encode_block(
                batch, part_id=row["part_id"], block_idx=i,
                row_start=row["row_start"], codec=row["codec"],
                fsst_cache=fsst_cache[row["part_id"]])
            t2 = time.perf_counter()
            dec += t1 - t
            enc += t2 - t1
            if again["lineage"]["out_bytes"] != \
                    row["lineage"]["out_bytes"]:
                self.replay_ok = False
        if not traced:
            self.alone = {"write": enc, "scan": dec}
            return
        self.counters["blocks.count"] = len(rows)
        self.counters["blocks.out_bytes"] = sum(
            r["lineage"]["out_bytes"] for r in rows)

        from jobs.decode import block_point_lookup
        for doc_id, want in inputs.expected.lookups[:REPLAY_LOOKUPS]:
            hits = 0
            for row in rows:
                n0 = len(self.spans)
                rb, touched = block_point_lookup(row, [doc_id])
                read = any(s[3] == "blocks.decode_block"
                           for s in self.spans[n0:])
                self.counters["lookup.blocks_read"] += read
                self.counters["lookup.blocks_bloom_pruned"] += not read
                if read and rb is None:
                    self.counters["lookup.bloom_false_pos"] += 1
                if rb is not None:
                    hits += 1
                    self.counters["_token_bytes"] += touched
            self.counters["_hits"] += hits
            if hits != (want is not None):
                self.replay_ok = False
        range_rows = pq.read_table(
            table_io.data_dir(store.range_path)).to_pylist()
        for lo, hi, want in inputs.expected.ranges[:REPLAY_RANGES]:
            n = 0
            for row in range_rows:
                self.counters["range.blocks_total"] += 1
                if row["ntok"]["vmax"] < lo or row["ntok"]["vmin"] > hi:
                    self.counters["range.blocks_pruned"] += 1
                    continue
                strides = row["strides"]
                self.counters["range.strides_total"] += len(strides)
                self.counters["range.strides_decoded"] += sum(
                    1 for s in strides
                    if s["ntok_max"] >= lo and s["ntok_min"] <= hi)
                for r0, r1 in bl.stride_row_spans(row, ntok_min=lo,
                                                  ntok_max=hi):
                    rb, _ = bl.decode_block_rows(row, r0, r1)
                    nt = rb.column("n_tok").to_numpy()
                    n += int(((nt >= lo) & (nt <= hi)).sum())
            if n != want[0]:
                self.replay_ok = False

    def _replay_orc(self, store, inputs, traced: bool) -> None:
        import engine.orc_file as of
        import engine.orc_read as eor
        from engine.blocks import TOKEN_SCHEMA
        from jobs.orc_read import list_orc_files

        files = list_orc_files(store.path)
        enc = dec = 0.0
        with tempfile.TemporaryDirectory(dir=store.work) as tmp:
            for f in files:
                t = time.perf_counter()
                info = eor.read_orc_tail(f)
                # the writer gets Spark's Arrow types (list, not
                # large_list), as in the Spark job
                tbl = eor.read_orc_stripes(
                    f, list(range(len(info.stripes))), info=info
                ).cast(TOKEN_SCHEMA)
                t1 = time.perf_counter()
                out = os.path.join(tmp, os.path.basename(f))
                of.write_orc(tbl, out, stripe_rows=8192,
                             compression="zstd", bloom_columns=("doc_id",))
                t2 = time.perf_counter()
                dec += t1 - t
                enc += t2 - t1
                if os.path.getsize(out) != os.path.getsize(f):
                    self.replay_ok = False
        if not traced:
            self.alone = {"write": enc, "scan": dec}
            return
        queries = [[("doc_id", "=", d)] for d, _ in
                   inputs.expected.lookups[:REPLAY_LOOKUPS]]
        queries += [[("n_tok", ">=", lo), ("n_tok", "<=", hi)]
                    for lo, hi, _ in inputs.expected.ranges[:REPLAY_RANGES]]
        io: dict = {}
        for filters in queries:
            for f in list_orc_files(store.path):
                info = eor.read_orc_tail(f)
                keep = eor.stripes_matching(info, filters)
                self.counters["orc.stripes_total"] += len(info.stripes)
                self.counters["orc.stripes_read"] += len(keep)
                if keep:
                    eor.read_orc_stripes(f, keep, info=info,
                                         filters=filters, io_stats=io)
        self.counters["orc.bytes_read"] = io.get("bytes_read", 0)

    # -- reduction -----------------------------------------------------
    def _self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s[2] is not None and s[5] is not None:
                child[s[2]] += s[5] - s[4]
        return {s[1]: (s[5] - s[4]) - child[s[1]] for s in self.spans
                if s[5] is not None}

    def _events(self) -> tuple[list, dict, dict]:
        """(jobs, stage -> job, stage -> [task]) from the event log."""
        jobs, stage_job, tasks = [], {}, defaultdict(list)
        for path in sorted(glob.glob(os.path.join(self.event_dir, "*"))):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    ev = e["Event"]
                    if ev == "SparkListenerJobStart":
                        jobs.append({"id": e["Job ID"],
                                     "t": e["Submission Time"] / 1e3})
                        for sid in e["Stage IDs"]:
                            stage_job[sid] = e["Job ID"]
                    elif ev == "SparkListenerTaskEnd":
                        tasks[e["Stage ID"]].append(e)
        return jobs, stage_job, tasks

    def layer_metrics(self, runner, store, inputs) -> dict:
        spans = {s[1]: s for s in self.spans}
        selfs = self._self_times()
        m = {k: 0.0 for k in UNITS}

        # replay: per-stage self time, byte counters, pruning counts
        for sid, s in spans.items():
            if s[0] == spans[self.replay_span][0]:
                key = f"{s[3]}.self_s"
                if key in m:
                    m[key] += selfs[sid]
                if s[3] == "orc_read.plan":
                    m["orc_read.plan_s"] += s[5] - s[4]
        for k, v in self.counters.items():
            if k in m:
                m[k] = v
        m["lookup.token_bytes_per_hit"] = \
            self.counters["_token_bytes"] / max(self.counters["_hits"], 1)
        m["phase.replay.unattributed_s"] = selfs[self.replay_span]

        # Spark side: spans of traced operations, jobs by submission time
        by_trace = defaultdict(list)
        for s in self.spans:
            by_trace[s[0]].append(s)
        jobs, stage_job, tasks = self._events()
        job_span: dict[int, list] = {}
        for j in jobs:
            best = None
            for op in self.ops:
                for s in by_trace[op["trace"]]:
                    if s[4] <= j["t"] <= s[5] and (
                            best is None or s[4] >= best[4]):
                        best = s
            if best is not None:
                job_span[j["id"]] = best
        job_tasks = defaultdict(list)
        for sid, ts in tasks.items():
            if stage_job.get(sid) in job_span:
                job_tasks[stage_job[sid]].extend(ts)

        def ancestors(s):
            while s is not None:
                yield s
                s = spans.get(s[2]) if s[2] is not None else None

        per_kind = defaultdict(list)
        for op in self.ops:
            ss = by_trace[op["trace"]]
            root = spans[op["span"]]
            d = {"wall": root[5] - root[4], "self": selfs[root[1]]}
            d["plan"] = sum(s[5] - s[4] for s in ss
                            if s[3] == "encode.plan")
            d["sink"] = sum(
                s[5] - s[4] for s in ss if s[3] == "spark.write_parquet"
                and any(a[3] == "encode.encode_table"
                        for a in ancestors(s)))
            d["commit"] = sum(
                s[5] - s[4] for s in ss
                if s[3] == "encode.commit" or (
                    s[3] == "spark.collect" and s[2] is not None
                    and spans[s[2]][3] == "encode.encode_table"))
            d["read_blocks"] = sum(s[5] - s[4] for s in ss
                                   if s[3] == "decode.read_blocks")
            skew = []
            for jid, s in job_span.items():
                if s[0] != op["trace"] or s[3] != "spark.write_parquet":
                    continue
                last = max((t["Stage ID"] for t in job_tasks[jid]),
                           default=None)
                durs = [t["Task Info"]["Finish Time"]
                        - t["Task Info"]["Launch Time"]
                        for t in job_tasks[jid] if t["Stage ID"] == last]
                if durs:
                    skew.append(max(durs) / max(statistics.median(durs),
                                                1e-9))
            d["skew"] = max(skew) if skew else 0.0
            per_kind[op["kind"]].append(d)

        def med(kind, key):
            xs = [d[key] for d in per_kind[kind]]
            return statistics.median(xs) if xs else 0.0

        m["encode.plan_s"] = med("write", "plan")
        m["encode.sink_s"] = med("write", "sink")
        m["encode.commit_s"] = med("write", "commit")
        m["encode.task_skew"] = med("write", "skew")
        ks = [x["kernel_s"] for x in runner.samples["write"]
              if x["traced"] and "kernel_s" in x]
        m["encode.kernel_s"] = statistics.median(ks) if ks else 0.0
        m["decode.read_blocks_s"] = med("lookup", "read_blocks")
        for kind in ("write", "scan", "lookup", "range"):
            m[f"phase.{kind}.unattributed_s"] = med(kind, "self")

        # Spark task metrics per traced cycle
        n_cycles = max(runner.traced_cycles, 1)
        kind_of = {op["trace"]: op["kind"] for op in self.ops}
        acc = defaultdict(float)
        py_run = 0.0
        for jid, ts in job_tasks.items():
            acc["spark.jobs"] += 1
            bulk = kind_of[job_span[jid][0]] in ("write", "scan")
            for t in ts:
                tm = t.get("Task Metrics") or {}
                acc["spark.tasks"] += 1
                acc["spark.task_cpu_s"] += \
                    tm.get("Executor CPU Time", 0) / 1e9
                acc["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                acc["spark.shuffle_write_bytes"] += sw.get(
                    "Shuffle Bytes Written", 0)
                acc["spark.shuffle_write_s"] += sw.get(
                    "Shuffle Write Time", 0) / 1e9
                sr = tm.get("Shuffle Read Metrics") or {}
                acc["spark.shuffle_fetch_wait_s"] += sr.get(
                    "Fetch Wait Time", 0) / 1e3
                for acc_u in t["Task Info"].get("Accumulables", []):
                    name, v = acc_u.get("Name"), acc_u.get("Update")
                    if name == "data sent to Python workers":
                        acc["spark.python_bytes_sent"] += int(v)
                    elif name == "data returned from Python workers":
                        acc["spark.python_bytes_returned"] += int(v)
                    elif name == "time to run Python workers" and bulk:
                        py_run += int(v) / 1e3
        for k, v in acc.items():
            m[k] = v / n_cycles
        # one write and one scan per cycle
        m["arrow.boundary_s"] = py_run / n_cycles - sum(self.alone.values())

        m["orc.bytes_out"] = store.stored_bytes if store.layout == "orc" \
            else 0

        # tracing overhead: a traced cycle against an untraced one, from
        # the median wall of each operation kind
        walls = []
        for xs in runner.samples.values():
            tr = [x["wall"] for x in xs if x["traced"]]
            un = [x["wall"] for x in xs if not x["traced"]]
            if tr and un:
                walls.append((statistics.median(tr), statistics.median(un)))
        m["trace.overhead_frac"] = (
            sum(a for a, _ in walls) / sum(b for _, b in walls) - 1
            if walls else 0.0)

        by_name = defaultdict(lambda: [0, 0.0])
        for sid, t in selfs.items():
            by_name[spans[sid][3]][0] += 1
            by_name[spans[sid][3]][1] += t
        self.report = [f"{name:34s} {n:7d} calls {t:9.3f} s self"
                       for name, (n, t) in sorted(
                           by_name.items(), key=lambda kv: -kv[1][1])]
        return m

    def dump(self, path: str) -> None:
        """Write every span (trace, id, parent, name, start, end)."""
        keys = ("trace", "id", "parent", "name", "start", "end")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")
