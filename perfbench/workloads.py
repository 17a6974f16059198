"""The workloads, driven through the engine's public API from one
process and one client thread.

- ``serve``: a closed loop of ``PackedIndex.wand_topk(...).collect()``
  on the shipping store (positional streams + ``title:`` field stream,
  write-time bucketed by ``segments.save_bucketed``, JVM literal prune).
  Every query pays plan construction, driver-cache lookups and one
  Spark job, so per-query fixed cost dominates.
- ``ingest``: a bulk build from ``html`` (``extraction`` ->
  ``segments.build_segments``), then ``ROUNDS`` streamed rounds through
  ``streaming.incremental.start_incremental_index`` with compaction
  armed, each followed by ``finalize_term_stats``. After the bulk build
  and after each round a fresh in-memory ``PackedIndex`` serves a few
  first-seen queries. Writes beside reads.

Every answer is checked against the DuckDB oracle in ``corpus``. The
fused batch path (``wand_topk_batch``) has no timed workload of its own;
every traced run times it on a few batches after the timed window and
checks their answers too.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import corpus as C
from harness import FailLedger, NullTracer, Tracer, nearest_rank, tail_percentile

# --- pinned settings ----------------------------------------------------------
# one task slot: queries here are fixed per-query cost, and more
# concurrent task threads and Python workers than the host gives made
# runs follow its contention (see perfbench/README.md, Pinned settings)
CORES = 1
SHUFFLE_PARTITIONS = 8  # session.get_spark's default (max(cores, 8)), pinned
DRIVER_MEMORY = "2g"  # get_spark defaults to 16g, above a 15 GB machine
# The whole heap is committed and touched at JVM start (part of set-up),
# so the timed work never page-faults fresh heap pages in: on a VM whose
# host backs guest memory lazily those faults cost a varying amount.
JVM_HEAP_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
N_BUCKETS = 2
N_SEGMENTS = 1
K = 10
# Bulk builds pack 64-posting blocks (the engine's default is 1024): with
# ~150 docs per bucket a head term then spans several blocks, so the
# block-max prune ratios can move when docids are reordered. Streamed
# epochs and compaction keep the engine's default.
BLOCK_POSTINGS = 64

SERVE_DOCS = 300
# warm-up log entries before the timed window: the timed mix over a
# disjoint vocabulary. Per-query latency on a fresh handle falls over
# its first 15-20 queries (JIT and driver-side caches)
WARM_LOG = 16
BATCH_SIZE = 16

INGEST_BULK_DOCS = 300
ROUND_DOCS = 100
# ingest's timed work is fixed, one compaction cycle: the streamed
# round's segment beside the bulk one reaches MIN_FILES_TO_MERGE live
# segments and compacts. A time-bound round count would flip with the
# host's speed. serve's traced tail streams the same round into its store.
ROUNDS = 1
FRESH_QUERIES = 6  # per opened handle (bulk + each round): 12 latency samples a run
MIN_FILES_TO_MERGE = 2
MERGE_WIDTH = 2

MIN_OPS = 8  # the timed window always completes this many operations
EXACT_OPS = 8  # exact counters are taken over this many leading ops
EXACT_BATCHES = 2
LOG_LEN = 600


def settings() -> dict:
    return {k: v for k, v in globals().items()
            if k.isupper() and isinstance(v, (int, float, str))}


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    work: str
    trace: bool
    tracer: Tracer | NullTracer = field(default_factory=NullTracer)
    ledger: FailLedger = field(default_factory=FailLedger)
    e2e: dict = field(default_factory=dict)  # contract metrics
    info: dict = field(default_factory=dict)  # printed, not in the contract
    layer: dict = field(default_factory=dict)  # per-layer metrics (traced)
    spark: object = None
    counters: object = None
    py4j: object = None

    def span(self, name, op=None):
        return self.tracer.span(name, op)


# --- session and store --------------------------------------------------------


def start_session(b: Bench):
    from open_source_search_engine_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    t0 = time.perf_counter()
    with b.span("session.start"):
        b.spark = get_spark(
            app=f"perfbench-{b.workload}",
            cores=CORES,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.local.dir": os.path.join(b.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(b.work, "warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.security.manager=allow "
                f"{JVM_HEAP_OPTIONS} -Djava.io.tmpdir={os.path.join(b.work, 'jtmp')}",
            },
        )
    b.layer["session.start_s"] = time.perf_counter() - t0
    if b.trace:
        from instruments import Py4jCounter, SparkCounters

        b.counters = SparkCounters(b.spark)
        b.py4j = Py4jCounter(b.spark)


def stop_session(b: Bench) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    if b.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    b.spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    b.spark = None


def web_frame(b: Bench, tbl, lo: int, hi: int):
    return b.spark.createDataFrame(
        tbl.slice(lo, hi - lo).select(["docid", "url", "html"]).to_pandas()
    )


def bulk_build(b: Bench, web, root: str, text_n: int):
    """html -> extracted text -> positional segments with a title: stream."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.extraction import with_extracted_text
    from open_source_search_engine_spark.operators.linkextract import title_postings
    from open_source_search_engine_spark.operators.segments import (
        SegmentStore,
        build_segments,
    )

    docs = with_extracted_text(web).select("docid", "text")
    # title_postings keys its rows by the frame's url column; hand it the
    # integer docid there so title: postings land on the body's docids
    fp = title_postings(web.select(F.col("docid").alias("url"), "html")).select(
        F.col("docid").cast("long").alias("docid"),
        F.concat(F.lit("title:"), "term").alias("term"),
        F.col("ftf").alias("tf"),
    )
    with b.span("segments.build"), _group(b, "build") as gid:
        t0 = time.perf_counter()
        store = build_segments(
            b.spark, docs, SegmentStore(root), n_segments=N_SEGMENTS,
            n_buckets=N_BUCKETS, with_positions=True, field_postings=fp,
            block_postings=BLOCK_POSTINGS,
        )
        wall = time.perf_counter() - t0
    b.layer["segments.build_s"] = wall
    if gid:
        st = b.counters.group_stats(gid)
        b.layer["segments.shuffle_write_bytes_per_text_byte"] = (
            st["shuffle_write_bytes"] / text_n)
        b.layer["segments.pack_task_skew"] = b.counters.task_skew(st["heaviest_stage"])
    return store, wall


def save_layout(b: Bench, store, name: str) -> str:
    """The write-time bucketed table of ``store``; returns its name."""
    from open_source_search_engine_spark.operators.segments import save_bucketed

    t0 = time.perf_counter()
    with b.span("segments.save_bucketed"):
        table = save_bucketed(b.spark, store, name,
                              path=os.path.join(b.work, f"bucketed-{name}"))
    b.layer["segments.save_bucketed_s"] = time.perf_counter() - t0
    return table


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def text_bytes(texts) -> int:
    return sum(len(t.encode()) for t in texts)


# --- traced helpers -------------------------------------------------------------


def _group(b: Bench, name: str):
    return b.counters.group(name) if b.trace else nullcontext()


@dataclass
class OpRecord:
    ms: float
    plan_ms: float = 0.0
    first_seen: bool = True
    stats: dict | None = None
    py4j_calls: int = 0
    pyio: dict | None = None


def _rows(df_rows, batch: bool = False):
    if batch:
        out: dict[str, list] = {}
        for r in df_rows:
            out.setdefault(r["query_id"], []).append((int(r["docid"]), float(r["score"])))
        for v in out.values():
            v.sort(key=lambda t: (-t[1], t[0]))
        return out
    return [(int(r["docid"]), float(r["score"])) for r in df_rows]


def run_query(b: Bench, pidx, q: C.Query, exact: bool) -> tuple[list, OpRecord]:
    """One timed single query, from the call to the collected rows."""
    with _group(b, "query") as gid:
        calls0 = b.py4j.calls if b.py4j else 0
        t0 = time.perf_counter()
        with b.span("wand.plan"):
            df = pidx.wand_topk(list(q.terms), k=K, mode=q.engine_mode,
                                neg_terms=list(q.neg) or None)
        t1 = time.perf_counter()
        calls1 = b.py4j.calls if b.py4j else 0
        with b.span("wand.exec"):
            rows = df.collect()
        t2 = time.perf_counter()
    rec = OpRecord((t2 - t0) * 1000, (t1 - t0) * 1000, py4j_calls=calls1 - calls0)
    if gid and exact:
        _collect_stats(b, rec, gid, df)
    return _rows(rows), rec


def run_batch(b: Bench, pidx, batch: list, exact: bool) -> tuple[dict, OpRecord]:
    spec = {str(i): (list(q.terms), q.engine_mode, list(q.neg) or None)
            for i, q in enumerate(batch)}
    with _group(b, "batch") as gid:
        t0 = time.perf_counter()
        with b.span("wand.batch_plan"):
            df = pidx.wand_topk_batch(spec, k=K)
        t1 = time.perf_counter()
        with b.span("wand.batch_exec"):
            rows = df.collect()
        t2 = time.perf_counter()
    rec = OpRecord((t2 - t0) * 1000, (t1 - t0) * 1000)
    if gid and exact:
        _collect_stats(b, rec, gid, df)
    return _rows(rows, batch=True), rec


def _collect_stats(b: Bench, rec: OpRecord, gid: str, df) -> None:
    from instruments import python_io

    with b.span("trace.collect"):
        rec.stats = b.counters.group_stats(gid)
        rec.pyio = python_io(df)


class Checker:
    """Oracle comparison; one ledger entry per distinct (query, prefix)."""

    def __init__(self, b: Bench, answers: dict):
        self.b, self.answers, self.ok = b, answers, {}

    def check(self, key, got) -> None:
        with self.b.span("oracle.check"):
            self._check(key, got)

    def _check(self, key, got) -> None:
        want = self.answers[key]
        good = C.topk_matches(got, want)
        if not good:
            q, lim = key
            print(f"MISMATCH [{q.text}] over {lim} docs: got {got} want {want}",
                  flush=True)
        self.ok[key] = self.ok.get(key, True) and good

    def fail(self, key, exc: BaseException) -> None:
        print(f"ERROR [{key[0].text}]: {exc!r}", flush=True)
        self.ok[key] = False

    def close(self) -> None:
        for key, good in self.ok.items():
            self.b.ledger.record(good, key[0].text)


def _p50(xs):
    return statistics.median(xs) if xs else float("nan")


def _window_halves(b: Bench, lat: list[float], label: str) -> None:
    half = len(lat) // 2
    b.info[f"{label}_first_half_p50_ms"] = _p50(lat[:half])
    b.info[f"{label}_second_half_p50_ms"] = _p50(lat[half:])


def _latency_summary(b: Bench, lat: list[float], name: str) -> None:
    b.info[f"{name}_p50_ms"] = _p50(lat)
    pct = tail_percentile(len(lat))
    b.info[f"{name}_n"] = len(lat)
    if pct is not None and pct > 50:
        b.info[f"{name}_p{pct:g}_ms"] = nearest_rank(lat, pct)
    b.info[f"{name}_ms_each"] = [round(x, 1) for x in lat]


def single_layers(b: Bench, recs: list[OpRecord]) -> None:
    """Per-query layer metrics from traced single-query records."""
    b.layer["wand.plan_ms"] = _p50([r.plan_ms for r in recs])
    b.layer["wand.exec_ms"] = _p50([r.ms - r.plan_ms for r in recs])
    first = [r.ms for r in recs if r.first_seen]
    rep = [r.ms for r in recs if not r.first_seen]
    b.layer["wand.first_seen_p50_ms"] = _p50(first)
    b.layer["wand.repeat_p50_ms"] = _p50(rep) if rep else _p50(first)
    ex = [r for r in recs if r.stats is not None]
    n = len(ex)
    b.layer["py4j.calls_per_query"] = sum(r.py4j_calls for r in ex) / n
    b.layer["wand.cold_query_ratio"] = sum(r.stats["jobs"] > 1 for r in ex) / n
    for src, dst in (("jobs", "spark.jobs_per_query"),
                     ("stages", "spark.stages_per_query"),
                     ("tasks", "spark.tasks_per_query"),
                     ("executor_run_ms", "spark.executor_run_ms_per_query"),
                     ("job_wall_ms", "spark.job_wall_ms_per_query"),
                     ("input_bytes", "spark.input_bytes_per_query")):
        b.layer[dst] = sum(r.stats[src] for r in ex) / n
    b.layer["arrow.rows_to_python_per_query"] = sum(r.pyio["rows_to_python"] for r in ex) / n
    b.layer["arrow.bytes_to_python_per_query"] = sum(r.pyio["bytes_to_python"] for r in ex) / n


def batch_layers(b: Bench, recs: list[OpRecord]) -> None:
    b.layer["wand.batch_plan_ms"] = _p50([r.plan_ms for r in recs])
    ex = [r for r in recs if r.stats is not None]
    n = len(ex)
    b.layer["spark.tasks_per_batch"] = sum(r.stats["tasks"] for r in ex) / n
    b.layer["spark.executor_run_ms_per_batch"] = sum(r.stats["executor_run_ms"] for r in ex) / n
    b.layer["spark.input_bytes_per_batch"] = sum(r.stats["input_bytes"] for r in ex) / n
    b.layer["arrow.rows_to_python_per_batch"] = sum(r.pyio["rows_to_python"] for r in ex) / n
    b.layer["arrow.bytes_to_python_per_batch"] = sum(r.pyio["bytes_to_python"] for r in ex) / n


# --- workloads ------------------------------------------------------------------


def serve(b: Bench) -> None:
    from open_source_search_engine_spark.operators.wand import PackedIndex

    n = SERVE_DOCS
    streamed = ROUNDS * ROUND_DOCS  # the traced tail's rounds
    # corpus, query logs and oracle answers: none of it is timed
    tbl, texts = C.corpus(n + streamed, b.seed)
    warm, log = C.query_logs(texts[:n], LOG_LEN, WARM_LOG)
    asks = [(q, n) for q in dict.fromkeys(log)]
    answers = dict(zip(asks, C.cached_oracle(
        {"w": "serve", "seed": b.seed, "docs": len(texts)}, texts, asks, K)))
    b.info["text_bytes"] = text_bytes(texts[:n])

    t0 = time.perf_counter()
    with b.span("setup"):
        start_session(b)
        web = web_frame(b, tbl, 0, n)
        store, build_s = bulk_build(b, web, os.path.join(b.work, "store"),
                                    b.info["text_bytes"])
        table = save_layout(b, store, "packed_serve")
        t_open = time.perf_counter()
        with b.span("wand.open"):
            pidx = PackedIndex(b.spark, store, packed=b.spark.table(table))
        b.layer["wand.open_s"] = time.perf_counter() - t_open
        with b.span("warmup.queries"):
            for q in warm:
                run_query(b, pidx, q, exact=False)
    b.e2e["setup_s"] = time.perf_counter() - t0
    b.info["build_docs_per_s"] = n / build_s
    b.e2e["store_bytes_per_text_byte"] = dir_bytes(store.root) / b.info["text_bytes"]

    chk = Checker(b, answers)
    recs: list[OpRecord] = []
    seen: set = set()
    t_start = time.perf_counter()
    t_end = t_start + b.seconds
    with b.span("window"):
        for i, q in enumerate(log):
            if i >= MIN_OPS and time.perf_counter() >= t_end:
                break
            try:
                got, rec = run_query(b, pidx, q, exact=i < EXACT_OPS)
            except Exception as exc:  # counted as a failed operation
                chk.fail((q, n), exc)
                continue
            rec.first_seen = q not in seen
            seen.add(q)
            recs.append(rec)
            chk.check((q, n), got)
    wall = time.perf_counter() - t_start
    chk.close()
    lat = [r.ms for r in recs]
    b.e2e["latency_p50_ms"] = _p50(lat)
    b.e2e["throughput_per_s"] = len(lat) / wall
    _latency_summary(b, lat, "query")
    b.info["qps"] = b.e2e["throughput_per_s"]
    b.info["repeat_share"] = sum(not r.first_seen for r in recs) / max(len(recs), 1)
    _window_halves(b, lat, "window")
    if b.trace:
        single_layers(b, recs)
        probe_layers(b, tbl, n, store, pidx, log, answers, n)
        # the window does not stream: stream the ingest rounds into this
        # store, enough of them to reach the compaction trigger
        with b.span("tail.stream"):
            streamer = Streamer(b, store, tbl)
            for r in range(ROUNDS):
                streamer.round(n + r * ROUND_DOCS, n + (r + 1) * ROUND_DOCS, reopen=False)
        stream_layers(b, streamer, text_bytes(texts[n:]))


class Streamer:
    """Streamed rounds into one store: drop a parquet file, run the
    incremental indexer to completion, finalize, reopen the handle."""

    def __init__(self, b: Bench, store, tbl):
        self.b, self.store, self.tbl = b, store, tbl
        self.in_dir = os.path.join(b.work, "stream-in")
        self.ckpt = os.path.join(b.work, "stream-ckpt")
        os.makedirs(self.in_dir, exist_ok=True)
        self.epoch_s: list[float] = []
        self.open_s: list[float] = []
        self.epoch_jobs: list[int] = []
        self.write_bytes = 0
        self.compact_bytes = 0
        self.compacted: set[str] = set()

    def round(self, lo: int, hi: int, reopen: bool):
        import pyarrow.parquet as pq

        from open_source_search_engine_spark.operators.segments import (
            finalize_term_stats,
        )
        from open_source_search_engine_spark.operators.wand import PackedIndex
        from open_source_search_engine_spark.streaming.incremental import (
            start_incremental_index,
        )

        b = self.b
        part = self.tbl.slice(lo, hi - lo).select(["docid", "text"])
        tmp = os.path.join(self.in_dir, f".r{lo}.parquet")
        pq.write_table(part, tmp)
        os.replace(tmp, os.path.join(self.in_dir, f"r{lo:08d}.parquet"))
        t0 = time.perf_counter()
        with b.span("incremental.epoch"):
            sq = start_incremental_index(
                b.spark, self.in_dir, self.store, self.ckpt,
                n_buckets=N_BUCKETS, with_positions=True,
                min_files_to_merge=MIN_FILES_TO_MERGE, merge_width=MERGE_WIDTH,
            )
            sq.awaitTermination()
        self.epoch_s.append(time.perf_counter() - t0)
        if sq.exception() is not None:
            raise RuntimeError(f"streamed round failed: {sq.exception()}")
        with b.span("segments.finalize_term_stats"), _group(b, "finalize") as gid:
            finalize_term_stats(b.spark, self.store)
        if b.trace:
            st = b.counters.group_stats(str(sq.runId))
            fin = b.counters.group_stats(gid)
            self.epoch_jobs.append(st["jobs"])
            self.write_bytes += st["output_bytes"] + fin["output_bytes"]
            self._scan_compactions()
        pidx = None
        if reopen:
            t0 = time.perf_counter()
            with b.span("wand.open"):
                pidx = PackedIndex(b.spark, self.store)
            self.open_s.append(time.perf_counter() - t0)
        return pidx

    def _scan_compactions(self) -> None:
        root = os.path.join(self.store.root, "postings_packed")
        for d in os.listdir(root):
            if d.startswith("segment=compact-") and d not in self.compacted:
                self.compacted.add(d)
                self.compact_bytes += dir_bytes(os.path.join(root, d))


def stream_layers(b: Bench, streamer: Streamer, streamed_text: int) -> None:
    """Per-layer metrics of a traced streamer's rounds."""
    b.layer["incremental.epoch_p50_s"] = _p50(streamer.epoch_s)
    b.layer["incremental.jobs_per_epoch"] = statistics.mean(streamer.epoch_jobs)
    b.layer["ingest.write_bytes_per_text_byte"] = streamer.write_bytes / streamed_text
    b.layer["segments.compactions"] = len(streamer.compacted)
    b.layer["segments.compact_rewrite_bytes_per_text_byte"] = (
        streamer.compact_bytes / streamed_text)


def _drop_handle(pidx) -> None:
    if pidx is not None:
        pidx.packed.unpersist()
        pidx.term_stats.unpersist()


def ingest(b: Bench) -> None:
    from open_source_search_engine_spark.operators.wand import PackedIndex

    nb = INGEST_BULK_DOCS
    total = nb + ROUNDS * ROUND_DOCS
    tbl, texts = C.corpus(total, b.seed)
    _warm, log = C.query_logs(texts[:nb], LOG_LEN, WARM_LOG)
    fresh = list(dict.fromkeys(log))  # every opened handle starts cold
    # phase 0 is the bulk store, phase r the store after streamed round r
    lims = [nb + r * ROUND_DOCS for r in range(ROUNDS + 1)]
    phase_asks = [[(fresh[p * FRESH_QUERIES + j], lim) for j in range(FRESH_QUERIES)]
                  for p, lim in enumerate(lims)]
    # the traced tail's fused batches run on the final store
    asks = list(dict.fromkeys(
        [a for ph in phase_asks for a in ph]
        + [(q, total) for bt in C.distinct_batches(log, BATCH_SIZE)[:EXACT_BATCHES]
           for q in bt]))
    answers = dict(zip(asks, C.cached_oracle(
        {"w": "ingest", "seed": b.seed, "docs": len(texts), "nb": nb, "rd": ROUND_DOCS},
        texts, asks, K)))
    # no warm-up build: a run is short enough for the whole benchmark's
    # time budget only without one, so the bulk build is the session's
    # first Spark work on both workloads
    t0 = time.perf_counter()
    with b.span("setup"):
        start_session(b)
    b.e2e["setup_s"] = time.perf_counter() - t0

    chk = Checker(b, answers)
    recs: list[OpRecord] = []
    step_s: list[float] = []  # bulk build + open, then each streamed round

    def fresh_queries(pidx, phase: int) -> None:
        for key in phase_asks[phase]:
            try:
                got, rec = run_query(b, pidx, key[0], exact=True)
            except Exception as exc:  # counted as a failed operation
                chk.fail(key, exc)
                continue
            recs.append(rec)
            chk.check(key, got)

    with b.span("window"):
        web = web_frame(b, tbl, 0, nb)
        t_r = time.perf_counter()
        store, build_s = bulk_build(b, web, os.path.join(b.work, "store"),
                                    text_bytes(texts[:nb]))
        with b.span("wand.open"):
            pidx = PackedIndex(b.spark, store)
        step_s.append(time.perf_counter() - t_r)
        fresh_queries(pidx, 0)
        streamer = Streamer(b, store, tbl)
        for r in range(ROUNDS):
            t_r = time.perf_counter()
            with b.span("round", op=f"round{r}"):
                _drop_handle(pidx)
                pidx = streamer.round(lims[r], lims[r + 1], reopen=True)
            step_s.append(time.perf_counter() - t_r)
            fresh_queries(pidx, r + 1)
    chk.close()
    lat = [r.ms for r in recs]
    b.e2e["latency_p50_ms"] = _p50(lat)
    b.e2e["throughput_per_s"] = total / sum(step_s)
    b.e2e["store_bytes_per_text_byte"] = dir_bytes(store.root) / text_bytes(texts[:total])
    _latency_summary(b, lat, "fresh_query")
    b.info["build_docs_per_s"] = nb / build_s
    b.info["ingest_docs_per_s"] = ROUNDS * ROUND_DOCS / sum(step_s[1:])
    b.info["step_s_each"] = [round(x, 2) for x in step_s]
    _window_halves(b, lat, "fresh_query")
    if b.trace:
        b.layer["wand.open_s"] = _p50(streamer.open_s)
        stream_layers(b, streamer, text_bytes(texts[nb:total]))
        single_layers(b, recs)
        probe_layers(b, tbl, nb, store, pidx, log, answers, total)
        # the window does not write the bucketed layout: time it on the final store
        save_layout(b, store, "packed_tail")
    _drop_handle(pidx)


WORKLOADS = {"serve": serve, "ingest": ingest}


# --- traced-only probes ------------------------------------------------------------


def probe_layers(b: Bench, tbl, n_docs: int, store, pidx, log, answers, lim: int):
    """Layer measurements beyond the timed work, shared by both workloads:
    extraction and the explode timed alone over the bulk corpus, the
    store's fan-out, the prune ratios, and EXACT_BATCHES fused batches
    whose answers are checked against the oracle over ``lim`` docs."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.extraction import with_extracted_text
    from open_source_search_engine_spark.operators.index_build import build_index

    with b.span("probes"):
        web = web_frame(b, tbl, 0, n_docs)
        t0 = time.perf_counter()
        with b.span("extraction.alone"):
            with_extracted_text(web).write.format("noop").mode("overwrite").save()
        b.layer["extraction.s"] = time.perf_counter() - t0
        docs = b.spark.createDataFrame(
            tbl.slice(0, n_docs).select(["docid", "text"]).to_pandas())
        t0 = time.perf_counter()
        with b.span("index_build.explode"):
            build_index(docs, "docid", "text", with_positions=True,
                        compute_globals=False).postings.write.format(
                "noop").mode("overwrite").save()
        b.layer["index_build.explode_s"] = time.perf_counter() - t0

        m = store.manifest_current(b.spark)
        b.layer["segments.live_segments"] = m.filter(F.col("status") == "committed").count()
        b.layer["segments.files_per_query"] = len(
            (pidx.packed if pidx.jvm_prune else store.packed(b.spark)).inputFiles())
        tot = {"buckets": 0, "buckets_scored": 0, "blocks": 0, "blocks_scored": 0,
               "bytes_total": 0, "bytes_scored": 0}
        with b.span("prune_stats"):
            for q in list(dict.fromkeys(log))[:EXACT_OPS]:
                ps = pidx.prune_stats(list(q.terms), k=K, mode=q.engine_mode,
                                      neg_terms=list(q.neg) or None)
                for key in tot:
                    tot[key] += ps[key]
        b.layer["prune.buckets_scored_ratio"] = tot["buckets_scored"] / max(tot["buckets"], 1)
        b.layer["prune.blocks_scored_ratio"] = tot["blocks_scored"] / max(tot["blocks"], 1)
        b.layer["prune.bytes_scored_ratio"] = tot["bytes_scored"] / max(tot["bytes_total"], 1)
        b.info["prune_blocks_per_bucket"] = tot["blocks"] / max(tot["buckets"], 1)

        chk = Checker(b, answers)
        recs = []
        with b.span("tail.batch"):
            for bt in C.distinct_batches(log, BATCH_SIZE)[:EXACT_BATCHES]:
                try:
                    got, rec = run_batch(b, pidx, bt, exact=True)
                except Exception as exc:  # every query of the batch fails
                    for q in bt:
                        chk.fail((q, lim), exc)
                    continue
                recs.append(rec)
                for i, q in enumerate(bt):
                    chk.check((q, lim), got.get(str(i), []))
        chk.close()
        batch_layers(b, recs)
