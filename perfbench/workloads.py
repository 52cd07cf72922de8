"""The two workloads: what runs, how it is timed and how it is checked.

Each workload turns a seed into input files (:mod:`gen`), warms a fresh
session up during set-up, runs its timed units of work and afterwards
checks every output. A *unit* is one pass over the query list for
``corpus_curation`` and one micro-batch for ``ingest_stream``; an *op* is
one query or one arriving file. Times are epoch seconds.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from oracle import Oracle
from spans import Tracer


@dataclass
class Op:
    name: str
    start: float  # query submitted, or file due
    end: float = 0.0  # result collected, or batch committed
    build_end: float = 0.0  # query function returned, or batch started
    unit: int = 0
    error: str | None = None


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    #: (start, end, traced) per unit of work
    units: list[tuple[float, float, bool]] = field(default_factory=list)
    #: the run's wall clock: (first submit or due, last result or commit)
    span: tuple[float, float] = (0.0, 0.0)
    extra: dict[str, float] = field(default_factory=dict)


class BatchQueries:
    """A fixed list of registered queries, run as whole passes; every
    result is kept for the oracle."""

    name = "corpus_curation"
    tables = ["documents", "embeddings"]

    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.rows: list[tuple[list[str], list[tuple]] | None] = []

    def generate(self, data_dir: str, seed: int) -> dict:
        return gen.corpus_tables(
            data_dir,
            seed,
            self.cfg["documents"],
            self.cfg["doc_near_dup_share"],
            self.cfg["doc_exact_dup_share"],
            self.cfg["embeddings"],
            self.cfg["vec_near_dup_share"],
        )

    def warm(self, spark, data_dir: str) -> None:
        """Set-up warm-up: scan every input table once."""
        from mapreduceframework_cpp_spark.sources import tables

        for t in self.tables:
            tables.tbl(spark, data_dir, t).count()

    def warm_pass(self, spark, data_dir: str, work_dir: str) -> None:
        """One untimed pass: JIT and codegen caches are cold in a new
        JVM, and the first pass runs about three times as long as later
        ones."""
        from mapreduceframework_cpp_spark import registry

        for name in self.cfg["queries"]:
            registry.QUERIES[name](spark, data_dir).collect()
            _release()

    def measure(self, spark, data_dir: str, work_dir: str, seconds: float, tracer: Tracer | None) -> Result:
        from mapreduceframework_cpp_spark import registry

        queries = registry.QUERIES
        res = Result()
        # The pass count follows from --seconds and the planned pass time,
        # never from how fast this run goes: passes keep getting faster
        # while the JIT compiles, so a count that grew on a fast host would
        # move the median. At least three, so one pass slowed by the host
        # cannot move it either.
        passes = max(3, round(seconds / self.cfg["pass_s"]))
        for unit in range(passes):
            traced = tracer is not None and _traced_unit(unit, passes)
            if tracer:
                tracer.enabled = traced
            u0 = time.time()
            for name in self.cfg["queries"]:
                op = Op(name, time.time(), unit=unit)
                try:
                    with _span(tracer, "queries.build"):
                        df = queries[name](spark, data_dir)
                    op.build_end = time.time()
                    with _span(tracer, "queries.exec"):
                        rows = df.collect()
                        _release()
                    self.rows.append((list(df.columns), [tuple(r) for r in rows]))
                except Exception:  # a failing query is a counted failure, not a crash
                    op.error = traceback.format_exc(limit=3)
                    op.build_end = op.build_end or time.time()
                    self.rows.append(None)
                op.end = time.time()
                res.ops.append(op)
            res.units.append((u0, time.time(), traced))
        if tracer:
            tracer.enabled = False
        res.span = (res.units[0][0], res.units[-1][1])
        return res

    def check(self, res: Result, data_dir: str, work_dir: str) -> None:
        from mapreduceframework_cpp_spark import registry

        oracles = registry.ORACLES
        oracle = Oracle(data_dir, self.tables)
        try:
            for op, got in zip(res.ops, self.rows):
                if op.error is None and got is not None:
                    op.error = oracle.mismatch(op.name, oracles.get(op.name), *got)
        finally:
            oracle.close()


class IngestStream:
    """Open-loop ingest: files land in a watched directory on a fixed
    schedule while a processing-time-triggered stream runs
    ``streaming.ingest_dedup.process_dedup_batch`` on each one.

    Rows are counted from the generator. ``StreamingQueryProgress.
    numInputRows`` is not used: under ``foreachBatch`` it counts every
    row once per job that consumes the batch frame (twice here)."""

    name = "ingest_stream"

    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.files: list[pa.Table] = []
        self.docs: gen.Docs | None = None
        self.initial_ids: set[int] = set()
        self.input_bytes = 0

    def generate(self, data_dir: str, seed: int, n_files: int) -> dict:
        c = self.cfg
        self.files, self.docs = gen.stream_files(
            seed, n_files, c["rows_per_file"], c["near_dup_share"], c["exact_dup_share"]
        )
        init = gen.documents(seed, c["initial_corpus_docs"], 0.0, 0.0, first_id=10**9, stream=6)
        self.initial_ids = set(int(i) for i in init.doc_id)
        os.makedirs(data_dir, exist_ok=True)
        init_table = pa.table({"doc_id": init.doc_id, "text": init.text})
        pq.write_table(init_table, os.path.join(data_dir, "initial_corpus.parquet"))
        warm_docs = gen.documents(seed, c["rows_per_file"], c["near_dup_share"], c["exact_dup_share"], first_id=2 * 10**9, stream=7)
        pq.write_table(
            pa.table({"doc_id": warm_docs.doc_id, "text": warm_docs.text}),
            os.path.join(data_dir, "warmup_batch.parquet"),
        )
        return {
            "files": n_files,
            "rows_per_file": c["rows_per_file"],
            "initial_corpus_docs": c["initial_corpus_docs"],
        }

    def _seed_corpus(self, data_dir: str, corpus_dir: str) -> None:
        os.makedirs(os.path.join(corpus_dir, "batch_id=-1"), exist_ok=True)
        table = pq.read_table(os.path.join(data_dir, "initial_corpus.parquet"))
        pq.write_table(table, os.path.join(corpus_dir, "batch_id=-1", "part-0.parquet"))

    def warm(self, spark, data_dir: str) -> None:
        """Set-up warm-up: read the seed corpus once."""
        spark.read.parquet(os.path.join(data_dir, "initial_corpus.parquet")).count()

    def warm_pass(self, spark, data_dir: str, work_dir: str) -> None:
        """Three untimed batches, as the batch workload's warm-up pass:
        the dedup path's first run in a new JVM is several times slower,
        and the next two still slow enough to queue the first files."""
        from mapreduceframework_cpp_spark.streaming import ingest_dedup

        warm_corpus = os.path.join(work_dir, "warm_corpus")
        self._seed_corpus(data_dir, warm_corpus)
        warm_batch = spark.read.parquet(os.path.join(data_dir, "warmup_batch.parquet"))
        for batch_id in range(3):
            ingest_dedup.process_dedup_batch(warm_batch, batch_id, warm_corpus)

    def measure(self, spark, data_dir: str, work_dir: str, seconds: float, tracer: Tracer | None) -> Result:
        from mapreduceframework_cpp_spark.streaming import ingest_dedup

        in_dir = os.path.join(work_dir, "stream_in")
        stage_dir = os.path.join(work_dir, "stream_stage")
        self.corpus_dir = os.path.join(work_dir, "corpus")
        for d in (in_dir, stage_dir):
            os.makedirs(d, exist_ok=True)
        self._seed_corpus(data_dir, self.corpus_dir)
        interval = self.cfg["interval_s"]
        n = len(self.files)
        res = Result()
        batches: dict[int, tuple[float, float, str | None]] = {}
        done = threading.Event()

        def on_batch(batch_df, batch_id: int) -> None:
            traced = tracer is not None and _traced_unit(batch_id, n)
            if tracer:
                tracer.enabled = traced
            t0 = time.time()
            err = None
            try:
                with _span(tracer, "streaming.batch"):
                    ingest_dedup.process_dedup_batch(batch_df, batch_id, self.corpus_dir)
            except Exception:  # recorded as a failed batch; the stream keeps running
                err = traceback.format_exc(limit=3)
            t1 = time.time()
            batches[batch_id] = (t0, t1, err)
            res.units.append((t0, t1, traced))
            if tracer:
                tracer.enabled = False
            if len(batches) >= n:
                done.set()

        query = (
            spark.readStream.schema(ingest_dedup.DOCS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
            .trigger(processingTime=self.cfg["trigger"])
            .start()
        )
        lateness = []
        try:
            t0 = time.time() + 1.0  # let the query start before the first file
            for k, table in enumerate(self.files):
                due = t0 + k * interval
                time.sleep(max(0.0, due - time.time()))
                staged = os.path.join(stage_dir, f"part-{k:05d}.parquet")
                pq.write_table(table, staged)
                os.rename(staged, os.path.join(in_dir, f"part-{k:05d}.parquet"))
                lateness.append(time.time() - due)
                res.ops.append(Op(f"file-{k}", due, unit=k))
                self.input_bytes += os.path.getsize(os.path.join(in_dir, f"part-{k:05d}.parquet"))
            done.wait(timeout=60 + interval * n)
        finally:
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        res.units.sort()
        for k, op in enumerate(res.ops):
            if k in batches:
                b0, b1, err = batches[k]
                op.build_end, op.end, op.error = b0, b1, err
            else:
                op.end, op.error = time.time(), "file never committed"
        res.span = (res.ops[0].start, max(op.end for op in res.ops))
        starts = [batches[k][0] for k in sorted(batches)]
        res.extra = {
            "generator_late_s_max": max(lateness),
            "batch_cycle_s_p50": statistics.median(b - a for a, b in zip(starts, starts[1:])),
            "backlog_files_max": max(
                (sum(1 for op in res.ops if op.start <= s) - k for k, s in enumerate(starts)),
                default=0,
            ),
        }
        return res

    def check(self, res: Result, data_dir: str, work_dir: str) -> None:
        """A batch fails when it raised, or when its admitted set breaks
        one of: doc_ids unique across the corpus and drawn from this
        batch's own file; every original admitted; no injected copy with
        3-gram Jaccard >= 0.8 to its source admitted."""
        rpf = self.cfg["rows_per_file"]
        table = ds.dataset(self.corpus_dir, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "batch_id"]
        )
        admitted: dict[int, int] = {}
        problems: dict[int, list[str]] = {}
        for doc_id, batch_id in zip(table["doc_id"].to_pylist(), table["batch_id"].to_pylist()):
            if batch_id < 0:
                continue
            if doc_id in admitted or doc_id in self.initial_ids:
                problems.setdefault(batch_id, []).append(f"doc {doc_id} admitted twice")
            elif doc_id // rpf != batch_id:
                problems.setdefault(batch_id, []).append(f"doc {doc_id} not from file {batch_id}")
            admitted[doc_id] = batch_id
        text = dict(zip(self.docs.doc_id.tolist(), self.docs.text))
        for doc_id in self.docs.doc_id.tolist():
            k = doc_id // rpf
            src = self.docs.copy_of.get(doc_id)
            if src is None and doc_id not in admitted:
                problems.setdefault(k, []).append(f"original {doc_id} rejected")
            elif src is not None and doc_id in admitted and gen.jaccard3(text[doc_id], text[src]) >= 0.8:
                problems.setdefault(k, []).append(f"copy {doc_id} of {src} admitted")
        for k, op in enumerate(res.ops):
            if op.error is None and k in problems:
                op.error = "; ".join(problems[k][:3])
        res.extra["admitted_docs"] = len(admitted)
        res.extra["corpus_rows"] = len(admitted) + len(self.initial_ids)
        res.extra["input_rows"] = len(self.docs.text)
        res.extra["write_bytes"] = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(self.corpus_dir)
            if "batch_id=-1" not in dp
            for f in fs
            if f.endswith(".parquet")
        )
        res.extra["input_bytes"] = self.input_bytes


def _traced_unit(k: int, n: int) -> bool:
    """Whether unit ``k`` of ``n`` is traced. The pattern is symmetric
    about the middle of the run (U T U, U T T U, U T U T U, ...), so
    traced and untraced units sit at the same mean position and a steady
    speed-up through the run (the JIT) cancels out of their ratio."""
    return min(k, n - 1 - k) % 2 == 1


def _release() -> None:
    from mapreduceframework_cpp_spark.operators import common

    common.release_persisted()


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name, "bench") if tracer else contextlib.nullcontext()
