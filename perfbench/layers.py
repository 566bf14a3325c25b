"""Per-layer instruments of the extraction benchmark, all measured
from outside the engine: spans around calls into each layer (in a
traced run also around the engine's checkpoint writes and lineage
commit), an out-of-Spark core probe, a phase-by-phase replay of one
chunk's compute, reads of the checkpoint layer, Spark task counts and
worker memory.

``LAYERS`` records, for each per-layer metric, the end-to-end metric it
should move and on which workload.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

BULK = ("bulk-stock",)
WINDOWS = ("incremental-windows",)

# per-layer metric -> (end-to-end metric it should move, on which workloads);
# units and directions are in BENCHMARK.json
LAYERS: Dict[str, tuple] = {
    "core.htmlparse.parse_page_us": ("docs_per_s", BULK),
    "core.postprocess.normalize_items_us": ("docs_per_s", BULK),
    "core.fields.extract_fields_us": ("docs_per_s", BULK),
    "operators.stages.extracted_row_us": ("docs_per_s", BULK),
    "core.document.process_document_us": ("docs_per_s", BULK),
    "core.rss_growth_mb": ("worker_rss_mb", BULK + WINDOWS),
    "pipeline.run_s": ("window_s_p50, docs_per_s", BULK + WINDOWS),
    "pipeline.estimate_rows_s": ("window_s_p50", WINDOWS),
    "pipeline.scan_s": ("window_s_p50, docs_per_s", WINDOWS + BULK),
    "pipeline.defuse_exchange_s": ("window_s_p50, docs_per_s", WINDOWS + BULK),
    "stages.fused_s": ("docs_per_s", BULK),
    "pipeline.persist_agg_s": ("window_s_p50, docs_per_s", WINDOWS + BULK),
    "checkpoint.write_docs_s": ("window_s_p50, docs_per_s", WINDOWS + BULK),
    "checkpoint.write_results_s": ("window_s_p50, docs_per_s", WINDOWS + BULK),
    "checkpoint.writes_s": ("window_s_p50, docs_per_s", WINDOWS + BULK),
    "checkpoint.append_lineage_s": ("window_s_p50", WINDOWS),
    "pipeline.unattributed_s": ("window_s_p50", WINDOWS),
    "stages.boundary_frac": ("docs_per_s", BULK),
    "checkpoint.read_manifest_s": ("resume_s_p50", WINDOWS),
    "checkpoint.done_chunks_s": ("resume_s_p50", WINDOWS),
    "checkpoint.lineage_lookup_s": ("resume_s_p50", WINDOWS),
    "checkpoint.chunk_lookup_s": ("status_s_p50, status_s_p80", WINDOWS),
    "stages.tasks": ("window_s_p50, docs_per_s", BULK + WINDOWS),
    "stages.task_failures": ("calls_ok_frac", BULK + WINDOWS),
    "checkpoint.docs_files": ("window_s_p50", WINDOWS),
    "checkpoint.docs_bytes": ("window_s_p50", WINDOWS),
    "checkpoint.results_bytes": ("window_s_p50", WINDOWS),
    "checkpoint.lineage_bytes": ("resume_s_p50", WINDOWS),
    "setup.session_s": ("setup_s", BULK + WINDOWS),
    "setup.corpus_s": ("setup_s", BULK + WINDOWS),
    "setup.warmup_s": ("setup_s", BULK + WINDOWS),
}


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written out
    once. A disabled tracer records nothing. Each thread nests its own
    spans; a span opened on a helper thread with nothing open there
    takes the main thread's innermost span as its parent."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self._local = threading.local()
        self._main: List[int] = self._stack()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def _stack(self) -> List[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = self._stack()
        outer = stack or self._main
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": outer[-1] if outer else None,
                   "start": time.perf_counter() - self._t0, "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str, stamp: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"stamp": stamp, "spans": self.spans}, f, indent=1)


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's input row estimate, checkpoint writes and
    lineage commit in spans, so a traced run reads those phases off its
    own ``run_pipeline`` calls (the two writes overlap there, on two
    driver threads). Traced runs only."""
    from credit_ocr_backend_spark.plans import pipeline as P
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    def spanned(fn, name_of):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args)):
                return fn(*args, **kwargs)
        return wrapper

    P._estimate_rows = spanned(P._estimate_rows, lambda *a: "pipeline.estimate_rows")
    CheckpointManager.write_chunk = spanned(
        CheckpointManager.write_chunk, lambda self, df, name, *a: f"checkpoint.write_{name}")
    CheckpointManager.append_lineage = spanned(
        CheckpointManager.append_lineage, lambda *a: "checkpoint.append_lineage")


def call_phases(spans: List[dict]) -> Dict[str, float]:
    """The engine-side phases of one traced ``run_pipeline`` call, from
    the spans :func:`instrument` recorded during it: each phase's wall,
    and ``checkpoint.writes_s``, the wall of the two overlapped writes
    together."""
    names = ("pipeline.estimate_rows", "checkpoint.write_docs", "checkpoint.write_results",
             "checkpoint.append_lineage")
    out = {f"{n}_s": 0.0 for n in names}
    writes = []
    for s in spans:
        if s["name"] in names:
            out[f"{s['name']}_s"] += s["end"] - s["start"]
        if s["name"].startswith("checkpoint.write_"):
            writes.append(s)
    out["checkpoint.writes_s"] = (max(s["end"] for s in writes) - min(s["start"] for s in writes)
                                  if writes else 0.0)
    return out


def descendants(pid_root: int) -> List[int]:
    """Every live descendant of ``pid_root``, from /proc."""
    parent: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid_root]
    while todo:
        kids = parent.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_ticks() -> List[int]:
    """The host's aggregate CPU time counters (/proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: List[int], after: List[int]) -> float:
    """Share of CPU time the hypervisor took between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _python_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            if b"pyspark.daemon" not in f.read():
                return 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Peak VmHWM of the JVM's Python worker processes, read from /proc
    after each call into the engine (a high-water mark, so between
    calls suffices; Spark reuses the workers, so they rarely exit)."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.excluded_kb = 0  # highest peak left out by :meth:`excluded`

    def _hwm(self) -> Dict[int, int]:
        hwm = {pid: _python_hwm_kb(pid) for pid in descendants(self.jvm_pid)}
        return {pid: kb for pid, kb in hwm.items() if kb}

    def sample(self) -> None:
        self.peak_kb = max([self.peak_kb, *self._hwm().values()])

    @contextmanager
    def excluded(self) -> Iterator[None]:
        """Leave the workers' memory use inside the block out of the
        peak (the benchmark's own page generation runs in the same
        reused workers as the engine): the peak so far is kept, and
        after the block each worker's VmHWM is reset to its current RSS
        through /proc/<pid>/clear_refs."""
        self.sample()
        try:
            yield
        finally:
            for pid, kb in self._hwm().items():
                self.excluded_kb = max(self.excluded_kb, kb)
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as f:
                        f.write("5")
                except (FileNotFoundError, ProcessLookupError):
                    pass  # the worker has exited

    def close(self) -> float:
        self.sample()
        return self.peak_kb / 1024.0


class JobCounter:
    """Tasks and task failures of the Spark jobs started between
    :meth:`start` and :meth:`stop`."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.tasks = 0
        self.failures = 0
        self._seen = set(self._jobs())

    def _jobs(self) -> List[int]:
        return list(self.tracker.getJobIdsForGroup(None))

    def start(self) -> None:
        self._seen = set(self._jobs())

    def stop(self) -> None:
        for jid in sorted(set(self._jobs()) - self._seen):
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    self.tasks += st.numCompletedTasks
                    self.failures += st.numFailedTasks
        self._seen = set(self._jobs())


def _timed(fn, *args, **kwargs) -> float:
    t0 = time.perf_counter()
    fn(*args, **kwargs)
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def phase_split(spark, tracer: Tracer, pages_path: str, *, n_buckets: int, parallelism: int,
                ts_min: Optional[str] = None, ts_max: Optional[str] = None) -> Dict[str, float]:
    """Replay the compute part of one single-chunk ``run_pipeline``
    call phase by phase; its row estimate, writes and lineage commit
    are read off the measured calls instead (:func:`call_phases`).

    Each phase is one Spark action over the plan ``run_pipeline``
    builds, cumulative from the scan; its time is the action's wall
    minus the previous action's. The persist + aggregate action
    recomputes the fused stage on pages the workers have just seen, so
    it may read low where the core's caches help."""
    from pyspark.sql import functions as F

    from credit_ocr_backend_spark.core.config import default_config
    from credit_ocr_backend_spark.operators.stages import (
        EXTRACTED_SCHEMA, FIELDS_T, make_fused_stage,
    )
    from credit_ocr_backend_spark.plans import pipeline as P

    out: Dict[str, float] = {}
    pages = spark.read.parquet(pages_path)
    if ts_min is not None:
        ts_min = P._checked_ts(spark, ts_min, "ts_min")
        ts_max = P._checked_ts(spark, ts_max, "ts_max")
    sliced = P._input_slice(pages, n_buckets, 0, n_buckets, ts_min, ts_max)
    defused = P._defuse_skew(sliced, parallelism, est_rows=P._estimate_rows(pages, pages_path))
    extracted = defused.mapInPandas(make_fused_stage(default_config()), schema=EXTRACTED_SCHEMA)
    with tracer.span("pipeline.scan"):
        scan = _timed(_noop, sliced)
    with tracer.span("pipeline.defuse_exchange"):
        defuse = _timed(_noop, defused)
    with tracer.span("stages.fused"):
        fused = _timed(_noop, extracted)
    out["pipeline.scan_s"] = scan
    out["pipeline.defuse_exchange_s"] = defuse - scan
    out["stages.fused_s"] = fused - defuse

    cached = extracted.withColumn("_fields", F.from_json("fields_json", FIELDS_T)).persist()
    try:
        with tracer.span("pipeline.persist_agg"):
            agg = _timed(lambda: cached.groupBy("bucket").agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("f"),
                F.sum("proc_ms").alias("c"),
            ).collect())
        out["pipeline.persist_agg_s"] = agg - fused
    finally:
        cached.unpersist()
    return out


READ_REPS = 3


def checkpoint_reads(spark, tracer: Tracer, out_root: str, url: str) -> Dict[str, float]:
    """Median wall of the checkpoint layer's read calls on one committed
    output root: the calls a resume and a status lookup make."""
    from pyspark.sql import functions as F

    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, out_root)

    def lineage_lookup() -> None:
        ckpt.lineage().where(F.col("chunk") == 0).select("run_id", "finished_at").first()

    def chunk_lookup() -> None:
        if ckpt.chunk_exists("docs", 0):
            ckpt.read_chunk("docs", 0).where(F.col("url") == url).select(
                "status", "error", "proc_ms").first()

    calls = {
        "checkpoint.read_manifest_s": ckpt.read_manifest,
        "checkpoint.done_chunks_s": lambda: ckpt.done_chunks("extracted"),
        "checkpoint.lineage_lookup_s": lineage_lookup,
        "checkpoint.chunk_lookup_s": chunk_lookup,
    }
    out = {}
    for name, fn in calls.items():
        samples = []
        for _ in range(READ_REPS):
            with tracer.span(name[:-2]):
                samples.append(_timed(fn))
        out[name] = statistics.median(samples)
    return out


def output_counts(out_roots: List[str]) -> Dict[str, float]:
    """Files and bytes the checkpoint layer committed under the roots."""
    counts = {"checkpoint.docs_files": 0, "checkpoint.docs_bytes": 0,
              "checkpoint.results_bytes": 0, "checkpoint.lineage_bytes": 0}
    for root in out_roots:
        for table, key in (("docs", "docs"), ("results", "results"), ("lineage", "lineage")):
            for dirpath, _, files in os.walk(os.path.join(root, table)):
                for name in files:
                    if not name.endswith(".parquet"):
                        continue
                    counts[f"checkpoint.{key}_bytes"] += os.path.getsize(os.path.join(dirpath, name))
                    if table == "docs":
                        counts["checkpoint.docs_files"] += 1
    return counts


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def core_probe(tracer: Tracer, indices: List[int], seed: int, hetero: bool,
               n_warm: int, n_time: int) -> Dict[str, float]:
    """Driver-side core timing without Spark: warm the core's caches on
    the workload's first ``n_warm`` pages, then time ``2 * n_time``
    unseen regular pages, alternately per core function and as one
    ``process_document`` call, so both see the same cache warmth."""
    from credit_ocr_backend_spark.core.config import default_config
    from credit_ocr_backend_spark.core.document import process_document
    from credit_ocr_backend_spark.core.fields import extract_fields
    from credit_ocr_backend_spark.core.htmlparse import parse_page
    from credit_ocr_backend_spark.core.postprocess import normalize_items
    from credit_ocr_backend_spark.operators.stages import _extracted_row, _freeze_worker_heap
    from credit_ocr_backend_spark.sources.pages import GIANT_MOD

    from perfbench.corpus import build

    cfg = default_config()
    rss0 = _rss_mb()
    with tracer.span("core.warmup"):
        for k in indices[:n_warm]:
            p = build(k, seed, hetero)
            r = process_document(p["url"], p["html"], cfg)
            _extracted_row(p["url"], 0, r["status"], r["error"], r["extracted_text"],
                           r["extraction"], 0.0)
    # a giant page costs ~100 regular ones: one landing on one side of
    # the alternation would swamp the comparison, so the timed pages
    # leave out the skew tail
    pages = [build(k, seed, hetero) for k in indices[n_warm:]
             if k % GIANT_MOD != 17][:2 * n_time]
    # the worker's heap state: the fused stage freezes the heap after
    # its first batch, so a full collection never rescans the caches
    _freeze_worker_heap()
    t = dict.fromkeys(("parse", "norm", "fields", "row", "doc"), 0.0)
    clock = time.perf_counter
    with tracer.span("core.timed"):
        for j, pair in enumerate(zip(pages[0::2], pages[1::2])):
            # swap roles every other pair: neighbouring pages differ in
            # cost, so each side gets both kinds
            split, whole = pair if j % 2 == 0 else pair[::-1]
            t0 = clock()
            tokens, text = parse_page(split["html"], include_words=False)
            t1 = clock()
            items = normalize_items(tokens)
            t2 = clock()
            extraction = extract_fields(items, cfg, original_ocr_lines=tokens)
            t3 = clock()
            _extracted_row(split["url"], 0, "done", None, text, extraction, 0.0)
            t4 = clock()
            process_document(whole["url"], whole["html"], cfg)
            t5 = clock()
            for key, dt in zip(t, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
                t[key] += dt
    us = 1e6 / n_time
    return {
        "core.htmlparse.parse_page_us": t["parse"] * us,
        "core.postprocess.normalize_items_us": t["norm"] * us,
        "core.fields.extract_fields_us": t["fields"] * us,
        "operators.stages.extracted_row_us": t["row"] * us,
        "core.document.process_document_us": t["doc"] * us,
        "core.rss_growth_mb": _rss_mb() - rss0,
    }
