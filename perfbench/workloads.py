"""The workloads: set-up, the timed closed loop, the correctness gate
and (traced runs only) the per-layer split.

One driver thread issues every call into the engine, each only after
the previous one returned.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Dict, List, Optional, Tuple

from perfbench import corpus, gate, layers

BULK_DOCS = 20_000
WINDOW_DOCS = 6_000
N_WINDOWS = 10              # 3-day windows in the 30-day corpus
MEASURED_WINDOWS = 8        # windows 0-7; 8 is the traced replay's, 9 the warm-up's
WINDOW_DAYS = 3
WARM_DOCS = 1_000
# lookups keep getting faster for ~10 calls after the first (JVM code
# warming up); the warm-up takes them past that
WARM_RESUMES, WARM_LOOKUPS = 3, 15
# warm-up and traced-split pages: far from every measured slice
WARM_OFFSET, PHASE_OFFSET = 900_000, 800_000
LOOKUPS_PER_RESUME = 2      # after a bulk call: resume, 2 lookups, resume, ...
WINDOW_RESUMES = 2          # resume calls per window
WINDOW_LOOKUPS = 5          # doc_status calls per window
# The calls keep getting faster all through a run (the JVM compiles
# more of the paths), so a run makes a fixed number of calls, sized
# from --seconds by these typical walls on a 4-vCPU host: a time limit
# would put a slow host's medians earlier on that curve. Only on a host
# so slow that the calls take past OVERRUN x --seconds does the loop
# stop early (after MIN_SHORT / MIN_WINDOWS), to bound the run's time.
BULK_CALL_S, SHORT_CALL_S = 11.0, 0.3
WINDOW_UNIT_S = 4.0         # a window call, its resumes and lookups
MIN_SHORT, MIN_WINDOWS = 20, 4
OVERRUN = 2.0
STEAL_MAX = 0.05            # see steady()
MIN_STEADY = 3
GATE_SAMPLE = 1_000
PROBE_WARM, PROBE_TIME = 2_000, 500

Sample = Tuple[float, float]  # (wall seconds, share of host CPU time stolen meanwhile)


@dataclass
class Run:
    """Samples and counts of one benchmark run."""

    spark: object
    tracer: layers.Tracer
    repo: str
    work: str
    seed: int
    cpus: int
    rss: layers.WorkerRss
    attempted: int = 0
    failed: int = 0
    docs: int = 0
    docs_failed: int = 0
    setup: Dict[str, float] = field(default_factory=dict)
    steal_frac: Optional[float] = None  # CPU steal during the timed loop
    call_s: List[Sample] = field(default_factory=list)
    call_docs: List[int] = field(default_factory=list)
    resume_s: List[Sample] = field(default_factory=list)
    status_s: List[Sample] = field(default_factory=list)
    jobs: Optional[layers.JobCounter] = None
    phases: List[Dict[str, float]] = field(default_factory=list)  # traced calls only

    def call(self, name: str, fn, *args, **kwargs):
        """One closed-loop call into the engine; a raise counts as a
        failed call and returns None."""
        self.attempted += 1
        try:
            with self.tracer.span(name):
                return fn(*args, **kwargs)
        except Exception:  # the loop must go on and report the failure
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def timed(self, fn, *args, **kwargs):
        """``fn``'s result, wall and steal share; then a worker memory
        sample, outside the timed part."""
        ticks = layers.cpu_ticks()
        t0 = time.perf_counter()
        res = fn(*args, **kwargs)
        wall = time.perf_counter() - t0
        steal = layers.steal_frac(ticks, layers.cpu_ticks())
        self.rss.sample()
        return res, (wall, steal)

    @property
    def n_buckets(self) -> int:
        return max(self.cpus * 2, 16)

    def pipeline(self, pages: str, out: str, **kw):
        from credit_ocr_backend_spark.plans.pipeline import run_pipeline

        return self.call("plans.pipeline.run_pipeline", run_pipeline, self.spark, pages, out,
                         n_buckets=self.n_buckets, n_chunks=1, parallelism=self.cpus, **kw)

    def resume(self, pages: str, out: str, **kw) -> Optional[Sample]:
        """A resume of a committed output: it must skip every chunk."""
        res, sample = self.timed(self.pipeline, pages, out, resume=True, **kw)
        if res is None:
            return None
        if res.chunks_run or not res.chunks_skipped:
            self.failed += 1
            print(f"resume of {out} re-ran {res.chunks_run} chunk(s)", file=sys.stderr)
            return None
        return sample

    def status(self, out: str, url: str) -> Optional[Sample]:
        """A point lookup; a missing or failed document is a failure."""
        from credit_ocr_backend_spark.plans.pipeline import doc_status

        failed = self.failed
        row, sample = self.timed(self.call, "plans.pipeline.doc_status", doc_status,
                                 self.spark, out, url)
        if row is None or row.get("status") != "done":
            if self.failed == failed:
                self.failed += 1
                print(f"lookup of {url} in {out}: {row}", file=sys.stderr)
            return None
        return sample

    def write_corpus(self, path: str, indices: List[int], hetero: bool) -> None:
        """Write pages for the engine; the workers' memory use while
        generating them stays out of ``worker_rss_mb``."""
        with self.rss.excluded():
            corpus.write_corpus(self.spark, path, indices, self.seed, hetero, self.cpus)

    def timed_pipeline(self, pages: str, out: str, expect_docs: int, **kw) -> Optional[Sample]:
        """A measured pipeline call, which must extract every page."""
        if self.jobs is not None:
            self.jobs.start()
        n_spans = len(self.tracer.spans)
        res, sample = self.timed(self.pipeline, pages, out, **kw)
        if self.jobs is not None:
            self.jobs.stop()
        if self.tracer.enabled and res is not None:
            self.phases.append(layers.call_phases(self.tracer.spans[n_spans:]))
        if res is None:
            return None
        self.docs += res.n_docs
        self.docs_failed += res.n_failed
        if res.n_docs != expect_docs:
            self.failed += 1
            print(f"{out}: {res.n_docs} docs extracted, {expect_docs} expected", file=sys.stderr)
        self.call_s.append(sample)
        self.call_docs.append(res.n_docs)
        return sample


def _urls(indices: List[int]) -> Dict[str, int]:
    from credit_ocr_backend_spark.sources.pages import page_url

    return {page_url(k): k for k in indices}


def _window(w: int):
    """Start day and ``run_pipeline`` bounds of the w-th 3-day window."""
    from credit_ocr_backend_spark.sources.pages import EPOCH

    lo = EPOCH + timedelta(days=w * WINDOW_DAYS)
    hi = lo + timedelta(days=WINDOW_DAYS)
    fmt = "%Y-%m-%d %H:%M:%S"
    return lo, {"ts_min": lo.strftime(fmt), "ts_max": hi.strftime(fmt)}


def _warm(run: Run, pages: str, urls: List[str], **bounds) -> None:
    """Warm-up on pages the loop does not measure: one pipeline call,
    its resumes and a lookup of each url. This forks and imports the
    Python workers and lets the JVM compile the plans and paths the
    loop uses."""
    t0 = time.perf_counter()
    with run.tracer.span("setup.warmup"):
        out = os.path.join(run.work, "warm_out")
        run.pipeline(pages, out, **bounds)
        for _ in range(WARM_RESUMES):
            run.resume(pages, out, **bounds)
        for url in urls:
            run.status(out, url)
    run.setup["setup.warmup_s"] = time.perf_counter() - t0


def _write(run: Run, path: str, idx: List[int], hetero: bool) -> None:
    t0 = time.perf_counter()
    with run.tracer.span("setup.corpus"):
        run.write_corpus(path, idx, hetero)
    run.setup["setup.corpus_s"] = run.setup.get("setup.corpus_s", 0.0) + time.perf_counter() - t0


def bulk(run: Run, seconds: float) -> dict:
    """One call on about 20k unseen pages in one fused chunk, after a
    warm-up call on other pages, then resumes of the committed output
    interleaved with lookups of random documents in it, as many as fill
    the rest of ``seconds`` on a typical host."""
    idx = corpus.page_indices(run.seed, 0, BULK_DOCS, with_goldens=True)
    pages, out = os.path.join(run.work, "pages"), os.path.join(run.work, "out")
    _write(run, pages, idx, hetero=False)
    warm = corpus.page_indices(run.seed, WARM_OFFSET, WARM_DOCS, with_goldens=False)
    warm_pages = os.path.join(run.work, "warm_pages")
    _write(run, warm_pages, warm, hetero=False)
    _warm(run, warm_pages, [_url(k) for k in warm[:WARM_LOOKUPS]])
    rng = random.Random(run.seed)
    ticks = layers.cpu_ticks()
    deadline = time.perf_counter() + OVERRUN * seconds
    if run.timed_pipeline(pages, out, len(idx)) is not None:
        for i in range(max(MIN_SHORT, round((seconds - BULK_CALL_S) / SHORT_CALL_S))):
            if i >= MIN_SHORT and time.perf_counter() > deadline:
                break
            if i % (LOOKUPS_PER_RESUME + 1) == 0:
                _keep(run.resume_s, run.resume(pages, out))
            else:
                _keep(run.status_s, run.status(out, _url(rng.choice(idx))))
    run.steal_frac = layers.steal_frac(ticks, layers.cpu_ticks())
    return {"roots": [out], "hetero": False, "gate_indices": idx,
            "probe_indices": idx, "phase_pages": os.path.join(run.work, "phase_pages"),
            "phase_write": corpus.page_indices(run.seed, PHASE_OFFSET, BULK_DOCS, with_goldens=False),
            "phase_kw": {}, "chunk_docs": BULK_DOCS}


def windows(run: Run, seconds: float) -> dict:
    """About 6k noised pages over 30 days. Windows 0, 1, 2, ... of
    3 days each (cycling through the first ``MEASURED_WINDOWS``) are
    each their own call with its own output root, followed by resumes
    that must skip every chunk and by point lookups of the window's
    documents, as many windows as fill ``seconds`` on a typical host.
    The last window is the warm-up."""
    from credit_ocr_backend_spark.sources.pages import page_warc_ts

    idx = corpus.page_indices(run.seed, 0, WINDOW_DOCS, with_goldens=True)
    pages = os.path.join(run.work, "pages")
    _write(run, pages, idx, hetero=True)
    by_window: Dict[int, List[int]] = {}
    for k in idx:
        by_window.setdefault((page_warc_ts(k) - _window(0)[0]).days // WINDOW_DAYS, []).append(k)
    last = N_WINDOWS - 1
    _warm(run, pages, [_url(k) for k in by_window[last][:WARM_LOOKUPS]], **_window(last)[1])
    rng = random.Random(run.seed)
    roots: List[str] = []
    ticks = layers.cpu_ticks()
    deadline = time.perf_counter() + OVERRUN * seconds
    for n in range(max(MIN_WINDOWS, round(seconds / WINDOW_UNIT_S))):
        if n >= MIN_WINDOWS and time.perf_counter() > deadline:
            break
        w = n % MEASURED_WINDOWS
        bounds = _window(w)[1]
        out = os.path.join(run.work, f"out{n}_w{w}")
        roots.append(out)
        if run.timed_pipeline(pages, out, len(by_window[w]), **bounds) is None:
            continue
        for _ in range(WINDOW_RESUMES):
            _keep(run.resume_s, run.resume(pages, out, **bounds))
        for k in rng.sample(by_window[w], WINDOW_LOOKUPS):
            _keep(run.status_s, run.status(out, _url(k)))
    run.steal_frac = layers.steal_frac(ticks, layers.cpu_ticks())
    gated = roots[:MEASURED_WINDOWS]
    return {"roots": gated, "hetero": True,
            "gate_indices": [k for w in range(len(gated)) for k in by_window[w]],
            "probe_indices": idx, "phase_pages": pages, "phase_write": None,
            "phase_kw": _window(MEASURED_WINDOWS)[1],
            "chunk_docs": len(by_window[MEASURED_WINDOWS])}


WORKLOADS = {"bulk-stock": bulk, "incremental-windows": windows}


def _url(k: int) -> str:
    from credit_ocr_backend_spark.sources.pages import page_url

    return page_url(k)


def _keep(samples: List[Sample], value: Optional[Sample]) -> None:
    if value is not None:
        samples.append(value)


def _walls(samples: List[Sample]) -> List[float]:
    return [wall for wall, _ in samples]


def steady(samples: List[Sample]) -> List[int]:
    """Positions of the samples taken while the host left the run its
    CPUs: those during which the hypervisor stole at most
    ``STEAL_MAX`` of the CPU time, or, if fewer than a quarter of them
    (and ``MIN_STEADY``) were, that many with the least steal. On a shared VM stolen time
    stretches a call by more than its share (a 20% steal doubles a
    0.3 s lookup), and it comes in bursts that hit one run and spare
    the next."""
    order = sorted(range(len(samples)), key=lambda i: samples[i][1])
    keep = [i for i in order if samples[i][1] <= STEAL_MAX]
    least = max(MIN_STEADY, -(-len(samples) // 4))
    return sorted(keep if len(keep) >= least else order[:least])


def _steady_walls(samples: List[Sample]) -> List[float]:
    return [samples[i][0] for i in steady(samples)]


def _pct(samples: List[float], q: int) -> float:
    """The q-th percentile (inclusive method) of the samples."""
    if len(samples) < 2:
        return samples[0] if samples else float("nan")
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def check(run: Run, info: dict) -> None:
    """The correctness gate over the first measured unit's outputs."""
    with run.tracer.span("gate"):
        attempted, bad = gate.check(run.repo, info["roots"], _urls(info["gate_indices"]),
                                    run.seed, GATE_SAMPLE)
    run.attempted += attempted
    run.failed += len(bad)
    for msg in bad[:20]:
        print(f"correctness: {msg}", file=sys.stderr)


def end_to_end(run: Run, worker_rss_mb: float) -> Dict[str, float]:
    """The latencies and throughput are over the :func:`steady`
    samples."""
    calls = steady(run.call_s)
    return {
        "setup_s": sum(run.setup.values()),
        "docs_per_s": (sum(run.call_docs[i] for i in calls) / sum(run.call_s[i][0] for i in calls)
                       if calls else float("nan")),
        "window_s_p50": _pct(_steady_walls(run.call_s), 50),
        "resume_s_p50": _pct(_steady_walls(run.resume_s), 50),
        "status_s_p50": _pct(_steady_walls(run.status_s), 50),
        "status_s_p80": _pct(_steady_walls(run.status_s), 80),
        "worker_rss_mb": worker_rss_mb,
        "docs_ok_frac": 1.0 - run.docs_failed / run.docs if run.docs else 0.0,
        "calls_ok_frac": 1.0 - run.failed / run.attempted,
    }


def per_layer(run: Run, info: dict) -> Dict[str, float]:
    """The traced run's layer split. The row estimate, writes and
    lineage commit are medians over the measured calls. The compute
    phases come from a replay on a chunk of the workload's shape whose
    pages no call has seen yet, so the workers' caches are as cold as
    for the measured calls."""
    out = dict(run.setup)
    out.update(layers.core_probe(run.tracer, info["probe_indices"], run.seed, info["hetero"],
                                 PROBE_WARM, PROBE_TIME))
    if info["phase_write"]:
        corpus.write_corpus(run.spark, info["phase_pages"], info["phase_write"], run.seed,
                            info["hetero"], run.cpus)
    replay = layers.phase_split(run.spark, run.tracer, info["phase_pages"],
                                n_buckets=run.n_buckets, parallelism=run.cpus,
                                **info["phase_kw"])
    out.update(replay)
    measured = {name: statistics.median(p[name] for p in run.phases) for name in run.phases[0]}
    out.update(measured)
    out["pipeline.run_s"] = statistics.median(_walls(run.call_s))
    # the writes count once, as the overlapped wall the engine spends on them
    out["pipeline.unattributed_s"] = out["pipeline.run_s"] - sum(replay.values()) - sum(
        measured[n] for n in ("pipeline.estimate_rows_s", "checkpoint.writes_s",
                              "checkpoint.append_lineage_s"))
    core_us = out["core.document.process_document_us"] + out["operators.stages.extracted_row_us"]
    out["stages.boundary_frac"] = 1.0 - core_us * info["chunk_docs"] / (
        replay["stages.fused_s"] * 1e6 * run.cpus)
    url = _url(info["gate_indices"][0])
    out.update(layers.checkpoint_reads(run.spark, run.tracer, info["roots"][0], url))
    out["stages.tasks"] = run.jobs.tasks / len(run.call_s)
    out["stages.task_failures"] = run.jobs.failures
    out.update(layers.output_counts(info["roots"]))
    return out
