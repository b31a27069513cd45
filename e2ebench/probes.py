"""Measurement probes that live in the benchmark, not in the program.

* :class:`Tracer` keeps spans (name, start, end, parent, run id) in memory
  and writes them to one file at the end. A span's self time is its
  duration minus the time its child spans cover.
* :class:`RssSampler` is one thread that reads ``/proc`` and sums the
  resident memory of the JVM's Python worker processes.
* :func:`replay_kernel` and :func:`replay_commit` feed a workload's own
  parquet batches through the extraction kernel and the job's commit stage
  in this process, with the module-level functions the kernel calls wrapped
  in spans.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory span recorder for one benchmark run (single-threaded)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[tuple[str, int, int, int]] = []  # name, t0, t1, parent
        self._stack: list[int] = []

    def _open(self) -> tuple[int, int]:
        idx = len(self.spans)
        self.spans.append(None)  # slot filled when the span closes
        parent = self._stack[-1] if self._stack else -1
        self._stack.append(idx)
        return idx, parent

    def _close(self, idx: int, name: str, t0: int, parent: int) -> None:
        self._stack.pop()
        self.spans[idx] = (name, t0, time.perf_counter_ns(), parent)

    @contextmanager
    def span(self, name: str):
        idx, parent = self._open()
        t0 = time.perf_counter_ns()
        try:
            yield idx
        finally:
            self._close(idx, name, t0, parent)

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` recorded as span ``name``; ``on_result(span_idx, args,
        result)`` runs after the span closes, outside the timed interval."""
        clock = time.perf_counter_ns

        def traced(*args, **kwargs):
            idx, parent = self._open()
            t0 = clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(idx, name, t0, parent)
            if on_result is not None:
                on_result(idx, args, result)
            return result

        return traced

    def duration_s(self, idx: int) -> float:
        _, t0, t1, _ = self.spans[idx]
        return (t1 - t0) / 1e9

    def self_ns(self) -> list[int]:
        """Self time of every span, indexed like :attr:`spans`."""
        out = [t1 - t0 for _, t0, t1, _ in self.spans]
        for _, t0, t1, parent in self.spans:
            if parent >= 0:
                out[parent] -= t1 - t0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent in self.spans:
                f.write(json.dumps([name, t0, t1, parent, self.run_id]) + "\n")


def _read_stat(pid: str) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # comm may hold spaces; it is the text between the first '(' and last ')'
    comm = stat[stat.index("(") + 1 : stat.rindex(")")]
    ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
    return ppid, comm


def python_descendants(root_pid: int) -> list[int]:
    """Pids of the Python processes below ``root_pid`` (the JVM's worker
    daemon and the workers it forks)."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(name)
        if st is not None:
            children.setdefault(st[0], []).append((int(name), st[1]))
    out: list[int] = []
    todo = [root_pid]
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            todo.append(pid)
            if comm.startswith("python"):
                out.append(pid)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_SIZE
    except OSError:
        return 0  # the process ended between listing and reading


class RssSampler:
    """One thread sampling the summed RSS of the JVM's Python workers.

    The peak is kept only while :meth:`measuring` is active, so set-up and
    correctness checks do not count. Every worker pid ever seen is kept, so
    the caller can wait for them to end after the JVM stops.
    """

    def __init__(self, jvm_pid: int, interval_s: float = 0.05) -> None:
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            pids = python_descendants(self.jvm_pid)
            self.seen.update(pids)
            if self._active:
                total = sum(rss_bytes(p) for p in pids)
                if total > self.peak_bytes:
                    self.peak_bytes = total

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @contextmanager
    def measuring(self):
        self._active = True
        try:
            yield
        finally:
            self._active = False


# -- in-process kernel replay -------------------------------------------

TIERS = ("geo", "fused", "goahead", "stdlib")


def classify_tier(raw: str) -> tuple[str, int, int]:
    """(tier, fast-tier attempts, fast-tier bails) for one decoded page,
    calling the tier entry points in the order ``_parse_html`` does."""
    from intelligent_ocr_spark.functions.fasthtml import fast_applicable
    from intelligent_ocr_spark.operators import extract as ex

    if not fast_applicable(raw):
        return "stdlib", 0, 0
    if ex._scan_geo_page(raw) is not None:
        return "geo", 1, 0
    if ex._scan_page(raw) is not None:
        return "fused", 2, 1
    return "goahead", 2, 2


@contextmanager
def _patched(module, **attrs):
    old = {k: getattr(module, k) for k in attrs}
    for k, v in attrs.items():
        setattr(module, k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            setattr(module, k, v)


class _TimedNormalizer:
    """Proxy whose variant-normalizer calls are recorded as spans."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.normalize = tracer.wrap(inner.normalize, "normalize.variant")
        self.needs_normalization = tracer.wrap(inner.needs_normalization, "normalize.variant")


@contextmanager
def traced_kernel(tracer: Tracer, tiers: dict[int, str], counts: dict[str, int]):
    """Wrap the module-level functions the extraction kernel calls.

    ``tiers`` maps each ``_parse_html`` span to the page's tier; ``counts``
    accumulates fast-tier ``attempts`` and ``bails`` and parse ``retries``.
    """
    from intelligent_ocr_spark.operators import extract as ex
    from intelligent_ocr_spark.plans import pipeline

    def on_parse(idx, args, _result):
        # its own span, so the re-scan is not charged to extract_record
        with tracer.span("trace.classify"):
            tier, attempts, bails = classify_tier(args[0])
        tiers[idx] = tier
        counts["attempts"] += attempts
        counts["bails"] += bails

    def on_record(_idx, _args, result):
        counts["retries"] += result["retries"]

    normalizer = _TimedNormalizer(ex.get_normalizer(), tracer)
    record = tracer.wrap(ex.extract_record, "extract.record", on_record)
    with _patched(
        ex,
        extract_record=record,
        _parse_html=tracer.wrap(ex._parse_html, "extract.parse", on_parse),
        decode_html_bytes=tracer.wrap(ex.decode_html_bytes, "charset.decode"),
        reading_order=tracer.wrap(ex.reading_order, "layout.reading_order"),
        nfkc=tracer.wrap(ex.nfkc, "normalize.nfkc"),
        get_normalizer=lambda: normalizer,
    ), _patched(pipeline, extract_record=record):
        yield


def replay_kernel(tracer: Tracer, batches: list) -> None:
    """Feed input record batches through ``_extract_arrow_batches``; one
    ``extract.arrow`` span per output batch."""
    from intelligent_ocr_spark.operators import extract as ex

    it = ex._extract_arrow_batches(
        iter(batches),
        ex.DEFAULT_MIN_CONFIDENCE,
        ex.DEFAULT_EXISTING_TEXT_MIN_CHARS,
        ex.DEFAULT_RETRY_LIMIT,
    )
    while True:
        with tracer.span("extract.arrow"):
            out = next(it, None)
        if out is None:
            return


def replay_commit(tracer: Tracer, batches: list, out_dir: str, snapshot_id: int, cfg_hash: str) -> None:
    """Run the job's commit-stage function over the same batches (as the
    pandas frames ``mapInPandas`` hands it) into ``out_dir``."""
    from intelligent_ocr_spark.operators import extract as ex
    from intelligent_ocr_spark.plans import pipeline

    commit = pipeline._make_commit_fn(
        out_dir,
        snapshot_id,
        cfg_hash,
        ex.DEFAULT_MIN_CONFIDENCE,
        ex.DEFAULT_EXISTING_TEXT_MIN_CHARS,
        ex.DEFAULT_RETRY_LIMIT,
        None,
    )
    frames = [b.to_pandas() for b in batches]
    with tracer.span("commit.stage"):
        for _ in commit(iter(frames)):
            pass
