#!/usr/bin/env python3
"""End-to-end benchmark of the production extraction job.

    python3 e2ebench/run.py --workload fresh --seed 1 --seconds 12 --trace 0

Runs ``plans.pipeline.run_extraction_job`` -- the path
``jobs/run_extraction.py`` ships -- at ``local[4]`` on a page table it
generates from ``--seed``, checks that the committed output is exactly once
and byte-correct, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` makes a separate traced run and reports
the per-layer metrics. README.md in this directory lists every metric and
why each workload exists.

Every run is one fresh process with one fresh Spark session, as with
``spark-submit``. All files go under ``.e2ebench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES = 4
INPUT_FILES = 8  # parquet files per table part
SNAPSHOT_ID = 1
DEFAULT_SEED = 1
ROUND_SECONDS = 4.0  # nominal length of one timed round: a run makes --seconds / this rounds
WARM_DOCS = 2000  # rows of the small table the set-up's warm-up round runs on
REPLAY_DOCS = 4096  # rows replayed in-process by the traced run
LADDER_PASSES = 2  # passes over the traced ladder; each rung is their median
WORKLOADS = {
    # clean generator pages: parsing stays on the geo and fused fast tiers
    "fresh": {"docs": 20000, "salted": False},
    # the same rows with doctype/comments (goahead tier) and, on a seeded
    # half, script/style (stdlib tier)
    "salted": {"docs": 20000, "salted": True},
}
DIGEST_COLS = ("url", "extracted_text", "norm_text", "spans", "skipped", "is_blank", "error")
# digest of the committed table for DEFAULT_SEED; salted pages extract to
# the same rows as their clean twins, so both workloads pin the same value
PINNED_DIGEST = {"fresh": -8409141034671236697, "salted": -8409141034671236697}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"[e2ebench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


class CheckFailed(RuntimeError):
    """The program's output is not correct."""


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _dir_bytes(*dirs: str) -> int:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _parquet_files(d: str) -> set[str]:
    if not os.path.isdir(d):
        return set()
    return {f for f in os.listdir(d) if f.endswith(".parquet")}


# -- environment and session ----------------------------------------------


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"


def _build_session(work: str):
    from intelligent_ocr_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    return build_session(
        parallelism=CORES,
        app_name="e2ebench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _stop_session(spark, sampler) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    sampler.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in sampler.seen:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


# -- the job and its checks -----------------------------------------------


def _job(spark, df, out: str, **kw) -> dict:
    from intelligent_ocr_spark.plans.pipeline import run_extraction_job

    return run_extraction_job(spark, df, out, SNAPSHOT_ID, **kw)


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def check_output(spark, out: str, table, clean, n: int, workload: str, seed: int) -> None:
    """Raise CheckFailed unless ``out`` holds exactly the right rows.

    One query joins on url: the committed data read through
    ``read_committed``, the checkpoint's rows per url, and the rows
    ``extract_pages`` makes from ``table`` and, when ``clean`` is another
    table (``salted``), from the clean twins. Rows are compared by their
    xxhash64 over ``DIGEST_COLS``; a table's digest is the bit_xor of those
    hashes, so it does not depend on row order.

    * exactly once: each of the ``n`` input urls has one checkpoint row and
      one data row, and no other url has any;
    * byte identity: each data row equals the row ``extract_pages`` makes
      from the same page and, on ``salted``, from its clean twin (the twin
      check); for the default seed the digest also equals the pinned one.
    """
    from pyspark.sql import functions as F

    from intelligent_ocr_spark.operators.extract import extract_pages
    from intelligent_ocr_spark.plans.checkpoint import read_committed, read_table_dir

    data = read_committed(spark, out, "data")
    ckpt = read_table_dir(spark, os.path.join(out, "checkpoint"))
    _expect(data is not None and ckpt is not None, "nothing committed")
    row_hash = F.xxhash64(*DIGEST_COLS)
    refs = {"ref": table} if clean is table else {"ref": table, "twin": clean}
    joined = ckpt.groupBy("url").agg(F.count("*").alias("ckpt_rows"))
    joined = joined.join(data.select("url", row_hash.alias("got")), "url", "full_outer")
    same = F.lit(True)
    for name, df in refs.items():
        joined = joined.join(extract_pages(df).select("url", row_hash.alias(name)), "url", "full_outer")
        same = same & (F.col("got") == F.col(name))

    def n_false(cond):  # a comparison with a missing side is NULL: false
        return F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1))

    res = joined.agg(
        F.count("*").alias("rows"),
        n_false(F.col("ckpt_rows") == 1).alias("ckpt_bad"),
        n_false(same).alias("data_bad"),
        F.expr("bit_xor(got)").alias("got"),
        *[F.expr(f"bit_xor({name})").alias(name) for name in refs],
    ).first()
    _expect(not res["ckpt_bad"], f"checkpoint: {res['ckpt_bad']} urls with no, repeated or unexpected rows")
    _log("checkpoint exactly once")
    _expect(
        res["rows"] == n and not res["data_bad"],
        f"committed data: {res['data_bad']} of {res['rows']} rows missing, extra or different from "
        f"extract_pages ({n} input urls)",
    )
    got = res["got"]
    _log(f"digest {got}")
    _expect(all(res[name] == got for name in refs), f"digest {got} != extract_pages digests")
    if seed == DEFAULT_SEED:
        _expect(got == PINNED_DIGEST[workload], f"digest {got} != pinned {PINNED_DIGEST[workload]}")


# -- runs -----------------------------------------------------------------


class Bench:
    """One benchmark run: session, inputs, timed jobs, checks."""

    def __init__(self, spark, sampler, work: str, workload: str, seed: int) -> None:
        self.spark = spark
        self.sampler = sampler
        self.work = work
        self.workload = workload
        self.seed = seed
        self.attempted = 0
        self.errors = 0

    def make_inputs(self) -> None:
        from e2ebench.inputs import in_prior, write_pages

        wl = WORKLOADS[self.workload]
        self.n = wl["docs"]
        pages = os.path.join(self.work, "pages")
        write_pages(self.spark, pages, self.n, self.seed, wl["salted"], INPUT_FILES, WARM_DOCS)
        variant = os.path.join(pages, "variant=salted" if wl["salted"] else "variant=clean")
        self.prior_dir = os.path.join(variant, "part=prior")
        read = self.spark.read.parquet
        self.prior = read(self.prior_dir)
        self.table = read(self.prior_dir, os.path.join(variant, "part=tail"))
        warm_prior = os.path.join(variant, "part=warm-prior")
        self.warm_prior = read(warm_prior)
        self.warm_table = read(warm_prior, os.path.join(variant, "part=warm-tail"))
        self.n_warm_prior = sum(in_prior(i, self.seed) for i in range(self.n, self.n + WARM_DOCS))
        self.clean = self.table
        if wl["salted"]:
            clean = os.path.join(pages, "variant=clean")
            self.clean = read(os.path.join(clean, "part=prior"), os.path.join(clean, "part=tail"))
        self.n_prior = sum(in_prior(i, self.seed) for i in range(self.n))
        self.n_tail = self.n - self.n_prior

    def warm(self) -> None:
        """A throwaway round on a small table of the same kind. The first
        jobs in a JVM that read page tables, anti-join a checkpoint and
        commit pay lazy set-up (codegen, reader and writer classes, worker
        imports) that belongs to set-up time, not to the first timed round."""
        out = os.path.join(self.work, "warm")
        jobs = (
            (self.warm_prior, self.n_warm_prior),
            (self.warm_table, WARM_DOCS - self.n_warm_prior),
            (self.warm_table, 0),
        )
        for df, expect_docs in jobs:
            done = _job(self.spark, df, out)["docs_processed"]
            _expect(done == expect_docs, f"warm job processed {done} docs, expected {expect_docs}")
        shutil.rmtree(out)

    def timed_job(self, df, out: str, expect_docs: int) -> tuple[float, dict]:
        self.attempted += expect_docs
        with self.sampler.measuring():
            t0 = time.perf_counter()
            summary = _job(self.spark, df, out)
            wall = time.perf_counter() - t0
        self.errors += summary["errors"]
        _log(f"job over {expect_docs} new docs: {wall:.2f}s")
        _expect(
            summary["docs_processed"] == expect_docs,
            f"job processed {summary['docs_processed']} docs, expected {expect_docs}",
        )
        return wall, summary

    def check(self, out: str) -> None:
        check_output(self.spark, out, self.table, self.clean, self.n, self.workload, self.seed)

    def end_to_end(self, seconds: float) -> dict:
        """Timed rounds of: a fresh job over the prior rows into an empty
        directory, the job that finishes the tail, and the job that then
        finds nothing to do. Each metric is the median over rounds.

        ``seconds`` sets the number of rounds, one per ``ROUND_SECONDS``,
        not a deadline: with a deadline a faster host would fit more
        rounds, and since later rounds in a JVM run faster, the median
        would move with the round count as well as with the host."""
        rates, tails, noops = [], [], []
        out = None
        for k in range(max(1, round(seconds / ROUND_SECONDS))):
            if out is not None:
                shutil.rmtree(out)
            out = os.path.join(self.work, f"out{k}")
            wall, _ = self.timed_job(self.prior, out, self.n_prior)
            rates.append(self.n_prior / wall)
            tails.append(self.timed_job(self.table, out, self.n_tail)[0])
            noops.append(self.timed_job(self.table, out, 0)[0])
        out_bytes = _dir_bytes(*(os.path.join(out, d) for d in ("data", "checkpoint", "lineage")))
        self.final_out = out
        return {
            "docs_per_s": (_median(rates), "docs/s"),
            "resume_tail_s": (_median(tails), "s"),
            "resume_noop_s": (_median(noops), "s"),
            "peak_worker_rss_mb": (self.sampler.peak_bytes / 2**20, "MiB"),
            "out_bytes_per_doc": (out_bytes / self.n, "B/doc"),
            "doc_error_share": (self.errors / self.attempted, "ratio"),
        }

    def per_layer(self, tracer) -> dict:
        """The traced run: a ladder of driver-side calls, the resume split,
        and an in-process replay of the kernel and the commit stage."""
        from pyspark.sql import functions as F

        from intelligent_ocr_spark.operators.extract import extract_pages
        from intelligent_ocr_spark.plans.checkpoint import completed_urls, read_committed, read_table_dir

        spark = self.spark
        parts = spark.sparkContext.defaultParallelism

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def shuffled():
            return self.prior.repartition(parts, F.xxhash64("url"))

        def gate_input(out: str, cfg_hash: str) -> None:
            completed_urls(spark, os.path.join(out, "checkpoint"), SNAPSHOT_ID, cfg_hash).count()
            self.prior.select("url").distinct().count()

        def gate_lineage(out: str, cfg_hash: str) -> None:
            lin = read_committed(spark, out, "lineage")
            gen = read_table_dir(spark, os.path.join(out, "checkpoint")).filter(
                (F.col("input_snapshot_id") == SNAPSHOT_ID) & (F.col("config_hash") == cfg_hash)
            )
            gen.count()
            digests = gen.select("commit_digest").distinct()
            lin.join(F.broadcast(digests), "commit_digest", "left_semi").agg(F.sum("docs")).collect()

        rungs: dict[str, list[float]] = {}

        def rung(name: str, fn, *args, **kwargs):
            with tracer.span(f"pipeline.{name}") as idx:
                result = fn(*args, **kwargs)
            rungs.setdefault(name, []).append(tracer.duration_s(idx))
            return result

        # the ladder on fresh tables, repeated: each rung is the median over
        # the passes, so that the first call's extra cost is not one rung's
        for k in range(LADDER_PASSES):
            ladder = os.path.join(self.work, f"ladder{k}")
            with tracer.span("pipeline.ladder"):
                rung("scan", noop, self.prior)
                rung("shuffle", noop, shuffled())
                rung("extract", noop, extract_pages(shuffled()))
                self.attempted += self.n_prior
                cfg_hash = rung("commit", _job, spark, self.prior, ladder, integrity_check=False)["config_hash"]
                rung("gate_input", gate_input, ladder, cfg_hash)
                rung("gate_lineage", gate_lineage, ladder, cfg_hash)

        # the production job with its gate, untraced, after the ladder so
        # that neither pays the first large job's extra cost; the resume
        # split runs on its state
        untraced = os.path.join(self.work, "untraced")
        untraced_s, _ = self.timed_job(self.prior, untraced, self.n_prior)
        done = completed_urls(spark, os.path.join(untraced, "checkpoint"), SNAPSHOT_ID, cfg_hash)
        with tracer.span("pipeline.resume"):
            for _ in range(LADDER_PASSES):
                rung("scan_all", noop, self.table)
                rung("antijoin", noop, self.table.join(done, "url", "left_anti"))
            subdirs = [os.path.join(untraced, d) for d in ("data", "checkpoint", "lineage")]
            before = [_parquet_files(d) for d in subdirs]
            with tracer.span("pipeline.tail"):
                _, tail = self.timed_job(self.table, untraced, self.n_tail)
            after = [_parquet_files(d) for d in subdirs]
        r = {name: _median(ts) for name, ts in rungs.items()}

        kernel = self.replay(tracer, cfg_hash)
        self.final_out = untraced
        overhead = (r["commit"] + r["gate_input"] - untraced_s) / untraced_s
        return {
            "pipeline.scan_s": (r["scan"], "s"),
            "pipeline.antijoin_s": (r["antijoin"] - r["scan_all"], "s"),
            "pipeline.shuffle_s": (r["shuffle"] - r["scan"], "s"),
            "pipeline.extract_s": (r["extract"] - r["shuffle"], "s"),
            "pipeline.commit_s": (r["commit"] - r["extract"], "s"),
            "pipeline.gate_input_s": (r["gate_input"], "s"),
            "pipeline.gate_lineage_s": (r["gate_lineage"], "s"),
            "checkpoint.files_listed": (len(before[1]), "count"),
            "checkpoint.files_committed": (sum(len(a - b) for a, b in zip(after, before)), "count"),
            "checkpoint.skip_share": ((self.n - tail["docs_processed"]) / self.n, "ratio"),
            **kernel,
            "trace.overhead_share": (overhead, "ratio"),
        }

    def replay(self, tracer, cfg_hash: str) -> dict:
        """Kernel and commit-stage metrics from the workload's own batches."""
        import pyarrow.parquet as pq

        from e2ebench.probes import TIERS, replay_commit, replay_kernel, traced_kernel

        batches, rows = [], 0
        files = sorted(f for f in os.listdir(self.prior_dir) if f.endswith(".parquet"))
        cols = ["url", "warc_ts", "html", "text", "lang"]
        for f in files:
            for b in pq.ParquetFile(os.path.join(self.prior_dir, f)).iter_batches(4096, columns=cols):
                batches.append(b.slice(0, REPLAY_DOCS - rows))
                rows += batches[-1].num_rows
                if rows == REPLAY_DOCS:
                    break
            if rows == REPLAY_DOCS:
                break
        tiers: dict[int, str] = {}
        counts = {"attempts": 0, "bails": 0, "retries": 0}
        commit_dir = os.path.join(self.work, "replay-commit")
        with traced_kernel(tracer, tiers, counts):
            start = len(tracer.spans)
            replay_kernel(tracer, batches)
            mid = len(tracer.spans)
            kernel_counts = dict(counts)
            replay_commit(tracer, batches, commit_dir, SNAPSHOT_ID, cfg_hash)
        self_ns = tracer.self_ns()

        def per(name, lo, hi, unit_count) -> float:
            """Self time (us) of the ``name`` spans in [lo, hi) per unit."""
            total = sum(s for (n, *_), s in zip(tracer.spans[lo:hi], self_ns[lo:hi]) if n == name)
            return total / 1e3 / unit_count if unit_count else 0.0

        spans = tracer.spans
        parse_idx = [i for i in range(start, mid) if spans[i][0] == "extract.parse"]
        n_parsed = len(parse_idx)
        geo_pages = sum(1 for i in range(start, mid) if spans[i][0] == "layout.reading_order")
        out = {
            "extract.arrow_us": (per("extract.arrow", start, mid, rows), "us"),
            "extract.record_us": (per("extract.record", start, mid, rows), "us"),
            "extract.parse_us": (per("extract.parse", start, mid, rows), "us"),
        }
        for t in TIERS:
            on_t = [i for i in parse_idx if tiers[i] == t]
            out[f"extract.tier_share.{t}"] = (len(on_t) / n_parsed, "ratio")
            us = sum(spans[i][2] - spans[i][1] for i in on_t) / 1e3 / len(on_t) if on_t else 0.0
            out[f"extract.tier_us.{t}"] = (us, "us")
        attempts = kernel_counts["attempts"]
        out["extract.bail_share"] = (kernel_counts["bails"] / attempts if attempts else 0.0, "ratio")
        out["extract.retries"] = (kernel_counts["retries"], "count")
        out["charset.decode_us"] = (per("charset.decode", start, mid, rows), "us")
        out["layout.reading_order_us"] = (per("layout.reading_order", start, mid, geo_pages), "us")
        out["normalize.nfkc_us"] = (per("normalize.nfkc", start, mid, rows), "us")
        out["normalize.variant_us"] = (per("normalize.variant", start, mid, rows), "us")
        out["commit.write_us"] = (per("commit.stage", mid, len(spans), rows), "us")
        out["commit.bytes_out"] = (float(_dir_bytes(commit_dir)), "B")
        return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from e2ebench.probes import RssSampler, Tracer

    run_id = f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}"
    work_root = os.path.join(ROOT, ".e2ebench_work")
    work = os.path.join(work_root, run_id)
    _isolate(work)

    t0 = time.perf_counter()
    spark = _build_session(work)
    build_s = time.perf_counter() - t0
    from pyspark import SparkContext

    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    bench = Bench(spark, sampler, work, workload, seed)
    metrics: dict = {}
    try:
        bench.make_inputs()
        _log(f"inputs: {bench.n_prior} prior + {bench.n_tail} tail rows")
        t0 = time.perf_counter()
        bench.warm()
        setup_s = build_s + time.perf_counter() - t0
        _log(f"set-up {setup_s:.2f}s (session {build_s:.2f}s)")
        if trace:
            tracer = Tracer(run_id)
            metrics = bench.per_layer(tracer)
            tracer.write(os.path.join(work_root, f"trace-{workload}-{seed}.jsonl"))
        else:
            metrics = bench.end_to_end(seconds)
            metrics["setup_s"] = (setup_s, "s")
        _log("checking output")
        bench.check(bench.final_out)
        _log("output correct")
        correct = True
    except Exception as e:
        # a job that raises, or a failed check, counts every doc the run
        # attempted as failed
        if isinstance(e, CheckFailed):
            print(f"correctness check failed: {e}", file=sys.stderr)
        else:
            traceback.print_exc()
        correct = False
        if not trace:
            metrics["doc_error_share"] = (1.0, "ratio")
    finally:
        _stop_session(spark, sampler)
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": 0 if correct else bench.attempted,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "intelligent_ocr_spark")):
        print(f"{ROOT} holds no intelligent_ocr_spark sources to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
