"""Tests of the benchmark's own parts: the salted generator, the tracer and
the correctness check. Run from the repository root:

    python3 -m pytest e2ebench -q
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from e2ebench.inputs import has_script, salted_row
from e2ebench.probes import Tracer, classify_tier
from intelligent_ocr_spark.functions.fasthtml import fast_applicable
from intelligent_ocr_spark.operators.extract import extract_record
from intelligent_ocr_spark.sources.pages import doc_class, gen_row

ROWS = range(400)
MALFORMED = 5


def _html_rows(seed: int):
    for i in ROWS:
        if doc_class(i) != MALFORMED:
            yield i, salted_row(i, seed)["html"].decode("utf-8")


def test_salted_generator_is_deterministic_per_seed():
    assert [salted_row(i, 3) for i in ROWS] == [salted_row(i, 3) for i in ROWS]
    assert [has_script(i, 3) for i in ROWS] != [has_script(i, 4) for i in ROWS]


def test_script_pages_fail_fast_applicable():
    pages = [raw for i, raw in _html_rows(3) if has_script(i, 3)]
    assert pages and not any(fast_applicable(raw) for raw in pages)


def test_doctype_only_pages_land_on_goahead_tier():
    pages = [raw for i, raw in _html_rows(3) if not has_script(i, 3)]
    assert pages and {classify_tier(raw)[0] for raw in pages} == {"goahead"}


def test_salted_pages_extract_like_their_clean_twins():
    for i in ROWS:
        clean, salted = gen_row(i, 3), salted_row(i, 3)
        a = extract_record(clean["url"], None, clean["html"], clean["text"], clean["lang"])
        b = extract_record(salted["url"], None, salted["html"], salted["text"], salted["lang"])
        assert {k: a[k] for k in ("extracted_text", "norm_text", "spans", "error", "is_blank")} == {
            k: b[k] for k in ("extracted_text", "norm_text", "spans", "error", "is_blank")
        }, i


def test_self_time_subtracts_children():
    tracer = Tracer("t")
    tracer.spans[:] = [("outer", 0, 100, -1), ("a", 10, 30, 0), ("b", 40, 90, 0), ("c", 50, 60, 2)]
    assert tracer.self_ns() == [30, 20, 40, 10]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(tmp_path_factory.mktemp("warehouse"))
    from intelligent_ocr_spark.session import build_session

    spark = build_session(parallelism=2, app_name="e2ebench_tests")
    yield spark
    spark.stop()


def test_corrupted_output_fails_the_check(spark, tmp_path):
    from e2ebench.inputs import write_pages
    from e2ebench.run import CheckFailed, _job, check_output

    n, seed = 300, 7
    write_pages(spark, str(tmp_path / "pages"), n, seed, True, 2)
    leaf = tmp_path / "pages" / "variant=salted"
    table = spark.read.parquet(str(leaf / "part=prior"), str(leaf / "part=tail"))
    clean_leaf = tmp_path / "pages" / "variant=clean"
    clean = spark.read.parquet(str(clean_leaf / "part=prior"), str(clean_leaf / "part=tail"))
    out = str(tmp_path / "out")
    _job(spark, table, out)
    check_output(spark, out, table, clean, n, "salted", seed)

    # one committed row's text changed, file name (and so commit) unchanged
    data_dir = os.path.join(out, "data")
    victim = os.path.join(data_dir, sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))[0])
    shutil.copy(victim, str(tmp_path / "victim"))
    rows = pq.read_table(victim).to_pylist()
    k = next(j for j, r in enumerate(rows) if r["extracted_text"])
    rows[k]["extracted_text"] += " "
    pq.write_table(pq.read_table(victim).from_pylist(rows, schema=pq.read_schema(victim)), victim)
    with pytest.raises(CheckFailed, match="differ"):
        check_output(spark, out, table, clean, n, "salted", seed)

    # the same row committed twice
    shutil.copy(str(tmp_path / "victim"), victim)
    check_output(spark, out, table, clean, n, "salted", seed)
    ckpt_dir = os.path.join(out, "checkpoint")
    first = sorted(f for f in os.listdir(ckpt_dir) if f.endswith(".parquet"))[0]
    ckpt = pq.read_table(os.path.join(ckpt_dir, first))
    pq.write_table(
        ckpt.slice(0, 1).cast(ckpt.schema), os.path.join(ckpt_dir, first.replace(".parquet", "-dup.parquet"))
    )
    with pytest.raises(CheckFailed, match="checkpoint"):
        check_output(spark, out, table, clean, n, "salted", seed)
