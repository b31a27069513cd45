"""Benchmark inputs: seeded page tables, clean or "salted".

Real Common-Crawl HTML starts with a doctype and carries comments, and many
pages carry ``<script>``/``<style>``. :func:`salted_row` takes a row from
``sources.pages.gen_row`` and adds exactly those features, leaving the
visible text alone, so the extracted output must equal the clean twin's:

* every HTML page gets ``<!DOCTYPE html>`` and two comments;
* a seeded half of them, except blank-class pages, also gets
  ``<style>``/``<script>`` in ``<head>`` and a ``<script>`` at the end of
  ``<body>``.

Malformed rows (NULL html, undecodable bytes) are left untouched.

:func:`write_pages` writes one seeded table in two parts: the rows a
resumed job finds already committed (``prior``, a seeded ~95%) and the
rest (``tail``), and with ``salted`` the clean twin of each part.

Known quirk, left for a later change: on a blank-class page a ``<script>``
or ``<style>``, in ``<body>`` or in ``<head>``, flips ``is_blank`` to false,
because the blank test counts all collected text before boilerplate
filtering and raw script/style text is collected. That is why blank-class
pages never get script or style here.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import types as T

from intelligent_ocr_spark.sources.pages import PAGES_SCHEMA, doc_class, gen_row

DOCTYPE = "<!DOCTYPE html>"
_HEAD_EXTRA = (
    "<style>body { margin: 0 } .nav > a { color: #333 }</style>"
    '<script>var cfg = {a: 1, b: "x"}; if (cfg.a < 2 && cfg.b > "w") { cfg.c = 3; }</script>'
)
_BODY_SCRIPT = "<script>window.dataLayer = window.dataLayer || []; dataLayer.push({n: 1});</script>"
_BLANK_CLASS = 3
_MALFORMED_CLASS = 5


def has_script(i: int, seed: int) -> bool:
    """Whether row ``i`` gets script/style salt (a seeded half of the
    non-blank HTML rows)."""
    if doc_class(i) == _BLANK_CLASS:
        return False
    return random.Random(f"salt:{seed}:{i}").random() < 0.5


def salt_html(raw: str, i: int, script: bool) -> str:
    """Add doctype, comments and (if ``script``) script/style to one page."""
    out = DOCTYPE + f"<!-- page {i} rendered by cms -->" + raw
    head_extra = _HEAD_EXTRA if script else ""
    if "<head>" in out:
        out = out.replace("</head>", head_extra + "</head>", 1)
    elif head_extra:
        # geo pages open straight into <body>
        out = out.replace("<body>", "<head>" + head_extra + "</head><body>", 1)
    body_tail = "<!-- end of content -->"
    if script:
        body_tail += _BODY_SCRIPT
    return out.replace("</body>", body_tail + "</body>", 1)


def salted_row(i: int, seed: int) -> dict:
    """Pure function (seed, i) -> the salted twin of ``gen_row(i, seed)``."""
    row = gen_row(i, seed)
    if row["html"] is None or doc_class(i) == _MALFORMED_CLASS:
        return row
    raw = row["html"].decode("utf-8")
    row["html"] = salt_html(raw, i, has_script(i, seed)).encode("utf-8")
    return row


PRIOR_SHARE = 0.95


def in_prior(i: int, seed: int) -> bool:
    """Whether row ``i`` belongs to the seeded ~95% committed before a resume."""
    return random.Random(f"resume:{seed}:{i}").random() < PRIOR_SHARE


def write_pages(spark, path: str, n: int, seed: int, salted: bool, partitions: int, warm: int = 0) -> None:
    """Write the n-row table to ``path/variant=<v>/part=<p>``: ``p`` is
    ``prior`` or ``tail`` and ``v`` is ``clean`` and, if ``salted``, also
    ``salted``. Each leaf directory is a plain page table. ``warm`` more
    rows, ids n to n + warm - 1, go to the parts ``warm-prior`` and
    ``warm-tail``: a small table of the same kind for a warm-up round."""
    cols = [f.name for f in PAGES_SCHEMA.fields]
    schema = T.StructType(
        PAGES_SCHEMA.fields + [T.StructField("variant", T.StringType()), T.StructField("part", T.StringType())]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                part = "prior" if in_prior(i, seed) else "tail"
                if i >= n:
                    part = "warm-" + part
                rows.append({**gen_row(i, seed), "variant": "clean", "part": part})
                if salted:
                    rows.append({**salted_row(i, seed), "variant": "salted", "part": part})
            yield pd.DataFrame(rows, columns=cols + ["variant", "part"])

    (
        spark.range(0, n + warm, 1, partitions)
        .mapInPandas(gen, schema)
        .write.partitionBy("variant", "part")
        .parquet(path)
    )
