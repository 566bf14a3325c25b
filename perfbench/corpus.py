"""Seeded page corpora for the extraction benchmark.

A corpus is a list of page indices for ``sources.pages.build_page``:
pages 0-63 (the pages with committed goldens) followed by a range whose
start depends on the seed, so every seed gives distinct unseen pages
while the goldens stay checkable. The *hetero* variant adds a per-page
``data-k`` attribute to the ``<header>``, ``<nav>``, ``<aside>``,
``<footer>`` and ``<tr>`` opening tags. The attribute is ignored by the
extractor, so the extracted bytes must equal the stock page's, while
every per-page fragment the core caches sees a key it has never seen.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

GOLDEN_PAGES = 64
# Seed s draws pages from [BASE + s * SEED_STRIDE, ...): far from the
# goldens and from every other seed's pages.
BASE = 1_000_000
SEED_STRIDE = 1_000_000

_NOISED_TAGS = (b"<header>", b"<nav>", b"<aside>", b"<footer>", b"<tr>")


def page_indices(seed: int, offset: int, n: int, with_goldens: bool) -> List[int]:
    """``n`` page indices: pages 0-63 first when ``with_goldens``, then
    ``[BASE + seed * SEED_STRIDE + offset, ...)``."""
    head = list(range(GOLDEN_PAGES)) if with_goldens else []
    start = BASE + seed * SEED_STRIDE + offset
    return head + list(range(start, start + n - len(head)))


def noise_key(seed: int, k: int) -> str:
    return hashlib.blake2b(f"{seed}:{k}".encode(), digest_size=6).hexdigest()


def noised_html(html: bytes, seed: int, k: int) -> bytes:
    """Stock page bytes with a ``data-k`` attribute keyed on (seed, k)
    on every chrome and table-row opening tag."""
    attr = f' data-k="{noise_key(seed, k)}">'.encode()
    for tag in _NOISED_TAGS:
        html = html.replace(tag, tag[:-1] + attr)
    return html


def build(k: int, seed: int, hetero: bool) -> dict:
    from credit_ocr_backend_spark.sources.pages import build_page

    page = build_page(k)
    if hetero:
        page["html"] = noised_html(page["html"], seed, k)
    return page


def write_corpus(spark, path: str, indices: List[int], seed: int,
                 hetero: bool, partitions: int) -> None:
    """Write the pages as the engine's input table (the schema and
    ``warc_date`` day partitioning of ``sources.pages.write_pages``),
    generated on the executors."""
    import pandas as pd
    from pyspark.sql import functions as F

    from credit_ocr_backend_spark.sources.pages import generate_pages_df

    schema = generate_pages_df(spark, 0).drop("warc_date").schema
    idx = list(indices)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([build(idx[int(i)], seed, hetero) for i in pdf["id"]])

    (
        spark.range(0, len(idx), numPartitions=partitions)
        .mapInPandas(gen, schema=schema)
        .withColumn("warc_date", F.to_date("warc_ts"))
        .write.mode("overwrite").partitionBy("warc_date").parquet(path)
    )
