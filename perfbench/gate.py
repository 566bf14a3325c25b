"""Correctness gate, run outside the timed window.

Checks the committed outputs of the measured calls:

* pages 0-63 against the committed goldens
  (``tests/goldens/expected_extraction_{docs,results}.parquet``);
* a seeded sample of urls, whose ``extracted_text``, ``fields_json``,
  ``missing_fields`` and ``status`` must be byte-equal to a driver-side
  ``process_document`` + ``_extracted_row`` of the *stock* page (for
  the hetero corpus this is the standing check that noisy input gives
  the stock bytes);
* the results row count, which must equal the sum of per-doc field
  counts.

Returns the number of checks attempted and a message per mismatch.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DOC_COLUMNS = ["url", "status", "error", "extracted_text", "missing_fields", "fields_json"]


def _read(root: str, table: str, columns: List[str]) -> List[dict]:
    path = os.path.join(root, table)
    if not os.path.isdir(path):
        return []
    return pq.read_table(path, columns=columns).to_pylist()


def check(repo: str, out_roots: List[str], url_to_k: Dict[str, int],
          seed: int, n_sample: int) -> Tuple[int, List[str]]:
    from credit_ocr_backend_spark.core.config import default_config
    from credit_ocr_backend_spark.core.document import process_document
    from credit_ocr_backend_spark.operators.stages import _extracted_row
    from credit_ocr_backend_spark.sources.pages import build_page

    docs: Dict[str, dict] = {}
    n_result_rows = 0
    results: Dict[str, Counter] = {}
    golden_urls = {build_page(k)["url"] for k in range(64)}
    for root in out_roots:
        for row in _read(root, "docs", DOC_COLUMNS):
            docs[row["url"]] = row
        path = os.path.join(root, "results")
        if not os.path.isdir(path):
            continue
        table = pq.read_table(path, columns=["url", "field_name", "value", "confidence",
                                             "is_valid"])
        n_result_rows += table.num_rows
        table = table.filter(pc.is_in(table["url"], value_set=pa.array(sorted(golden_urls))))
        for row in table.to_pylist():
            results.setdefault(row["url"], Counter())[
                (row["field_name"], row["value"], row["confidence"], row["is_valid"])] += 1

    bad: List[str] = []
    attempted = 0

    # every corpus page was extracted exactly once
    attempted += 1
    if set(docs) != set(url_to_k):
        bad.append(f"docs table holds {len(docs)} urls, corpus has {len(url_to_k)}")

    golden_dir = os.path.join(repo, "tests", "goldens")
    exp_docs = pq.read_table(os.path.join(golden_dir, "expected_extraction_docs.parquet")).to_pylist()
    exp_res: Dict[str, Counter] = {}
    for r in pq.read_table(os.path.join(golden_dir, "expected_extraction_results.parquet")).to_pylist():
        exp_res.setdefault(r["url"], Counter())[
            (r["field_name"], r["value"], r["confidence"], r["is_valid"])] += 1
    for e in exp_docs:
        if e["url"] not in url_to_k:  # a golden page outside the measured windows
            continue
        attempted += 1
        d = docs.get(e["url"])
        got = None if d is None else (
            d["status"], len(d["missing_fields"] or []), len(d["extracted_text"]))
        if got != (e["status"], e["n_missing"], e["text_len"]):
            bad.append(f"golden doc mismatch {e['url']}: {got}")
        elif results.get(e["url"], Counter()) != exp_res.get(e["url"], Counter()):
            bad.append(f"golden results mismatch {e['url']}")

    attempted += 1
    # one "field_name" key per field object (inside a JSON string value
    # the quotes would be escaped)
    n_fields = pc.sum(pc.count_substring(
        pa.array([d["fields_json"] for d in docs.values()], pa.string()),
        '"field_name":')).as_py() or 0
    if n_fields != n_result_rows:
        bad.append(f"results rows {n_result_rows} != per-doc field count {n_fields}")

    cfg = default_config()
    urls = sorted(url_to_k)
    for url in random.Random(seed).sample(urls, min(n_sample, len(urls))):
        attempted += 1
        page = build_page(url_to_k[url])
        r = process_document(page["url"], page["html"], cfg)
        want = _extracted_row(url, 0, r["status"], r["error"], r["extracted_text"],
                              r["extraction"], 0.0)
        d = docs.get(url)
        if d is None or any(d[c] != want[c] for c in
                            ("extracted_text", "fields_json", "missing_fields", "status")):
            bad.append(f"sampled doc differs from driver-side extraction: {url}")
    return attempted, bad
