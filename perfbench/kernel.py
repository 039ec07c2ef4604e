"""The extraction kernel timed without Spark.

``extract_page.func`` is the pandas function the Arrow UDF wraps; calling
it on a pandas batch of seeded corpus pages gives the compute side of the
compute/boundary split. Both of its paths are timed: the changed path
(full parse: title, links, forms) and the unchanged path (title only).
The weblib pieces of the full path are timed on their own as well.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

SAMPLE_PAGES = 1000
REPEATS = 3


def load_sample(corpus_dir: str, n: int = SAMPLE_PAGES):
    """The first ``n`` HTML pages of the corpus's first part, as pandas."""
    part = sorted(os.listdir(os.path.join(corpus_dir, "pages.parquet")))[0]
    tbl = pq.read_table(os.path.join(corpus_dir, "pages.parquet", part),
                        columns=["url", "text"])
    pdf = tbl.to_pandas()
    pdf = pdf[~pdf["url"].str.endswith("/robots.txt")].head(n)
    return pdf.reset_index(drop=True)


def _median_of(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def time_kernel(sample) -> dict:
    import pandas as pd

    from torspider_spark.functions.udfs import extract_page
    from torspider_spark.weblib import extract_links, scan_page

    kernel = extract_page.func
    n = len(sample)
    mb = sample["text"].str.len().sum() / 1e6
    full = pd.Series([True] * n)
    title = pd.Series([False] * n)
    full_s = _median_of(lambda: kernel(sample["text"], sample["url"], full))
    title_s = _median_of(lambda: kernel(sample["text"], sample["url"], title))
    scans = [scan_page(t) for t in sample["text"]]
    scan_s = _median_of(lambda: [scan_page(t) for t in sample["text"]])
    links_s = _median_of(lambda: [extract_links(h, u) for (h, _t, _f), u
                                in zip(scans, sample["url"])])
    return {
        "pages": n,
        "full_s_per_page": full_s / n,
        "title_s_per_page": title_s / n,
        "udfs.extract_page_pages_per_s": n / full_s,
        "udfs.extract_page_mb_per_s": mb / full_s,
        "udfs.extract_page_title_pages_per_s": n / title_s,
        "weblib.scan_page_s": scan_s,
        "weblib.extract_links_s": links_s,
    }
