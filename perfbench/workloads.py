"""The benchmark's workloads: a crawl corpus and config each. Both
workloads run the crawl and the query library (over the same committed
sf0.01 tables), so every end-to-end metric is measured on every workload;
they differ in which crawl cost dominates."""

from __future__ import annotations

import dataclasses
import os

# The sf0.01 test dataset (ten parquet tables), committed with the
# benchmark so a run reads only inside its checkout.
QUERY_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.01")


@dataclasses.dataclass(frozen=True)
class Workload:
    """One workload: a crawl corpus and config.

    ``corpus`` holds ``CorpusSpec`` overrides applied to ``base`` (the
    corpus module's named shape); ``crawl`` holds ``CrawlConfig``
    overrides."""

    base: str
    corpus: dict
    crawl: dict
    epochs: int  # crawl epochs run, the untimed warm-up epoch 1 included


WORKLOADS = {
    # Latency-bound: small pages, few rows per epoch. Job waves, Catalyst
    # planning and small warehouse commits set the epoch wall. Every host
    # is a seed: with SMALL's 20 roots the early epochs' discoveries hinge
    # on which roots a seed draws (timed inserts varied 27% across seeds
    # in the simulator). Three timed epochs: the inserts of epochs 2-4
    # spread 8% over seeds 1-8 (IQR / median), those of epochs 2-3 10%.
    "crawl_small": Workload(
        base="SMALL", corpus={"n_seeds": 200},
        crawl={"host_budget_per_epoch": 64}, epochs=4),
    # Row-bound: BENCH-shaped heavy pages (300-900 words, 80 links) scaled
    # to a 4-core host. The last epoch parses ~18k pages; the insert
    # batches exceed the journal threshold and append bucketed deltas, and
    # the journal outgrows its compaction threshold inside the timed window
    # (both thresholds scaled down with the corpus).
    "crawl_volume": Workload(
        base="BENCH",
        corpus={"n_hosts": 120, "pages_per_host": 50, "n_seeds": 60},
        crawl={"host_budget_per_epoch": 192, "mor_compact_rows": 22_500,
               "mor_insert_journal_max_rows": 9_000},
        epochs=3),
}


def corpus_spec(wl: Workload, seed: int):
    from torspider_spark.sources import corpus

    return dataclasses.replace(getattr(corpus, wl.base), seed=seed,
                               **wl.corpus)


def crawl_config(wl: Workload, cores: int):
    from torspider_spark.config import CrawlConfig

    # bloom_min_frontier=0 and robots_ttl_epochs=100: the settings every
    # existing bench and scaling run uses.
    return CrawlConfig(bloom_min_frontier=0, robots_ttl_epochs=100,
                       shuffle_partitions=cores, **wl.crawl)
