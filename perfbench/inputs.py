"""Benchmark inputs and expected outputs, built before any timing starts.

* the crawl corpus of (workload, seed), written through
  ``sources.corpus.host_pages`` (the same generator ``build_corpus_local``
  uses) by a small process pool, one parquet part per worker;
* the simulator's expected crawl outcome (``plans/simulator.py``) for that
  corpus, reduced to the views the output check compares;
* the DuckDB oracle's normalized result of every headline query over the
  committed query tables (``workloads.QUERY_TABLES``); it does not depend
  on the seed.

Everything is cached under the work directory. The keys include a hash of
the program's sources and of these benchmark files, so a changed corpus
generator, simulator, config or oracle never reuses stale inputs; a
repeated seed pays generation once. ``main`` runs as a child process of
the benchmark, so the measured process never follows input generation.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os

import pyarrow as pa
import pyarrow.parquet as pq

# -- crawl corpus -------------------------------------------------------------


def _corpus_part(args) -> int:
    """Worker: hosts ``w, w+W, w+2W, ...`` of the spec -> one parquet part
    per table. Runs in a spawned process (pure function of the spec)."""
    spec, worker, n_workers, out_dir = args
    from torspider_spark.sources.corpus import host_pages

    pages: list[dict] = []
    metas: list[dict] = []
    for i in range(worker, spec.n_hosts, n_workers):
        p, m = host_pages(spec, i)
        pages.extend(p)
        metas.extend(m)
    name = f"part-{worker:05d}.parquet"
    pq.write_table(pa.Table.from_pylist(pages),
                   os.path.join(out_dir, "pages.parquet", name))
    pq.write_table(pa.Table.from_pylist(metas),
                   os.path.join(out_dir, "pages_meta.parquet", name))
    return len(pages)


def build_corpus(spec, out_dir: str, workers: int) -> dict:
    """Write pages/pages_meta/seeds for ``spec`` into ``out_dir``."""
    from torspider_spark.sources.corpus import seed_rows

    for table in ("pages.parquet", "pages_meta.parquet"):
        os.makedirs(os.path.join(out_dir, table), exist_ok=True)
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(workers)
    try:
        n_pages = sum(pool.map(
            _corpus_part, [(spec, w, workers, out_dir)
                           for w in range(workers)]))
    finally:
        pool.close()
        pool.join()
    pq.write_table(pa.Table.from_pylist(seed_rows(spec)),
                   os.path.join(out_dir, "seeds.parquet"))
    return {"pages": n_pages, "hosts": spec.n_hosts}


# -- simulator expectation ----------------------------------------------------


def result_digest(fault, online, title, page_hash, new_urls, forms,
                  redirect) -> str:
    """md5 of one scan-result row's compared fields, in the canonical form
    ``check.engine_result_digests`` builds JVM-side (NUL marks a null)."""
    def opt(v):
        return "\x00" if v is None else v

    parts = [opt(fault), "true" if online else "false", opt(title),
             opt(page_hash), "\x1f".join(sorted(new_urls)),
             "\x1f".join(forms), opt(redirect)]
    return hashlib.md5("\x1e".join(parts).encode("utf-8")).hexdigest()


def simulate(corpus_dir: str, cfg, epochs: int) -> dict:
    """Run the reference simulator for ``epochs`` epochs (stopping at an
    empty frontier like ``CrawlJob.run``) and keep the compared views."""
    from torspider_spark.plans.simulator import simulator_from_corpus_dir

    sim = simulator_from_corpus_dir(corpus_dir, cfg)
    history = sim.run(epochs)
    return {
        "history": [{k: h[k] for k in ("epoch", "candidates", "posted",
                                       "inserted")} for h in history],
        "seen": sorted(sim.seen_set()),
        "results": {f"{r.url}\t{r.epoch}": result_digest(
            r.fault, r.online, r.title, r.hash, r.new_urls, r.form_dicts,
            r.redirect) for r in sim.results},
    }


def _hash_files(h, paths) -> None:
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())


def source_hash() -> str:
    """sha1 of the program's sources (``torspider_spark/**.py``,
    ``__spark_entry__.py``, ``bench.py``), relative to the repository
    root (the cwd)."""
    h = hashlib.sha1()
    _hash_files(h, [os.path.join(d, f)
                    for d, _s, fs in os.walk("torspider_spark")
                    for f in fs if f.endswith(".py")]
                + ["__spark_entry__.py", "bench.py"])
    return h.hexdigest()


def input_paths(name: str, seed: int, work: str) -> dict:
    from workloads import QUERY_TABLES, WORKLOADS

    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1(source_hash().encode())
    _hash_files(h, [os.path.join(here, f)
                    for f in ("inputs.py", "check.py", "workloads.py")])
    h.update(repr(WORKLOADS[name]).encode())
    crawl_key = h.hexdigest()[:12]
    _hash_files(h, [os.path.join(QUERY_TABLES, f)
                    for f in os.listdir(QUERY_TABLES)])
    oracle_key = h.hexdigest()[:12]
    base = os.path.join(work, "inputs", f"{name}-{crawl_key}-seed{seed}")
    oracle = os.path.join(work, "inputs", f"oracle-{oracle_key}.json")
    return {"workload": name, "corpus": os.path.join(base, "corpus"),
            "expected": os.path.join(base, "simulator.json"),
            "done": os.path.join(base, "DONE"), "oracle": oracle}


def main() -> None:
    """Build what is missing of one workload's inputs for one seed. DONE
    is written last, so a killed build is redone from scratch; the oracle
    file is written through a rename."""
    import argparse
    import shutil

    from workloads import QUERY_TABLES, WORKLOADS, corpus_spec, crawl_config

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    paths = input_paths(args.workload, args.seed, args.work)
    if not os.path.exists(paths["oracle"]):
        import __spark_entry__ as entry_mod
        from check import oracle_expectation

        os.makedirs(os.path.dirname(paths["oracle"]), exist_ok=True)
        tmp = paths["oracle"] + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(oracle_expectation(QUERY_TABLES, entry_mod._TABLES), fh)
        os.replace(tmp, paths["oracle"])
    if os.path.exists(paths["done"]):
        return
    base = os.path.dirname(paths["done"])
    shutil.rmtree(base, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    build_corpus(corpus_spec(wl, args.seed), paths["corpus"], cores)
    expected = simulate(paths["corpus"], crawl_config(wl, cores), wl.epochs)
    with open(paths["expected"], "w") as fh:
        json.dump(expected, fh)
    open(paths["done"], "w").close()


if __name__ == "__main__":
    import sys

    # the repository root (cwd) holds the program; this directory holds
    # the sibling benchmark modules
    sys.path[:0] = [os.getcwd(), os.path.dirname(os.path.abspath(__file__))]
    main()
