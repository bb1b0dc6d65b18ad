"""Seeded workload inputs, cached as parquet under ``.perfbench/cache`` in
the checkout.

    python3 -m perfbench.corpus --workload mixed_corpus --seed 1 --cache DIR

Every input is a subset of one pool, ``synth.build_corpus(spark,
POOL_DOCS, POOL_SEED)``, which the first run in a checkout generates in
its own Spark session (a minute or two on 4 CPUs). A run's ``--seed``
draws the subset, so the same seed gives the same inputs and a new seed
costs a second or two of pyarrow filtering instead of a generation:

* ``mixed_corpus`` draws ``MIXED_LIGHT_DOCS`` light documents plus heavy
  documents (more media spans than a light document can have) while their
  pages fit ``MIXED_HEAVY_PAGES``. The budget holds the OCR and skew work
  of every seed within one heavy document; a corpus as generated varies
  by about ±20% in heavy pages from seed to seed.
* ``born_digital`` draws ``DIGITAL_DOCS`` documents with no media span.

A subset's media table holds the pages its documents reference (none for
``born_digital``), and it names a commit subset, its first
``COMMIT_DOCS`` light documents, for the write path the traced run
measures. The subset is written as ``FILES`` files, so Spark scans it in
that many tasks on any host."""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
from dataclasses import dataclass

POOL_DOCS = 20_000
POOL_SEED = 42
MIXED_LIGHT_DOCS = 3000
MIXED_HEAVY_PAGES = 6000
DIGITAL_DOCS = 5000
COMMIT_DOCS = 200
FILES = 8
# Light documents carry at most two media spans; heavy ones 50 or more.
HEAVY_MIN_PAGES = 3
# Bump when the pool or the selection rules change, so no stale cache is
# read.
CACHE_VERSION = 5

WORKLOADS = ("mixed_corpus", "born_digital")


@dataclass(frozen=True)
class Sizes:
    pool_docs: int = POOL_DOCS
    light_docs: int = MIXED_LIGHT_DOCS
    heavy_pages: int = MIXED_HEAVY_PAGES
    digital_docs: int = DIGITAL_DOCS
    commit_docs: int = COMMIT_DOCS

    @property
    def pool_tag(self) -> str:
        return f"pool-v{CACHE_VERSION}-n{self.pool_docs}-s{POOL_SEED}"

    @property
    def tag(self) -> str:
        return (f"l{self.light_docs}-h{self.heavy_pages}"
                f"-d{self.digital_docs}-c{self.commit_docs}")


@dataclass(frozen=True)
class Inputs:
    raw: str
    golden: str
    media: str
    pool_media: str
    docs: int
    pages: int
    heavy_docs: int
    commit_ids: list[str]


def select_docs(workload: str, pages: list[tuple[str, int]], sizes: Sizes,
                seed: int) -> list[str]:
    """Doc ids a workload draws for ``seed`` from the pool's
    ``(doc_id, media spans)`` list, in doc id order."""
    rng = random.Random(seed)
    if workload == "born_digital":
        digital = [d for d, p in pages if p == 0]
        return sorted(rng.sample(digital, min(sizes.digital_docs,
                                              len(digital))))
    if workload != "mixed_corpus":
        raise ValueError(f"unknown workload {workload!r}")
    light = [d for d, p in pages if p < HEAVY_MIN_PAGES]
    keep = rng.sample(light, min(sizes.light_docs, len(light)))
    heavy = [(d, p) for d, p in pages if p >= HEAVY_MIN_PAGES]
    rng.shuffle(heavy)
    budget = sizes.heavy_pages
    for d, p in heavy:
        if p <= budget:
            keep.append(d)
            budget -= p
    return sorted(keep)


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _build_pool(sizes: Sizes, d: str, work: str) -> None:
    """Generate the pool in a Spark session of this process: raw, golden
    and media tables plus ``pages.json``, each doc's media span count."""
    from angola_erp_ocr_spark.synth import build_corpus

    from .workloads import start_session, stop_jvm

    spark = start_session(work)
    try:
        n = spark.sparkContext.defaultParallelism
        tables = build_corpus(spark, sizes.pool_docs, POOL_SEED,
                              partitions=4 * n)
        raw, golden, media = (t.persist() for t in tables)
        for name, t in (("raw", raw), ("golden", golden), ("media", media)):
            t.write.mode("overwrite").parquet(os.path.join(d, name))
        rows = raw.select("doc_id", "spans.kind").collect()
        pages = sorted((r.doc_id, r.kind.count("media")) for r in rows)
        with open(os.path.join(d, "pages.json"), "w") as f:
            json.dump(pages, f)
    finally:
        spark.stop()
        stop_jvm()
    open(os.path.join(d, "_DONE"), "w").close()


def _write_files(table, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-table.num_rows // FILES) or 1
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _write_subset(pool: str, keep: list[str], w: str) -> dict:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ids = pa.array(keep, pa.string())
    tables = {}
    for name in ("raw", "golden"):
        t = pq.read_table(os.path.join(pool, name))
        tables[name] = t.filter(pc.is_in(t["doc_id"], value_set=ids)) \
            .sort_by("doc_id")
    spans = pc.list_flatten(tables["raw"]["spans"])
    refs = pc.drop_null(pc.struct_field(spans, "media_ref"))
    media = pq.read_table(os.path.join(pool, "media"))
    tables["media"] = media.filter(pc.is_in(media["media_ref"],
                                            value_set=refs)) \
        .sort_by([("media_ref", "ascending"), ("page_no", "ascending")])
    for name, t in tables.items():
        _write_files(t, os.path.join(w, name))
    return {"docs": tables["raw"].num_rows,
            "pages": tables["media"].num_rows}


def ensure_inputs(workload: str, seed: int, sizes: Sizes, cache: str,
                  work: str) -> Inputs:
    """The inputs of ``workload`` for ``seed``, generating the pool and
    the subset when they are not cached yet."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    pool = os.path.join(cache, sizes.pool_tag)
    if not _done(pool):
        shutil.rmtree(pool, ignore_errors=True)
        os.makedirs(pool)
        _build_pool(sizes, pool, work)
    w = os.path.join(pool, f"{workload}-{sizes.tag}-s{seed}")
    if not _done(w):
        shutil.rmtree(w, ignore_errors=True)
        with open(os.path.join(pool, "pages.json")) as f:
            pages = [tuple(p) for p in json.load(f)]
        keep = select_docs(workload, pages, sizes, seed)
        by_id = dict(pages)
        meta = _write_subset(pool, keep, w)
        meta["heavy_docs"] = sum(by_id[i] >= HEAVY_MIN_PAGES for i in keep)
        meta["commit_ids"] = [i for i in keep if by_id[i] <
                              HEAVY_MIN_PAGES][:sizes.commit_docs]
        with open(os.path.join(w, "meta.json"), "w") as f:
            json.dump(meta, f)
        open(os.path.join(w, "_DONE"), "w").close()
    with open(os.path.join(w, "meta.json")) as f:
        meta = json.load(f)
    return Inputs(raw=f"{w}/raw", golden=f"{w}/golden", media=f"{w}/media",
                  pool_media=f"{pool}/media", **meta)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    ensure_inputs(args.workload, args.seed, Sizes(), args.cache, args.work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
