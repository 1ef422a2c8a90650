"""Benchmark inputs, made from the workload seed.

* The pages corpus comes from ``sources.datagen.generate_crawl_fixture`` and
  ``prepare_pages``. The generator does not use its ``seed`` argument for
  content, so the corpus is the same for every seed; it is built once per
  checkout and cached (excluded from every timing).
* The seed decides everything the benchmark builds itself, through its
  input variant (the seed mod ``harness.VARIANTS``; every variant has
  committed expected crawl outputs): which host roots seed ``crawl_wide``
  and their priorities, the order and priorities of the ``recrawl_dump``
  seed list, the robots disallow and crawl-delay assignment, and the
  curation tables. Roles are drawn one per block of ten
  hosts of similar size, outside the Zipf head, so seeds move which rows
  get each role but hardly how much work there is.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MEGAHOST = "megahost.example"
HEAD = 10  # the largest hosts (generator order): fixed roles, never drawn


def pages_corpus(work_dir: str, n_pages: int, workers: int, session) -> dict[str, str]:
    """Cached pages corpus: ``pages_raw`` (generator output, every url
    incl. the case/www/:443 variant rows), ``pages`` (keyed and sorted by
    url_hash) and ``hosts`` (one row per host). The generator forks worker
    processes, so it runs before ``session()`` starts the JVM, which is
    needed only when the keyed layout is missing."""
    from bodhium_webscrapper_spark.sources.datagen import (
        generate_crawl_fixture,
        prepare_pages,
    )

    out = os.path.join(work_dir, f"corpus-{n_pages}")
    paths = generate_crawl_fixture(out, n_pages=n_pages, workers=workers)
    pages = os.path.join(out, "pages")
    if not os.path.exists(os.path.join(pages, "_SUCCESS")):
        prepare_pages(session(), paths["pages_raw"], pages, n_files=8)
    return {"pages_raw": paths["pages_raw"], "pages": pages, "hosts": paths["robots"]}


def _hosts(corpus: dict[str, str]) -> list[str]:
    return pq.read_table(corpus["hosts"], columns=["host"])["host"].to_pylist()


def _pick(rng: np.random.Generator, n: int, skip: int = 0, block: int = 10) -> np.ndarray:
    """Boolean mask with one seeded True entry per block of ``block``
    consecutive positions after the first ``skip``. The generator lists
    hosts largest first, so each draw is among hosts of similar size."""
    mask = np.zeros(n, dtype=bool)
    for lo in range(skip, n - block + 1, block):
        mask[lo + rng.integers(0, block)] = True
    return mask


def robots_table(corpus: dict[str, str], seed: int) -> pa.Table:
    """Every host; outside the head, one host in ten disallows ``/private``
    and one in ten declares a 1000 ms crawl delay, chosen by the seed. The
    mega-host keeps its large ``/p3`` + ``/private`` disallow (the skew
    fixture's visible effect)."""
    rng = np.random.default_rng([seed, 1])
    hosts = _hosts(corpus)
    private = _pick(rng, len(hosts), HEAD)
    delayed = _pick(rng, len(hosts), HEAD)
    prefixes = [
        ["/p3", "/private"] if h == MEGAHOST else (["/private"] if p else [])
        for h, p in zip(hosts, private)
    ]
    return pa.table(
        {
            "host": hosts,
            "disallow_prefixes": pa.array(prefixes, pa.list_(pa.string())),
            "crawl_delay_ms": pa.array(np.where(delayed, 1000, 0), pa.int64()),
        }
    )


def wide_seeds(corpus: dict[str, str], seed: int) -> pa.Table:
    """Host roots: every head host and nine in ten of the others (seeded),
    each written in one of the three forms the reference accepts
    (``https://h/``, scheme-less ``h``, ``https://www.h/``), with seeded
    priorities in {1, 1.5, 2}."""
    rng = np.random.default_rng([seed, 2])
    hosts = _hosts(corpus)
    keep = ~_pick(rng, len(hosts), HEAD)
    forms = rng.integers(0, 3, len(hosts))
    prios = 1.0 + 0.5 * rng.integers(0, 3, len(hosts))
    urls, pr = [], []
    for h, k, form, p in zip(hosts, keep, forms, prios):
        if k:
            urls.append((f"https://{h}/", h, f"https://www.{h}/")[form])
            pr.append(float(p))
    return pa.table({"url": urls, "priority": pa.array(pr, pa.float64())})


def recrawl_seeds(corpus: dict[str, str], seed: int) -> pa.Table:
    """Every page url of the corpus, the variant rows included, in a seeded
    order with seeded priorities on eight levels."""
    rng = np.random.default_rng([seed, 3])
    # sorted first: the generator's file layout depends on its worker count
    urls = pq.read_table(corpus["pages_raw"], columns=["url"])["url"]
    urls = urls.take(pc.sort_indices(urls))
    order = rng.permutation(len(urls))
    prios = 1.0 + 0.125 * rng.integers(0, 8, len(urls))
    return pa.table(
        {"url": urls.take(pa.array(order)), "priority": pa.array(prios, pa.float64())}
    )


# curation tables: the shapes of the documents and embeddings tables the
# oracle-twinned queries read (doc_id/text/lang/source/n_chars;
# vec_id/embedding/label)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents of 10-100 words from a 31-word vocabulary, 20
    round-robin sources; 5% of them (seeded) are an earlier document's text
    with `` dup`` appended."""
    rng = np.random.default_rng([seed, 4])
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(_WORDS[w] for w in words[pos : pos + n]))
        pos += n
    for i in np.flatnonzero(_pick(rng, n_docs, 1, block=20)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten seeded label centres."""
    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
