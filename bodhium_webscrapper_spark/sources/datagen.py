"""Deterministic synthetic Common-Crawl-style fixture generator (FIXTURES.md).

Produces, with zero network and zero nondeterminism:

- ``pages``  — (url, warc_ts, html, text, lang): Zipf hosts + one mega-host
  holding ~20% of pages (skew fixture for salting), link trees with ~10%
  cross-host links, ~5% canonicalization-duplicate rows, product-card grids
  on ~30% of pages (mirrors the reference extraction targets,
  ``/root/reference/app.py:601-622``). ``text`` is the pinned extractor's
  golden output — the engine must reproduce it byte-identically.
- ``seeds``  — 50 roots incl. scheme-less / www variants
  (reference normalization quirk, ``app.py:381-383,1163-1165``).
- ``robots`` — per-host disallow prefixes + crawl delay (the robots gate the
  reference lacks; SURVEY.md §2.9 U5).

All content is a pure function of (n_pages, seed): word choices use modular
arithmetic, hashes use md5 — no RNG state, no clocks. Generation is plain
pandas/pyarrow (no Spark needed); ``prepare_pages`` then uses Spark to add
the xxhash64 join key and lay the table out sorted by key for file skipping.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from bodhium_webscrapper_spark.functions.extract import extract_text_py

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

_LEXICON = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber basil cedar dune ember fjord grove harbor inlet "
    "jetty knoll lagoon meadow nectar orchid prairie quarry ridge summit thicket "
    "upland valley willow zenith arbor breeze canyon drift estuary flint glen"
).split()
_DE_WORDS = "der die das und ist nicht eine mit von auf für wird sehr".split()
_FR_WORDS = "le la les et est pas une avec dans pour sur qui très".split()


def _h64(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def _host_page_counts(n_pages: int) -> list[tuple[str, int]]:
    n_hosts = max(100, n_pages // 100)
    mega_pages = n_pages // 5  # 20% skew fixture
    rest = n_pages - mega_pages
    weights = [1.0 / (r**1.2) for r in range(1, n_hosts)]
    total_w = sum(weights)
    out = [("megahost.example", mega_pages)]
    acc = 0
    for i, w in enumerate(weights):
        k = max(1, int(rest * w / total_w))
        if acc + k > rest:
            k = rest - acc
        out.append((f"host{i:05d}.example", k))
        acc += k
        if acc >= rest:
            break
    return [(h, k) for h, k in out if k > 0]


def _paragraphs(gidx: int, lang: str) -> list[str]:
    lex = _LEXICON if lang == "en" else (_DE_WORDS if lang == "de" else _FR_WORDS)
    n_paras = 2 + gidx % 4
    paras = []
    for j in range(n_paras):
        n_words = 15 + (gidx + 3 * j) % 20
        words = [lex[(gidx * 31 + j * 7 + w * 13) % len(lex)] for w in range(n_words)]
        paras.append(" ".join(words))
    return paras


def _product_grid(gidx: int) -> str:
    cards = []
    for c in range(1 + gidx % 3):
        pid = gidx * 10 + c
        cards.append(
            f'<div class="product"><span class="name">Widget Model {pid} '
            f'Deluxe Edition Series {pid % 7} Pro Max Ultra</span> '
            f'<span class="price">${(pid % 90) + 10}.{pid % 100:02d}</span> '
            f'<span class="rating">{(pid % 50) / 10:.1f} stars from many happy '
            f"verified buyers worldwide</span></div>"
        )
    return "".join(cards)


def _build_html(host: str, idx: int, gidx: int, k_host: int, lang: str) -> str:
    path = "/" if idx == 0 else (f"/private/p{idx}" if idx % 17 == 5 else f"/p{idx}")
    title = f"{host} page {idx} {_LEXICON[gidx % len(_LEXICON)]}"
    links = []
    # fanout-10 link tree: realistic page out-degree, and crawl waves grow
    # 10x per depth so benchmark waves carry real parallel work
    for child in range(10 * idx + 1, 10 * idx + 11):
        if child < k_host:
            cp = f"/private/p{child}" if child % 17 == 5 else f"/p{child}"
            links.append(f'<a href="{cp}">child {child}</a>')
    if idx % 10 == 7:  # ~10% cross-host links (app.py:497 external-link filter)
        links.append(f'<a href="https://xhost{gidx % 50:05d}.example/">partner</a>')
    if idx % 20 == 6 and idx > 1:  # canonicalization-duplicate link variants
        sib = idx - 1
        sp = f"p{sib}"
        links.append(f'<a href="HTTPS://WWW.{host.upper()}:443/{sp}#frag">dup</a>')
        links.append(f'<a href="/./{sp}">dup2</a>')
    paras = "".join(f"<p>{p}</p>" for p in _paragraphs(gidx, lang))
    grid = _product_grid(gidx) if gidx % 10 < 3 else ""
    return (
        f"<html><head><title>{title}</title>"
        f"<script>var t={gidx};</script><style>.x{{color:red}}</style></head>"
        f"<body><nav><a href='/'>home</a> menu items here</nav>"
        f"<header>site header banner</header>"
        f"{paras}{grid}<div class='links'>{' '.join(links)}</div>"
        f"<footer>copyright footer fine print</footer></body></html>"
    )


_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _gen_host_range(args) -> str:
    """Generate pages for a contiguous host range into one parquet file.

    Deterministic regardless of worker count: the global page index gidx is
    precomputed per host (cumulative offset), never shared mutable state.
    """
    out_path, host_slice, chunk = args
    writer = pq.ParquetWriter(out_path, _PAGES_SCHEMA, compression="zstd")
    buf: dict[str, list] = {c: [] for c in _PAGES_SCHEMA.names}
    epoch_us = int(EPOCH.timestamp() * 1_000_000)

    def flush() -> None:
        if buf["url"]:
            writer.write_table(pa.table(buf, schema=_PAGES_SCHEMA))
            for v in buf.values():
                v.clear()

    for host, k_host, gidx0 in host_slice:
        for idx in range(k_host):
            gidx = gidx0 + idx
            path = "/" if idx == 0 else (f"/private/p{idx}" if idx % 17 == 5 else f"/p{idx}")
            url = f"https://{host}{path}"
            h = _h64(url)
            lang = "en" if h % 20 < 18 else ("de" if h % 2 == 0 else "fr")
            html = _build_html(host, idx, gidx, k_host, lang)
            text = extract_text_py(html.encode("utf-8"))
            buf["url"].append(url)
            buf["warc_ts"].append(epoch_us + (h % (86400 * 30)) * 1_000_000)
            buf["html"].append(html.encode("utf-8"))
            buf["text"].append(text)
            buf["lang"].append(lang)
            if gidx % 37 == 11:  # ~3% duplicate-variant rows (canonical dups)
                buf["url"].append(f"https://WWW.{host}:443{path}")
                buf["warc_ts"].append(epoch_us + (h % (86400 * 30)) * 1_000_000)
                buf["html"].append(html.encode("utf-8"))
                buf["text"].append(text)
                buf["lang"].append(lang)
            if len(buf["url"]) >= chunk:
                flush()
    flush()
    writer.close()
    return out_path


def generate_crawl_fixture(
    out_dir: str,
    n_pages: int = 10_000,
    seed: int = 42,
    chunk: int = 50_000,
    workers: int | None = None,
) -> dict[str, str]:
    """Write pages_raw parquet, seeds, robots; return paths.

    Parallel across host ranges (content is a pure function of indices, so
    output is identical for any worker count). Idempotent cache via
    manifest.
    """
    import multiprocessing as mp

    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "datagen_manifest.json")
    key = {"n_pages": n_pages, "seed": seed, "version": 6}
    paths = {
        "pages_raw": os.path.join(out_dir, "pages_raw.parquet"),
        "seeds": os.path.join(out_dir, "seeds.parquet"),
        "seeds_full": os.path.join(out_dir, "seeds_full.parquet"),
        "robots": os.path.join(out_dir, "robots.parquet"),
    }
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            if json.load(f) == key and all(os.path.exists(p) for p in paths.values()):
                return paths

    hosts = _host_page_counts(n_pages)
    offsets, acc = [], 0
    for h, k in hosts:
        offsets.append((h, k, acc))
        acc += k

    if workers is None:
        workers = min(16, os.cpu_count() or 4) if n_pages >= 100_000 else 1
    raw_dir = paths["pages_raw"]
    if os.path.isdir(raw_dir) or os.path.isfile(raw_dir):
        import shutil

        shutil.rmtree(raw_dir, ignore_errors=True)
        if os.path.isfile(raw_dir):
            os.remove(raw_dir)
    os.makedirs(raw_dir, exist_ok=True)
    # balance: interleave hosts across workers so the Zipf head spreads out
    slices = [offsets[w::workers] for w in range(workers)]
    jobs = [
        (os.path.join(raw_dir, f"part-{w:03d}.parquet"), sl, chunk)
        for w, sl in enumerate(slices)
        if sl
    ]
    if workers == 1:
        for j in jobs:
            _gen_host_range(j)
    else:
        with mp.Pool(workers) as pool:
            pool.map(_gen_host_range, jobs)

    seed_hosts = [hosts[0][0]] + [h for h, _ in hosts[1:50]]
    seed_urls, prios = [], []
    for i, h in enumerate(seed_hosts):
        if i % 3 == 1:
            seed_urls.append(h)  # scheme-less (reference quirk app.py:381-383)
        elif i % 3 == 2:
            seed_urls.append(f"https://www.{h}/")
        else:
            seed_urls.append(f"https://{h}/")
        prios.append(2.0 if i % 10 == 5 or i == 0 else 1.0)
    pq.write_table(
        pa.table({"url": seed_urls, "priority": prios}), paths["seeds"]
    )

    # full seed list: every host root (the bench input — makes every wave
    # carry real parallel work instead of being capped by 50 seed hosts)
    pq.write_table(
        pa.table(
            {
                "url": [f"https://{h}/" for h, _k in hosts],
                "priority": [2.0 if h == "megahost.example" else 1.0 for h, _k in hosts],
            }
        ),
        paths["seeds_full"],
    )

    r_hosts, r_prefixes, r_delay = [], [], []
    for i, (h, _k) in enumerate(hosts):
        prefixes = []
        if h == "megahost.example":
            prefixes = ["/p3", "/private"]
        elif i % 10 == 3:
            prefixes = ["/private"]
        r_hosts.append(h)
        r_prefixes.append(prefixes)
        r_delay.append(1000 if i % 10 == 9 else 0)
    pq.write_table(
        pa.table(
            {
                "host": r_hosts,
                "disallow_prefixes": pa.array(r_prefixes, pa.list_(pa.string())),
                "crawl_delay_ms": pa.array(r_delay, pa.int64()),
            }
        ),
        paths["robots"],
    )

    with open(manifest_path, "w") as f:
        json.dump(key, f)
    return paths


def prepare_pages(spark, raw_path: str, out_path: str, n_files: int = 32) -> str:
    """Key the pages table by xxhash64(url) and lay it out sorted by key.

    On a real cluster this would be an Iceberg table bucketed by
    ``bucket(N, url_hash)`` so the frontier⋈pages fetch join is
    storage-partitioned (shuffle-free). With plain parquet we approximate:
    range-layout by url_hash gives min/max file skipping for hash probes.
    """
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out_path, "_SUCCESS")):
        return out_path
    df = spark.read.parquet(raw_path)
    (
        df.withColumn("url_hash", F.xxhash64("url"))
        .repartitionByRange(n_files, "url_hash")
        .sortWithinPartitions("url_hash")
        .write.mode("overwrite")
        .parquet(out_path)
    )
    return out_path
