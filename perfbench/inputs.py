"""Seeded benchmark inputs, built once per (workload, seed, size).

The program under test receives only the parquet directory written
here. Pages come from ``kgp.synth.page_row`` (the generator every kgp
oracle uses), so the same seed always gives the same bytes. The
``prep_dedup`` input adds two regimes of shared content, each on a
slice of pages picked by a hash of the url (the regimes of
``BENCH/lsh_hot_probe.py``):

* appended banner: 5 % of the pages end with one shared 20-token
  sentence, so span dedup meets a span that many documents share;
* template page: 1 % of the pages are replaced by one ~60-token
  template plus the page number, so those documents are near-duplicates
  of each other (shingle Jaccard about 0.9) that survive exact dedup,
  and they meet in the same LSH bucket in every band: a hot bucket.

Generation runs before the Spark session starts: it is part of neither
``setup_s`` nor any timed pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

BANNER = (
    "all rights reserved terms of service privacy policy cookie "
    "notice do not sell my personal information site map contact "
    "careers press"
)  # 20 tokens
BANNER_EVERY = 20  # md5(url) % 20 == 0 -> 5 % of pages
TEMPLATE = (
    "This website uses cookies to ensure you get the best experience "
    "on our website by continuing to browse the site you are agreeing "
    "to our use of cookies as described in the cookie policy and the "
    "terms of service please review the privacy policy effective as "
    "of january first two thousand twenty four all rights reserved "
    "unauthorized reproduction is strictly prohibited contact the "
    "site administrator for licensing questions"
)  # ~60 tokens
TEMPLATE_EVERY = 100  # md5(url) % 100 == 1 -> 1 % of pages, no banner
GEN_WORKERS = 4
# the warm-up pass reads the first WARM_FILES files: enough rows for
# Janino and the JIT to compile every plan, at a quarter of the cost
WARM_FILES = 4

# bump when the layout or a transform changes, so a stale cached input
# is never reused under the same key
INPUT_VERSION = "v3"


def _url_hash(url: str) -> int:
    return int(hashlib.md5(url.encode()).hexdigest(), 16)


def banner_hit(url: str) -> bool:
    return _url_hash(url) % BANNER_EVERY == 0


def template_hit(url: str) -> bool:
    return _url_hash(url) % TEMPLATE_EVERY == 1


def _rows(args: tuple[int, int, int, bool]) -> list[dict]:
    from kgp.synth import page_row

    lo, hi, seed, shared = args
    rows = [page_row(i, seed) for i in range(lo, hi)]
    if shared:
        for i, r in zip(range(lo, hi), rows):
            if banner_hit(r["url"]):
                r["text"] = f"{r['text']} {BANNER}"
            elif template_hit(r["url"]):
                r["text"] = f"{TEMPLATE} {i}"
            else:
                continue
            r["html"] = b"<html><body>" + r["text"].encode() + b"</body></html>"
    return rows


def pages_frame(n_pages: int, seed: int, shared: bool):
    """The pages table as pandas, microsecond timestamps (Spark's
    parquet writer precision). ``shared`` adds the banner and template
    slices. Rows are generated in GEN_WORKERS processes, in order."""
    from concurrent.futures import ProcessPoolExecutor

    import pandas as pd

    step = -(-n_pages // GEN_WORKERS)
    chunks = [(lo, min(lo + step, n_pages), seed, shared)
              for lo in range(0, n_pages, step)]
    with ProcessPoolExecutor(max_workers=GEN_WORKERS) as pool:
        rows = [r for part in pool.map(_rows, chunks) for r in part]
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = (
        pd.to_datetime(pdf["warc_ts"], utc=True)
        .dt.tz_localize(None)
        .astype("datetime64[us]")
    )
    return pdf


def ensure_input(
    root: str,
    workload: str,
    seed: int,
    n_pages: int,
    n_files: int,
    shared: bool,
) -> dict:
    """Write ``<root>/<key>/pages/part-XXXXX.parquet`` once, and a copy
    of the first WARM_FILES files under ``<root>/<key>/warm``, and
    return the manifest: both paths, page count, file count and a sha256
    digest of the ``pages`` file bytes in name order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = f"{INPUT_VERSION}-{workload}-s{seed}-n{n_pages}-f{n_files}"
    base = os.path.join(root, key)
    manifest_path = os.path.join(base, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = f"{base}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    pages_dir = os.path.join(tmp, "pages")
    os.makedirs(pages_dir)
    pdf = pages_frame(n_pages, seed, shared)
    digest = hashlib.sha256()
    for j in range(n_files):
        lo, hi = j * n_pages // n_files, (j + 1) * n_pages // n_files
        path = os.path.join(pages_dir, f"part-{j:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[lo:hi], preserve_index=False),
            path,
        )
        with open(path, "rb") as f:
            digest.update(f.read())
    warm_dir = os.path.join(tmp, "warm")
    os.makedirs(warm_dir)
    for j in range(min(WARM_FILES, n_files)):
        shutil.copy(os.path.join(pages_dir, f"part-{j:05d}.parquet"), warm_dir)
    manifest = {
        "key": key,
        "pages": os.path.join(base, "pages"),
        "warm": os.path.join(base, "warm"),
        "n_pages": n_pages,
        "n_files": n_files,
        "banner_pages": int(sum(map(banner_hit, pdf["url"]))) if shared else 0,
        "template_pages": (
            int(sum(map(template_hit, pdf["url"]))) if shared else 0
        ),
        "digest": digest.hexdigest(),
    }
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    return manifest
