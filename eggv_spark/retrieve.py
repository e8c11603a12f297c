"""Driver-side data retrieval (SURVEY §2.1 SRC-01/02/03/07).

Downloads are not a DataFrame op: they run on the driver (or any
box with shared-FS access) exactly as in the reference
(``eggv/retrieve.py:24-99``: chunked HTTP GET, skip-if-exists unless
forced, per-chromosome fan-out).  Two deliberate differences:

* **No gunzip step** (reference SRC-02, ``eggv/retrieve.py:49-75``):
  Spark's CSV/text readers decompress ``.gz`` transparently, so the
  compressed file IS the input.
* Fan-out uses a driver ``ThreadPoolExecutor`` (downloads are
  IO-bound); at cluster scale you'd point the pipeline at data
  already on the object store and skip this module entirely.

``file://`` URLs are supported (via urllib) so tests exercise the
full retrieval path without a network.
"""

from __future__ import annotations

import os
import shutil
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable

from eggv_spark.layout import CHROMOSOMES, ENSEMBL_URLS, DataLayout

CHUNK_BYTES = 50 * 1024 * 1024  # reference streams 50 MB chunks (eggv/retrieve.py:38)


def download(url: str, output: str) -> str:
    """SRC-01: stream ``url`` to ``output`` in 50 MB chunks."""
    os.makedirs(os.path.dirname(output) or ".", exist_ok=True)
    with urllib.request.urlopen(url) as resp, open(output, "wb") as out:
        shutil.copyfileobj(resp, out, length=CHUNK_BYTES)
    return output


def fetch(url: str, output: str, force: bool = False) -> str:
    """SRC-03: idempotent fetch — skip when ``output`` exists unless
    ``force`` (reference ``eggv/retrieve.py:78-99``)."""
    if os.path.exists(output) and not force:
        return output
    return download(url, output)


def retrieve_genes(layout: DataLayout, force: bool = False, url: str | None = None) -> str:
    url = url or ENSEMBL_URLS[f"{layout.build}_gene"]
    return fetch(url, layout.gene_gtf(), force=force)


def retrieve_variants(
    layout: DataLayout,
    force: bool = False,
    url_template: str | None = None,
    chromosomes: Iterable[str] | None = None,
    max_workers: int = 8,
) -> list[str]:
    """SRC-07: per-chromosome parallel fetch for hg38 (24 files,
    reference ``eggv/retrieve.py:227-252``); single file for mm10."""
    url_template = url_template or ENSEMBL_URLS[f"{layout.build}_variation"]
    if layout.build == "hg38":
        chroms = list(chromosomes if chromosomes is not None else CHROMOSOMES["hg38"])
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures = [
                pool.submit(fetch, url_template.format(c), layout.variant_gvf(c), force)
                for c in chroms
            ]
            return [f.result() for f in futures]
    return [fetch(url_template, layout.variant_gvf(), force=force)]
