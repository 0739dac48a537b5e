"""Seeded benchmark inputs.

The page grammar is the package's fixture grammar (`fixtures._gen_page`);
the seed only offsets the page index fed to it. Page URLs embed the index
and the grammar keys its per-page RNG on the URL, so every seed yields a
different corpus while the company dictionary stays the unchanged
200-row `company_universe()`.

Inputs are written once per (seed, n_pages) under the cache directory and
reused by later runs; the program under test receives only the parquet.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import pandas as pd

# Page-index distance between two seeds; larger than any corpus size used,
# so the corpora of different seeds never share a page.
SEED_STRIDE = 1_000_003
# Part files per pages table, so the parquet scan runs one task per slot.
PAGE_PARTS = 4


@dataclass(frozen=True)
class Inputs:
    root: Path
    n_pages: int

    @property
    def pages(self) -> str:
        return str(self.root / "pages.parquet")

    @property
    def company_dict(self) -> str:
        return str(self.root / "company_dict.parquet")

    @property
    def docs(self) -> str:
        return str(self.root / "docs.parquet")

    def gold(self) -> pd.DataFrame:
        return pd.read_parquet(self.root / "gold_triples.parquet")


def generate(seed: int, n_pages: int):
    """(pages, gold_triples, companies) pandas frames for one seed."""
    from finance_sc_relations_spark import fixtures

    companies = fixtures.company_universe()
    pages, gold = [], []
    base = seed * SEED_STRIDE
    for i in range(n_pages):
        idx = base + i
        url = f"https://news.example{idx % 50}.com/article/{idx}"
        page, g = fixtures._gen_page(url, companies, idx)
        pages.append(page)
        gold.extend(g)
    pages_df = pd.DataFrame(pages)
    # Spark cannot read TIMESTAMP(NANOS) parquet.
    pages_df["warc_ts"] = pages_df["warc_ts"].astype("datetime64[us, UTC]")
    gold_df = pd.DataFrame(
        gold,
        columns=["url", "sentence_id", "subj_id", "pred", "obj_id",
                 "subj_surface", "obj_surface"],
    )
    return pages_df, gold_df, companies


def prepare(cache_dir: Path, seed: int, n_pages: int) -> Inputs:
    """Write (or reuse) the parquet inputs for (seed, n_pages)."""
    out = Path(cache_dir) / f"seed{seed}_n{n_pages}"
    if (out / "_COMPLETE").exists():
        return Inputs(out, n_pages)
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    pages_df, gold_df, companies = generate(seed, n_pages)
    pages_dir = tmp / "pages.parquet"
    pages_dir.mkdir(parents=True)
    step = -(-len(pages_df) // PAGE_PARTS)
    for part, start in enumerate(range(0, len(pages_df), step)):
        pages_df.iloc[start:start + step].to_parquet(
            pages_dir / f"part-{part:04d}.parquet", index=False
        )
    # curate input: one document per page; doc_id is the page's position in
    # the corpus, so the doc_id % 50 == 0 eval slice is the same share for
    # every seed.
    pd.DataFrame(
        {"doc_id": range(len(pages_df)), "text": pages_df["text"]}
    ).astype({"doc_id": "int64"}).to_parquet(tmp / "docs.parquet", index=False)
    gold_df.to_parquet(tmp / "gold_triples.parquet", index=False)
    companies.to_parquet(tmp / "company_dict.parquet", index=False)
    (tmp / "_COMPLETE").touch()
    try:
        tmp.rename(out)
    except OSError:  # another run finished the same inputs first
        shutil.rmtree(tmp)
    return Inputs(out, n_pages)
