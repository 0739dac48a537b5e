"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md F1-F6).

Everything is generated from seed 42 with per-page RNG keyed by
blake2(url), so any scale regenerates identically — no external data.

Planted content (FIXTURES.md F2):
- supplier / customer / other / single-org / zero-org sentence templates;
- alias patterns per the reference test (test/test_language_model.py:19-26):
  BRAC  `Long Name ("Alias")`, QUOTE `Long Name "Alias"`, OR `Long Name or
  "Alias"` — exercising the matcher rules of
  src/language_model/spacy_loader.py:145-149;
- multi-position sentences (same pair mentioned twice) exercising
  position-mean aggregation (src/relation_extraction/infer.py:338-344);
- characters hit by the cleaning regex `[-[\\] ]+` (src/utils/data_clean.py:5-6);
- hot-company skew: 3 mega companies appear in ~30% of pages;
- 5% non-English pages that the lang gate must drop.

Gold triples (F3) are derived at generation time: (subj supplies_to obj)
with canonical entity ids, direction normalized per resort_relation
(src/labels_generator/agg_utils.py:105-110).
"""

from __future__ import annotations

import hashlib
import random
import re
import string
from datetime import datetime, timedelta, timezone
from pathlib import Path
from typing import Dict, List, Tuple

import pandas as pd

from .util import as_list

SEED = 42
PRED = "supplies_to"

# ---------------------------------------------------------------------------
# Company universe (F4)
# ---------------------------------------------------------------------------

_BASES = [
    "Quantrix", "Borealis", "Cobaltec", "Dynavox", "Eastlake", "Ferrovia",
    "Glacier", "Halcyon", "Ironwood", "Juniperus", "Kestrel", "Lumenara",
    "Meridian", "Northgate", "Oakhurst", "Pinnacle", "Quasar", "Riverton",
    "Solstice", "Tundra", "Umbral", "Vantage", "Westbrook", "Xylo",
    "Yellowtail", "Zephyr", "Arclight", "Bluecrest", "Cedarline", "Dovetail",
    "Emberton", "Foxglove", "Graniteview", "Harborline", "Ivorygate",
    "Jadecore", "Kilnview", "Larkspur", "Mosswood", "Nightfall", "Opaline",
    "Palisade", "Quillon", "Rustfield", "Silvermine", "Thornbury", "Updraft",
    "Violetta", "Wolfram", "Xanthine",
]
_MIDS = ["Technologies", "Industries", "Materials", "Logistics", "Semiconductors",
         "Networks", "Dynamics", "Components", "Energy", "Manufacturing"]
_SUFFIXES = ["Inc", "Corp", "Ltd", "Corporation", "Limited", "Group", "Holdings", "Co"]

MEGA_COMPANIES = ["Quantrix Semiconductors Corporation", "Borealis Logistics Group",
                  "Cobaltec Materials Inc"]


def _norm_prefix(name: str, prefix_len: int = 2) -> str:
    """Blocking key per src/relation_extraction/reporter.py:148-156: strip
    punctuation, lowercase, drop 'the', strip spaces, first prefix_len chars."""
    s = re.sub(f"[{re.escape(string.punctuation)}]", "", name.strip()).lower()
    s = s.replace("the", "").replace(" ", "")
    return s[:prefix_len]


def company_universe() -> pd.DataFrame:
    """200-name company dictionary (F4) with alias surface forms and planted
    near-duplicates for fuzzy-threshold tests."""
    rng = random.Random(SEED)
    rows = []
    names_seen = set()

    def add(canonical: str, aliases: List[str]):
        if canonical in names_seen:
            return
        names_seen.add(canonical)
        rows.append(
            {
                "entity_id": f"LEI{len(rows):06d}",
                "canonical_name": canonical,
                "prefix2": _norm_prefix(canonical),
                "aliases": aliases,
            }
        )

    # 3 mega companies with short aliases (hot keys)
    for mega in MEGA_COMPANIES:
        add(mega, [mega.split()[0]])

    # 47 more alias-bearing companies: long canonical + base alias
    for base in _BASES[3:]:
        mid = _MIDS[rng.randrange(len(_MIDS))]
        suffix = _SUFFIXES[rng.randrange(len(_SUFFIXES))]
        add(f"{base} {mid} {suffix}", [base])

    # Plain companies, no alias
    i = 0
    while len(rows) < 194 and i < 1000:
        base = _BASES[i % len(_BASES)]
        mid = _MIDS[(i * 7 + 3) % len(_MIDS)]
        suffix = _SUFFIXES[(i * 5 + 1) % len(_SUFFIXES)]
        add(f"{base} {mid} {suffix}", [])
        i += 1

    # Near-duplicate family (fuzzy-matching thresholds, FIXTURES.md F4)
    add("Sonexa", [])
    add("Sonexa Inc", [])
    add("Sonexa Corporation", [])
    add("Veltrix Systems Inc", ["Veltrix"])
    add("Veltrix Systems GmbH", [])
    add("Orbita Networks Ltd", ["Orbita"])
    return pd.DataFrame(rows)


def linking_probe_surfaces(companies: pd.DataFrame) -> List[str]:
    """Deterministic probe surfaces for the linked_mentions entity-linking
    oracle: every canonical name and alias (the exact tier), a
    suffix-mangled fuzzy variant per 3+-word company (same prefix2 block
    and same 5-char sort prefix, so it exercises the L5 second-level
    begins_with condition), leading-'the' forms for every 10th company
    (the dual sort-prefix query), and unmatchable noise strings. Shared by
    the driver query and scripts/gen_expected.py — the surfaces are INPUT;
    the linking itself is recomputed independently on the oracle side."""
    surfaces: List[str] = []
    for rec in companies.itertuples(index=False):
        surfaces.append(rec.canonical_name)
        surfaces.extend(as_list(rec.aliases))
        words = rec.canonical_name.split()
        if len(words) >= 3:
            surfaces.append(" ".join(words[:-1]) + " Holdings")
        if rec.entity_id.endswith("0"):
            surfaces.append("The " + rec.canonical_name)
    surfaces.extend(f"Zyqblat Nonesuch {i}" for i in range(5))
    return sorted(set(surfaces))


# ---------------------------------------------------------------------------
# Sentence grammar (F2)
# ---------------------------------------------------------------------------
# Each relation template yields gold triple (A supplies_to B).
SUPPLIER_TEMPLATES = [
    "{A} supplies components to {B}.",
    "{A} is a key supplier of {B}.",
    "{B} sources critical semiconductors from {A}.",
    "{B} is a major customer of {A}.",
    "{A} sells industrial modules to {B}.",
    "{B} purchases raw materials from {A}.",
    "Five customers including {B} accounted for 40% of {A} net revenue.",
    "{A} signed a long term supply agreement to deliver parts to {B}.",
]
# Multi-position: A and B each appear twice (position-mean aggregation test).
MULTI_POSITION_TEMPLATES = [
    "{A} supplies modules to {B}, and {B} depends on {A} for these modules.",
]
OTHER_TEMPLATES = [
    "{A} and {B} announced a joint research partnership.",
    "{A} competes directly with {B} in the storage market.",
    "{A} licensed certain patents owned by {B}.",
    "{A} and {B} settled the outstanding litigation.",
]
SINGLE_ORG_TEMPLATES = [
    "{A} reported strong quarterly earnings.",
    "Shares of {A} rose after the announcement.",
]
ZERO_ORG_TEMPLATES = [
    "Markets were volatile across the mid-year [sic] reporting season.",
    "Analysts expect freight [and logistics] rates to - broadly - stabilize.",
    "The committee published its annual outlook.",
]
ALIAS_INTRO = {
    "brac": '{LONG} ("{ALIAS}") supplies precision components to {B}.',
    "quote": '{LONG} "{ALIAS}" is a key supplier of {B}.',
    "or": '{LONG} or "{ALIAS}" sells industrial modules to {B}.',
}


def _page_rng(url: str) -> random.Random:
    h = hashlib.blake2b(f"{SEED}|{url}".encode(), digest_size=8).digest()
    return random.Random(int.from_bytes(h, "big"))


def _gen_page(url: str, companies: pd.DataFrame, idx: int) -> Tuple[dict, List[dict]]:
    """Generate one page and its gold triples."""
    rng = _page_rng(url)
    n_company = len(companies)

    def pick_company() -> int:
        # hot-key skew: megas (rows 0-2) drawn with ~30% probability
        if rng.random() < 0.30:
            return rng.randrange(3)
        return rng.randrange(3, n_company)

    lang = "de" if rng.random() < 0.05 else "en"
    sentences: List[str] = []
    gold: List[dict] = []
    n_sents = rng.randint(2, 8)
    # sent_index is assigned AFTER cleaning+segmentation; our templates are
    # one sentence each, so the index is the position among planted sentences.
    for s_i in range(n_sents):
        kind = rng.random()
        if kind < 0.40:  # supplier-direction relation
            a_i, b_i = pick_company(), pick_company()
            while b_i == a_i:
                b_i = pick_company()
            a, b = companies.iloc[a_i], companies.iloc[b_i]
            template = SUPPLIER_TEMPLATES[rng.randrange(len(SUPPLIER_TEMPLATES))]
            sent = template.format(A=a.canonical_name, B=b.canonical_name)
            if lang == "en":
                gold.append(
                    dict(url=url, sent_index=s_i, subj_id=a.entity_id,
                         pred=PRED, obj_id=b.entity_id,
                         subj_surface=a.canonical_name, obj_surface=b.canonical_name)
                )
        elif kind < 0.48:  # alias-pattern relation
            cands = companies[companies.aliases.map(len) > 0]
            a = cands.iloc[rng.randrange(len(cands))]
            b_i = pick_company()
            while companies.iloc[b_i].entity_id == a.entity_id:
                b_i = pick_company()
            b = companies.iloc[b_i]
            pat = ["brac", "quote", "or"][rng.randrange(3)]
            sent = ALIAS_INTRO[pat].format(
                LONG=a.canonical_name, ALIAS=a.aliases[0], B=b.canonical_name
            )
            if lang == "en":
                gold.append(
                    dict(url=url, sent_index=s_i, subj_id=a.entity_id,
                         pred=PRED, obj_id=b.entity_id,
                         subj_surface=a.canonical_name, obj_surface=b.canonical_name)
                )
        elif kind < 0.54:  # multi-position relation
            a_i, b_i = pick_company(), pick_company()
            while b_i == a_i:
                b_i = pick_company()
            a, b = companies.iloc[a_i], companies.iloc[b_i]
            sent = MULTI_POSITION_TEMPLATES[0].format(
                A=a.canonical_name, B=b.canonical_name
            )
            if lang == "en":
                gold.append(
                    dict(url=url, sent_index=s_i, subj_id=a.entity_id,
                         pred=PRED, obj_id=b.entity_id,
                         subj_surface=a.canonical_name, obj_surface=b.canonical_name)
                )
        elif kind < 0.72:  # other-relation co-mention (no edge)
            a_i, b_i = pick_company(), pick_company()
            while b_i == a_i:
                b_i = pick_company()
            a, b = companies.iloc[a_i], companies.iloc[b_i]
            sent = OTHER_TEMPLATES[rng.randrange(len(OTHER_TEMPLATES))].format(
                A=a.canonical_name, B=b.canonical_name
            )
        elif kind < 0.88:  # single-org (dropped by num_orgs>1 gate)
            a = companies.iloc[pick_company()]
            sent = SINGLE_ORG_TEMPLATES[rng.randrange(len(SINGLE_ORG_TEMPLATES))].format(
                A=a.canonical_name
            )
        else:  # zero-org, includes cleaning-regex trigger chars
            sent = ZERO_ORG_TEMPLATES[rng.randrange(len(ZERO_ORG_TEMPLATES))]
        sentences.append(sent)

    text = " ".join(sentences)
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(
        days=idx % 365, seconds=idx % 86_400
    )
    page = dict(
        url=url,
        warc_ts=ts,
        html=(b"<html><body><p>" + text.encode("utf-8") + b"</p></body></html>"),
        text=text,
        lang=lang,
    )
    # sentence ids are assigned post-segmentation; with one-template-per-
    # sentence the planted index IS the segment index.
    for g in gold:
        g["sentence_id"] = f"{url}#{g.pop('sent_index')}"
    return page, gold


def generate_corpus(n_pages: int, companies: pd.DataFrame | None = None):
    """Generate (pages_df, gold_triples_df, company_dict_df) as pandas."""
    if companies is None:
        companies = company_universe()
    pages, gold = [], []
    for i in range(n_pages):
        url = f"https://news.example{i % 50}.com/article/{i}"
        page, g = _gen_page(url, companies, i)
        pages.append(page)
        gold.extend(g)
    pages_df = pd.DataFrame(pages)
    gold_df = pd.DataFrame(
        gold,
        columns=["url", "sentence_id", "subj_id", "pred", "obj_id",
                 "subj_surface", "obj_surface"],
    )
    return pages_df, gold_df, companies


# ---------------------------------------------------------------------------
# F5: gold_eval_pairs — RE evaluation set analog of
# data/raw/gold_eval_ensemble.json (params.yaml:28-37), ~700 rows
# ---------------------------------------------------------------------------

def generate_eval_pairs(n_rows: int = 700) -> pd.DataFrame:
    companies = company_universe()
    rng = random.Random(SEED + 1)
    rows = []
    for i in range(n_rows):
        a = companies.iloc[rng.randrange(len(companies))]
        b = companies.iloc[rng.randrange(len(companies))]
        while b.entity_id == a.entity_id:
            b = companies.iloc[rng.randrange(len(companies))]
        roll = rng.random()
        if roll < 0.40:
            template = SUPPLIER_TEMPLATES[rng.randrange(len(SUPPLIER_TEMPLATES))]
            sent = template.format(A=a.canonical_name, B=b.canonical_name)
            # Filer = entity_1 analog; label is the role of entity_2=Company
            # (create_re_dataset column semantics,
            #  src/labels_generator/data_aggregation.py:124-130)
            filer, company, relationship = b.canonical_name, a.canonical_name, "supplier"
        elif roll < 0.70:
            template = SUPPLIER_TEMPLATES[rng.randrange(len(SUPPLIER_TEMPLATES))]
            sent = template.format(A=b.canonical_name, B=a.canonical_name)
            filer, company, relationship = b.canonical_name, a.canonical_name, "customer"
        else:
            template = OTHER_TEMPLATES[rng.randrange(len(OTHER_TEMPLATES))]
            sent = template.format(A=a.canonical_name, B=b.canonical_name)
            filer, company, relationship = b.canonical_name, a.canonical_name, "other"
        rows.append(
            dict(
                Sentence=sent,
                Filer=filer,
                Company=company,
                Relationship=relationship,
                org_groups={a.canonical_name: 0, b.canonical_name: 1},
            )
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# F6: llm_labels — relabel-verification input
# (fixture shape per test/test_re_dataset_creation.py:19-28)
# ---------------------------------------------------------------------------

def generate_llm_labels(n_rows: int = 200) -> pd.DataFrame:
    companies = company_universe()
    rng = random.Random(SEED + 2)
    rows = []
    fuzzers = ["{} Inc", "{} inc", "{}"]
    for i in range(n_rows):
        a = companies.iloc[rng.randrange(len(companies))]
        b = companies.iloc[rng.randrange(len(companies))]
        while b.entity_id == a.entity_id:
            b = companies.iloc[rng.randrange(len(companies))]
        sent = SUPPLIER_TEMPLATES[i % len(SUPPLIER_TEMPLATES)].format(
            A=a.canonical_name, B=b.canonical_name
        )
        a_name = fuzzers[rng.randrange(3)].format(a.canonical_name)
        relations = [[a_name, "supplier", b.canonical_name]]
        if rng.random() < 0.2:  # bogus relation that must be dropped
            relations.append(["MISTAKE CORP", "supplier", "WRONG NAME LLC"])
        rows.append(
            dict(
                sentence=sent,
                filer=b.canonical_name,
                relations=relations,
                org_groups={a.canonical_name: 0, b.canonical_name: 1},
            )
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Parquet materialization (cached by directory)
# ---------------------------------------------------------------------------

def write_fixture_parquet(out_dir: str | Path, n_pages: int) -> Path:
    """Write pages/gold_triples/company_dict parquet under out_dir (idempotent)."""
    out = Path(out_dir)
    marker = out / f".complete_{n_pages}"
    if marker.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    pages_df, gold_df, companies = generate_corpus(n_pages)
    # Spark cannot read TIMESTAMP(NANOS) parquet; coerce to microseconds.
    pages_df["warc_ts"] = pages_df["warc_ts"].astype("datetime64[us, UTC]")
    # Write pages as multiple part files so the Spark scan parallelizes
    # (a single parquet file = a single scan task).
    pages_dir = out / "pages.parquet"
    pages_dir.mkdir(parents=True, exist_ok=True)
    n_parts = max(1, min(16, n_pages // 1000))
    step = -(-len(pages_df) // n_parts)  # ceil division
    for i, start in enumerate(range(0, len(pages_df), step)):
        pages_df.iloc[start : start + step].to_parquet(
            pages_dir / f"part-{i:04d}.parquet", index=False
        )
    gold_df.to_parquet(out / "gold_triples.parquet", index=False)
    companies.to_parquet(out / "company_dict.parquet", index=False)
    marker.touch()
    return out
