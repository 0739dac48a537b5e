"""Stage 2: company-mention detection + alias grouping (mapInPandas).

Reference pipeline: spaCy `en_core_web_trf` NER (src/language_model/
spacy_loader.py:115-155) -> span extraction (:74-112) -> alias pattern match
via spacy Matcher rules BRAC/QUOTE/OR (:145-149, 296-339) -> filter_aliases
(:157-196) -> ents_grouping with embedding fallback (:198-244).

This engine replaces the transformer NER with a deterministic two-tier
detector (no torch/spacy in this container; the stage interface is the
contract, SURVEY.md §7.7):
  1. gazetteer tier — a broadcast alias dictionary compiled into one
     longest-first alternation regex per executor (the broadcast-dictionary
     analog of the reference's model_fn once-per-container load,
     src/sagemaker/re_inference.py:24-35);
  2. pattern tier — capitalized token runs ending in a corporate suffix.

Alias pattern matching ports the reference's exact masked-ORG regexes
(spacy_loader.py:313-338). Grouping ports ents_grouping/ref2group
(spacy_loader.py:43-72,198-244) with the HashEmbedder cosine standing in for
SimCSE.

Determinism note: the reference unions alias pairs across its whole process
batch (group_ents all_aliases, spacy_loader.py:344) — batch-dependent and
irreproducible under repartitioning. We scope alias influence to the
sentence (page-level propagation happens later at the linking stage), so
output is independent of Arrow batch boundaries.

Scale notes:
- mapInPandas with Arrow batches; the gazetteer regex is built once per
  executor from a broadcast (hot path is C-level re engine, not Python).
- Worst-case pattern-tier scan is linear in sentence length.
- The num_orgs > 1 gate (src/relation_extraction/infer.py:250-251) runs as a
  Catalyst filter right after this stage, before any pair fan-out.
"""

from __future__ import annotations

import re
import string
from collections import defaultdict
from itertools import chain
from typing import Dict, Iterator, List, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..functions.similarity import HashEmbedder
from ..schemas import ALIAS_PAIR, SPAN
from ..util import as_list

MENTION_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("sentence_id", StringType(), False),
        StructField("sentence", StringType(), False),
        StructField("spans", ArrayType(SPAN), False),
        StructField("org_groups", MapType(StringType(), IntegerType()), False),
        StructField("aliases", ArrayType(ALIAS_PAIR), False),
        StructField("num_orgs", IntegerType(), False),
    ]
)

_CORP_SUFFIX = (
    "Inc|Corp|Corporation|Ltd|Limited|LLC|PLC|Co|Group|Holdings|GmbH|"
    "Technologies|Systems|Industries|Networks"
)
# Pattern tier: >=1 capitalized tokens followed by a corporate suffix token.
_PATTERN_NER = re.compile(
    r"\b(?:[A-Z][A-Za-z0-9&.'’]*\s+)+(?:" + _CORP_SUFFIX + r")\b(?!\.[a-z])"
)

# Exact alias-extraction regexes from spacy_loader.py:313-338
_BRAC_RE = re.compile(r'(ORG\d+)\s*\W*[a-zA-Z-\s]*[(]\s?\w*\W?\s?["]?(ORG\d+)["]?[)]')
_QUOTE_RE = re.compile(r'(ORG\d+)\s*\w*["“](ORG\d+)["”]')
_OR_RE = re.compile(r"(ORG\d)\W?\sor\s\W*(ORG\d)\W*")

_PUNCT_TABLE = str.maketrans("", "", string.punctuation)


class _Gazetteer:
    """Per-executor compiled gazetteer (broadcast surface forms)."""

    def __init__(self, surface_forms: List[str]):
        forms = sorted(set(f for f in surface_forms if f), key=len, reverse=True)
        if forms:
            alt = "|".join(re.escape(f) for f in forms)
            self.regex = re.compile(r"(?<![\w])(?:" + alt + r")(?![\w])")
        else:
            self.regex = None

    def find(self, text: str) -> List[Tuple[int, int, str]]:
        if self.regex is None:
            return []
        return [(m.start(), m.end(), m.group(0)) for m in self.regex.finditer(text)]


_GAZ_CACHE: dict = {}


def _get_gazetteer(key: int, forms: List[str]) -> _Gazetteer:
    gaz = _GAZ_CACHE.get(key)
    if gaz is None:
        gaz = _Gazetteer(forms)
        _GAZ_CACHE.clear()
        _GAZ_CACHE[key] = gaz
    return gaz


_EMBEDDER: HashEmbedder | None = None


def _get_embedder() -> HashEmbedder:
    global _EMBEDDER
    if _EMBEDDER is None:
        _EMBEDDER = HashEmbedder()
    return _EMBEDDER


def _token_offsets(sentence: str) -> List[Tuple[int, int]]:
    """Whitespace token (start, end) offsets — the token_start/token_end
    analog of the spaCy spans (spacy_loader.py:85-97)."""
    return [(m.start(), m.end()) for m in re.finditer(r"\S+", sentence)]


def detect_spans(sentence: str, gaz: _Gazetteer) -> List[dict]:
    """Two-tier ORG span detection; overlaps resolved longest-first with
    gazetteer priority."""
    hits: List[Tuple[int, int, str, int]] = []
    for s, e, t in gaz.find(sentence):
        hits.append((s, e, t, 0))
    for m in _PATTERN_NER.finditer(sentence):
        hits.append((m.start(), m.end(), m.group(0), 1))
    # Longest-first, gazetteer before pattern tier, then position.
    hits.sort(key=lambda h: (h[3], -(h[1] - h[0]), h[0]))
    taken: List[Tuple[int, int]] = []
    spans: List[Tuple[int, int, str]] = []
    for s, e, t, _tier in hits:
        if any(not (e <= ts or s >= te) for ts, te in taken):
            continue
        taken.append((s, e))
        spans.append((s, e, t))
    spans.sort()
    toks = _token_offsets(sentence)
    out = []
    for s, e, t in spans:
        token_start = next((i for i, (ts, te) in enumerate(toks) if te > s), 0)
        token_end = max(
            (i + 1 for i, (ts, te) in enumerate(toks) if ts < e), default=0
        )
        out.append(
            dict(text=t, label="ORG", start=s, end=e,
                 token_start=token_start, token_end=token_end)
        )
    return out


def extract_alias_candidates(sentence: str, ents: List[str]) -> List[Tuple[str, str]]:
    """Mask ents as ORG<i> and apply the reference's BRAC/QUOTE/OR regexes
    (spacy_loader.py:296-339). Returns (target, alias) candidate pairs."""
    if not ents:
        return []
    ents_sorted = sorted(set(ents), key=len, reverse=True)
    ent2ids = {ent: f"ORG{i}" for i, ent in enumerate(ents_sorted)}
    ids2int = {v: k for k, v in ent2ids.items()}
    spare = sentence
    for ent in ents_sorted:
        spare = spare.replace(ent, ent2ids[ent])
    candidates: List[Tuple[str, str]] = []
    seen = set()

    def _add(pair):
        if pair not in seen and pair[0] and pair[1]:
            seen.add(pair)
            candidates.append(pair)

    for m in _BRAC_RE.findall(spare):
        _add((ids2int.get(m[0]), ids2int.get(m[1])))
    for m in _QUOTE_RE.findall(spare):
        _add((ids2int.get(m[0]), ids2int.get(m[1])))
    for m in _OR_RE.findall(spare):
        _add((ids2int.get(m[0]), ids2int.get(m[1])))
    return candidates


def filter_aliases(
    cand_aliases: List[Tuple[str, str]], embedder: HashEmbedder
) -> List[Tuple[str, str]]:
    """Port of SpacyLoader.filter_aliases (spacy_loader.py:157-196):
    keep (target, alias) if word overlap, or alias chars cover >=0.8 of the
    target initials, else embedding cosine > 0.8."""
    filter_out = []
    for target, alias in cand_aliases:
        target_clean = (
            re.sub(f"[{string.punctuation} ]+", " ", target)
            .lower()
            .replace("the", "")
            .strip()
        )
        target_words = [w for w in target_clean.split() if w.isalpha()]
        alias_clean = (
            re.sub(f"[{string.punctuation} ]+", " ", alias)
            .lower()
            .replace("the", "")
            .strip()
        )
        alias_words = [w for w in alias_clean.split() if w.isalpha()]
        if any(word in target_words for word in alias_words):
            filter_out.append((target, alias))
        elif len(alias_words) == 1 and len(target_words) > 1:
            target_initials = "".join(x[0] for x in target_words)
            alias_charclass = alias.translate(_PUNCT_TABLE).lower()
            if alias_charclass and len(
                re.findall(f"[{re.escape(alias_charclass)}]", target_initials)
            ) >= 0.8 * len(alias):
                filter_out.append((target, alias))
        else:
            if embedder.similarity(target, [alias]).max(initial=0.0) > 0.8:
                filter_out.append((target, alias))
    return filter_out


def _ref2group(
    ents_vec: Dict[str, np.ndarray],
    references: List[str],
    target_names: List[str],
    threshold: float = 0.95,
):
    """Port of ref2group (spacy_loader.py:53-72): nearest existing group by
    cosine > threshold."""
    target = [ents_vec[t] for t in target_names]
    if not target:
        return None
    tmat = np.stack(target)
    for ref in references:
        v = ents_vec.get(ref)
        if v is None:
            continue
        scores = tmat @ v
        if scores.size > 0:
            max_arg = int(np.argmax(scores))
            if scores[max_arg] > threshold:
                return target_names[max_arg]
    return None


def ents_grouping(
    ents: List[str],
    filtered_aliases: List[Tuple[str, str]],
    candidate_matches: List[str],
    all_aliases: List[Tuple[str, str]],
    ents_vec: Dict[str, np.ndarray],
) -> Dict[str, int]:
    """Port of SpacyLoader.ents_grouping (spacy_loader.py:198-244)."""
    alias2name = defaultdict(list)
    name2alias = defaultdict(list)
    for k, v in all_aliases:
        name2alias[k].append(v)
        alias2name[v].append(k)
    org_keys: Dict[str, int] = {}
    counter = 0
    for target, alias in filtered_aliases:
        org_keys[target] = counter
        org_keys[alias] = counter
        counter += 1
    for name in candidate_matches:
        if org_keys.get(name) is None:
            references = list(chain(name2alias.get(name, []), alias2name.get(name, [])))
            pre_exist = [org_keys[r] for r in references if org_keys.get(r) is not None]
            if pre_exist:
                org_keys[name] = pre_exist[0]
                continue
            ref_group = _ref2group(ents_vec, references + [name], list(org_keys.keys()))
            if ref_group is not None:
                org_keys[name] = org_keys[ref_group]
            else:
                org_keys[name] = counter
                counter += 1
    for name in set(ents) - set(org_keys.keys()):
        org_keys[name] = counter
        counter += 1
    return org_keys


def analyze_sentence(sentence: str, gaz: _Gazetteer, embedder: HashEmbedder):
    """Full per-sentence mention analysis -> (spans, org_groups, aliases)."""
    spans = detect_spans(sentence, gaz)
    ents = sorted(
        set(s["text"] for s in spans if s["label"] == "ORG"), key=len, reverse=True
    )
    cand = extract_alias_candidates(sentence, ents)
    filtered = filter_aliases(cand, embedder)
    if ents:
        vecs = embedder.encode(ents)
        ents_vec = {name: vecs[i] for i, name in enumerate(ents)}
    else:
        ents_vec = {}
    groups = ents_grouping(ents, filtered, ents, filtered, ents_vec)
    return spans, groups, filtered


def detect_mentions(
    sentences: DataFrame,
    company_dict,
    include_spans: bool = True,
    with_sc: bool = False,
    sc_model_broadcast=None,
    sc_tokenizer_broadcast=None,
    sc_max_length: int | None = 512,
) -> DataFrame:
    """sentences(url, sentence_id, sentence, ...) -> mentions.

    company_dict (Spark DF or pre-collected pandas DF) is collected once +
    broadcast (small dim table — the reference's DynamoDB `company` lookup,
    src/relation_extraction/reporter.py:143-187).

    include_spans=False drops the span struct array — by far the widest
    column — from the output; downstream extraction needs only org_groups.
    with_sc=True fuses the supply-chain sentence scorer into this same pass,
    saving a full JVM<->Arrow round trip of every sentence batch (profiling
    showed Arrow serialization, not Python compute, dominating CPU).
    sc_model_broadcast / sc_tokenizer_broadcast / sc_max_length: the C1-C3
    drop-in seam, identical to sc_classify's (shared sc_scores kernel —
    a real sec-bert checkpoint reaches the PRODUCTION fused path with no
    dataflow change).
    """
    if sc_tokenizer_broadcast is not None and sc_max_length is None:
        raise ValueError(
            "detect_mentions: sc_tokenizer_broadcast requires sc_max_length "
            "(the fixed batch_encode_plus width); got None"
        )
    spark = sentences.sparkSession
    pdf = (
        company_dict
        if isinstance(company_dict, pd.DataFrame)
        else company_dict.select("canonical_name", "aliases").toPandas()
    )
    forms: List[str] = []
    for _, row in pdf.iterrows():
        forms.append(row["canonical_name"])
        forms.extend(as_list(row["aliases"]))
    bc = spark.sparkContext.broadcast(forms)

    fields = [f for f in MENTION_SCHEMA.fields if include_spans or f.name != "spans"]
    if with_sc:
        fields += [
            StructField("sc_label", IntegerType(), False),
            StructField("sc_score", FloatType(), False),
        ]
    schema = StructType(fields)

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = _get_gazetteer(id(bc.value), bc.value)
        embedder = _get_embedder()
        if with_sc:
            from .sc_classifier import resolve_sc_model, sc_scores

            sc_model = resolve_sc_model(sc_model_broadcast)
            sc_tok = (
                sc_tokenizer_broadcast.value
                if sc_tokenizer_broadcast is not None
                else None
            )
        for batch in batches:
            spans_col, groups_col, aliases_col, num_col = [], [], [], []
            for sent in batch["sentence"]:
                spans, groups, aliases = analyze_sentence(sent, gaz, embedder)
                spans_col.append(spans)
                groups_col.append(groups)
                aliases_col.append(
                    [dict(target=t, alias=a) for t, a in aliases]
                )
                num_col.append(len(set(groups.values())))
            out = {
                "url": batch["url"],
                "sentence_id": batch["sentence_id"],
                "sentence": batch["sentence"],
                "org_groups": groups_col,
                "aliases": aliases_col,
                "num_orgs": num_col,
            }
            if include_spans:
                out["spans"] = spans_col
            if with_sc:
                scores = sc_scores(
                    sc_model, sc_tok, batch["sentence"].tolist(), sc_max_length
                )
                out["sc_label"] = scores.argmax(axis=1).astype("int32")
                out["sc_score"] = scores.max(axis=1).astype("float32")
            yield pd.DataFrame(out)[[f.name for f in schema.fields]]

    return sentences.mapInPandas(_map, schema=schema)


def create_org_groups(spans: List[dict]) -> Dict[str, int]:
    """Fallback org_groups from spans when no matcher ran (N9): distinct ORG
    texts enumerated in first-seen order (src/relation_extraction/
    misc.py:162-166)."""
    groups: Dict[str, int] = {}
    for s in spans:
        if s.get("label") == "ORG" and s["text"] not in groups:
            groups[s["text"]] = len(groups)
    return groups


def gate_multi_org(mentions: DataFrame) -> DataFrame:
    """num_orgs > 1 Catalyst filter (src/relation_extraction/infer.py:250-251)."""
    return mentions.filter(F.col("num_orgs") > 1)
