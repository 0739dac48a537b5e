"""Stage 6: entity linking + corpus-level canonicalization.

Reference realization:
- L5 prefix blocking: punctuation-stripped, 'the'-stripped, lowercased name;
  first-2-char prefix key queried against the company GSI
  (src/relation_extraction/reporter.py:143-173).
- L6 match_companies: distinct mentions -> prefix lookup -> SimCSE cosine
  (cand_thresh 0.8, match_thresh 0.95-0.98, top_k) -> matches/candidates per
  mention (reporter.py:76-237).
- L7 doc-level clustering at threshold 0.96 (reporter.py:283-311) — only
  within a document. The north rule requires corpus-level canonical ids, so
  this engine adds global connected components over the surface-form graph.

Spark realization:
- Distinct surface forms FIRST (dedup-before-expensive-op; the reference does
  the same for encoding, spacy_loader.py:262-274). At 10^12 docs the distinct
  mention set is ~10^7 — tiny next to the corpus.
- The dictionary is a broadcast (F.broadcast) — a hash join with no shuffle;
  fuzzy tier runs inside one mapInPandas over the distinct surfaces with the
  dictionary embeddings precomputed per executor and bucketed by prefix2
  (the blocking trick, kept verbatim from the reference).
- Canonicalization of unmatched surfaces: iterative min-label propagation
  (connected components) over alias edges + same-match edges, converging in
  O(log n) joins; each iteration is a broadcast-free shuffle on surface.
  Hot surfaces (mega-company skew) are handled by AQE skew-join plus the
  fact that propagation joins are on DISTINCT surfaces, not mention rows.
"""

from __future__ import annotations

import re
import string
from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from ..functions.similarity import HashEmbedder
from ..util import as_list
from .cc import cc_min_label

_PUNCT_RE = f"[{re.escape(string.punctuation)}]"

# Per-executor cache of the built dictionary index (exact map, prefix
# buckets, embeddings, sort keys), keyed by a per-call token: the
# mapInPandas closure re-runs PER TASK, and rebuilding the index —
# O(D log D) sort + encoding every form — per task scales with
# dictionary size, not batch size.
_DICT_INDEX_CACHE: dict = {}

LINKED_SCHEMA = StructType(
    [
        StructField("surface", StringType(), False),
        StructField("entity_id", StringType(), True),
        StructField("matched_name", StringType(), True),
        StructField("link_score", FloatType(), True),
        # L6: top-k sub-match-threshold candidates per mention — the
        # reference's org_links[name]['candidates'] / 'candidates_names'
        # (src/relation_extraction/reporter.py:203-237), consumed downstream
        # as extractedNameCandidateIds (reporter.py:43-52).
        StructField(
            "candidates",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType(), False),
                        StructField("entity_id", StringType(), False),
                        StructField("score", FloatType(), False),
                    ]
                )
            ),
            True,
        ),
    ]
)


def normalized_name_col(col) -> F.Column:
    """Spark expression of the reporter's name normalization
    (reporter.py:148-156): strip punctuation, lowercase, drop 'the',
    drop spaces."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _PUNCT_RE, "")
    c = F.lower(c)
    c = F.regexp_replace(c, "the", "")
    return F.regexp_replace(c, " ", "")


def normalize_name(name: str) -> str:
    s = re.sub(_PUNCT_RE, "", name.strip()).lower()
    return s.replace("the", "").replace(" ", "")


def sort_normalize(name: str) -> str:
    """The GSI sort-key normalization (reporter.py:158-160): punctuation
    stripped, lowercased, SPACES KEPT (unlike the prefix key)."""
    return re.sub(_PUNCT_RE, "", name.strip()).lower()


def sort_prefixes(name: str, sort_len: int = 5) -> List[str]:
    """L5 second-level blocking keys (reporter.py:158-165): the 5-char sort
    prefix of the sort-normalized surface; a leading-'the' name queries BOTH
    the 'the'-inclusive 4+5-char prefix and the de-'the'd 5-char prefix —
    a dictionary form qualifies as a fuzzy candidate iff its sort-normalized
    string begins with one of these (the DynamoDB begins_with condition
    within the prefix2 partition)."""
    sort = sort_normalize(name)
    out = []
    if sort.split(" ")[0] == "the":
        out.append(sort[: 4 + sort_len].strip())
        sort = sort[4:].strip()
    out.append(sort[:sort_len].strip())
    return out


def _sort_mask(form_sorts: np.ndarray, surface: str) -> np.ndarray:
    """Boolean eligibility of each dictionary form for `surface` under the
    sort-prefix condition. form_sorts: np.str_ array of sort-normalized
    forms (one per block item)."""
    mask = np.zeros(len(form_sorts), dtype=bool)
    for q in sort_prefixes(surface):
        mask |= np.char.startswith(form_sorts, q)
    return mask


def _link_row(surface, exact, sims, items, cand_thresh, match_thresh, top_k):
    """One LINKED_SCHEMA row for `surface`, shared by both linking tiers so
    they emit identical rows. sims: cosines against the eligible `items`
    (entity_id, canonical, form), which are in (form, entity_id) order.

    Candidates are the top_k items with cand_thresh <= score < match_thresh
    — the reference's matches/candidates split (reporter.py:224-227);
    match-level items are matches, never candidates. An exact hit (score
    1.0) beats the best fuzzy match, which needs score >= match_thresh.

    Ranking uses the score rounded to 1e-6: the last float32 bits of a
    cosine depend on the matmul's shape and BLAS kernel (the broadcast
    tier's matvec and the distributed tier's block matmul differ there),
    so equal rounded scores break by block order, i.e. by (form,
    entity_id), the same way in both tiers."""
    cands: list = []
    best = None
    if len(items):
        order = np.argsort(-np.round(sims.astype(np.float64), 6), kind="stable")
        for idx in order:
            s = float(sims[idx])
            if s < cand_thresh or len(cands) >= top_k:
                break
            if s >= match_thresh:
                continue
            entity_id, canonical, form = items[idx]
            cands.append({"name": form, "entity_id": entity_id, "score": s})
        b = order[0]
        if sims[b] >= match_thresh:
            best = (items[b][0], items[b][1], float(sims[b]))
    hit = exact.get(surface)
    if hit is not None:
        return (surface, hit[0], hit[1], 1.0, cands)
    if best is not None:
        return (surface, *best, cands)
    return (surface, None, None, None, cands)


def link_surfaces(
    surfaces: DataFrame,
    company_dict,
    cand_thresh: float = 0.8,
    match_thresh: float = 0.95,
    top_k: int = 5,
) -> DataFrame:
    """surfaces(surface) -> LINKED_SCHEMA via exact-alias + prefix-blocked
    fuzzy matching against the broadcast dictionary (L5+L6).

    company_dict may be a Spark DF or a pre-collected pandas DF (the pipeline
    collects it once and reuses it across stages).
    Exact matches (canonical name or known alias) score 1.0; otherwise the
    best prefix-block cosine >= match_thresh wins (match_companies thresholds,
    src/sagemaker/re_inference.py:135-137 defaults), with fuzzy candidacy
    further gated by the L5 SECOND-level block: the form's sort-normalized
    string must begin with the surface's 5-char sort prefix (incl. the
    leading-'the' variant — reporter.py:158-165, sort_len=5 per
    re_inference.py:131). Every surface also carries its top_k
    sub-match-threshold candidates at cand_thresh — the matches/candidates
    split of match_companies (reporter.py:203-237)."""
    spark = surfaces.sparkSession
    dict_pdf = (
        company_dict
        if isinstance(company_dict, pd.DataFrame)
        else company_dict.select(
            "entity_id", "canonical_name", "prefix2", "aliases"
        ).toPandas()
    )
    rows = []
    for rec in dict_pdf.itertuples(index=False):
        rows.append((rec.entity_id, rec.canonical_name, rec.prefix2, rec.canonical_name))
        for alias in as_list(rec.aliases):
            rows.append((rec.entity_id, rec.canonical_name, _prefix2(alias), alias))
    # (form, entity_id) order ON THE DRIVER, once — exact ties (two entities
    # sharing a form/alias) resolve to the min entity_id, identical to the
    # distributed tier's sort_values, and executors never re-sort
    rows.sort(key=lambda r: (r[3], r[0]))
    bc = spark.sparkContext.broadcast(rows)
    import uuid

    cache_token = uuid.uuid4().hex

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        embedder = HashEmbedder()
        cached = _DICT_INDEX_CACHE.get(cache_token)
        if cached is None:
            exact = {}
            by_prefix: dict = {}
            for entity_id, canonical, prefix, form in bc.value:
                exact.setdefault(form, (entity_id, canonical))
                by_prefix.setdefault(prefix, []).append(
                    (entity_id, canonical, form)
                )
            prefix_emb = {
                p: embedder.encode([f for _, _, f in items])
                for p, items in by_prefix.items()
            }
            # sort-normalized forms per block for the L5 second-level
            # (begins_with) condition — numpy str arrays so the per-surface
            # eligibility test is one vectorized startswith per query prefix
            prefix_sorts = {
                p: np.array(
                    [sort_normalize(f) for _, _, f in items], dtype=np.str_
                )
                for p, items in by_prefix.items()
            }
            _DICT_INDEX_CACHE.clear()  # one live index per executor
            _DICT_INDEX_CACHE[cache_token] = (
                exact, by_prefix, prefix_emb, prefix_sorts
            )
        else:
            exact, by_prefix, prefix_emb, prefix_sorts = cached

        for batch in batches:
            out = []
            surfaces = list(batch["surface"])
            # ONE batched encode per Arrow batch (not per surface) feeds
            # every block matvec below
            surf_vecs = embedder.encode(surfaces) if surfaces else None
            for i, surface in enumerate(surfaces):
                p = _prefix2(surface)
                items = by_prefix.get(p, [])
                idxs = (
                    np.flatnonzero(_sort_mask(prefix_sorts[p], surface))
                    if items else []
                )
                sims = prefix_emb[p][idxs] @ surf_vecs[i] if len(idxs) else None
                out.append(_link_row(
                    surface, exact, sims, [items[j] for j in idxs],
                    cand_thresh, match_thresh, top_k,
                ))
            yield pd.DataFrame(
                out,
                columns=["surface", "entity_id", "matched_name", "link_score",
                         "candidates"],
            )

    return surfaces.select("surface").distinct().mapInPandas(_map, schema=LINKED_SCHEMA)


def _prefix2(name: str, prefix_len: int = 2) -> str:
    return normalize_name(name)[:prefix_len]


def link_surfaces_distributed(
    surfaces: DataFrame,
    company_dict: DataFrame,
    cand_thresh: float = 0.8,
    match_thresh: float = 0.95,
    top_k: int = 5,
    salt_buckets: int = 4,
) -> DataFrame:
    """Large-dictionary linking tier — same output contract as link_surfaces,
    for dictionaries too big to broadcast (SURVEY §1.1: the reference's
    DynamoDB GSI holds the full company universe; a 10^8-row dictionary
    cannot ride a Spark broadcast).

    Mechanism: explode the dictionary to (prefix2, form, entity_id,
    canonical) rows IN SPARK, cogroup with the distinct surfaces on the
    prefix2 blocking key, and score each block in pandas — the identical
    math as the broadcast tier, but the dictionary stays distributed and the
    shuffle key is (prefix2, salt): a cogroup is ONE task per key, so a hot
    prefix block (surname-like prefixes hold a disproportionate share of a
    web corpus's surfaces) would otherwise become a straggler. Surfaces are
    hash-salted into salt_buckets sub-blocks and the dictionary rows of the
    block are replicated across them — identical output, bounded task size
    (dict replication is salt_buckets x the BLOCK, not the dictionary).
    Exact ties across entities resolve by min entity_id (deterministic
    under any partitioning)."""
    salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
    forms = company_dict.select(
        "entity_id",
        "canonical_name",
        # concat, NOT array_union: the broadcast tier keeps a duplicate
        # form row when an alias equals the canonical name, and the two
        # tiers are contractually identical — union's dedup could emit a
        # different candidate list/top-k consumption for such entities
        F.explode(
            F.concat(
                F.array(F.col("canonical_name")),
                F.coalesce("aliases", F.array()),
            )
        ).alias("form"),
    ).select(
        "entity_id",
        "canonical_name",
        "form",
        F.substring(normalized_name_col("form"), 1, 2).alias("prefix2"),
        F.explode(salts).alias("salt"),
    )
    surf = (
        surfaces.select("surface")
        .distinct()
        .withColumn("prefix2", F.substring(normalized_name_col("surface"), 1, 2))
        .withColumn("salt", F.pmod(F.xxhash64("surface"), F.lit(salt_buckets)).cast("int"))
    )

    def _score_block(surf_pdf: pd.DataFrame, dict_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(surf_pdf) == 0:
            return pd.DataFrame(
                columns=["surface", "entity_id", "matched_name", "link_score",
                         "candidates"]
            )
        embedder = HashEmbedder()
        dict_pdf = dict_pdf.sort_values(["form", "entity_id"])
        items = list(
            dict_pdf[["entity_id", "canonical_name", "form"]].itertuples(
                index=False, name=None
            )
        )
        exact = {}
        for entity_id, canonical, form in items:
            exact.setdefault(form, (entity_id, canonical))
        surfaces = list(surf_pdf["surface"])
        out = []
        if not items:
            return pd.DataFrame(
                [(s, None, None, None, []) for s in surfaces],
                columns=["surface", "entity_id", "matched_name", "link_score",
                         "candidates"],
            )
        block_emb = embedder.encode([f for _, _, f in items])
        form_sorts = np.array([sort_normalize(f) for _, _, f in items], dtype=np.str_)
        # ONE batched encode + ONE block matmul for the whole cogroup block
        # (the r2 shape encoded and matvec'd per surface in a Python loop)
        sims_all = embedder.encode(surfaces) @ block_emb.T
        for i, surface in enumerate(surfaces):
            idxs = np.flatnonzero(_sort_mask(form_sorts, surface))
            out.append(_link_row(
                surface, exact, sims_all[i][idxs], [items[j] for j in idxs],
                cand_thresh, match_thresh, top_k,
            ))
        return pd.DataFrame(
            out,
            columns=["surface", "entity_id", "matched_name", "link_score",
                     "candidates"],
        )

    return (
        surf.groupBy("prefix2", "salt")
        .cogroup(forms.groupBy("prefix2", "salt"))
        .applyInPandas(
            lambda left, right: _score_block(left, right), schema=LINKED_SCHEMA
        )
    )


def canonicalize_unmatched(
    linked: DataFrame,
    alias_edges: DataFrame | None = None,
    max_iterations: int = 10,
) -> DataFrame:
    """Assign corpus-level canonical ids to dictionary-unmatched surfaces.

    Connected components by min-label propagation WITH pointer jumping over
    the undirected surface graph whose edges are (a) page-level alias pairs
    (alias_edges: target, alias) and (b) normalized-form equality. Each
    round a surface adopts the least of (its label, its neighbors' labels,
    the current label OF the surface its label points at) — the jump step
    doubles the reach per round, so convergence is O(log diameter) joins
    (neighbor-only propagation is O(diameter): a long alias chain would
    exhaust the iteration cap and silently split). A RuntimeWarning is
    raised if the cap is still hit.
    The reference only clusters within a document (reporter.py:283-311);
    corpus-level components are the north-rule extension (SURVEY.md §7.4).

    Returns (surface, entity_id) for ALL input surfaces, one row per surface:
    dictionary matches keep their LEI id; an unmatched surface whose component
    contains a dictionary-matched surface inherits that surface's LEI;
    components with no dictionary anchor get
    'SF:<min-normalized-form-in-component>'.

    `linked` is read exactly once, so the linking UDF behind it runs once:
    every surface is labeled in one projection and materialized by an eager
    localCheckpoint, and the empty check, the CC seeds and labels, and every
    reader of the result use those rows. The result is materialized rows,
    cheap to count and join repeatedly. Like cc_min_label's rounds, the
    checkpoint cuts lineage: a lost executor's blocks are not recomputed.
    """
    # label = struct(pri, val, rep). pri 0 = dictionary LEI, pri 1 =
    # normalized surface form; F.min over the struct orders field-by-field,
    # so a dictionary id always beats any SF label within a component.
    # rep = the surface that CARRIES this label — the pointer the jump step
    # chases; it only tie-breaks among equal (pri, val), so the emitted
    # entity_id (pri/val) is identical to the 2-field formulation.
    labels = linked.select(
        "surface",
        F.struct(
            F.col("entity_id").isNull().cast("int").alias("pri"),
            F.coalesce("entity_id", normalized_name_col("surface")).alias("val"),
            F.col("surface").alias("rep"),
        ).alias("label"),
    ).localCheckpoint(eager=True)
    is_lei = F.col("label.pri") == 0
    if alias_edges is not None and not labels.filter(~is_lei).isEmpty():
        # seeds = dictionary-matched surfaces with FIXED labels: they
        # propagate into the graph every round but are never relabeled (a
        # matched endpoint re-entering as a labeled surface would be
        # emitted twice — its LEI row plus a propagated SF: row — and fan
        # out every downstream triple join; cc_min_label returns only the
        # relabeled `labels` frame, so that cannot happen).
        seeds = labels.filter(is_lei)
        labels = seeds.unionByName(cc_min_label(
            alias_edges.select("target", "alias"),
            labels.filter(~is_lei),
            key="surface",
            seeds=seeds,
            label_node=lambda c: c.getField("rep"),
            max_iterations=max_iterations,
            warn_name="canonicalize_unmatched",
        ))
    return labels.select(
        "surface",
        F.when(is_lei, F.col("label.val"))
        .otherwise(F.concat(F.lit("SF:"), F.col("label.val")))
        .alias("entity_id"),
    )
