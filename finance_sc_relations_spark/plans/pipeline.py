"""End-to-end KG-construction pipeline (the Spark form of the reference's
three entry points, SURVEY.md §3).

pages -> clean+segment -> mentions -> [SC gate] -> scored positions
      -> classified -> triples -> link -> edges/vertices

The DAG is written once, in `_kg_dag`. Each named stage (`sentences`,
`mentions`, `pairs`, `classified`, `triples`, `linked_triples`, `edges`)
is a lazy thunk handed to a materialization policy `stage(name, fn)`:

- `run_pipeline` calls every thunk at once and persists the three branch
  points `mentions`, `triples` and `linked_triples`;
- `plans.checkpoint.run_pipeline_checkpointed` writes each stage to a
  checkpoint table, or reads back a completed one without calling its
  thunk (the Spark form of block_job_files/add_results,
  src/glue/glue_etl.py:313-444).

Extraction is the fused `tag_and_score` pass (tagged strings never cross
the Arrow boundary): `pairs` holds its scored-position rows, `classified`
aggregates them. `generate_tagged_pairs` + `classify_pairs` remain the
composable reference the fused path is tested against.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..operators.segment import segment_sentences
from ..operators.ner import detect_mentions, gate_multi_org
from ..operators.sc_classifier import sc_gate
from ..operators.extract_fused import tag_and_score
from ..operators.re_classifier import aggregate_positions
from ..operators.graph import (
    build_alias_edges,
    build_edges,
    build_edges_global,
    build_vertices,
    emit_triples,
    link_triples,
)
from ..operators.linking import (
    canonicalize_unmatched,
    link_surfaces,
    link_surfaces_distributed,
)

# stage(name, fn) -> DataFrame; fn is the stage's lazy thunk.
Stage = Callable[[str, Callable[[], DataFrame]], DataFrame]


@dataclass
class PipelineConfig:
    lang: str = "en"
    use_sc_gate: bool = True
    sc_threshold: float = 0.95
    mutate: bool = True
    reverse: bool = True
    num_positions: float = float("inf")
    score_threshold: float = 0.5
    match_thresh: float = 0.95
    cand_thresh: float = 0.8
    model_partitions: int | None = None
    salt_buckets: int = 32
    # Optional sc.broadcast(models.serialize_model(...)) — swaps the RE
    # scorer for a checkpoint-loaded BatchModel (the GPU transformer
    # drop-in seam), deserialized once per executor.
    re_model_broadcast: object = None
    # Optional LOCAL checkpoint file path (the model.pth.tar flow) loaded
    # once per executor — the broadcast's sibling for node-local / --files
    # shipped checkpoints.
    re_model_path: str | None = None
    # Optional sc.broadcast(WordPieceTokenizer): enables the reference's
    # token-ID preprocessing (encode tagged sentences, index [E1]/[E2] in
    # subword ids, drop rows whose markers were truncated away at
    # re_max_length, counting them into re_dropped_acc — the
    # preprocessing_funcs.py:333-339 "Invalid rows/total" lineage).
    re_tokenizer_broadcast: object = None
    re_max_length: int | None = None
    re_dropped_acc: object = None
    # SC classifier drop-in seam (C1-C3), mirroring the RE seam: broadcast
    # checkpoint + optional tokenizer for the batch_encode_plus token-ID
    # path (fixed-width pad to sc_max_length; shared sc_scores kernel in
    # BOTH the fused NER pass and standalone sc_classify).
    sc_model_broadcast: object = None
    sc_tokenizer_broadcast: object = None
    sc_max_length: int | None = 512
    # None = auto: use the distributed (cogroup-by-prefix) linking tier when
    # the dictionary exceeds max_broadcast_dict_rows; True/False forces.
    # The NER gazetteer always needs a driver-side dict — above the
    # threshold it takes the first max_broadcast_dict_rows entries
    # (production setup: bounded gazetteer for detection, full dictionary
    # for linking).
    distributed_linking: bool | None = None
    max_broadcast_dict_rows: int = 2_000_000


def _kg_dag(
    spark: SparkSession,
    pages: DataFrame,
    company_dict: DataFrame,
    cfg: PipelineConfig,
    stage: Stage,
) -> dict[str, DataFrame]:
    """The KG DAG, once. Every named stage goes through `stage`; the
    unnamed steps between them (gates, lazy graph rollups) are plain
    DataFrame transforms over the stages' outputs."""
    # Decide the linking tier BEFORE collecting: a 10^8-row dictionary must
    # never ride toPandas (SURVEY §1.1 — the large-dict case stays
    # distributed; the NER gazetteer is capped instead).
    use_distributed_linking = cfg.distributed_linking
    dict_cols = company_dict.select(
        "entity_id", "canonical_name", "prefix2", "aliases"
    )
    if use_distributed_linking is None:
        use_distributed_linking = dict_cols.count() > cfg.max_broadcast_dict_rows
    company_pdf = (
        dict_cols.limit(cfg.max_broadcast_dict_rows)
        if use_distributed_linking
        else dict_cols
    ).toPandas()

    # The input often arrives as a handful of parquet files (or one); the
    # model stages need >= slot-count partitions to parallelize. On a real
    # cluster this is the repartition-before-model-fleet step
    # (reference analog: instance-fleet sizing, glue_etl.py:548-593).
    # Repartition the PAGES, not the sentences — the shuffle moves the
    # same text bytes without the per-sentence url/id duplication, and the
    # regex-heavy clean+segment stage then runs at full slot width instead
    # of at the input's file count.
    n_part = cfg.model_partitions or spark.sparkContext.defaultParallelism * 2
    sentences = stage(
        "sentences",
        lambda: segment_sentences(pages.repartition(n_part), lang=cfg.lang),
    )
    # Fused NER+SC pass, spans dropped: Arrow serialization of the wide span
    # structs through back-to-back UDF stages dominated CPU (see operator
    # docstring). spans remain available via detect_mentions(include_spans=True).
    mentions = stage(
        "mentions",
        lambda: detect_mentions(
            sentences, company_pdf, include_spans=False,
            with_sc=cfg.use_sc_gate,
            sc_model_broadcast=cfg.sc_model_broadcast,
            sc_tokenizer_broadcast=cfg.sc_tokenizer_broadcast,
            sc_max_length=cfg.sc_max_length,
        ),
    )
    multi_org = gate_multi_org(mentions)
    if cfg.use_sc_gate:
        gated = sc_gate(multi_org, threshold=cfg.sc_threshold)
    else:
        gated = multi_org
    # Only the columns the tagging UDF consumes cross the Arrow boundary.
    pairs = stage(
        "pairs",
        lambda: tag_and_score(
            gated.select("url", "sentence_id", "sentence", "org_groups"),
            num_positions=cfg.num_positions,
            mutate=cfg.mutate,
            reverse=cfg.reverse,
            model_broadcast=cfg.re_model_broadcast,
            model_path=cfg.re_model_path,
            tokenizer_broadcast=cfg.re_tokenizer_broadcast,
            max_length=cfg.re_max_length,
            dropped_acc=cfg.re_dropped_acc,
        ),
    )
    classified = stage("classified", lambda: aggregate_positions(pairs))
    triples = stage(
        "triples",
        lambda: emit_triples(classified, score_threshold=cfg.score_threshold),
    )

    out: dict[str, DataFrame] = {}

    def _linked() -> DataFrame:
        surfaces = (
            triples.select(triples.subj_surface.alias("surface"))
            .unionByName(triples.select(triples.obj_surface.alias("surface")))
            .distinct()
        )
        if use_distributed_linking:
            linked_surfaces = link_surfaces_distributed(
                surfaces, company_dict,
                cand_thresh=cfg.cand_thresh, match_thresh=cfg.match_thresh,
            )
        else:
            linked_surfaces = link_surfaces(
                surfaces, company_pdf,
                cand_thresh=cfg.cand_thresh, match_thresh=cfg.match_thresh,
            )
        alias_edges = build_alias_edges(mentions)
        surface_to_entity = canonicalize_unmatched(
            linked_surfaces,
            alias_edges.select("target", "alias"),
        )
        # The linking intermediates exist only when this stage runs (a
        # resumed linked_triples has none).
        out.update(
            linked_surfaces=linked_surfaces,
            alias_edges=alias_edges,
            surface_to_entity=surface_to_entity,
        )
        # surface_to_entity is checkpointed rows (canonicalize_unmatched
        # runs the linking UDF once): link_triples' broadcast-dispatch count
        # and both endpoint joins read them without re-running the linking
        # subtree.
        return link_triples(
            triples, surface_to_entity,
            max_broadcast_rows=cfg.max_broadcast_dict_rows,
        )

    linked = stage("linked_triples", _linked)
    edges = stage("edges", lambda: build_edges(linked))
    out.update(
        sentences=sentences,
        mentions=mentions,
        multi_org=multi_org,
        gated=gated,
        pairs=pairs,
        classified=classified,
        triples=triples,
        linked_triples=linked,
        edges=edges,
        edges_global=build_edges_global(linked, salt_buckets=cfg.salt_buckets),
        vertices=build_vertices(linked),
    )
    return out


# Branch points of the in-memory run: mentions feeds both the pair fan-out
# and the alias-edge path; triples feeds both surface linking and the
# linked join; linked_triples feeds every graph rollup. Without a persist
# Spark recomputes the whole extraction subtree per branch.
_PERSISTED = ("mentions", "triples", "linked_triples")


def _persist_branch_points(name: str, fn: Callable[[], DataFrame]) -> DataFrame:
    df = fn()
    if name in _PERSISTED:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    company_dict: DataFrame,
    config: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Run the full extraction DAG in memory; returns every stage DataFrame
    keyed by stage name (callers persist what they need). `mentions`,
    `triples` and `linked_triples` come back persisted."""
    return _kg_dag(
        spark, pages, company_dict, config or PipelineConfig(),
        _persist_branch_points,
    )
