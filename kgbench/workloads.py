"""The workloads: one untraced job each with its output check, and a
traced pass over the same input.

Every job reads its input parquet, calls the package's public entry point,
forces every output the workload promises (a `noop` sink, never a count
that could prune columns), and is then checked outside its timer.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from procs import Stopwatch
from spans import CKPT_STAGES, Tracer

MIN_PR = 0.95
KG_TERMINALS = ("linked_triples", "edges", "edges_global", "vertices")
# The simulated crash loses `classified` and every later checkpoint stage.
CRASHED_STAGES = CKPT_STAGES[CKPT_STAGES.index("classified"):]
LINKED_COLS = ["url", "sentence_id", "r_id", "subj_id", "pred", "obj_id",
               "subj_surface", "obj_surface", "score"]


@dataclass
class JobResult:
    wall_s: float
    n_in: int  # pages (kg_*) or corpus documents (curate) read
    n_out: int  # linked triples (kg_*) or surviving documents (curate)
    leaked_persists: int
    checks: dict[str, bool]
    out_hash: str
    info: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU time of the job (Stopwatch)
    steal_s: float = 0.0  # CPU time stolen from the VM while it ran

    @property
    def ok(self) -> bool:
        return all(self.checks.values())


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(sorted(v))
    return v


def rows_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive content hash. Floats are rounded and arrays sorted,
    so neither summation nor collection order changes it."""
    rows = sorted(repr(tuple(_canon(v) for v in r))
                  for r in pdf.itertuples(index=False, name=None))
    return hashlib.blake2b("\n".join(rows).encode(), digest_size=16).hexdigest()


def pr_check(linked: pd.DataFrame, gold: pd.DataFrame) -> tuple[dict, dict]:
    """(checks, figures) for precision and recall of (sentence_id, subj_id,
    obj_id) against the planted gold."""
    got = set(zip(linked.sentence_id, linked.subj_id, linked.obj_id))
    want = set(zip(gold.sentence_id, gold.subj_id, gold.obj_id))
    hit = len(got & want)
    p = hit / len(got) if got else 0.0
    r = hit / len(want) if want else 0.0
    return ({"precision": p >= MIN_PR, "recall": r >= MIN_PR},
            {"precision": p, "recall": r})


class KgExtract:
    """In-memory `run_pipeline`, all four terminals forced."""

    name = "kg_extract"
    # warm jobs a run times; both workloads' runs fit the time budget with
    # one kg_extract job or two of the shorter curate job (NOTES.md)
    timed_jobs = 1

    def __init__(self, inputs):
        self.inp = inputs
        self.gold = inputs.gold()

    def _read(self, spark):
        return (spark.read.parquet(self.inp.pages),
                spark.read.parquet(self.inp.company_dict))

    def job(self, spark) -> JobResult:
        from finance_sc_relations_spark.plans.pipeline import (
            PipelineConfig, run_pipeline)

        before = persisted(spark)
        watch = Stopwatch(spark)
        watch.start()
        out = run_pipeline(spark, *self._read(spark), PipelineConfig())
        for name in KG_TERMINALS:
            force(out[name])
        wall, cpu, steal = watch.stop()
        linked = out["linked_triples"].select(*LINKED_COLS).toPandas()
        leaked = persisted(spark) - before
        spark.catalog.clearCache()
        checks, info = pr_check(linked, self.gold)
        return JobResult(wall, self.inp.n_pages, len(linked), leaked,
                         checks, rows_hash(linked), info, cpu_s=cpu,
                         steal_s=steal)

    def traced(self, spark, tracer: Tracer) -> tuple[str, dict]:
        """run_pipeline's DAG, one public call per span, in its order."""
        from finance_sc_relations_spark.operators.extract_fused import (
            tag_and_score)
        from finance_sc_relations_spark.operators.graph import (
            build_alias_edges, build_edges, build_edges_global,
            build_vertices, emit_triples, link_triples)
        from finance_sc_relations_spark.operators.linking import (
            canonicalize_unmatched, link_surfaces)
        from finance_sc_relations_spark.operators.ner import (
            detect_mentions, gate_multi_org)
        from finance_sc_relations_spark.operators.re_classifier import (
            aggregate_positions)
        from finance_sc_relations_spark.operators.sc_classifier import sc_gate
        from finance_sc_relations_spark.operators.segment import (
            segment_sentences)
        from finance_sc_relations_spark.plans.pipeline import PipelineConfig

        cfg = PipelineConfig()
        call = tracer.call
        tracer.start()
        pages, company_dict = self._read(spark)
        company_pdf = company_dict.select(
            "entity_id", "canonical_name", "prefix2", "aliases").toPandas()
        if len(company_pdf) > cfg.max_broadcast_dict_rows:
            raise RuntimeError("the traced pass follows the broadcast "
                               "linking tier only")
        n_part = spark.sparkContext.defaultParallelism * 2
        sentences, n_sent = call(
            "segment", "segment_sentences",
            lambda: segment_sentences(pages.repartition(n_part), lang=cfg.lang),
            self.inp.n_pages)
        mentions, n_ment = call(
            "ner", "detect_mentions",
            lambda: detect_mentions(
                sentences, company_pdf, include_spans=False,
                with_sc=cfg.use_sc_gate, sc_max_length=cfg.sc_max_length),
            n_sent)
        multi_org, n_multi = call(
            "ner", "gate_multi_org", lambda: gate_multi_org(mentions), n_ment)
        gated, n_gated = call(
            "ner", "sc_gate",
            lambda: sc_gate(multi_org, threshold=cfg.sc_threshold), n_multi)
        scored, n_scored = call(
            "extract_fused", "tag_and_score",
            lambda: tag_and_score(
                gated.select("url", "sentence_id", "sentence", "org_groups"),
                num_positions=cfg.num_positions, mutate=cfg.mutate,
                reverse=cfg.reverse),
            n_gated)
        classified, n_cls = call(
            "extract_fused", "aggregate_positions",
            lambda: aggregate_positions(scored), n_scored)
        triples, n_tri = call(
            "graph", "emit_triples",
            lambda: emit_triples(classified, score_threshold=cfg.score_threshold),
            n_cls)
        surfaces = (
            triples.select(F.col("subj_surface").alias("surface"))
            .unionByName(triples.select(F.col("obj_surface").alias("surface")))
            .distinct()
        )
        linked_surfaces, n_ls = call(
            "linking", "link_surfaces",
            lambda: link_surfaces(surfaces, company_pdf,
                                  cand_thresh=cfg.cand_thresh,
                                  match_thresh=cfg.match_thresh),
            2 * n_tri)
        alias_edges, n_ae = call(
            "linking", "build_alias_edges",
            lambda: build_alias_edges(mentions), n_ment)
        s2e, n_s2e = call(
            "linking", "canonicalize_unmatched",
            lambda: canonicalize_unmatched(
                linked_surfaces, alias_edges.select("target", "alias")),
            n_ls + n_ae)
        linked, n_linked = call(
            "graph", "link_triples",
            lambda: link_triples(triples, s2e.select("surface", "entity_id"),
                                 max_broadcast_rows=cfg.max_broadcast_dict_rows),
            n_tri + n_s2e)
        call("graph", "build_edges", lambda: build_edges(linked), n_linked)
        call("graph", "build_edges_global",
             lambda: build_edges_global(linked, salt_buckets=cfg.salt_buckets),
             n_linked)
        call("graph", "build_vertices", lambda: build_vertices(linked, s2e),
             n_linked + n_s2e)
        tracer.stop()

        n_matched = linked_surfaces.filter(F.col("entity_id").isNotNull()).count()
        ratios = {
            "ner.multi_org_keep_frac": n_multi / n_ment,
            "ner.sc_keep_frac": n_gated / n_multi,
            "extract_fused.triple_yield": n_tri / n_cls,
            "linking.matched_frac": n_matched / n_ls,
        }
        out = linked.select(*LINKED_COLS).toPandas()
        tracer.release()
        return rows_hash(out), ratios


def run_checkpointed(spark, inputs, root: Path) -> tuple[JobResult, dict]:
    """`run_pipeline_checkpointed` into the empty `root`, a simulated crash
    that drops the manifests of `classified` and every later stage, and the
    resume, which must reproduce the uninterrupted run. Returns the checked
    result and the checkpoint.* metrics, stage times read from the
    program's own `_lineage` table. Runs inside the kg_extract traced run
    (NOTES.md says why it is not a workload)."""
    from finance_sc_relations_spark.plans.checkpoint import (
        run_pipeline_checkpointed)

    def run():
        t0 = time.perf_counter()
        res = run_pipeline_checkpointed(
            spark, inputs.pages, inputs.company_dict, root)
        return res, time.perf_counter() - t0

    before = persisted(spark)
    fresh, wall = run()
    leaked = persisted(spark) - before
    linked = fresh["linked_triples"].select(*LINKED_COLS).toPandas()
    edges = fresh["edges"].toPandas()
    lineage = fresh["checkpoint"].lineage().toPandas()
    lineage = lineage[lineage.run_id == fresh["checkpoint"].run_id]
    stage_ms = lineage.groupby("stage").wall_ms.first()
    values = {f"checkpoint.{s}.wall_s": stage_ms[s] / 1e3 for s in CKPT_STAGES}
    values["checkpoint.write_mb"] = sum(
        f.stat().st_size for s in CKPT_STAGES
        for f in (root / s / "data").rglob("*") if f.is_file()) / 2**20

    for stage in CRASHED_STAGES:
        (root / stage / "_MANIFEST.json").unlink()
    resumed, resume_s = run()
    same = (
        rows_hash(resumed["linked_triples"].select(*LINKED_COLS).toPandas())
        == rows_hash(linked)
        and rows_hash(resumed["edges"].toPandas()) == rows_hash(edges)
    )
    spark.catalog.clearCache()
    shutil.rmtree(root)
    values.update({"checkpoint.run_s": wall, "checkpoint.resume_s": resume_s})
    checks, info = pr_check(linked, inputs.gold())
    checks["resume_equal"] = same
    return (JobResult(wall, inputs.n_pages, len(linked), leaked, checks,
                      rows_hash(linked), info),
            values)


class Curate:
    """`curate_corpus` over the corpus page text; the doc_id % 50 == 0
    slice is the decontamination eval set."""

    name = "curate"
    timed_jobs = 2

    def __init__(self, inputs):
        self.inp = inputs
        self.n_docs = sum(1 for i in range(inputs.n_pages) if i % 50)

    def _read(self, spark):
        docs = spark.read.parquet(self.inp.docs)
        return (docs.filter(F.col("doc_id") % 50 != 0),
                docs.filter(F.col("doc_id") % 50 == 0).select("text"))

    def job(self, spark) -> JobResult:
        from finance_sc_relations_spark.plans.curate import curate_corpus

        before = persisted(spark)
        watch = Stopwatch(spark)
        watch.start()
        corpus, evals = self._read(spark)
        out = curate_corpus(corpus, evals)
        force(out["curated"])
        wall, cpu, steal = watch.stop()
        surv = out["curated"].select("doc_id", "text").toPandas()
        leaked = persisted(spark) - before
        spark.catalog.clearCache()
        # that one seed keeps one survivor set is checked through out_hash
        checks = {"distinct_text": surv.text.nunique() == len(surv)}
        return JobResult(wall, self.n_docs, len(surv), leaked, checks,
                         rows_hash(surv[["doc_id"]]), cpu_s=cpu, steal_s=steal)

    def traced(self, spark, tracer: Tracer) -> tuple[str, dict]:
        """CURATION_GATES in order; the near-dup gate is split into its
        MinHash pairs (dedup) and connected components (cc)."""
        from finance_sc_relations_spark.operators.dedup import (
            decontaminate, minhash_lsh_pairs, near_dup_clusters)
        from finance_sc_relations_spark.plans.curate import CURATION_GATES

        layer_of = {"lang": "text_stats", "quality": "text_stats",
                    "exact_dedup": "dedup"}
        call = tracer.call
        tracer.start()
        cur, evals = self._read(spark)
        params = dict(lang="en", min_quality=0.5, decontaminate_n=13,
                      id_col="doc_id", text_col="text", minhash_params={},
                      eval_texts=evals)
        n = self.n_docs
        for name, gate in CURATION_GATES:
            prev = cur
            if name == "near_dup":
                pairs, n_pairs = call(
                    "dedup", "minhash_lsh_pairs",
                    lambda: minhash_lsh_pairs(prev, id_col="doc_id"), n)
                clusters, n_cl = call(
                    "cc", "near_dup_clusters",
                    lambda: near_dup_clusters(prev, pairs=pairs, id_col="doc_id"),
                    n + n_pairs)
                cur, n = call(
                    "cc", "keep_canonical",
                    lambda: prev.join(
                        clusters.filter(F.col("is_canonical")).select("doc_id"),
                        "doc_id", "left_semi"),
                    n_cl)
            elif name in layer_of:
                cur, n = call(layer_of[name], name,
                              lambda: gate(prev, **params), n)
            else:
                raise RuntimeError(f"curation gate {name!r} has no layer")
        n_in = n
        prev = cur
        cur, n = call("dedup", "decontaminate",
                      lambda: decontaminate(prev, evals, n=13, id_col="doc_id"),
                      n_in)
        tracer.stop()
        surv = cur.select("doc_id").toPandas()
        tracer.release()
        return rows_hash(surv), {"dedup.decontam_drop_frac": 1 - n / n_in}


WORKLOADS = {w.name: w for w in (KgExtract, Curate)}
