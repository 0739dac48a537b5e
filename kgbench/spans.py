"""Spans for the traced run and the per-layer table built from them.

A traced pass calls each layer's public function in turn and materializes
its output (eager local checkpoint + count) inside the call's span, so the
work a function starts eagerly and the work its lazy output defers land in
the same span. Each span runs under its own Spark job group,
`<layer>.<function>`, which is how the event-log figures are joined to it.
Spans stay in memory until `dump`.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import eventlog

KG_LAYERS = ("segment", "ner", "extract_fused", "linking", "graph")
CURATE_LAYERS = ("text_stats", "dedup", "cc")
LAYERS = KG_LAYERS + CURATE_LAYERS
LAYER_FIELDS = {
    "self_s": "s", "rows_in": "rows", "rows_out": "rows", "task_s": "s",
    "slot_idle_frac": "frac", "task_skew": "ratio", "python_s": "s",
    "to_python_mb": "MB", "from_python_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "gc_s": "s",
}
RATIOS = {
    "ner.multi_org_keep_frac": "frac", "ner.sc_keep_frac": "frac",
    "extract_fused.triple_yield": "frac", "linking.matched_frac": "frac",
    "dedup.decontam_drop_frac": "frac", "cc.spark_jobs": "count",
}
CKPT_STAGES = ("sentences", "mentions", "pairs", "classified", "triples",
               "linked_triples", "edges")
CHECKPOINT = {f"checkpoint.{s}.wall_s": "s" for s in CKPT_STAGES}
CHECKPOINT.update({"checkpoint.write_mb": "MB", "checkpoint.run_s": "s",
                   "checkpoint.resume_s": "s"})
SUMMARY = {
    "trace.wall_s": "s", "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s", "trace.self_gap_s": "s",
    "leaked_persists": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = {f"{layer}.{f}": u for layer in LAYERS
             for f, u in LAYER_FIELDS.items()}
    return {**units, **RATIOS, **CHECKPOINT, **SUMMARY}


class Tracer:
    """The spans of one traced pass, timed from start()."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.t0 = self.t1 = None

    def start(self) -> None:
        self._rdds_before = set(self._persistent_rdds())
        self.t0 = time.perf_counter()

    def _persistent_rdds(self) -> dict:
        return dict(self.spark.sparkContext._jsc.getPersistentRDDs())

    def release(self) -> None:
        """Unpersist every RDD persisted since start(), the checkpoints of
        the spans included."""
        for rdd_id, rdd in self._persistent_rdds().items():
            if rdd_id not in self._rdds_before:
                rdd.unpersist(False)
        self.spark.catalog.clearCache()

    def stop(self) -> None:
        self.t1 = time.perf_counter()

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    def call(self, layer: str, fn: str, thunk, rows_in: int):
        """Run thunk() under job group `layer.fn`, materialize and count its
        output; returns (DataFrame, rows)."""
        sc = self.spark.sparkContext
        group = f"{layer}.{fn}"
        sc.setJobGroup(group, group)
        start = time.perf_counter()
        try:
            # an eager local checkpoint, not persist(): later calls then plan
            # against a short lineage instead of matching every cached plan
            df = thunk().localCheckpoint(eager=True)
            rows = df.count()
        finally:
            end = time.perf_counter()
            sc.setJobGroup("driver", "driver")
        self.spans.append(dict(
            name=group, layer=layer, fn=fn, parent="run", start=start - self.t0,
            end=end - self.t0, rows_in=int(rows_in), rows_out=int(rows),
        ))
        return df, rows

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        root = dict(name="run", parent=None, start=0.0, end=self.wall_s)
        path.write_text(json.dumps(
            {"spans": [root] + self.spans, **extra}, indent=1))


def layer_metrics(spans: list[dict], groups: dict, slots: int) -> dict:
    """<layer>.<field> values for every layer in LAYERS; a layer with no
    span in this workload reports 0 for every field."""
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        stats = eventlog.GroupStats()
        for name, g in groups.items():
            if name is not None and name.startswith(layer + "."):
                stats.add(g)
        self_s = sum(s["end"] - s["start"] for s in mine)
        task_s = stats.task_ms / 1e3
        vals = {
            "self_s": self_s,
            "rows_in": sum(s["rows_in"] for s in mine),
            "rows_out": sum(s["rows_out"] for s in mine),
            "task_s": task_s,
            "slot_idle_frac": 1 - task_s / (self_s * slots) if self_s else 0.0,
            "task_skew": stats.task_skew(),
            "python_s": stats.python_ms / 1e3,
            "to_python_mb": stats.to_python_bytes / 2**20,
            "from_python_mb": stats.from_python_bytes / 2**20,
            "shuffle_write_mb": stats.shuffle_write_bytes / 2**20,
            "spill_mb": stats.spill_bytes / 2**20,
            "gc_s": stats.gc_ms / 1e3,
        }
        out.update({f"{layer}.{k}": v for k, v in vals.items()})
    return out


def jobs_in(groups: dict, layer: str) -> int:
    return sum(g.jobs for name, g in groups.items()
               if name is not None and name.startswith(layer + "."))
