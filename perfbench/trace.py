"""Per-layer tracing for the KG-build benchmark.

Two sources are folded into one per-layer table:

* spans: wrappers installed on the package's module attributes (the
  public layer functions and ``ParquetTableIO.write/read``). The
  pipeline imports its stage functions at call time, so it picks the
  wrappers up without any change to package code. Every wrapper also
  sets the Spark job description to its layer, so Spark's task metrics
  can be attributed to the layer that submitted the job;
* Spark's own event log (``spark.eventLog.enabled``): task metrics per
  job description, and SQL metrics per plan node (Python-worker time
  and bytes, scan time).

Attribution rules:

* a layer's ``wall_s`` is its spans' self time (duration minus child
  spans). Layer functions mostly build lazy plans, so their wall is
  small; the plans run inside ``ParquetTableIO.write``, which is
  billed to ``pipeline`` (``pipeline.write_s``);
* a stage's write job runs under the description of the layer that
  built the written DataFrame (the last non-pipeline call to finish
  inside that stage), so ``L.task_s`` is the executor time of the
  work layer L planned;
* Python-worker metrics are billed by operator: ``MapInPandas`` nodes
  are the model's taggers, ``ArrowEvalPython`` nodes the mention
  normalizer of ``kg.graph``;
* time inside the traced operation covered by no span is reported as
  the unattributed share.
"""

from __future__ import annotations

import glob
import importlib
import json
import statistics
import sys
import time
from collections import defaultdict

# (module, attribute, layer). The pipeline imports these at call time;
# a function another module bound at import time is patched there too
# (see Tracer.install).
LAYER_FUNCS = [
    ("openie_spark.sources.transcripts", "read_transcripts", "sources"),
    ("openie_spark.operators.extract", "extract_triples", "operators"),
    ("openie_spark.operators.extract", "tag_predicates", "operators"),
    ("openie_spark.operators.extract", "fan_out_spans", "operators"),
    ("openie_spark.operators.extract", "explode_extractions", "operators"),
    ("openie_spark.operators.extract", "assemble_triples", "operators"),
    ("openie_spark.operators.extract", "assemble_triples_fast", "operators"),
    ("openie_spark.operators.sentences", "segment_transcripts", "operators"),
    ("openie_spark.model.infer", "tag_predicates_neural", "model"),
    ("openie_spark.model.infer", "tag_arguments_neural", "model"),
    ("openie_spark.kg.graph", "norm_triples", "kg.graph"),
    ("openie_spark.kg.graph", "build_nodes", "kg.graph"),
    ("openie_spark.kg.graph", "build_edges_from_norm", "kg.graph"),
    ("openie_spark.kg.mentions", "mentions_from_norm", "kg.mentions"),
    ("openie_spark.kg.mentions", "mention_vocab", "kg.mentions"),
    ("openie_spark.kg.linking", "exact_pairs", "kg.linking"),
    ("openie_spark.kg.linking", "minhash_pairs", "kg.linking"),
    ("openie_spark.kg.linking", "skew_stats", "kg.linking"),
    ("openie_spark.kg.canon", "connected_components", "kg.canon"),
    ("openie_spark.kg.canon", "canonical_map", "kg.canon"),
    ("openie_spark.kg.analytics", "relation_weights", "kg.analytics"),
    ("openie_spark.kg.incremental", "merge_vocab", "kg.incremental"),
    ("openie_spark.kg.incremental", "incremental_exact_pairs", "kg.incremental"),
    ("openie_spark.kg.incremental", "merge_components", "kg.incremental"),
    ("openie_spark.kg.incremental", "entity_remap", "kg.incremental"),
    ("openie_spark.kg.incremental", "remap_edges", "kg.incremental"),
    ("openie_spark.kg.incremental", "merge_relations", "kg.incremental"),
]
PIPELINE = "pipeline"
# layers whose Spark jobs are attributed and get the generic metrics
JOB_LAYERS = ("operators", "kg.graph", "kg.mentions", "kg.linking", "kg.canon",
              "kg.analytics", "kg.incremental", PIPELINE)
GENERIC = ("wall_s", "task_s", "cpu_s", "gc_s", "rows_out", "shuffle_mb",
           "spill_mb", "skew")
SPECIFIC = (
    "sources.wall_s", "sources.scan_s", "model.wall_s",
    "model.python_s", "model.python_boot_s", "model.to_python_mb",
    "model.from_python_mb", "kg.graph.python_s",
    "kg.linking.candidates", "kg.linking.pair_yield", "kg.linking.max_block",
    "kg.canon.jobs",
    "pipeline.write_s", "pipeline.lineage_s", "pipeline.noop_resume_s",
    "pipeline.written_mb", "pipeline.files",
    "session.start_s", "session.warmup_s",
    "trace.wall_s", "trace.overhead", "trace.unattributed",
)
# Description given to benchmark-side jobs (checks, counters); the
# fold ignores them.
OUTSIDE = "perfbench"
MB = 1 << 20


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in BENCHMARK.json order."""
    return [f"{layer}.{m}" for layer in JOB_LAYERS for m in GENERIC] + list(SPECIFIC)


class _Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "child_s")

    def __init__(self, layer, name, parent):
        self.layer, self.name, self.parent = layer, name, parent
        self.start = time.perf_counter()
        self.end = None
        self.child_s = 0.0


class Tracer:
    """Installs span wrappers; spans are kept in memory while
    ``active`` and folded after the event log is complete."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.spans: list[_Span] = []
        self._stack: list[_Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self._producer: str | None = None

    # ---------------------------------------------------------- spans
    def _enter(self, layer: str, name: str) -> tuple[_Span, str | None]:
        parent = self._stack[-1] if self._stack else None
        sp = _Span(layer, name, parent)
        self._stack.append(sp)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(layer)
        return sp, prev

    def _exit(self, sp: _Span, prev: str | None) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if sp.parent is not None:
            sp.parent.child_s += sp.end - sp.start
            if sp.parent.name == "_run_stage" and sp.layer != PIPELINE:
                self._producer = sp.layer
        self.spans.append(sp)
        self.sc.setJobDescription(prev)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            if name == "_run_stage":
                tracer._producer = None
            sp, prev = tracer._enter(layer, name)
            if name == "write" and tracer._producer:
                # the written plan is the producer layer's work
                tracer.sc.setJobDescription(tracer._producer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(sp, prev)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def install(self) -> None:
        import openie_spark.pipeline as pl

        pkg_mods = [m for n, m in list(sys.modules.items())
                    if n.startswith("openie_spark") and m is not None]
        for mod_name, attr, layer in LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, layer, attr)
            # patch every module that bound the function at import time
            for m in pkg_mods + [mod]:
                if getattr(m, attr, None) is orig:
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        for cls, attr in ((pl.ParquetTableIO, "write"), (pl.ParquetTableIO, "read"),
                          (pl.KGPipeline, "_run_stage")):
            orig = cls.__dict__[attr]
            self._restore.append((cls, attr, orig))
            setattr(cls, attr, self._wrap(orig, PIPELINE, attr))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    def span_table(self, wall_s: float) -> dict:
        self_s: dict[str, float] = defaultdict(float)
        write_s = lineage_s = top_s = 0.0
        for sp in self.spans:
            dur = sp.end - sp.start
            self_s[sp.layer] += dur - sp.child_s
            if sp.name == "write":
                write_s += dur
            if sp.name == "_run_stage":
                lineage_s += dur - sp.child_s
            if sp.parent is None:
                top_s += dur
        return {"self_s": dict(self_s), "write_s": write_s,
                "lineage_s": lineage_s,
                "unattributed": max(wall_s - top_s, 0.0) / wall_s}


# -------------------------------------------------------- event log

def _plan_nodes(info: dict, out: list) -> None:
    out.append(info)
    for ch in info.get("children", []):
        _plan_nodes(ch, out)


def fold_event_log(log_dir: str) -> dict:
    """Event log → {layer: generic task metrics} plus Python/scan SQL
    metrics by operator. Jobs described as OUTSIDE are ignored; jobs
    with no description are billed to 'unattributed'."""
    paths = sorted(glob.glob(f"{log_dir}/*"))
    if not paths:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_layer: dict[int, str] = {}
    acc_kind: dict[int, tuple[str, str, float]] = {}  # acc id -> (layer, metric, scale)
    tasks: dict[str, list[dict]] = defaultdict(list)
    jobs: dict[str, int] = defaultdict(int)
    sql: dict[str, float] = defaultdict(float)

    def note_plan(plan: dict) -> None:
        nodes: list = []
        _plan_nodes(plan, nodes)
        for nd in nodes:
            name = nd.get("nodeName", "")
            meta = json.dumps(nd.get("metadata", {}))
            for m in nd.get("metrics", []):
                acc = m.get("accumulatorId")
                mname = m.get("name", "")
                # timings to seconds, sizes to MB
                scale = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / MB}.get(
                    m.get("metricType"), 1.0)
                if name.startswith("MapInPandas"):
                    acc_kind[acc] = ("model", mname, scale)
                elif name.startswith("ArrowEvalPython"):
                    acc_kind[acc] = ("kg.graph", mname, scale)
                elif name.startswith("Scan parquet") and "documents.parquet" in meta \
                        and mname == "scan time":
                    acc_kind[acc] = ("sources", mname, scale)

    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    layer = desc or "unattributed"
                    jobs[layer] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer[sid] = layer
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    if ev.get("sparkPlanInfo"):
                        note_plan(ev["sparkPlanInfo"])
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev.get("Stage ID"), "unattributed")
                    if layer == OUTSIDE:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    om = tm.get("Output Metrics") or {}
                    tasks[layer].append({
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "rows_out": om.get("Records Written", 0),
                        "shuffle_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        "spill_b": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    })
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        k = acc_kind.get(acc.get("ID"))
                        if k is not None:
                            sql[f"{k[0]}|{k[1]}"] += float(acc.get("Update", 0)) * k[2]
    out: dict[str, dict] = {}
    for layer, ts in tasks.items():
        run = [t["run_ms"] for t in ts]
        med = statistics.median(run) if run else 0
        out[layer] = {
            "task_s": sum(run) / 1e3,
            "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "rows_out": float(sum(t["rows_out"] for t in ts)),
            "shuffle_mb": sum(t["shuffle_b"] for t in ts) / MB,
            "spill_mb": sum(t["spill_b"] for t in ts) / MB,
            "skew": (max(run) / med) if med else 0.0,
        }
    return {"layers": out, "jobs": dict(jobs), "sql": dict(sql)}
