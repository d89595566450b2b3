"""Spans around the program's public functions, and per-span Spark metrics.

Only the traced run builds a ``Tracer``. ``install`` swaps the listed
functions for wrappers in every loaded module of the package that
holds them (and methods on their class), so calls made inside the
program are traced too; ``uninstall`` puts the originals back. No
source file of the program changes.

Each call opens a span (name, start, end, parent) and sets the Spark
job group to the span id, restoring the previous group on exit. After
the run, ``read_event_log`` reads Spark's event log and sums every
job's task metrics by job group, that is by span; ``per_layer`` folds
them into the span tree.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "data_ingestion_py_spark"
GROUP = "spark.jobGroup.id"

#: (module, attribute, span name). ``Class.method`` attributes are
#: patched on the class.
TRACED = (
    ("io", "load_table", "io.load_table"),
    ("io", "write_partitioned", "io.write_partitioned"),
    ("sources.pdf", "scan_pdf_directory", "sources.scan_pdf_directory"),
    ("sources.pdf", "extract_pages", "sources.extract_pages"),
    ("operators.snippetize", "snippetize", "snippetize"),
    ("catalog.actions", "apply_actions", "catalog.apply_actions"),
    ("catalog.mutations", "expire_documents_auto", "catalog.expire_documents_auto"),
    ("catalog.state", "CatalogState.materialize", "catalog.materialize"),
    ("catalog.state", "CatalogState.snippets", "catalog.snippets"),
    ("streaming.pipeline", "command_batch_processor", "streaming.command_batch_processor"),
    ("operators.similarity", "active_snippet_topk", "similarity.active_snippet_topk"),
    ("operators.similarity", "ivf_topk", "similarity.ivf_topk"),
    ("operators.similarity", "embedding_near_duplicates", "similarity.embedding_near_duplicates"),
    ("operators.dedup", "near_duplicates_minhash", "dedup.near_duplicates_minhash"),
    ("operators.dedup", "minhash_signatures", "dedup.minhash_signatures"),
    ("operators.dedup", "lsh_candidate_pairs", "dedup.lsh_candidate_pairs"),
    ("operators.dedup", "jaccard_verify", "dedup.jaccard_verify"),
    ("operators.text_analysis", "quality_scores", "text_analysis.quality_scores"),
    ("operators.kmeans", "kmeans_integer_model", "kmeans.kmeans_integer_model"),
)

#: Factories whose returned callable is the unit of work.
FACTORIES = {"streaming.command_batch_processor"}


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.patches: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self.stack[-1].id if self.stack else None
        sp = Span(f"pb-{len(self.spans)}", name, parent, 0.0)
        self.spans.append(sp)
        self.stack.append(sp)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, sp.id)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty(GROUP, prev)
            self.stack.pop()
            self.bookkeeping_s += time.perf_counter() - sp.end

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        if name not in FACTORIES:
            return traced

        @functools.wraps(fn)
        def factory(*args, **kwargs):
            return traced_product(fn(*args, **kwargs))

        def traced_product(product):
            @functools.wraps(product)
            def call(*args, **kwargs):
                with tracer.span(name):
                    return product(*args, **kwargs)

            return call

        return factory

    def install(self) -> "Tracer":
        for mod_name, attr, name in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, self._wrap(getattr(cls, meth), name))
                continue
            original = getattr(mod, attr)
            wrapped = self._wrap(original, name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for key, value in list(vars(m).items()):
                        if value is original:
                            self._patch(m, key, wrapped)
        return self

    def _patch(self, owner, attr: str, value) -> None:
        self.patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self.patches):
            setattr(owner, attr, original)
        self.patches.clear()


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_ACCUMS = {
    "time to start Python workers": "py_init_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "scan time": "scan_ms",
}


def _task_metrics(ev: dict) -> dict:
    m, info = ev.get("Task Metrics") or {}, ev.get("Task Info") or {}
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    run = m.get("Executor Run Time", 0)
    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    other = (
        run + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0)
    )
    out = {
        "tasks": 1,
        "executor_run_ms": run,
        "executor_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "scheduler_delay_ms": max(wall - other, 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "bytes_read": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "records_read": m.get("Input Metrics", {}).get("Records Read", 0),
        "bytes_written": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "records_written": m.get("Output Metrics", {}).get("Records Written", 0),
    }
    for acc in info.get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            try:
                out[key] = out.get(key, 0) + float(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Job group -> summed task metrics plus job and stage counts."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(GROUP)
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerTaskEnd":
                    acc = per_stage[ev["Stage ID"]]
                    for k, v in _task_metrics(ev).items():
                        acc[k] += v
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, group in job_group.items():
        if group is not None:
            groups[group]["jobs"] += 1
    for sid, acc in per_stage.items():
        group = job_group.get(stage_job.get(sid))
        if group is None:
            continue
        groups[group]["stages"] += 1
        for k, v in acc.items():
            groups[group][k] += v
    return groups


def per_layer(tracer: Tracer, groups: dict[str, dict]) -> tuple[dict, dict]:
    """(flat metrics by span name, span table). Inclusive metrics cover
    the span and its descendants; ``self_s`` subtracts the time covered
    by child spans; ``jobs_self`` counts the jobs run directly inside
    the span (for a DataFrame-returning function: jobs at build)."""
    children: dict[str, list[Span]] = defaultdict(list)
    for sp in tracer.spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)

    def inclusive(sp: Span) -> dict:
        acc = defaultdict(float, groups.get(sp.id, {}))
        for ch in children[sp.id]:
            for k, v in inclusive(ch).items():
                acc[k] += v
        return acc

    table: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sp in tracer.spans:
        row = table[sp.name]
        dur = sp.end - sp.start
        row["calls"] += 1
        row["s"] += dur
        row["self_s"] += dur - sum(c.end - c.start for c in children[sp.id])
        row["jobs_self"] += groups.get(sp.id, {}).get("jobs", 0)
        for k, v in inclusive(sp).items():
            row[k] += v
    flat = {}
    for name, row in table.items():
        for k, v in row.items():
            flat[f"{name}.{k}"] = v
    return flat, {k: dict(v) for k, v in table.items()}


def totals(groups: dict[str, dict]) -> dict:
    acc = defaultdict(float)
    for g in groups.values():
        for k, v in g.items():
            acc[k] += v
    return acc
