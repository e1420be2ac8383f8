"""Per-layer tracing from outside the program.

The traced run wraps the package's public functions (looked up by name
in every package module that imported them) in spans. A workload
creates its tracer when its timed phase starts, so set-up and warm-up
are never traced. Each span:

- times the call (``s`` for eager layers, ``plan_s`` for lazy ones that
  only build a DataFrame; the workload times the action that executes
  a lazy plan as the layer's ``exec_s`` span, and a whole catalog query,
  plan and action, as that query's ``s`` span);
- counts the Spark jobs started while it was open, their completed
  tasks and the shuffle bytes they wrote, from the status store. The
  client is one thread, so every job started in that window belongs to
  the span, streaming micro-batches included (they run on the stream's
  own thread and job group). Counts are self counts: the jobs of a
  nested span belong to that span, not to its parent;
- for write layers, lists the watched directories before and after and
  counts the files the call added and their bytes.

:meth:`Tracer.metrics` reports every name in :data:`LAYER_METRICS`, zero
where the workload bypassed the layer. ``calls`` is per timed operation;
every other measure is per call of the layer, so a program that runs
more operations in the timed phase does not look more expensive.
Set-up layers (``kind == "setup"``) are timed once, by the runner or
the workload, and reported as measured.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "utn_dataengineering_stockmarketpipeline_spark"

# The catalog queries the curation_batch workload runs, by module.
LLM_QUERIES = ("llm_text_quality", "llm_cosine_topk", "llm_minhash_lsh_pairs")
STREAM_QUERIES = ("stream_stateful_totals",)

# (layer, kind, measures). kind: "call" = eager, times ``s``; "plan" =
# lazy, times ``plan_s``; "write" = eager + files/bytes; "query" = a
# catalog query, spanned by the workload; "setup" = timed once in set-up.
LAYERS: tuple[tuple[str, str, tuple[str, ...]], ...] = (
    ("session.get_spark", "setup", ("s",)),
    ("plans.reference_tables.stock_prices", "setup", ("s",)),
    ("plans.reference_tables.markets", "setup", ("s",)),
    ("sources.state.next_from_date", "call", ("s", "calls", "jobs", "tasks")),
    ("sources.rest.fetch_stock", "call", ("s", "calls")),
    ("operators.transforms.normalize_stock_payload", "plan", ("plan_s", "calls")),
    ("pipeline.run_pipeline", "call", ("s", "self_s", "calls", "jobs", "tasks")),
    ("sources.lake.write_stocks", "write",
     ("s", "calls", "jobs", "tasks", "files", "bytes")),
    ("operators.warehouse.save_to_stage", "write",
     ("s", "calls", "jobs", "tasks", "files", "bytes")),
    ("operators.warehouse.commit_to_warehouse", "write",
     ("s", "calls", "jobs", "tasks", "files", "bytes")),
    ("operators.scd.new_rows", "plan", ("plan_s", "calls")),
    ("pipeline.get_last_price", "plan",
     ("plan_s", "exec_s", "calls", "jobs", "tasks")),
    ("operators.windows.latest_per_entity", "plan",
     ("plan_s", "exec_s", "jobs", "tasks")),
    ("operators.transforms.add_rolling_mean", "plan",
     ("plan_s", "exec_s", "jobs", "tasks")),
    *((f"plans.queries_llm.{q}", "query", ("s", "jobs", "tasks", "shuffle_bytes"))
      for q in LLM_QUERIES),
    *((f"plans.queries_streaming.{q}", "query", ("s", "jobs", "tasks"))
      for q in STREAM_QUERIES),
    ("operators.text.quality_features", "plan", ("plan_s", "calls")),
    ("operators.similarity.brute_force_topk", "plan", ("plan_s", "calls", "jobs")),
    ("operators.dedup.minhash_candidates", "plan", ("plan_s", "calls")),
    ("functions.hashing.shingle_hash_rows", "plan", ("plan_s", "calls")),
    ("streaming.ingest.stateful_running_totals", "plan", ("plan_s", "calls")),
)

UNITS = {"s": "s", "self_s": "s", "plan_s": "s", "exec_s": "s",
         "calls": "count", "jobs": "count", "tasks": "count",
         "files": "count", "bytes": "bytes", "shuffle_bytes": "bytes"}

# the tracer's own bookkeeping per timed op, and the traced run's op
# latency and CPU cost (overhead.py subtracts the untraced run's)
TRACE_METRICS = (("trace.overhead_ms", "ms"), ("trace.op_p50_ms", "ms"),
                 ("trace.op_cpu_ms", "ms"))

LAYER_METRICS: tuple[tuple[str, str], ...] = tuple(
    (f"{layer}.{m}", UNITS[m]) for layer, _, ms in LAYERS for m in ms
) + TRACE_METRICS

SETUP_LAYERS = tuple(layer for layer, kind, _ in LAYERS if kind == "setup")


def dir_listing(roots: list[str]) -> dict[str, int]:
    """path -> size of every data file under ``roots`` (Spark's
    ``_SUCCESS`` markers and ``.crc`` side files are not data)."""
    out: dict[str, int] = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


@dataclass
class _Frame:
    first_job: int
    child_s: float = 0.0
    child_jobs: set[int] = field(default_factory=set)


class Tracer:
    """Spans around package functions; see the module docstring."""

    def __init__(self, spark, watch_dirs: list[str]):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._bus = sc.listenerBus()
        self._watch = watch_dirs
        self._stack: list[_Frame] = []
        self._patched: list[tuple[object, str, object]] = []
        self.stats: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, time_key: str = "s", write: bool = False):
        o0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        before = dir_listing(self._watch) if write else None
        frame = _Frame(self._dag.numTotalJobs())
        self._stack.append(frame)
        t0 = time.perf_counter()
        self.overhead_s += t0 - o0
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            o1 = time.perf_counter()
            self._stack.pop()
            jobs = set(range(frame.first_job, self._dag.numTotalJobs()))
            own = jobs - frame.child_jobs
            st = self.stats[name]
            st[time_key] += dur
            if time_key == "s":
                st["self_s"] += dur - frame.child_s
            if time_key != "exec_s":
                st["calls"] += 1
            tasks, shuffle = self._cost_of(own)
            st["jobs"] += len(own)
            st["tasks"] += tasks
            st["shuffle_bytes"] += shuffle
            if write:
                after = dir_listing(self._watch)
                new = [p for p in after if p not in before]
                st["files"] += len(new)
                st["bytes"] += sum(after[p] for p in new)
            end = time.perf_counter()
            self.overhead_s += end - o1
            if parent:
                parent.child_s += end - o0
                parent.child_jobs |= jobs

    def _cost_of(self, job_ids: set[int]) -> tuple[int, int]:
        """(completed tasks, shuffle bytes written) of ``job_ids``."""
        if not job_ids:
            return 0, 0
        # job and stage events reach the status store through the
        # asynchronous listener bus: drain it first
        self._bus.waitUntilEmpty()
        tasks = shuffle = 0
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    stage = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted or never run
                    continue
                tasks += stage.numCompleteTasks()
                shuffle += stage.shuffleWriteBytes()
        return tasks, shuffle

    # -- installing wrappers -----------------------------------------------------

    def install(self) -> None:
        """Wrap every eager, lazy and write layer function wherever a
        package module holds a reference to it."""
        for layer, kind, _ in LAYERS:
            if kind not in ("call", "plan", "write"):
                continue
            mod_name, fn_name = f"{PKG}.{layer}".rsplit(".", 1)
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrap(layer, kind, original)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(PKG)
                        and getattr(mod, fn_name, None) is original):
                    self._patched.append((mod, fn_name, original))
                    setattr(mod, fn_name, wrapped)

    def uninstall(self) -> None:
        for mod, fn_name, original in reversed(self._patched):
            setattr(mod, fn_name, original)
        self._patched.clear()

    def _wrap(self, layer: str, kind: str, fn):
        time_key = "plan_s" if kind == "plan" else "s"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, time_key, write=kind == "write"):
                return fn(*args, **kwargs)

        return traced

    # -- report --------------------------------------------------------------------

    def metrics(self, n_ops: int, setup: dict[str, float], op_p50_ms: float,
                op_cpu_ms: float) -> dict[str, dict]:
        """Every :data:`LAYER_METRICS` value; see the module docstring
        for the normalization. ``n_ops`` is the number of timed ops,
        ``setup`` the set-up layers' times."""
        traced = {"trace.overhead_ms": self.overhead_s * 1000.0 / n_ops,
                  "trace.op_p50_ms": op_p50_ms, "trace.op_cpu_ms": op_cpu_ms}
        out = {}
        for name, unit in LAYER_METRICS:
            layer, measure = name.rsplit(".", 1)
            st = self.stats.get(layer, {})
            if name in traced:
                value = traced[name]
            elif layer in SETUP_LAYERS:
                value = setup.get(layer, 0.0)
            elif measure == "calls":
                value = st.get("calls", 0.0) / n_ops
            else:
                calls = st.get("calls", 0.0)
                value = st.get(measure, 0.0) / calls if calls else 0.0
            out[name] = {"value": value, "unit": unit}
        return out


class NoTracer:
    """The untraced run's stand-in: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str, time_key: str = "s", write: bool = False):
        yield
