"""Traced runs: spans and counts around the engine's public functions.

`Tracer.install()` replaces each function listed in TARGETS with a
wrapper that records a span (name, start, end, parent, op id) and sets
a Spark job group named after the span, so every Spark job the span
launches from the client thread is attributed to it and to its op.
Nothing inside the engine is edited: the wrappers are installed from
here, on module attributes, the way
scripts/action_count.py counts calls.  Engine code that calls these
functions through their module attribute (as the engine does) goes
through the wrappers too.

Spans stay in memory; `dump` writes them out when the run ends.  Stage
metrics (input / shuffle bytes, executor run time, job intervals) come
from Spark's REST API, which the traced run enables with
SPARK_GRAFT_UI=true; they are pulled between ops, never inside one.

Spark is lazy: a span around a builder covers plan construction plus
any action the builder runs eagerly; execution started by the
benchmark's own sink lands in the `spark.execute` span.  Self time is a
span's duration minus the time its child spans cover; the op's root
span (`bench.op`) holds the benchmark's own code between engine calls,
so the self times of an op's spans add up to its wall time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

PKG = "dataintegration_ecomprovider_spark"

# (module, attribute, span label).  Labels are `<module>.<function>`.
TARGETS = [
    ("plans.pipeline", "run_job_on_store", "pipeline.run_job_on_store"),
    ("plans.pipeline", "run_job", "pipeline.run_job"),
    ("operators.merge", "upsert", "merge.upsert"),
    ("operators.merge", "relation_swap", "merge.relation_swap"),
    ("operators.merge", "remove_missing", "merge.remove_missing"),
    ("operators.resolve", "resolve_cascade", "resolve.resolve_cascade"),
    ("operators.surrogate", "assign_surrogate_ids", "surrogate.assign_surrogate_ids"),
    ("operators.surrogate", "high_water_mark", "surrogate.high_water_mark"),
    ("operators.explode", "explode_membership", "explode.explode_membership"),
    ("operators.pivot", "discover_pivot_values", "pivot.discover_pivot_values"),
    ("operators.pivot", "pivot_eav", "pivot.pivot_eav"),
    ("operators.export_views", "products_export_view", "export_views.products_export_view"),
    ("operators.export_views", "products_export_full_view", "export_views.products_export_full_view"),
    ("operators.export_views", "groups_export_view", "export_views.groups_export_view"),
    ("operators.export_views", "variant_options_export_view", "export_views.variant_options_export_view"),
    ("operators.export_views", "stock_units_export_view", "export_views.stock_units_export_view"),
    ("plans.publish", "publish_tables", "publish.publish_tables"),
    ("plans.publish", "merge_into_mor", "publish.merge_into_mor"),
    ("plans.publish", "read_changes", "publish.read_changes"),
    ("plans.publish", "read_table", "publish.read_table"),
    ("plans.publish", "read_table_at", "publish.read_table_at"),
    ("plans.publish", "scan_table", "publish.scan_table"),
    ("plans.publish", "maintain_store", "publish.maintain_store"),
    ("plans.publish", "snapshot", "publish.snapshot"),
    ("plans.publish", "_prune_entry", "publish.prune_files"),
    ("plans.materialize", "refresh_declared_views", "materialize.refresh_declared_views"),
    ("plans.materialize", "span_change_feed", "materialize.span_change_feed"),
    ("plans.materialize", "maintain_aggregate", "materialize.maintain_aggregate"),
    ("plans.materialize", "maintain_join", "materialize.maintain_join"),
    ("runtime", "release_caches", "runtime.release_caches"),
    ("llm.dedup", "exact_dedup_groups", "dedup.exact_dedup_groups"),
    ("llm.dedup", "minhash_candidates", "dedup.minhash_candidates"),
    ("llm.dedup", "jaccard_pairs", "dedup.jaccard_pairs"),
    ("llm.similarity", "ivf_topk_from_index", "similarity.ivf_topk"),
    ("llm.search", "bm25_topk", "search.bm25_topk"),
    ("llm.search", "token_postings", "search.token_postings"),
]
# commit-protocol methods, wrapped on the POSIX backend class
PROTOCOL_METHODS = ("read_manifest", "swap_manifest", "read_aux", "write_aux")
SINKS = ("sink", "collect")   # workloads.<fn> → the `spark.execute` span

SELF_MS = [
    "pipeline.run_job_on_store", "pipeline.run_job", "merge.upsert",
    "resolve.resolve_cascade", "surrogate.assign_surrogate_ids",
    "explode.explode_membership", "pivot.discover_pivot_values",
    "publish.publish_tables", "publish.merge_into_mor", "publish.read_changes",
    "publish.read_table", "publish.maintain_store", "publish.scan_table",
    "materialize.refresh_declared_views", "runtime.release_caches",
    "dedup.minhash_candidates", "similarity.ivf_topk", "search.bm25_topk",
    "spark.execute",
]
CALLS = ["merge.upsert", "merge.relation_swap", "merge.remove_missing",
         "commit_protocol.read_manifest", "commit_protocol.swap_manifest",
         "commit_protocol.read_aux", "commit_protocol.write_aux"]


def _rest_time(s: str | None) -> float | None:
    """REST timestamps ('2026-10-17T03:36:19.123GMT') → epoch seconds."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.enabled = False
        self.op_id: int | None = None
        self.ops: list[dict] = []           # traced ops: id, start, end, wall
        self.untraced: list[float] = []     # wall times of untraced ops
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}

    # --- installation -----------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, label in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            self._patch(mod, attr, label)
        from dataintegration_ecomprovider_spark.plans import commit_protocol as cp

        for m in PROTOCOL_METHODS:
            self._patch(cp.PosixCommitProtocol, m, f"commit_protocol.{m}", count_only=True)
        self._patch_lock(cp.PosixCommitProtocol)
        import workloads

        for fn in SINKS:
            self._patch(workloads, fn, "spark.execute")

    def _patch(self, owner, attr: str, label: str, count_only: bool = False) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            if count_only:
                tracer._count(label)
                return fn(*a, **kw)
            # argument/result bookkeeping stays outside the span, so it
            # lands in the parent's self time, not in the layer's
            pre = tracer._before(label, a, kw)
            with tracer.span(label) as sp:
                out = fn(*a, **kw)
            tracer._observe(label, sp, a, kw, out, pre)
            return out

        setattr(owner, attr, wrapped)

    def _patch_lock(self, cls) -> None:
        fn = cls.lock
        tracer = self

        @contextlib.contextmanager
        def lock(self_, *a, **kw):
            with fn(self_, *a, **kw):
                t0 = time.perf_counter()
                try:
                    yield
                finally:
                    if tracer.enabled and tracer.stack:
                        tracer.stack[0].setdefault("lock_held_s", 0.0)
                        tracer.stack[0]["lock_held_s"] += time.perf_counter() - t0

        cls.lock = lock

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.ui = self.sc.uiWebUrl
        self.app = self.sc.applicationId

    # --- spans --------------------------------------------------------------
    def _count(self, label: str) -> None:
        if self.stack:
            c = self.stack[0].setdefault("counts", {})
            c[label] = c.get(label, 0) + 1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        sp = {"id": len(self.spans), "name": name, "op": self.op_id,
              "parent": parent["id"] if parent else None,
              "start": time.time(), "t0": time.perf_counter()}
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(f"span-{sp['id']}", name)
        try:
            yield sp
        finally:
            sp["dur"] = time.perf_counter() - sp["t0"]
            sp["end"] = sp["start"] + sp["dur"]
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"span-{self.stack[-1]['id']}", self.stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _before(self, label: str, a, kw):
        if label == "publish.maintain_store":
            return file_sizes(a[1] if len(a) > 1 else kw["root"])
        if label == "runtime.release_caches":
            return len(self.sc._jsc.getPersistentRDDs())
        return None

    def _observe(self, label: str, sp: dict, a, kw, out, pre) -> None:
        """Counts that need a function's arguments or result."""
        if label == "publish.maintain_store":
            after = file_sizes(a[1] if len(a) > 1 else kw["root"])
            sp["bytes_rewritten"] = sum(n for p, n in after.items() if p not in pre)
        elif label == "runtime.release_caches":
            sp["persisted_rdds"] = pre
        elif label == "publish.prune_files" and isinstance(out, tuple):
            sp["kept"], sp["total"] = len(out[0]), out[1]
        elif label == "materialize.refresh_declared_views" and isinstance(out, dict):
            sp["modes"] = [v.get("mode") for v in out.get("views", {}).values()]
        elif label == "pipeline.run_job":
            sp["mappings"] = len(a[2]) if len(a) > 2 else len(kw.get("mappings", ()))

    @contextlib.contextmanager
    def op(self, i: int, traced: bool = True):
        """One timed op; the wrappers record spans only inside traced ops.
        Untraced ops (every other round) only record wall time, giving the
        same-run baseline for the tracing overhead."""
        if not traced:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.untraced.append(time.perf_counter() - t0)
            return
        from dataintegration_ecomprovider_spark.plans import commit_protocol as cp

        self.op_id = i
        self.enabled = True
        waits0 = cp.CONTENTION_STATS["waits"]
        try:
            with self.span("bench.op") as root:
                try:
                    yield root
                finally:
                    root["lock_waits"] = cp.CONTENTION_STATS["waits"] - waits0
        finally:
            self.enabled = False
            self.op_id = None
        self.ops.append({"id": i, "span": root["id"], "start": root["start"],
                         "end": root["end"], "wall": root["dur"]})

    # --- REST ---------------------------------------------------------------
    def _get(self, path: str):
        url = f"{self.ui}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def pull_rest(self) -> None:
        """Fetch finished jobs and stages; called between ops, untimed."""
        for j in self._get("jobs"):
            if j["jobId"] not in self.jobs and j.get("completionTime"):
                self.jobs[j["jobId"]] = {
                    "group": j.get("jobGroup"), "stages": j.get("stageIds", []),
                    "start": _rest_time(j.get("submissionTime")),
                    "end": _rest_time(j.get("completionTime")),
                    "tasks": j.get("numTasks", 0),
                }
        for s in self._get("stages"):
            if s.get("status") == "COMPLETE" and s["stageId"] not in self.stages:
                self.stages[s["stageId"]] = {
                    "input_bytes": s.get("inputBytes", 0),
                    "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
                    "executor_run_ms": s.get("executorRunTime", 0),
                    "tasks": s.get("numTasks", 0),
                }

    # --- metrics --------------------------------------------------------------
    def _self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None and "dur" in sp:
                child[sp["parent"]] += sp["dur"]
        return {sp["id"]: sp["dur"] - child[sp["id"]] for sp in self.spans if "dur" in sp}

    def layer_metrics(self, setup: dict, extra: dict, layer: dict) -> dict:
        selft = self._self_times()
        by_op: dict[int, list[dict]] = defaultdict(list)
        for sp in self.spans:
            if sp["op"] is not None and "dur" in sp:
                by_op[sp["op"]].append(sp)
        op_ids = [o["id"] for o in self.ops]
        roots = {o["id"]: self.spans[o["span"]] for o in self.ops}

        def med(fn) -> float:
            """Median over the traced ops of fn(op id)."""
            vals = [fn(i) for i in op_ids]
            return float(statistics.median(vals)) if vals else 0.0

        def per_label(label: str, fn) -> float:
            return med(lambda i: sum(fn(s) for s in by_op[i] if s["name"] == label))

        m: dict[str, tuple[float, str]] = {}
        for k, v in setup.items():
            m[k] = (v, "s")
        for label in SELF_MS:
            m[f"{label}.self_ms"] = (per_label(label, lambda s: 1000 * selft[s["id"]]), "ms")
        m["export_views.build_ms"] = (med(lambda i: 1000 * sum(
            selft[s["id"]] for s in by_op[i] if s["name"].startswith("export_views."))), "ms")
        for label in CALLS:
            if label.startswith("commit_protocol."):
                m[f"{label}.calls"] = (
                    med(lambda i, L=label: roots[i].get("counts", {}).get(L, 0)), "count")
            else:
                m[f"{label}.calls"] = (per_label(label, lambda s: 1), "count")
        m["pipeline.run_job.mappings"] = (
            per_label("pipeline.run_job", lambda s: s.get("mappings", 0)), "count")
        m["commit_protocol.lock.held_ms"] = (
            med(lambda i: 1000 * roots[i].get("lock_held_s", 0.0)), "ms")
        m["commit_protocol.lock_waits"] = (med(lambda i: roots[i]["lock_waits"]), "count")
        m["runtime.persisted_rdds"] = (
            per_label("runtime.release_caches", lambda s: s.get("persisted_rdds", 0)), "count")

        rewrites = [sp["bytes_rewritten"] for sp in self.spans if "bytes_rewritten" in sp]
        m["publish.maintain_store.bytes_rewritten"] = (
            float(statistics.median(rewrites)) if rewrites else 0.0, "bytes")
        kept = sum(sp.get("kept", 0) for sp in self.spans if sp["name"] == "publish.prune_files")
        total = sum(sp.get("total", 0) for sp in self.spans if sp["name"] == "publish.prune_files")
        m["publish.prune_files.kept_ratio"] = (kept / total if total else 0.0, "ratio")
        modes = [x for sp in self.spans if sp["name"] == "materialize.refresh_declared_views"
                 for x in sp.get("modes", [])]
        m["materialize.delta_refresh_share"] = (
            sum(1 for x in modes if x == "delta") / len(modes) if modes else 0.0, "ratio")
        feeds = [sp for sp in self.spans if sp["name"] == "materialize.span_change_feed"]
        feed_ids = {sp["id"] for sp in feeds}
        inner = sum(1 for sp in self.spans
                    if sp["name"] == "publish.read_changes" and sp["parent"] in feed_ids)
        m["materialize.span_feed_hit_ratio"] = (1 - inner / len(feeds) if feeds else 0.0, "ratio")

        # Spark jobs and stages, attributed through their job group to the
        # span that launched them and so to its op.  Engine code may launch
        # jobs from its own threads, which carry no group; those go to the
        # op running when they were submitted (one client, one op at a time)
        walls = {o["id"]: o for o in self.ops}
        jobs_by_op: dict[int, list[dict]] = defaultdict(list)
        for j in self.jobs.values():
            op = self._job_span(j)
            op = self.spans[op]["op"] if op is not None else None
            if op is None:
                op = next((o["id"] for o in self.ops if j["start"] is not None
                           and o["start"] <= j["start"] <= o["end"]), None)
            if op in walls:
                jobs_by_op[op].append(j)

        def stage_sum(i: int, key: str) -> float:
            return sum(self.stages.get(s, {}).get(key, 0) for j in jobs_by_op[i] for s in j["stages"])

        m["spark.jobs"] = (med(lambda i: len(jobs_by_op[i])), "count")
        m["spark.stages"] = (med(lambda i: sum(len(j["stages"]) for j in jobs_by_op[i])), "count")
        m["spark.tasks"] = (med(lambda i: stage_sum(i, "tasks")), "count")
        m["spark.input_bytes"] = (med(lambda i: stage_sum(i, "input_bytes")), "bytes")
        m["spark.shuffle_write_bytes"] = (med(lambda i: stage_sum(i, "shuffle_write_bytes")), "bytes")
        m["spark.executor_run_ms"] = (med(lambda i: stage_sum(i, "executor_run_ms")), "ms")
        m["spark.core_busy_share"] = (med(lambda i: stage_sum(i, "executor_run_ms") / 1000
                                          / (walls[i]["wall"] * self.cores)), "ratio")

        def no_job(i: int) -> float:
            o = walls[i]
            iv = [(max(j["start"], o["start"]), min(j["end"], o["end"]))
                  for j in jobs_by_op[i] if j["start"] is not None and j["end"] is not None]
            iv = [(a, b) for a, b in iv if b > a]
            return 1.0 - _union(iv) / o["wall"]

        m["spark.no_job_share"] = (med(no_job), "ratio")
        traced_p50 = statistics.median([o["wall"] for o in self.ops]) if self.ops else 0.0
        base_p50 = statistics.median(self.untraced) if self.untraced else traced_p50
        m["tracing.overhead_s"] = (traced_p50 - base_p50, "s")
        # the self times of every op's spans add up to the op's wall time
        gaps = [abs(sum(selft[s["id"]] for s in by_op[i]) - walls[i]["wall"]) for i in op_ids]
        m["tracing.self_time_gap_s"] = (max(gaps) if gaps else 0.0, "s")
        for k, v in extra.items():
            m[k] = v
        for k, v in layer.items():
            m[k] = v
        self.summary = {"traced_op_p50_s": traced_p50, "untraced_op_p50_s": base_p50,
                        "prune_files_base": {"kept": kept, "total": total},
                        "view_refreshes": len(modes), "span_change_feed_calls": len(feeds)}
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _job_span(self, job: dict) -> int | None:
        """The span whose job group a job carries, if any."""
        g = job.get("group") or ""
        if g.startswith("span-") and g[5:].isdigit() and int(g[5:]) < len(self.spans):
            return int(g[5:])
        return None

    def dump(self, path: str, report: dict) -> None:
        selft = self._self_times()
        jobs = defaultdict(int)
        for j in self.jobs.values():
            jobs[self._job_span(j)] += 1
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({
                "report": report, "summary": getattr(self, "summary", {}),
                "spans": [{k: sp.get(k) for k in ("id", "name", "op", "parent", "start", "end")}
                          | {"self_s": selft.get(sp["id"]), "jobs": jobs[sp["id"]]}
                          for sp in self.spans],
                "jobs": self.jobs,
            }, fh, default=str)
