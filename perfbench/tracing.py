"""Spans and Spark counters for the traced run.

Spans come from wrappers that this module installs around the package's
public functions, at every name the callers look up (a function imported
with ``from m import f`` is wrapped in the importing module too). Each
span records its name, start, end, parent span, operation id and the
number of Spark jobs submitted while it was open. Spans stay in memory;
``Tracer.spans`` is written out when the run ends.

Spark counters are read per operation, after it finished, from the
Spark's status stores: jobs and stages from ``AppStatusStore``, rows
through the Python encoder from the SQL plan metrics of
``ArrowEvalPython`` nodes, Catalyst phase times from
``queryExecution().tracker()`` of a fresh ``select("*")`` (a memoized
frame would report the tracker of its original build), and micro-batch
durations from a streaming query listener.
"""

from __future__ import annotations

import functools
import importlib
import os
import time

from pyspark.sql.streaming import StreamingQueryListener

PKG = "floatchat_datapipeline_spark"

# (module, attribute, span name). The same function appears once per
# module that binds it, so every call site is seen exactly once.
WRAP_SITES = (
    ("catalog", "load_table", "catalog.load_table"),
    ("plans.argo_views", "load_table", "catalog.load_table"),
    ("plans.argo_views", "argo_raw_df", "plans.argo_views.argo_raw_df"),
    ("api", "argo_raw_df", "plans.argo_views.argo_raw_df"),
    ("operators.cleaning", "clean_argo", "operators.cleaning.clean_argo"),
    ("operators.aggregate", "float_metadata_agg",
     "operators.aggregate.float_metadata_agg"),
    ("api", "float_metadata_agg", "operators.aggregate.float_metadata_agg"),
    ("functions.text", "float_summary_v2", "functions.text.float_summary_v2"),
    ("embeddings.search", "semantic_search",
     "embeddings.search.semantic_search"),
    ("embeddings.search", "encode_query", "embeddings.encoder.encode_query"),
    ("embeddings.encoder", "encode_query", "embeddings.encoder.encode_query"),
    ("embeddings.search", "kmeans_centroids",
     "embeddings.search.kmeans_centroids"),
    ("streaming.ingest", "ingest_landing_to_table",
     "streaming.ingest.ingest_landing_to_table"),
    ("streaming.ingest", "run_foreach_batch", "streaming.run.run_foreach_batch"),
    ("streaming.run", "run_foreach_batch", "streaming.run.run_foreach_batch"),
    ("streaming.ingest", "upsert", "sinks.upsert.upsert"),
    ("sinks.upsert", "upsert", "sinks.upsert.upsert"),
    ("operators.dedup", "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
    ("operators.clusters", "semdedup", "operators.clusters.semdedup"),
)


def _table_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of the parquet files under `path`."""
    import pyarrow.parquet as pq

    rows = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                size += os.path.getsize(p)
                rows += pq.read_metadata(p).num_rows
    return rows, size


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches: list[float] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches.append(float(event.progress.durationMs.get("triggerExecution", 0)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Span recorder plus per-operation Spark counters.

    `active` switches recording on and off between operations, so a
    traced run can interleave untraced operations and report the
    tracing overhead from the difference."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._listener = _ProgressListener()
        self._last_exec = -1
        spark.streams.addListener(self._listener)

    # -- spans -------------------------------------------------------------

    def jobs_submitted(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def span(self, name: str, fn, *args, **kwargs):
        """Call `fn` inside a span named `name`."""
        if not self.active:
            return fn(*args, **kwargs)
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "jobs0": self.jobs_submitted(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self.jobs_submitted() - rec.pop("jobs0")
            self._stack.pop()

    def _wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = len(self.spans)
            out = self.span(name, fn, *args, **kwargs)
            if self.active and name == "sinks.upsert.upsert":
                # the keyed sink rewrites the whole table: what it wrote
                # is what the table holds now
                path = args[1] if len(args) > 1 else kwargs["path"]
                rows, size = _table_stats(path)
                self.spans[sid]["rows_written"] = rows
                self.spans[sid]["bytes_written"] = size
            return out

        return traced

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        seen: dict[int, object] = {}
        for mod_name, attr, name in WRAP_SITES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            wrapped = seen.get(id(fn)) or self._wrapper(name, fn)
            seen[id(fn)] = wrapped
            setattr(mod, attr, wrapped)
        # The terminal write of every keyed sink: lets construct time be
        # separated from action time on the writing workload.
        orig_parquet = DataFrameWriter.parquet
        tracer = self

        def parquet(writer, *args, **kwargs):
            return tracer.span("spark.write", orig_parquet, writer, *args, **kwargs)

        DataFrameWriter.parquet = parquet

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    # -- per-operation Spark counters ---------------------------------------

    def begin_op(self, op_id: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        self._op = op_id
        self._listener.batches.clear()
        return {"jobs0": self.jobs_submitted(), "exec0": self._latest_execution()}

    def end_op(self, mark: dict, frames: list) -> dict:
        """Counters for the jobs submitted since `begin_op`."""
        self._op = None
        jsc = self._jsc
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
             "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes"),
            0.0,
        )
        jobs1 = self.jobs_submitted()
        c["jobs"] = float(jobs1 - mark["jobs0"])
        stage_ids: set[int] = set()
        for jid in range(mark["jobs0"], jobs1):
            ids = store.job(jid).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_ms"] += st.executorRunTime()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["rows_encoded"] = float(self._rows_encoded(mark["exec0"]))
        c["batches"] = float(len(self._listener.batches))
        c["batch_ms"] = float(sum(self._listener.batches))
        for phase in ("analysis", "optimization", "planning"):
            c[f"{phase}_ms"] = 0.0
        for df in frames:
            for phase, ms in self._phases(df).items():
                c[f"{phase}_ms"] += ms
        return c

    def _latest_execution(self) -> int:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        eid = self._last_exec
        misses = 0
        while misses < 8:
            if sq.execution(eid + 1 + misses).isDefined():
                eid += 1 + misses
                misses = 0
            else:
                misses += 1
        self._last_exec = eid
        return eid

    def _rows_encoded(self, exec0: int) -> int:
        """Rows returned by the Python encoder (ArrowEvalPython nodes) in
        the SQL executions that ran since `exec0`."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        rows = 0
        for eid in range(exec0 + 1, self._latest_execution() + 1):
            if not sq.execution(eid).isDefined():
                continue
            values = sq.executionMetrics(eid)
            nodes = sq.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if node.name() != "ArrowEvalPython":
                    continue
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows += int(str(v.get()).replace(",", ""))
        return rows

    @staticmethod
    def _phases(df) -> dict[str, float]:
        qe = df.select("*")._jdf.queryExecution()
        qe.executedPlan()
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[str(kv._1())] = float(kv._2().durationMs())
        return out
