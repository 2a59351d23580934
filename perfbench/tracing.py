"""The traced run: wrappers around each layer's public entry points.

Every wrapper is installed from here, never inside the program. A wrapper
around a call that returns a lazy DataFrame persists the result and counts
it, so the layer's work happens, and is timed, inside its own span; the next
layer then reads materialized inputs and its span holds its self time. The
persists made inside one micro-batch are released when the batch ends.
Spark totals for the timed part (stages, tasks, shuffle bytes, executor
CPU) come from the event log, parsed after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict

from perfbench.common import jobs_submitted, now


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.phase = "setup"
        #: span name -> [(self_ms, jobs)] recorded in the timed phase
        self.spans: dict[str, list[tuple[float, int]]] = defaultdict(list)
        #: per micro-batch of the timed phase: (ms, jobs)
        self.batches: list[tuple[float, int]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- bookkeeping -------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _in_batch(self) -> bool:
        return getattr(self._local, "persisted", None) is not None

    def _span(self, name: str, body):
        """Run ``body()`` as span ``name``; record its self time (children's
        time taken out) and the jobs submitted while it ran."""
        stack = self._stack()
        stack.append(0.0)
        j0, t0 = jobs_submitted(self.spark), now()
        try:
            return body()
        finally:
            ms = (now() - t0) * 1000.0
            jobs = jobs_submitted(self.spark) - j0
            children = stack.pop()
            if stack:
                stack[-1] += ms
            if self.phase == "timed":
                with self._lock:
                    self.spans[name].append((ms - children, jobs))

    def patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))

    # -- wrapper factories -------------------------------------------------

    def lazy(self, name_of):
        """Wrap a function returning a DataFrame: inside a micro-batch the
        result is persisted and counted within the span."""

        def make(fn):
            def wrapper(*args, **kwargs):
                if not self._in_batch():
                    return fn(*args, **kwargs)

                def body():
                    out = fn(*args, **kwargs).persist()
                    self._local.persisted.append(out)
                    out.count()
                    return out

                return self._span(name_of(*args, **kwargs), body)

            return wrapper

        return make

    def batch_writer(self, make_writer):
        """Wrap ``idempotent_batch_writer`` so each epoch write is a span."""
        span = self._span

        def factory(sink_dir):
            write = make_writer(sink_dir)

            def timed_write(df, epoch_id):
                return span("pipeline.sink", lambda: write(df, epoch_id))

            return timed_write

        return factory

    def foreach_batch(self, orig):
        """Wrap ``DataStreamWriter.foreachBatch`` so each micro-batch records
        its time and jobs, and releases the persists its spans made."""
        tracer = self

        def foreachBatch(writer, func):
            def run(df, epoch_id):
                tracer._local.persisted = []
                j0, t0 = jobs_submitted(tracer.spark), now()
                try:
                    return func(df, epoch_id)
                finally:
                    ms = (now() - t0) * 1000.0
                    jobs = jobs_submitted(tracer.spark) - j0
                    for p in tracer._local.persisted:
                        p.unpersist()
                    tracer._local.persisted = None
                    if tracer.phase == "timed":
                        with tracer._lock:
                            tracer.batches.append((ms, jobs))

            return orig(writer, run)

        return foreachBatch

    def install_rag(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from confluent_kafka_vector_search_prompt_inference_spark.models import ModelRegistry
        from confluent_kafka_vector_search_prompt_inference_spark.operators import bm25
        from confluent_kafka_vector_search_prompt_inference_spark.streaming import pipeline, rag

        def model_span(registry, df, ref, input_col):
            return "models.embed" if registry.get(ref).task == "embedding" else "models.llm"

        self.patch(DataStreamWriter, "foreachBatch", self.foreach_batch)
        self.patch(pipeline, "idempotent_batch_writer", self.batch_writer)
        self.patch(ModelRegistry, "ml_predict", self.lazy(model_span))
        self.patch(rag, "topk_prepared", self.lazy(lambda *a, **k: "topk_join.search"))
        self.patch(rag, "topk_similarity_join", self.lazy(lambda *a, **k: "topk_join.search"))
        self.patch(bm25, "bm25_search", self.lazy(lambda *a, **k: "bm25.search"))
        self.patch(bm25, "rrf_fuse", self.lazy(lambda *a, **k: "bm25.fuse"))
        self.patch(rag.RagPipeline, "search_prompts", self.lazy(lambda *a, **k: "rag.pack"))

    # -- read-out ----------------------------------------------------------

    def span_ms(self, name: str) -> list[float]:
        return [ms for ms, _ in self.spans.get(name, [])]

    def span_jobs(self, name: str) -> int:
        return sum(j for _, j in self.spans.get(name, []))


def eventlog_totals(log_dir: str, job_lo: int, job_hi: int) -> dict[str, tuple[float, str]]:
    """Stages, tasks, shuffle bytes written and executor CPU of the jobs
    with ids in ``[job_lo, job_hi)``, from the session's event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_ids: set[int] = set()
    stages = tasks = 0
    shuffle_bytes = cpu_ns = 0
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if job_lo <= ev["Job ID"] < job_hi:
                    stage_ids.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] in stage_ids:
                    tasks += 1
                    m = ev.get("Task Metrics") or {}
                    cpu_ns += m.get("Executor CPU Time", 0)
                    shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stage_ids:
                    stages += 1
    return {
        "spark.stages": (stages, "count"),
        "spark.tasks": (tasks, "count"),
        "spark.shuffle_mb": (shuffle_bytes / 2**20, "MiB"),
        "spark.executor_cpu_s": (cpu_ns / 1e9, "s"),
    }
