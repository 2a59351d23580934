"""``rag_vector`` and ``rag_hybrid``: the reference pipeline as a stream.

Questions arrive as parquet files, one file per micro-batch, and go through
``RagPipeline.streaming_transform`` into the ``continuous_insert`` sink:
embed → top-3 retrieval over the products → JSON prompt → LLM answer. The
stream is drained with ``availableNow`` (closed loop, one client): first
over the warm-up files, then, resumed from the same checkpoint, over the
timed files. The landed answers are then read back several times, as a
consumer of the answers table would.
"""

from __future__ import annotations

import os
import sys

from perfbench import common, inputs, oracles, stats

N_PRODUCTS = 1000
BATCH_QUESTIONS = 100
WARM_BATCHES = 2
READS = 8
#: nominal seconds per timed micro-batch; a run plans seconds / this many
#: batches, so every counter of a run repeats exactly for the same seconds
NOMINAL_BATCH_S = {"vector": 2.0, "hybrid": 2.5}


def timed_batches(mode: str, seconds: int) -> int:
    return max(3, round(seconds / NOMINAL_BATCH_S[mode]))


def run(workload: str, seed: int, seconds: int, trace: bool, workdir: str, t0: float) -> dict:
    mode = workload.split("_", 1)[1]
    spark = common.start_session(workdir, trace)
    session_s = common.now() - t0
    probes = common.host_probe_ms(spark)
    common.log(t0, f"session up; host probe ms {[round(x) for x in probes]}")
    tracer = None
    if trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark)
        tracer.install_rag()

    from confluent_kafka_vector_search_prompt_inference_spark import persist
    from confluent_kafka_vector_search_prompt_inference_spark.models import HashingEmbedder, ModelRegistry, TemplateLLM
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.pipeline import (
        continuous_insert,
        file_stream_reader,
        read_sink,
    )
    from confluent_kafka_vector_search_prompt_inference_spark.streaming.rag import RagPipeline

    n_timed = timed_batches(mode, seconds)
    n_batches = WARM_BATCHES + n_timed
    data = os.path.join(workdir, "data")
    corpus_pd = inputs.products(seed, N_PRODUCTS)
    questions_pd = inputs.questions(seed, BATCH_QUESTIONS * n_batches)
    os.makedirs(data, exist_ok=True)
    corpus_pd.to_parquet(os.path.join(data, "products.parquet"), index=False)
    src = os.path.join(data, "questions")
    batch_of = questions_pd.index // BATCH_QUESTIONS
    inputs.write_batches(questions_pd, src, batch_of, range(WARM_BATCHES))
    sink, ckpt = os.path.join(workdir, "answers"), os.path.join(workdir, "answers_ckpt")

    registry = ModelRegistry()
    registry.create_model("vector_encoding", "embedding", HashingEmbedder(dim=64))
    registry.create_model("retail_assistant", "text_generation", TemplateLLM())
    pipe = RagPipeline(registry, k=3, retrieval=mode)

    t = common.now()
    products = spark.read.parquet(os.path.join(data, "products.parquet"))
    corpus = registry.ml_predict(products, "vector_encoding", "content").cache()
    corpus.count()
    corpus_embed_s = common.now() - t
    t = common.now()
    transform = pipe.streaming_transform(corpus)
    prepare_s = common.now() - t

    schema = spark.read.parquet(src).schema

    def stream():
        return common.drain(continuous_insert(
            file_stream_reader(spark, src, schema), sink, ckpt, transform=transform, trigger_once=True,
        ))

    common.log(t0, f"corpus embedded in {corpus_embed_s:.1f}s, transform built in {prepare_s:.1f}s")
    warm = stream()
    common.materialize(read_sink(spark, sink))  # warm-up read
    inputs.write_batches(questions_pd, src, batch_of, range(WARM_BATCHES, n_batches))

    # -- timed part ---------------------------------------------------------
    if tracer is not None:
        tracer.phase = "timed"
    setup_s = common.now() - t0
    common.log(t0, "warm-up done; timed part starts")
    jobs0 = common.jobs_submitted(spark)
    timed = stream()
    read_ms = []
    for _ in range(READS):
        t = common.now()
        common.materialize(read_sink(spark, sink))
        read_ms.append((common.now() - t) * 1000.0)
    jobs1 = common.jobs_submitted(spark)
    if tracer is not None:
        tracer.phase = "done"
    common.log(t0, "timed part done")
    heap_mb = common.retained_heap_mb(spark)
    tracked_end = len(persist._TRACKED)
    cached_end = common.persistent_rdds(spark)
    store_mb = common.dir_mb(sink)

    warm_entries, entries = stats.split_warm(
        stats.batch_entries(list(warm.recentProgress) + list(timed.recentProgress)), WARM_BATCHES
    )
    if len(warm_entries) != WARM_BATCHES or len(entries) != n_timed:
        raise RuntimeError(f"expected {WARM_BATCHES}+{n_timed} micro-batches, progress shows "
                           f"{len(warm_entries)}+{len(entries)}")
    trig = stats.durations_ms(entries)
    # the question count, not numInputRows: the transform reads its batch
    # more than once, and the progress log counts every scan
    answered = BATCH_QUESTIONS * n_timed
    print(f"perfbench: timed micro-batches ms {trig}; reads ms {[round(x) for x in read_ms]}", file=sys.stderr)

    # -- checks (outside the timed part) ------------------------------------
    landed = read_sink(spark, sink).select("sessionid", "json_response").toPandas()
    problems = oracles.check_answers(landed, questions_pd, corpus_pd, mode)
    if transform.prepared is not None:
        transform.prepared.unpersist()
    corpus.unpersist()
    spark.stop()
    common.log(t0, "checks done, session stopped")

    raw = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (answered / (sum(trig) / 1000.0), "1/s"),
        "batch_p50_ms": (stats.median(trig), "ms"),
        "spark_jobs": (jobs1 - jobs0, "count"),
        "store_mb": (store_mb, "MiB"),
    }
    metrics = common.host_normalized(raw, probes)
    print(f"perfbench: host probe ms {[round(x) for x in probes]}; raw "
          + " ".join(f"{k}={v:.4g}" for k, (v, _u) in raw.items()), file=sys.stderr)
    layers = {}
    if tracer is not None:
        layers = _layers(tracer, workdir, jobs0, jobs1, entries, trig, n_timed, answered,
                         session_s, corpus_embed_s, prepare_s, tracked_end, cached_end)
        layers["host.probe_ms"] = (stats.median(probes), "ms")
        layers["retained_heap_mb"] = (heap_mb, "MiB")
        layers["read_p50_ms"] = (stats.median(read_ms), "ms")
    return {"correct": not problems, "problems": problems,
            "attempted": n_timed + READS, "failed": 0,
            "metrics": metrics, "layers": layers}


def _layers(tracer, workdir, jobs0, jobs1, entries, trig, n_timed, answered,
            session_s, corpus_embed_s, prepare_s, tracked_end, cached_end) -> dict:
    from perfbench.tracing import eventlog_totals

    def per_batch(name):
        ms = tracer.span_ms(name)
        return sum(ms) / n_timed if ms else 0.0

    commit = [a + b for a, b in zip(stats.durations_ms(entries, "walCommit"), stats.durations_ms(entries, "commitOffsets"))]
    stream_jobs = sum(j for _, j in tracer.batches)
    out = {
        "session.start_s": (session_s, "s"),
        "models.embed_ms": (per_batch("models.embed"), "ms"),
        "models.llm_ms": (per_batch("models.llm"), "ms"),
        "models.corpus_embed_s": (corpus_embed_s, "s"),
        "topk_join.search_ms": (per_batch("topk_join.search"), "ms"),
        "topk_join.prepare_s": (prepare_s, "s"),
        "bm25.search_ms": (per_batch("bm25.search"), "ms"),
        "bm25.fuse_ms": (per_batch("bm25.fuse"), "ms"),
        "bm25.jobs_per_batch": ((tracer.span_jobs("bm25.search") + tracer.span_jobs("bm25.fuse")) / n_timed, "count"),
        "rag.pack_ms": (per_batch("rag.pack"), "ms"),
        "rag.jobs_per_batch": (stream_jobs / n_timed, "count"),
        "answers_per_s": (answered / (sum(trig) / 1000.0), "1/s"),
        "persist.tracked_end": (tracked_end, "count"),
        "persist.cached_rdds_end": (cached_end, "count"),
        "pipeline.sink_ms": (per_batch("pipeline.sink"), "ms"),
        "pipeline.commit_ms": (stats.median(commit), "ms"),
    }
    out.update(eventlog_totals(os.path.join(workdir, "eventlog"), jobs0, jobs1))
    return out
