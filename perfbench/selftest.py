"""Fast self-test of the benchmark's metric arithmetic and oracles (no Spark).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.getcwd())

from perfbench import inputs, oracles, stats  # noqa: E402


def _entry(batch_id: int, rows: int, trigger: int, **phases) -> dict:
    return {"batchId": batch_id, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger, **phases}}


def test_progress_parsing() -> None:
    progress = [_entry(0, 100, 900, walCommit=10), _entry(1, 0, 5), _entry(2, 100, 700, walCommit=12)]
    entries = stats.batch_entries(progress)
    assert [p["batchId"] for p in entries] == [0, 2]
    assert stats.durations_ms(entries) == [900.0, 700.0]
    assert stats.durations_ms(entries, "walCommit") == [10.0, 12.0]
    assert stats.durations_ms(entries, "commitOffsets") == [0.0, 0.0]


def test_warm_split() -> None:
    warm_query = [_entry(0, 100, 5000)]
    timed_query = [_entry(2, 100, 800), _entry(1, 100, 900)]  # order as reported
    warm, timed = stats.split_warm(stats.batch_entries(warm_query + timed_query), 1)
    assert [p["batchId"] for p in warm] == [0]
    assert [p["batchId"] for p in timed] == [1, 2]
    try:
        stats.split_warm(warm_query + [_entry(0, 100, 1)], 1)
    except ValueError:
        pass
    else:
        raise AssertionError("a re-run batch id must be refused")


def test_percentiles() -> None:
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5
    q1, med, q3, spread = stats.quartile_spread([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
    assert (q1, med, q3) == tuple(statistics.quantiles([10, 11, 12, 13, 14, 15, 16, 17, 18, 19], n=4))
    assert abs(spread - (q3 - q1) / med) < 1e-12
    assert stats.worse_by(100.0, 110.0, "lower") == 0.1
    assert stats.worse_by(100.0, 90.0, "higher") == 0.1
    assert stats.worse_by(100.0, 110.0, "higher") == -0.1


def test_inputs_repeat() -> None:
    assert inputs.products(7, 50).equals(inputs.products(7, 50))
    assert not inputs.products(7, 50).equals(inputs.products(8, 50))
    assert inputs.questions(3, 10).equals(inputs.questions(3, 10))


def test_embedding_copy() -> None:
    v = oracles.embed(["Spark  stream", "", "spark stream"])
    assert abs(float((v[0] ** 2).sum()) - 1.0) < 1e-6
    assert not v[1].any()
    assert (v[0] == v[2]).all()  # lowercase + whitespace split
    ids, scores = oracles.vector_ranking(v[:1], v, oracles.np.arange(3), 3)[0]
    assert list(ids[:2]) == [0, 2]  # equal scores: ascending id


def test_tie_variants() -> None:
    ids, scores = [5, 3, 9, 1], [0.9, 0.5, 0.5, 0.1]
    got = oracles.tie_variants(ids, scores, 2)
    assert [5, 3] in got and [5, 9] in got and all(v[0] == 5 for v in got)


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok   {t.__name__}")
    print(f"{len(tests)} passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
