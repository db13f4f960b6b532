"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import corpus  # noqa: E402


def test_expected_index_matches_text_model(tmp_path):
    """The numpy postings equal postings built from the rendered text with
    the reference's rule: split on whitespace, lowercase, drop [^a-z]."""
    rng = np.random.default_rng(7)
    c = corpus.generate(rng, 5, 2000, 300)
    manifest = corpus.write(rng, c, str(tmp_path), 0, 5)
    with open(manifest) as fh:
        names = fh.read().split()[1:]
    postings: dict[str, set[int]] = {}
    for doc_id, name in enumerate(names, start=1):
        with open(tmp_path / name) as fh:
            for tok in fh.read().split():
                word = re.sub("[^a-z]", "", tok.lower())
                if word:
                    postings.setdefault(word, set()).add(doc_id)
    want: dict[str, list[str]] = {c: [] for c in corpus.LETTERS}
    for word, docs in sorted(postings.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        want[word[0]].append(f"{word}:[{' '.join(map(str, sorted(docs)))}]")
    assert corpus.expected_letter_lines(c) == want
    assert all(want[letter] for letter in corpus.LETTERS)


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """A session logging events, over datagen's sf0.001 tables."""
    from mapreduce_model_spark import datagen
    from mapreduce_model_spark.session import get_spark

    base = tmp_path_factory.mktemp("perfbench")
    log_dir = base / "eventlog"
    log_dir.mkdir()
    spark = get_spark(app_name="perfbench-test", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
    })
    datagen.generate(spark, 0.001, str(base / "sf"))
    yield spark, str(base / "sf"), str(log_dir)
    spark.stop()


def test_injected_build_delay_lands_on_build(traced):
    """A known sleep inside one registry query function shows up as build
    time, and the executor and shuffle figures do not move with it."""
    import tracing
    import workloads
    from mapreduce_model_spark import registry

    spark, sf_dir, log_dir = traced
    names = ("groupby_agg", "tpch_q6_forecast_revenue", "join_left_outer")
    delay = 1.0
    tracer = tracing.Tracer("selftest", spark)
    ctx = workloads.Ctx(spark, tracer, sf_dir, "", 0, 0.0)

    def window():
        with tracer.span("window") as w:
            for q in names:
                assert workloads._run_query(ctx, q) is not None
        return w

    original = registry.QUERIES["groupby_agg"]

    def slow(spark_, sf):
        import time

        time.sleep(delay)
        return original(spark_, sf)

    for _ in range(2):  # warm-up: JIT and file listings are not part of the comparison
        window()
    base = window()
    registry.QUERIES["groupby_agg"] = slow
    try:
        slowed = window()
    finally:
        registry.QUERIES["groupby_agg"] = original
    spark.stop()  # completes the event log

    a = tracing.layer_metrics(tracer, base, len(names), 2, log_dir)
    b = tracing.layer_metrics(tracer, slowed, len(names), 2, log_dir)
    injected = delay / len(names)
    assert 0.8 * injected <= b["build.s"] - a["build.s"] <= 1.5 * injected
    for k in ("sched.jobs", "sched.tasks", "shuffle.write_mb", "shuffle.read_mb", "scan.rows"):
        assert b[k] == pytest.approx(a[k], rel=0.1, abs=1e-9), k
    for k in ("exec.run_s", "exec.cpu_s", "op.agg_s"):
        assert abs(b[k] - a[k]) <= max(0.5 * a[k], 0.05), k
    assert a["sched.jobs"] > 0 and a["trace.untagged_frac"] < 1
