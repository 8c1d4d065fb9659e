"""Smoke tests of the benchmark: helpers, input streams, and each workload
at toy size.

    python -m pytest perfbench/tests -q

The workload smokes start Spark in a child process each (about a minute
apiece on a 4-core host).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.harness import ratio  # noqa: E402
from perfbench.workloads import query_words  # noqa: E402


def test_ratio_reports_zero_for_an_idle_base():
    assert ratio(3, 4) == 0.75
    assert ratio(5, 0) == 0.0


def test_repeated_stream_has_fixed_shapes_and_repeats():
    texts = [("a", "OR"), ("b", "AND"), ("c", "OR")]
    for seed in range(20):
        s = inputs.repeated_stream(texts, (3, 2, 1), random.Random(seed))
        assert sorted(s) == [("a", "OR")] * 3 + [("b", "AND")] * 2 + [("c", "OR")]
    assert inputs.repeated_stream(texts, (3, 2, 1), random.Random(1)) == \
        inputs.repeated_stream(texts, (3, 2, 1), random.Random(1))


def _toy_terms() -> pd.DataFrame:
    hot = [(f"hot{c}", 900) for c in "abcdefghijklmnopqrstuvwxyz"]
    mid = [(f"mid{c}", 50) for c in "abcdefghijklmnopqrstuvwxyz"]
    rare = [(f"rare{c}", 1) for c in "abcdefghijklmnopqrstuvwxyz"]
    return pd.DataFrame(hot + mid + rare, columns=["term", "df"])


def _letters(text):
    return [w for w in text.lower().split() if w.isalpha()]


def test_distinct_queries_rotate_classes_and_never_reuse_a_term():
    rows = pd.DataFrame({"content": ["alpha beta gamma\ndelta epsilon"] * 5})
    pools = inputs.TermPools(_toy_terms(), 1000, random.Random(3), _letters)
    qs = inputs.distinct_queries(pools, rows, random.Random(3), 16)
    assert [q["cls"] for q in qs] == inputs.CLASSES * 2
    used = [w for q in qs if q["cls"] not in ("phrase", "zero")
            for w in query_words(q["text"]).split()]
    assert len(used) == len(set(used))
    for q in qs:
        if q["cls"] == "zero":
            assert not set(_letters(q["text"])) & set(_toy_terms()["term"])
        if q["cls"] == "phrase":
            assert len(q["tokens"]) == 2 and " ".join(q["tokens"]) in rows["content"][0]
    assert all(q["mode"] == ("AND" if q["cls"] == "and2" else "OR") for q in qs)
    assert all(q["text"] == "({} OR {}) AND {} -{}".format(*q["terms"])
               for q in qs if q["cls"] == "lucene")


def test_nrt_text_builds_each_shape_from_fresh_terms():
    pools = inputs.TermPools(_toy_terms(), 1000, random.Random(4), _letters)
    got = [inputs.nrt_text(pools, shape) for shape in inputs.NRT_SHAPES * 2]
    assert [m for _, m in got] == ["OR", "OR", "AND", "OR"] * 2
    assert [len(text.split()) for text, _ in got] == [1, 1, 2, 3] * 2
    words = [w for text, _ in got for w in text.split()]
    assert len(words) == len(set(words))


def test_or_long_query_is_the_shortest_prefix_over_the_threshold():
    text, sum_df = inputs.or_long_query(_toy_terms(), 2000)
    assert sum_df > 2000
    assert sum_df - 900 <= 2000
    assert len(text.split()) == 3
    with pytest.raises(ValueError):
        inputs.or_long_query(_toy_terms(), 10**9)


# ---------------------------------------------------------------------------
# toy-size workload runs
# ---------------------------------------------------------------------------

_TOY = """
import sys
sys.path.insert(0, {root!r})
import perfbench.workloads as w
from solr_spark.query.engine import SearchEngine
w.N_QUERY, w.N_NRT_BASE, w.NRT_BATCH, w.N_OR_LONG = 300, 200, 20, 600
SearchEngine._PRUNE_MIN_POSTINGS = 20_000
from perfbench.run import main
sys.exit(main({args!r}))
"""


def _toy_run(workload: str, trace: int) -> tuple[dict, dict]:
    args = ["--workload", workload, "--seed", "5", "--seconds", "0.1", "--trace", str(trace)]
    proc = subprocess.run(
        [sys.executable, "-c", _TOY.format(root=ROOT, args=args)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result, json.loads(lines[-2])["detail"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["query_unique", "nrt_mixed"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result, detail = _toy_run(workload, 0)
    names = [m["name"] for m in _spec()["end_to_end"]]
    assert list(result["metrics"]) == names
    for m in names:
        assert result["metrics"][m]["value"] > 0, m
    assert detail["host"]["nproc"] == len(os.sched_getaffinity(0))


def test_traced_query_unique_runs_theta_seed_only_for_or_long():
    result, detail = _toy_run("query_unique", 1)
    names = [m["name"] for m in _spec()["per_layer"]]
    assert list(result["metrics"]) == names
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["build.blocks.jobs"] > 0 and m["build.blocks.output_files"] > 0
    assert m["query.jobs_per_query"] >= 1
    theta = detail["theta_jobs_by_class"]
    assert theta.pop("or_long") > 0
    assert not any(theta.values())
    assert m["query.class.or_long.p50_s"] > 0
    assert detail["trace.overhead_frac"] == {"traced": 8, "untraced": 8}


def test_traced_nrt_mixed_sees_cache_hits_and_rewrites():
    result, detail = _toy_run("nrt_mixed", 1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # the traced cycle serves one text 4 times: 3 lookups start no Spark
    # job; the untraced cycle gives the overhead its base
    assert detail["cache.hit_ratio"] == {"hits": 3, "lookups": 4}
    assert detail["cycles"] == 2 and detail["trace.overhead_frac"] == {"traced": 4, "untraced": 4}
    assert m["nrt.commit_jobs"] > 0 and m["nrt.buckets_rewritten"] > 0
    assert m["nrt.bytes_rewritten_per_appended_byte"] > 0


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_unique", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
