"""Fast smoke test of the benchmark: every workload at sf 0.001, one
cycle, traced; every named metric must be emitted and every check pass.

    python3 -m pytest corebench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from corebench import run as bench

SF = 0.001


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = bench.start_session(str(tmp_path_factory.mktemp("session")))
    yield s
    bench.stop_session(s)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(bench.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        bench.PER_LAYER


@pytest.mark.parametrize("workload", sorted(bench.WORKLOADS))
def test_every_metric_is_emitted(spark, tmp_path, workload):
    side = bench.run_workload(spark, workload, seed=3, seconds=0,
                              trace=True, sf=SF, work=str(tmp_path),
                              session_s=0.0)
    line = side["line"]
    failed = [c for c in side["checks"] if not c["ok"]]
    assert line["correct"] and not failed, failed
    assert line["attempted"] >= 1 and line["failed"] == 0
    assert set(line["metrics"]) == set(bench.PER_LAYER)
    assert set(side["end_to_end"]) == set(bench.END_TO_END)
    for name, value in side["end_to_end"].items():
        assert value > 0, name
    # the layers each workload exists to exercise report real work
    layer = side["per_layer"]
    busy = {
        "turn": ("profiler.context_s", "agent.llm_calls", "agent.summary_s",
                 "executor.execute_s", "memory.retrieve_s",
                 "service.events"),
        "query_mix": ("suite.build_s", "suite.run_s",
                      "spark.shuffle_write_bytes.exact_spans_docs"),
        "corpus_lifecycle": ("writer.append_s", "writer.read_s",
                             "writer.compact_s", "gate.s", "curation.s",
                             "export.bytes", "suite.run_s"),
    }[workload]
    for name in busy + ("spark.jobs", "spark.stages"):
        assert layer[name] > 0, name
    if workload == "query_mix":
        pairs = side["workload"]["spark_per_spec"]["jaccard_pairs_docs"]
        assert pairs["shuffle_write_bytes"] > 0
