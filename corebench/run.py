#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation, one client,
closed loop, local[nproc].

    python3 corebench/run.py --workload turn --seed 1 --seconds 15 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``,
sets up (session, inputs three times — the median counts — load, warm-up
and correctness pass), measures whole cycles of the workload until
``--seconds`` have passed, checks every output, and prints one JSON line
last on stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything else goes to stderr, and a sidecar with the
stamp, the tail percentile and sample count, the workload's own named
numbers and every check lands in ``.bench_run/results/``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: name -> (unit, better, bound); mirrored by BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_s.p50": ("s", "lower", 0.25),
    "items_per_s": ("1/s", "higher", 0.25),
}
_SPARK = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
          "input_bytes", "driver_gap_s", "ungrouped_stages")
#: name -> unit; every one is printed by every traced run (0 where the
#: workload never enters the layer)
PER_LAYER = {
    "profiler.context_s": "s", "profiler.jobs": "count",
    "profiler.share": "ratio",
    "agent.llm_calls": "count", "agent.prompt_chars": "chars",
    "agent.summary_s": "s", "agent.self_s": "s",
    "memory.retrieve_s": "s", "memory.add_s": "s",
    "memory.hit_ratio": "ratio",
    "executor.execute_s": "s", "executor.attempts": "count",
    "executor.ok_ratio": "ratio",
    "service.events": "count", "service.stream_bytes": "bytes",
    "service.tail_s": "s",
    "suite.build_s": "s", "suite.run_s": "s",
    **{f"spark.{k}": ("s" if k.endswith("_s") else
                      "bytes" if k.endswith("bytes") else "count")
       for k in _SPARK},
    "spark.shuffle_write_bytes.exact_spans_docs": "bytes",
    "spark.window_escapes": "count",
    "writer.append_s": "s", "writer.files_added": "count",
    "writer.bytes_added": "bytes", "writer.read_s": "s",
    "writer.files_visible": "count", "writer.compact_s": "s",
    "writer.bytes_rewritten": "bytes",
    "gate.s": "s", "gate.kept_ratio": "ratio",
    "curation.s": "s", "export.bytes": "bytes",
    "caching.released": "count",
    "first_thought_s.p50": "s", "read_s.p50": "s", "write_amp": "ratio",
    "op_s.tail": "s", "peak_rss_mb": "MB", "trace.op_s.p50": "s",
}
WORKLOADS = {
    "turn": "wl_turn",
    "query_mix": "wl_query_mix",
    "corpus_lifecycle": "wl_corpus",
}
#: input scale factor of every run (sf 1 = 6M lineitem rows); the smoke
#: test passes a smaller one to run_workload
DEFAULT_SF = 0.01
SETUP_REPS = 3


def _spark_layer(tracer, unit_op: str) -> dict:
    """Per unit op means of the stage-window Spark numbers."""
    recs = tracer.named(unit_op)
    if not recs:
        return {}
    stats = [tracer.spark_stats(r) for r in recs]
    return {f"spark.{k}": sum(s[k] for s in stats) / len(stats)
            for k in _SPARK}


def run_workload(spark, name: str, *, seed: int, seconds: float,
                 trace: bool, sf: float, work: str,
                 session_s: float) -> dict:
    """Set up, measure and check one workload; returns the sidecar dict
    whose ``line`` is the result line."""
    from corebench import common, datagen
    from corebench.tracer import Tracer

    mod = importlib.import_module(f"corebench.{WORKLOADS[name]}")
    run = common.Run(spark=spark, seed=seed, sf=sf, seconds=seconds,
                     work=work, data=os.path.join(work, "data"))
    gen_s, digests = [], []
    for _ in range(SETUP_REPS):
        shutil.rmtree(run.data, ignore_errors=True)
        t = time.perf_counter()
        paths = mod.generate(run)
        gen_s.append(time.perf_counter() - t)
        digests.append(datagen.sha256_files(paths))
    run.check("same seed gives byte-identical inputs",
              len(set(digests)) == 1, str(digests))
    t = time.perf_counter()
    mod.load(run)
    load_s = time.perf_counter() - t
    t = time.perf_counter()
    mod.warm(run)
    warm_s = time.perf_counter() - t
    setup_s = session_s + common.median(gen_s) + load_s + warm_s

    tracer = Tracer(spark) if trace else None
    run.tracer = tracer
    if tracer is not None:
        mod.instrument(run, tracer)
    try:
        mod.measure(run)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
    mod.finish(run)
    rss_kb = {"python": common.vm_hwm_kb(),
              "jvm": common.vm_hwm_kb(common.jvm_pid(spark))}

    op_tail = common.tail(run.ops)
    e2e = {
        "setup_s": setup_s,
        "op_s.p50": common.median(run.ops),
        "items_per_s": run.items / run.items_wall_s if run.items_wall_s
        else 0.0,
    }
    peak_rss_mb = sum(rss_kb.values()) / 1024.0
    layer = None
    if tracer is not None:
        tracer.drain()
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(_spark_layer(tracer, mod.UNIT_OP))
        layer.update(mod.layers(run, tracer))
        layer["trace.op_s.p50"] = e2e["op_s.p50"]
        layer["op_s.tail"] = op_tail["value"]
        layer["peak_rss_mb"] = peak_rss_mb
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, (u, _b, _bound) in END_TO_END.items()}
    correct = all(ok for _n, ok, _d in run.checks)
    return {
        "stamp": common.stamp(spark, ROOT, workload=name, seed=seed, sf=sf,
                              cpus=spark.sparkContext.defaultParallelism,
                              trace=trace, input_sha256=digests[0]),
        "setup": {"session_s": session_s, "generate_s": gen_s,
                  "load_s": load_s, "warm_s": warm_s},
        "peak_rss_kb": rss_kb,
        "peak_rss_mb": peak_rss_mb,
        "end_to_end": e2e,
        "op_s.tail": op_tail,
        "ops_s": run.ops,
        "failed_frac": run.failed / max(1, run.attempted),
        "workload": run.extra,
        "per_layer": layer,
        "checks": [{"check": n, "ok": ok, "detail": d}
                   for n, ok, d in run.checks],
        "spans": tracer.spans if tracer is not None else None,
        "line": {"correct": correct, "attempted": run.attempted,
                 "failed": run.failed, "metrics": metrics},
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _report(side: dict) -> None:
    st, e2e = side["stamp"], side["end_to_end"]
    tl = side["op_s.tail"]
    print(f"[corebench] {st['workload']} seed={st['seed']} sf={st['sf']} "
          f"cpus={st['cpus_used']}/{st['nproc']} spark={st['spark']} "
          f"java={st['java']} python={st['python']} "
          f"inputs={st['input_sha256'][:12]}", file=sys.stderr)
    print(f"[corebench] op_s.tail = {tl['value']:.4f}, p{tl['pct']:g} of "
          f"n={tl['n']} ({tl['beyond']} samples beyond); failed_frac="
          f"{side['failed_frac']:.3f}", file=sys.stderr)
    for k, v in e2e.items():
        print(f"[corebench]   {k} = {v:.4f}", file=sys.stderr)
    print(f"[corebench]   peak_rss_mb = {side['peak_rss_mb']:.1f}",
          file=sys.stderr)
    for k, v in side["workload"].items():
        print(f"[corebench]   {k} = {v}", file=sys.stderr)
    for c in side["checks"]:
        if not c["ok"]:
            print(f"[corebench] CHECK FAILED {c['check']}: {c['detail']}",
                  file=sys.stderr)


def start_session(work: str):
    """local[nproc] session whose scratch space (Python and JVM temp
    files, shuffle and spill, warehouse) all lives under ``work``."""
    from corebench.common import usable_cpus
    from bambooai_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    cpus = usable_cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = get_session("corebench", cpus=cpus, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every stage of a run for attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    # heal turns fail on purpose; keep their query-context dumps off stderr
    logging.getLogger("DataFrameQueryContextLogger").setLevel(logging.CRITICAL)
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bambooai_spark")):
        print(f"corebench: no bambooai_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    sys.path.insert(0, ROOT)
    spark = start_session(work)
    session_s = time.perf_counter() - T_START
    try:
        side = run_workload(spark, args.workload, seed=args.seed,
                            seconds=args.seconds, trace=bool(args.trace),
                            sf=DEFAULT_SF, work=work, session_s=session_s)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(side, fh, indent=1, default=str)
    _report(side)
    print(json.dumps(side["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
