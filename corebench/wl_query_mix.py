"""``query_mix``: scan-regime ``suite.SPECS`` through the noop sink, as
``bench.py`` runs them, in passes whose order the seed sets.

The set spans the four families — TPC-H, event windows, document pairs,
embeddings — so Spark stages and the operator builders do all the work
while the agent, profiler and writer are bypassed. Every spec is checked
once per run, outside the timed window, against its suite oracle on
DuckDB; that pass doubles as the warm-up.
"""

from __future__ import annotations

import os
import time

import numpy as np

from corebench import datagen
from corebench.common import canonical_digest, median

SPECS = (
    "q1_pricing_summary",
    "q3_top_orders",
    "sessionize_events",
    "funnel_events",
    "exact_spans_docs",
    "jaccard_pairs_docs",
    "knn_cosine_embeddings",
    "semdedup_embeddings",
)
#: pair spec whose shuffle bytes are a per-layer metric (corpus_lifecycle
#: measures the same spec); every spec's numbers are in the sidecar
PAIR_SPEC = "exact_spans_docs"
TABLES = tuple(datagen.GENERATORS)


def generate(run) -> list[str]:
    paths = datagen.write_tables(run.seed, run.sf, TABLES, run.data)
    return list(paths.values())


def load(run) -> None:
    from bambooai_spark.suite import SPECS as ALL

    by_name = {s.name: s for s in ALL}
    run.state = {"specs": [by_name[n] for n in SPECS], "released": 0,
                 "per_spec": {n: [] for n in SPECS}}


def warm(run) -> None:
    """The correctness pass: each spec's rows once against its oracle."""
    import duckdb

    ddb = duckdb.connect()
    for name in TABLES:
        path = os.path.join(run.data, f"{name}.parquet")
        ddb.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    from bambooai_spark.caching import release_caches

    for spec in run.state["specs"]:
        try:
            got = canonical_digest(spec.build(run.spark, run.data).toPandas())
            want = canonical_digest(ddb.execute(spec.oracle).df())
            ok = got == want and got[1] > 0
            detail = f"rows {got[1]} vs oracle {want[1]}"
        except Exception as exc:  # a failing spec is a failed check
            ok, detail = False, f"{type(exc).__name__}: {exc}"
        run.check(f"{spec.name} rows", ok, detail)
        release_caches()
    ddb.close()


def _run_spec(run, spec) -> float:
    tracer = run.tracer
    t0 = time.perf_counter()
    if tracer is None:
        spec.build(run.spark, run.data).write.format("noop") \
            .mode("overwrite").save()
        return time.perf_counter() - t0
    with tracer.op("query", spec=spec.name):
        with tracer.span("suite.build"):
            df = spec.build(run.spark, run.data)
        with tracer.span("suite.run"):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def measure(run) -> None:
    from bambooai_spark.caching import release_caches

    rng = np.random.default_rng([run.seed, 11])
    specs = run.state["specs"]
    t0 = time.perf_counter()
    deadline = t0 + run.seconds
    passes = 0
    while True:
        for i in rng.permutation(len(specs)):
            spec = specs[int(i)]
            run.attempted += 1
            try:
                dt = _run_spec(run, spec)
            except Exception as exc:  # counted, the pass goes on
                run.failed += 1
                run.extra.setdefault("errors", []).append(
                    f"{spec.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            finally:
                # unrelated pipelines follow: drop tracked intermediates,
                # as bench.py does between specs
                run.state["released"] += release_caches()
            run.ops.append(dt)
            run.state["per_spec"][spec.name].append(dt)
        passes += 1
        if time.perf_counter() >= deadline:
            break
    run.items = len(run.ops)
    run.items_wall_s = time.perf_counter() - t0
    run.extra["passes"] = passes


def finish(run) -> None:
    run.check("every spec run succeeded", run.failed == 0,
              "; ".join(run.extra.get("errors", [])[:3]))
    run.extra.update({
        "query_s.p50": median(run.ops),
        "queries_per_s": run.items / run.items_wall_s,
        "per_spec_p50_s": {n: median(v)
                           for n, v in run.state["per_spec"].items()},
    })


def instrument(run, tracer) -> None:
    pass  # the benchmark's own calls into suite are spanned in _run_spec


def layers(run, tracer) -> dict:
    ops = tracer.named("query")
    n = max(1, len(ops))
    out = {
        "suite.build_s": tracer.total("suite.build") / n,
        "suite.run_s": tracer.total("suite.run") / n,
        "caching.released": run.state["released"] / max(1, run.attempted),
    }
    by_spec: dict[str, list[dict]] = {}
    for rec in ops:
        by_spec.setdefault(rec["spec"], []).append(tracer.spark_stats(rec))
    run.extra["spark_per_spec"] = {
        name: {k: sum(s[k] for s in stats) / len(stats) for k in stats[0]}
        for name, stats in by_spec.items()
    }
    stats = run.extra["spark_per_spec"].get(PAIR_SPEC)
    out[f"spark.shuffle_write_bytes.{PAIR_SPEC}"] = (
        stats["shuffle_write_bytes"] if stats else 0.0)
    return out


UNIT_OP = "query"
