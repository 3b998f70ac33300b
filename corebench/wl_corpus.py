"""``corpus_lifecycle``: seeded document batches through the transactional
append with its near-dup gate, read back after every commit, compacted
after every cycle of batches; then a dedup analysis of the live corpus
(the ``exact_spans_docs`` suite spec over its snapshot) and curation with
JSONL export.

The unit op is a commit: one append and its read-after-commit. Writes sit
beside reads on ``operators/writer.py`` and read cost grows with the
committed files, so an append made faster by leaving more files shows in
the commit's time as a slower read, and as a larger ``write_amp``. The
analysis step carries the suite layer and an exact-substring pair stage,
so shuffle bytes of the gram postings show here too. The profiler and
the agent are bypassed.
"""

from __future__ import annotations

import os
import time

from corebench import datagen
from corebench.common import canonical_digest, median

N_BATCHES = 40
#: batches per cycle; the corpus is compacted after each cycle
COMPACT_EVERY = 3
ANALYSIS_SPEC = "exact_spans_docs"
NEAR_DUP_THRESHOLD = 0.8
ID_COL = "doc_id"


def data_files(root: str) -> list[str]:
    """Live data files of a corpus: parquet outside ``_``/``.`` dirs."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, f) for f in filenames
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, filenames in os.walk(root):
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def generate(run) -> list[str]:
    os.makedirs(run.data, exist_ok=True)
    paths = []
    for stream, n in (("corpus", N_BATCHES), ("corpus_warm", 1)):
        batches = datagen.corpus_batches(run.seed, run.sf, n, stream=stream)
        for b in batches:
            p = os.path.join(run.data, f"{stream}-{b.batch_id:03d}.parquet")
            datagen.write_table(b.table, p)
            paths.append(p)
        if stream == "corpus":
            run.state = {"batches": batches}
    return paths


def load(run) -> None:
    schema = run.spark.read.parquet(
        os.path.join(run.data, "corpus-001.parquet")).schema
    run.state.update({
        "schema": schema,
        "corpus": os.path.join(run.work, "corpus"),
        "export": os.path.join(run.work, "export"),
        "append_s": [], "read_s": [], "committed": 0, "offered": 0,
        "text_bytes": 0, "released": 0, "files": [],
    })


def _batch_df(run, stream: str, batch_id: int):
    path = os.path.join(run.data, f"{stream}-{batch_id:03d}.parquet")
    return run.spark.read.schema(run.state["schema"]).parquet(path)


def _budgets(sf: float) -> dict[str, int]:
    return {"en": max(2000, int(2e6 * sf)), "de": max(800, int(8e5 * sf))}


def _append(run, corpus: str, df, batch_id: int) -> None:
    from bambooai_spark.operators.writer import append_corpus_txn

    append_corpus_txn(df, corpus, batch_id, partition_by=("lang",),
                      near_dup_threshold=NEAR_DUP_THRESHOLD)


def _read(run, corpus: str, batch_id: int) -> tuple[int, int]:
    """Read-after-commit: a filtered snapshot and the last batch's
    changes, both counted."""
    from bambooai_spark.operators.writer import (read_corpus,
                                                 read_corpus_changes)

    n_en = read_corpus(run.spark, corpus,
                       where=[("lang", "==", "en")]).count()
    n_new = read_corpus_changes(run.spark, corpus,
                                after_batch=batch_id - 1).count()
    return n_en, n_new


def _curate(run, corpus: str, export: str):
    from pyspark.sql import functions as F

    from bambooai_spark.operators.curation import curate_corpus

    exported, _report = curate_corpus(
        run.spark, corpus, export, budgets=_budgets(run.sf),
        score=F.length("text"), n_shards=4, report=False)
    return exported


def _analysis_spec():
    from bambooai_spark.suite import SPECS

    return next(s for s in SPECS if s.name == ANALYSIS_SPEC)


def _analyse(run, corpus: str) -> None:
    """Snapshot the live corpus as the suite's ``documents`` table and
    run the analysis spec through the noop sink."""
    from bambooai_spark.operators.writer import read_corpus

    adir = os.path.join(run.work, "analysis")
    (read_corpus(run.spark, corpus)
     .select("doc_id", "text", "lang", "source", "n_chars")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(adir, "documents.parquet")))
    spec = _analysis_spec()
    tracer = run.tracer
    if tracer is None:
        spec.build(run.spark, adir).write.format("noop").mode(
            "overwrite").save()
        return
    with tracer.span("suite.build"):
        df = spec.build(run.spark, adir)
    with tracer.span("suite.run"):
        df.write.format("noop").mode("overwrite").save()


def _commit(run, corpus: str, df, batch_id: int):
    """One unit op: the append, then the read-after-commit. Returns
    (append seconds, read seconds, read counts)."""
    t0 = time.perf_counter()
    _append(run, corpus, df, batch_id)
    t1 = time.perf_counter()
    counts = _read(run, corpus, batch_id)
    return t1 - t0, time.perf_counter() - t1, counts


def warm(run) -> None:
    """One commit on a corpus of its own, from an unrelated stream: the
    first append of a session pays most of the JVM's cold start.
    Compaction, analysis and curation run once per cycle and are measured
    as they come."""
    corpus = os.path.join(run.work, "warm_corpus")
    _commit(run, corpus, _batch_df(run, "corpus_warm", 1), 1)


def _timed(run, name: str, fn, **attrs):
    """Run ``fn`` as one op; returns (seconds, result)."""
    t0 = time.perf_counter()
    if run.tracer is None:
        out = fn()
    else:
        with run.tracer.op(name, **attrs):
            out = fn()
    return time.perf_counter() - t0, out


def measure(run) -> None:
    from bambooai_spark.caching import release_caches
    from bambooai_spark.operators.writer import compact_corpus

    st = run.state
    corpus, export = st["corpus"], st["export"]
    tracer = run.tracer
    exp_en = exp_all = 0
    t0 = time.perf_counter()
    deadline = t0 + run.seconds
    wrong: list[str] = []
    for b in st["batches"]:
        df = _batch_df(run, "corpus", b.batch_id)
        before = data_files(corpus) if tracer else []
        run.attempted += 1
        try:
            dt, (at, rt, (n_en, n_new)) = _timed(
                run, "commit",
                lambda: _commit(run, corpus, df, b.batch_id),
                batch=b.batch_id)
        except Exception as exc:  # counted; later reads will disagree
            run.failed += 1
            wrong.append(f"commit {b.batch_id}: {type(exc).__name__}: {exc}")
            continue
        run.ops.append(dt)
        st["append_s"].append(at)
        st["read_s"].append(rt)
        st["offered"] += b.table.num_rows
        st["text_bytes"] += b.text_bytes
        exp_en += b.survivors_by_lang["en"]
        exp_all += b.survivors
        st["committed"] += n_new
        if tracer:
            after = data_files(corpus)
            new = set(after) - set(before)
            st["files"].append(("commit", len(new),
                                sum(os.path.getsize(p) for p in new),
                                len(after)))
        if (n_en, n_new) != (exp_en, b.survivors):
            wrong.append(f"batch {b.batch_id}: read en={n_en} new={n_new}, "
                         f"expected en={exp_en} new={b.survivors}")
        if b.batch_id % COMPACT_EVERY == 0:
            _timed(run, "compact", lambda: compact_corpus(run.spark, corpus))
            if tracer:
                st["files"].append(("compact", 0,
                                    sum(os.path.getsize(p)
                                        for p in data_files(corpus)), 0))
        st["released"] += release_caches()
        if (b.batch_id % COMPACT_EVERY == 0
                and time.perf_counter() >= deadline):
            break
    _timed(run, "query", lambda: _analyse(run, corpus),
           spec=ANALYSIS_SPEC)
    st["released"] += release_caches()
    ct, exported = _timed(run, "curate",
                          lambda: _curate(run, corpus, export))
    run.items = st["offered"]
    run.items_wall_s = time.perf_counter() - t0
    st.update(exported=exported, expected=exp_all, wrong=wrong,
              curate_s=ct)


def finish(run) -> None:
    from bambooai_spark.operators.writer import read_corpus, validate_corpus

    st = run.state
    corpus = st["corpus"]
    run.check("reads after each commit match the generator",
              not st["wrong"], "; ".join(st["wrong"][:3]))
    bad = [(r["check"], r["detail"])
           for r in validate_corpus(run.spark, corpus, deep=True).collect()
           if not r["ok"]]
    run.check("validate_corpus(deep=True)", not bad, str(bad[:3]))
    live = read_corpus(run.spark, corpus).select(ID_COL)
    n_live = live.count()
    run.check("committed rows == expected survivors",
              n_live == st["expected"],
              f"{n_live} live vs {st['expected']} expected")
    exported = st["exported"]
    stray = exported.select(ID_COL).subtract(live).count()
    n_exp = exported.count()
    run.check("exported ids are live ids", stray == 0 and n_exp > 0,
              f"{stray} of {n_exp} exported ids not live")
    run.check(f"{ANALYSIS_SPEC} rows match the oracle", *_check_analysis(run))
    store = tree_bytes(corpus) + tree_bytes(st["export"])
    run.extra.update({
        "commit_s.p50": median(run.ops),
        "append_s.p50": median(st["append_s"]),
        "read_s.p50": median(st["read_s"]),
        "docs_per_s": run.items / run.items_wall_s,
        "write_amp": store / max(1, st["text_bytes"]),
        "batches": len(run.ops),
        "exported_rows": n_exp,
        "curate_s": st["curate_s"],
    })


def _check_analysis(run) -> tuple[bool, str]:
    import glob

    import duckdb

    adir = os.path.join(run.work, "analysis")
    spec = _analysis_spec()
    got = canonical_digest(spec.build(run.spark, adir).toPandas())
    files = glob.glob(os.path.join(adir, "documents.parquet", "*.parquet"))
    ddb = duckdb.connect()
    try:
        ddb.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet({files!r})")
        want = canonical_digest(ddb.execute(spec.oracle).df())
    finally:
        ddb.close()
    return got == want, f"rows {got[1]} vs oracle {want[1]}"


def instrument(run, tracer) -> None:
    from bambooai_spark.operators import curation, neardup_gate, writer

    # writer.py imports these at call time, so the module attributes are
    # what its calls resolve. Reads, compaction and export are timed by
    # the benchmark's own calls and file listings.
    tracer.wrap(writer, "append_corpus_txn", "writer.append")
    tracer.wrap(neardup_gate, "near_dup_gate", "gate")
    tracer.wrap(curation, "curate_corpus", "curation")


def layers(run, tracer) -> dict:
    st = run.state
    appends = tracer.named("writer.append")
    n = max(1, len(tracer.named("commit")))
    compacts = tracer.named("compact")
    files = st["files"]
    added = [f for f in files if f[0] == "commit"]
    rewritten = [f[2] for f in files if f[0] == "compact"]
    escapes = sum(tracer.window_escapes(rec) for rec in appends)
    run.check("pool-launched stages land in their append's window",
              escapes == 0, f"{escapes} stages outside their window")
    return {
        "writer.append_s": tracer.total("writer.append") / n,
        "writer.files_added": sum(f[1] for f in added) / max(1, len(added)),
        "writer.bytes_added": sum(f[2] for f in added) / max(1, len(added)),
        "writer.read_s": sum(st["read_s"]) / max(1, len(st["read_s"])),
        "writer.files_visible": (sum(f[3] for f in added)
                                 / max(1, len(added))),
        "writer.compact_s": tracer.total("compact") / max(1, len(compacts)),
        "writer.bytes_rewritten": sum(rewritten) / max(1, len(rewritten)),
        "gate.s": tracer.total("gate") / n,
        "gate.kept_ratio": st["committed"] / max(1, st["offered"]),
        "curation.s": tracer.total("curation"),
        "export.bytes": tree_bytes(st["export"]),
        "caching.released": st["released"] / n,
        "suite.build_s": tracer.total("suite.build"),
        "suite.run_s": tracer.total("suite.run"),
        f"spark.shuffle_write_bytes.{ANALYSIS_SPEC}": sum(
            tracer.spark_stats(r)["shuffle_write_bytes"]
            for r in tracer.named("query")),
        "read_s.p50": median(st["read_s"]),
        "write_amp": run.extra["write_amp"],
        "spark.window_escapes": escapes,
    }


UNIT_OP = "commit"
