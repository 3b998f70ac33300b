"""``turn``: scripted conversations through the in-process ``/query`` and
``/submit_rank`` routes of ``service.create_app``.

One client, closed loop, Flask's ``test_client()`` (no sockets). The model
is a zero-delay script: its calls are counted, and traced apart from engine
time. Each cycle holds the same six turn kinds — the seed sets their order
and the question parameters — so every run sees the same mix:

- a follow-up on a frame profiled earlier;
- a turn on a derived dataset registered just before it (never profiled);
- a heal turn whose first code fails;
- a ranked turn (then ``/submit_rank``) and its repeat, so episodic memory
  both writes and hits;
- a research turn, which needs no data but still pays the profile.

Answers are checked against DuckDB SQL over the same parquet files.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from corebench import datagen
from corebench.common import median

TABLES = ("orders", "lineitem", "events")
THREAD = "bench"

EXPERT = ("```yaml\nrequires_dataset: {req}\nexpert: '{who}'\n"
          "confidence: 9\n```")
ANALYST = ("```yaml\nanalyst: 'Data Analyst DF'\nunknown: {intent}\n"
           "condition: none\ndata: {table}\nintent_breakdown: {intent}\n```")
PLAN = ("```yaml\nproblem_reflection: {intent}\n"
        "data_operations: filter, group, aggregate\n"
        "analysis_steps: [filter, group, aggregate, sort]\n"
        "output_format: [key, value]\n```")
SUMMARY = "The requested aggregate was computed and printed per group."
BAD_CODE = "df = df.groupBy(F.col('no_such_col')).count()"


def _printer(cols: list[str], fmts: list[str]) -> str:
    parts = "|".join(f"{{r['{c}']{f}}}" for c, f in zip(cols, fmts))
    return ("for r in df.limit(1000).collect():\n"
            f"    print(f\"{parts}\")\n")


def _template(kind: str, rng) -> dict:
    """(table, intent, code, sql, output columns + formats) of one
    question. Every printed value is an integer count or an exactly
    representable double, so Spark and DuckDB print the same text."""
    if kind == "orders_status":
        y = int(rng.integers(1995, 2001))
        return dict(
            table="orders",
            intent=f"count orders per status in {y}",
            code=(f"df = (df.filter(F.year('o_orderdate') == {y})"
                  ".groupBy('o_orderstatus')"
                  ".agg(F.count(F.lit(1)).alias('n'))"
                  ".orderBy('o_orderstatus'))\n"),
            sql=(f"SELECT o_orderstatus, COUNT(*) AS n FROM orders "
                 f"WHERE year(o_orderdate) = {y} GROUP BY 1 ORDER BY 1"),
            cols=["o_orderstatus", "n"], fmts=["", ""])
    if kind == "orders_priority":
        y, m = int(rng.integers(1995, 2001)), int(rng.integers(1, 13))
        return dict(
            table="orders",
            intent=f"count orders per priority in month {m} of {y}",
            code=(f"df = (df.filter((F.year('o_orderdate') == {y}) & "
                  f"(F.month('o_orderdate') == {m}))"
                  ".groupBy('o_orderpriority')"
                  ".agg(F.count(F.lit(1)).alias('n'))"
                  ".orderBy('o_orderpriority'))\n"),
            sql=(f"SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE "
                 f"year(o_orderdate) = {y} AND month(o_orderdate) = {m} "
                 "GROUP BY 1 ORDER BY 1"),
            cols=["o_orderpriority", "n"], fmts=["", ""])
    if kind == "lineitem_qty":
        y = int(rng.integers(1995, 2001))
        return dict(
            table="lineitem",
            intent=f"total quantity per return flag and line status in {y}",
            code=(f"df = (df.filter(F.year('l_shipdate') == {y})"
                  ".groupBy('l_returnflag', 'l_linestatus')"
                  ".agg(F.sum('l_quantity').cast('long').alias('q'))"
                  ".orderBy('l_returnflag', 'l_linestatus'))\n"),
            sql=(f"SELECT l_returnflag, l_linestatus, "
                 f"CAST(SUM(l_quantity) AS BIGINT) AS q FROM lineitem "
                 f"WHERE year(l_shipdate) = {y} GROUP BY 1, 2 ORDER BY 1, 2"),
            cols=["l_returnflag", "l_linestatus", "q"], fmts=["", "", ""])
    assert kind == "events_value", kind
    v = int(rng.integers(50, 150))
    return dict(
        table="events",
        intent=f"count events above value {v} per type with the maximum",
        code=(f"df = (df.filter(F.col('value') > {v})"
              ".groupBy('event_type')"
              ".agg(F.count(F.lit(1)).alias('n'),"
              " F.max('value').alias('top'))"
              ".orderBy('event_type'))\n"),
        sql=(f"SELECT event_type, COUNT(*) AS n, MAX(value) AS top "
             f"FROM events WHERE value > {v} GROUP BY 1 ORDER BY 1"),
        cols=["event_type", "n", "top"], fmts=["", "", ":.2f"])


def _derived(rng, k: int) -> dict:
    """A lineitem slice registered under a new name, then questioned."""
    y = int(rng.integers(1995, 2001))
    flag = ["A", "N", "R"][int(rng.integers(0, 3))]
    return dict(
        table="lineitem", df_name=f"li_{k}",
        derive=(f"df = df.filter((F.year('l_shipdate') == {y}) & "
                f"(F.col('l_returnflag') == '{flag}'))"),
        intent=f"total quantity per line status of the {flag} items "
               f"shipped in {y}",
        code=("df = (df.groupBy('l_linestatus')"
              ".agg(F.sum('l_quantity').cast('long').alias('q'),"
              " F.count(F.lit(1)).alias('n'))"
              ".orderBy('l_linestatus'))\n"),
        sql=(f"SELECT l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS q, "
             f"COUNT(*) AS n FROM lineitem WHERE year(l_shipdate) = {y} "
             f"AND l_returnflag = '{flag}' GROUP BY 1 ORDER BY 1"),
        cols=["l_linestatus", "q", "n"], fmts=["", "", ""])


class ScriptedModel:
    """Zero-delay model seam: answers each agent role from the current
    turn's script, counting calls and prompt characters. With a tracer
    each call is an ``agent.llm`` span."""

    def __init__(self):
        self.turn: dict | None = None
        self.calls = 0
        self.prompt_chars = 0
        self.tracer = None

    def __call__(self, system: str, user) -> str:
        if self.tracer is None:
            return self._answer(system, user)
        with self.tracer.span("agent.llm"):
            return self._answer(system, user)

    def _answer(self, system: str, user) -> str:
        self.calls += 1
        self.prompt_chars += len(system) + len(str(user))
        t = self.turn
        research = t["kind"] == "research"
        if "route analytics questions" in system:
            return EXPERT.format(
                req="false" if research else "true",
                who="Research Specialist" if research else "Data Analyst")
        if "classify dataset questions" in system:
            return ANALYST.format(intent=t["intent"], table=t["table"])
        if "analysis plans" in system or "reconcile an analysis" in system:
            return PLAN.format(intent=t["intent"])
        if "write PySpark code" in system:
            code = BAD_CODE if t["kind"] == "heal" else t["full_code"]
            return f"```python\n{code}\n```"
        if "previous PySpark code failed" in system:
            return f"```python\n{t['full_code']}\n```"
        if "Summarize the analysis" in system:
            return SUMMARY
        if "Research Specialist" in system:
            return t["answer"]
        raise ValueError(f"unscripted prompt: {system[:60]!r}")


def cycle_turns(rng, cycle: int) -> list[dict]:
    """The six turns of one cycle; the seed orders them (the repeat
    always follows its ranked turn) and draws their parameters. Each kind
    keeps one question template, so every cycle does the same work on
    orders, lineitem and events whatever the seed."""
    kinds = ["followup", "derived", "heal", "ranked", "research"]
    kinds = [kinds[int(i)] for i in rng.permutation(len(kinds))]
    kinds.insert(kinds.index("ranked") + 1, "repeat")
    turns, ranked = [], None
    for kind in kinds:
        if kind == "followup":
            t = _template("lineitem_qty", rng)
        elif kind == "derived":
            t = _derived(rng, cycle)
        elif kind == "heal":
            t = _template("events_value", rng)
        elif kind == "ranked":
            t = ranked = _template("orders_priority", rng)
        elif kind == "repeat":
            t = dict(ranked)
        else:
            t = dict(table="orders",
                     intent="explain what an order priority is",
                     answer=("Order priority ranks how urgently an order "
                             "should ship."))
        turns.append(_script(t, kind))
    return turns


def _script(t: dict, kind: str) -> dict:
    """A template made into one turn's script."""
    t = dict(t, kind=kind, question=t["intent"].capitalize() + "?")
    if "code" in t:
        t["full_code"] = t["code"] + _printer(t["cols"], t["fmts"])
    return t


class Conversation:
    """The client side: one thread, one in-process app."""

    def __init__(self, run):
        from bambooai_spark.agent.memory import EpisodicMemory
        from bambooai_spark.service import create_app

        import duckdb

        self.run = run
        self.model = ScriptedModel()
        self.memory = EpisodicMemory(run.spark)
        app = create_app(
            run.spark,
            upload_dir=os.path.join(run.work, "uploads"),
            llm=self.model,
            agent_store_dir=os.path.join(run.work, "threads"),
            memory=self.memory,
        )
        app.config["TESTING"] = True
        self.client = app.test_client()
        self.ddb = duckdb.connect()
        for name in TABLES:
            path = os.path.join(run.data, f"{name}.parquet")
            self.ddb.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            r = self.client.post("/register_dataset",
                                 json={"path": path, "df_name": name})
            if r.status_code != 200:
                raise RuntimeError(f"register {name}: {r.get_json()}")
        self.first_thought: list[float] = []
        self.stream_bytes = 0
        self.wrong: list[str] = []

    def expected(self, t: dict) -> list[str]:
        if t["kind"] == "research":
            return [t["answer"]]
        out = []
        for row in self.ddb.execute(t["sql"]).fetchall():
            out.append("|".join(format(v, f.lstrip(":"))
                                for v, f in zip(row, t["fmts"])))
        return out

    def prepare(self, t: dict) -> str:
        """Register and derive the dataset a derived turn asks about;
        returns the df_name the turn queries."""
        if t["kind"] != "derived":
            return t["table"]
        path = os.path.join(self.run.data, "lineitem.parquet")
        r = self.client.post("/register_dataset",
                             json={"path": path, "df_name": t["df_name"]})
        if r.status_code != 200:
            raise RuntimeError(f"register derived: {r.get_json()}")
        r = self.client.post("/execute", json={"df_name": t["df_name"],
                                               "code": t["derive"]})
        body = r.get_json()
        if r.status_code != 200 or body.get("error"):
            raise RuntimeError(f"derive: {body.get('error')}")
        return t["df_name"]

    def ask(self, t: dict, df_name: str, thread: str = THREAD):
        """POST /query and drain the stream. Returns (seconds, first
        thought seconds, events, stream bytes)."""
        self.model.turn = t
        t0 = time.perf_counter()
        resp = self.client.post("/query", json={
            "query": t["question"], "df_name": df_name, "thread_id": thread})
        first = None
        events = []
        nbytes = 0
        try:
            for chunk in resp.response:
                line = chunk.decode() if isinstance(chunk, bytes) else chunk
                if first is None and '"thought"' in line:
                    first = time.perf_counter() - t0
                nbytes += len(line.encode())
                events.append(json.loads(line))
        finally:
            resp.close()
        return time.perf_counter() - t0, first, events, nbytes

    def judge(self, t: dict, events: list[dict]) -> str | None:
        """None when the turn answered correctly, else why not."""
        errors = [e["error"] for e in events if "error" in e]
        if errors:
            return f"error event: {errors[0][:200]}"
        rank = [e["rank_data"] for e in events if "rank_data" in e]
        if not rank or not rank[-1].get("ok"):
            return "no successful rank_data"
        want = self.expected(t)
        if t["kind"] == "research":
            got = ["".join(e["text"] for e in events if "text" in e)]
        else:
            res = [e for e in events if e.get("type") == "result"]
            got = res[-1]["stdout"].splitlines() if res else []
        if got != want:
            return f"answer mismatch: got {got[:3]} want {want[:3]}"
        return None

    def turn(self, t: dict, *, thread: str = THREAD, ops=None):
        """One turn, plus /submit_rank for a ranked one. Appends the
        latency to ``ops`` when given; returns None when the turn was
        correct, else why not."""
        df_name = self.prepare(t)
        tracer = self.run.tracer
        if tracer is not None:
            with tracer.op("turn", kind=t["kind"]) as rec:
                dt, first, events, nbytes = self.ask(t, df_name, thread)
                rec["events"], rec["first_thought_s"] = len(events), first
        else:
            dt, first, events, nbytes = self.ask(t, df_name, thread)
        why = self.judge(t, events)
        if t["kind"] == "ranked" and why is None:
            rank = [e["rank_data"] for e in events if "rank_data" in e][-1]
            r = self.client.post("/submit_rank", json={
                "rank": 8, "chain_id": rank["chain_id"],
                "intent_breakdown": rank["intent_breakdown"],
                "plan": rank["plan"], "code": rank["code"]})
            if r.status_code != 200 or not r.get_json().get("accepted"):
                why = f"submit_rank refused: {r.get_json()}"
        if ops is not None:
            ops.append(dt)
            self.stream_bytes += nbytes
            if first is not None:
                self.first_thought.append(first)
        return why


def generate(run) -> list[str]:
    paths = datagen.write_tables(run.seed, run.sf, TABLES, run.data)
    return list(paths.values())


def load(run) -> None:
    run.state = Conversation(run)


def warm(run) -> None:
    """One full turn, which pays most of the JVM's cold start, then the
    profile of the other two tables through the service's summary route,
    so no measured turn is the first to profile its table."""
    conv = run.state
    rng = np.random.default_rng([run.seed, 99])
    t = _script(_template("orders_status", rng), "followup")
    why = conv.turn(t, thread="warm")
    run.check("warm turn", why is None, why or "")
    for name in ("lineitem", "events"):
        r = conv.client.post("/df_utils/df_summary", json={"df_name": name})
        run.check(f"warm profile of {name}", r.status_code == 200,
                  str(r.status_code))


def measure(run) -> None:
    conv = run.state
    rng = np.random.default_rng([run.seed, 7])
    t0 = time.perf_counter()
    deadline = t0 + run.seconds
    cycle = 0
    while True:
        for t in cycle_turns(rng, cycle):
            run.attempted += 1
            try:
                why = conv.turn(t, ops=run.ops)
            except Exception as exc:  # a failed turn is counted, not fatal
                why = f"{type(exc).__name__}: {exc}"
            if why is not None:
                run.failed += 1
                conv.wrong.append(f"{t['kind']}: {why}")
        cycle += 1
        if time.perf_counter() >= deadline:
            break
    run.items = run.attempted
    run.items_wall_s = time.perf_counter() - t0
    run.extra["cycles"] = cycle


def finish(run) -> None:
    conv = run.state
    run.check("turn answers match DuckDB", not conv.wrong,
              "; ".join(conv.wrong[:3]))
    run.extra.update({
        "turn_s.p50": median(run.ops),
        "first_thought_s.p50": median(conv.first_thought),
        "llm_calls": conv.model.calls,
        "memory_records": len(conv.memory),
    })
    conv.ddb.close()


def instrument(run, tracer) -> None:
    # the session's frames are the classic DataFrame, which overrides the
    # abstract base class's toPandas
    from pyspark.sql.classic.dataframe import DataFrame

    from bambooai_spark.agent import orchestrator, session
    from bambooai_spark.executor import executor

    conv = run.state
    conv.model.tracer = tracer
    tracer.wrap(session.AgentSession, "ask", "agent.ask")
    tracer.wrap(orchestrator, "dataframe_summary_to_string", "profiler")
    tracer.wrap(executor.SparkCodeExecutor, "execute", "executor.execute",
                after=lambda rec, res, a, k: rec.update(ok=bool(res.ok)))
    # the summarizer's bounded Arrow edge (orchestrator's toPandas call)
    tracer.wrap(
        DataFrame, "toPandas", "agent.summary",
        when=lambda a, k: _caller_module(3) == orchestrator.__name__)
    tracer.wrap(conv.memory, "retrieve", "memory.retrieve",
                after=lambda rec, hit, a, k: rec.update(hit=hit is not None))
    tracer.wrap(conv.memory, "add", "memory.add")


def _caller_module(depth: int) -> str:
    import sys

    return sys._getframe(depth).f_globals.get("__name__", "")


def layers(run, tracer) -> dict:
    turns = tracer.named("turn")
    n = max(1, len(turns))
    turn_s = sum(s["end"] - s["start"] for s in turns)
    prof = tracer.named("profiler")
    ex = tracer.named("executor.execute")
    ret = tracer.named("memory.retrieve")
    add = tracer.named("memory.add")
    asks = {s["op"]: s for s in tracer.named("agent.ask")}
    tails = [t["end"] - asks[t["op"]]["end"] for t in turns
             if t["op"] in asks]
    firsts = [t["first_thought_s"] for t in turns
              if t.get("first_thought_s") is not None]
    return {
        "profiler.context_s": tracer.total("profiler") / n,
        "profiler.jobs": sum(s["j1"] - s["j0"] for s in prof) / n,
        "profiler.share": tracer.total("profiler") / turn_s if turn_s else 0,
        "agent.llm_calls": len(tracer.named("agent.llm")) / n,
        "agent.prompt_chars": run.state.model.prompt_chars / n,
        "agent.summary_s": tracer.total("agent.summary") / n,
        "agent.self_s": tracer.self_time("agent.ask") / n,
        "memory.retrieve_s": (tracer.total("memory.retrieve")
                              / max(1, len(ret))),
        "memory.add_s": tracer.total("memory.add") / max(1, len(add)),
        "memory.hit_ratio": (sum(1 for s in ret if s.get("hit"))
                             / max(1, len(ret))),
        "executor.execute_s": tracer.total("executor.execute") / n,
        "executor.attempts": len(ex) / n,
        "executor.ok_ratio": (sum(1 for s in ex if s.get("ok"))
                              / max(1, len(ex))),
        "service.events": sum(t.get("events", 0) for t in turns) / n,
        "service.stream_bytes": run.state.stream_bytes / n,
        "service.tail_s": sum(tails) / max(1, len(tails)),
        "first_thought_s.p50": median(firsts),
    }


UNIT_OP = "turn"
