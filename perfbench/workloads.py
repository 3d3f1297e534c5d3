"""The workloads: ``lake_sync_search`` and ``corpus_prep``.

Each runs in one process on one ``local[nproc/2]`` session with one
closed-loop client: the loop issues the next operation only after the
previous one returned. Timed regions cover only calls into the program;
every output check runs between them, and an operation that raised or
failed its check counts into ``failed``. Each timed region records its
wall and the CPU time the whole process tree (Python driver, JVM,
Python UDF workers) spent in it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from types import SimpleNamespace

import duckdb

import inputs
import layers
import metrics

#: Per ``lake_sync_search`` step, after its full snapshot sync: upsert
#: cycles, then search requests: four of each of the six classes, two
#: hot and two fresh. A step takes longer than a run's ``--seconds``, so
#: an untraced run is one step.
UPSERTS_PER_STEP, REQUESTS_PER_STEP = 1, 24
#: Per upsert cycle: existing events re-emitted, and new events.
DELTA_CHANGED, DELTA_NEW = 400, 100
#: Every Nth search request is checked against DuckDB.
CHECK_EVERY = 3
#: Generic-sync tables; ``events`` is the one upsert cycles rewrite.
SYNC_TABLES = ("orders", "customer", "events", "documents")
#: Source tables the denormalized wide document reads.
DENORM_TABLES = ("orders", "lineitem", "part", "customer", "nation", "region")
#: Wide-document columns compared with the oracle (timestamps are left
#: out: the lake stores them UTC-adjusted, the oracle naive).
DENORM_CHECKED = ("order_id, order_status, order_totalprice, customer_name, "
                  "nation_name, region_name, latest_linenumber, "
                  "latest_returnflag, latest_linestatus, labels, doc_id")


class Run:
    """One workload run: session, tracer, counters, work directory."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str,
                 t_start: float, cores: int):
        from spans import Tracer

        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work, self.t_start, self.cores = work, t_start, cores
        self.tracer = Tracer(active=trace)
        self.attempted = self.failed = 0
        self.spark = None
        #: wall and CPU seconds of benchmark-side work (input generation,
        #: output checks)
        self.aside_s = self.aside_cpu_s = 0.0
        #: set-up CPU and wall seconds, set by setup_done()
        self.setup_s = self.setup_wall_s = 0.0
        #: (wall s, CPU s, traced?, label) of every timed unit operation
        self.ops: list[tuple[float, float, bool, str]] = []
        #: the unit-operation statistic (ms) over [(seconds, label)], set
        #: by the workload
        self.op_stat = None
        #: first span id of the traced half (traced runs)
        self.traced_from = 0
        #: wall seconds of timed work, over both halves
        self.timed_s = 0.0

    def record(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a failed one is also logged."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"failed: {what}", file=sys.stderr)

    def op(self, wall: float, cpu: float, label: str = "") -> None:
        self.ops.append((wall, cpu, self.tracer.active, label))

    def op_ms(self, traced: bool = False, cpu: bool = True) -> float:
        """The unit-operation statistic over the untraced (or traced)
        operations, in CPU or wall milliseconds."""
        return self.op_stat([(c if cpu else w, lab)
                             for w, c, t, lab in self.ops if t == traced])

    def start_session(self):
        from sql_database_to_elastic_datalake_spark import session

        if self.trace:
            layers.instrument_all(self.tracer)
        with self.tracer.span("session.get_spark"):
            spark = session.get_spark(
                app_name="perfbench", master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        # C1 only: the C2 tier kept compiling for
                        # minutes at a pace set by the host's load, so
                        # the timed region's CPU time depended on it
                        f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData "
                        "-XX:TieredStopAtLevel=1",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "wh"),
                    **({"spark.ui.retainedJobs": "100000",
                        "spark.ui.retainedStages": "100000"}
                       if self.trace else {}),
                })
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = self.tracer.spark = spark
        return spark

    @contextmanager
    def aside(self):
        """Benchmark-side work: left out of set-up time."""
        with timed() as t:
            yield
        self.aside_s += t.wall
        self.aside_cpu_s += t.cpu

    def setup_done(self) -> None:
        """Set-up time, process start until now less the work aside: as
        CPU seconds of the process tree (``setup_s``) and as wall."""
        self.setup_s = tree_cpu_s() - self.aside_cpu_s
        self.setup_wall_s = time.perf_counter() - self.t_start - self.aside_s

    def measure(self, step, min_steps: int = 1) -> None:
        """Call ``step(i)`` until its timed work reaches ``seconds`` and
        it ran at least ``min_steps`` times; ``step`` returns the wall of
        its timed region(s). A traced run times one such half with
        tracing off and a second with it on, so it can report its own
        overhead."""
        halves = [(self.seconds, False)] if not self.trace else [
            (self.seconds / 2, False), (self.seconds / 2, True)]
        i = 0
        for seconds, traced in halves:
            self.tracer.active = traced
            self.traced_from = len(self.tracer.spans)
            spent, steps = 0.0, 0
            while spent < seconds or steps < min_steps:
                dt = step(i)
                spent, self.timed_s = spent + dt, self.timed_s + dt
                i, steps = i + 1, steps + 1
                if traced:
                    self.tracer.harvest()


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    live descendant, plus the descendants they have reaped. The kernel
    leaves out the time the hypervisor stole from the virtual CPUs, and
    the time a thread waits for another, so on a busy host this grows
    far less than wall time (only by the slowdown of sharing caches and
    cores with other tenants)."""
    cpu: dict[int, int] = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        kids.setdefault(int(f[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return ticks / _CLK_TCK


@contextmanager
def timed():
    """Wall and process-tree CPU seconds of the block, as ``t.wall`` and
    ``t.cpu``; the /proc walk itself lies outside the wall."""
    t = SimpleNamespace(wall=0.0, cpu=0.0)
    c0 = tree_cpu_s()
    w0 = time.perf_counter()
    try:
        yield t
    finally:
        t.wall = time.perf_counter() - w0
        t.cpu = tree_cpu_s() - c0


def _label_medians(ops) -> list[float]:
    walls: dict[str, list[float]] = {}
    for w, label in ops:
        walls.setdefault(label, []).append(w)
    return [statistics.median(ws) for ws in walls.values()]


def pass_ms(ops) -> float:
    """A median pass (ms): each label's median wall, summed over labels."""
    return 1e3 * sum(_label_medians(ops))


def class_median_ms(ops) -> float:
    """Class-balanced median request (ms): each class's median wall,
    averaged over classes. The plain median of an equal-share mix of
    fast and slow classes falls in the gap between them and swings with
    the two requests that border it."""
    medians = _label_medians(ops)
    return 1e3 * sum(medians) / len(medians)


def _duckdb():
    """A DuckDB connection reading timestamps in UTC, the lake's zone."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def _write_sources(seed: int, src: str):
    tables = inputs.lake_sources(seed)
    inputs.write_tables(tables, src)
    return tables


# -- lake_sync_search ---------------------------------------------------------------

def _sync_all(spark, src: str, lake: str) -> None:
    """One full snapshot sync: every generic table plus the denormalized
    wide document, each written with ``write_lake``."""
    from sql_database_to_elastic_datalake_spark import generic
    from sql_database_to_elastic_datalake_spark.operators import denormalize
    from sql_database_to_elastic_datalake_spark.sinks import writer
    from sql_database_to_elastic_datalake_spark.sources import parquet

    for t in SYNC_TABLES:
        df = generic.sync_generic_table(parquet.load_table(spark, src, t), t)
        writer.write_lake(df, os.path.join(lake, f"data_lake_{t}"))
    writer.write_lake(denormalize.denormalized_orders(spark, src),
                      os.path.join(lake, "orders_denormalized"))


def check_sync(con, src: str, lake: str) -> list[str]:
    """Row counts equal the source minus soft-deletes and ``doc_id`` is
    unique per table; the wide document matches its DuckDB oracle."""
    bad = []
    for t in SYNC_TABLES:
        want = con.execute(
            f"SELECT count(*) FROM read_parquet('{src}/{t}.parquet') "
            "WHERE deletedAt IS NULL").fetchone()[0]
        n, ids = con.execute(
            "SELECT count(*), count(DISTINCT doc_id) FROM "
            f"{_pq(os.path.join(lake, 'data_lake_' + t))}").fetchone()
        if n != want or ids != n:
            bad.append(f"{t}: rows {n} (want {want}), distinct doc_id {ids}")
    from selfcheck import _canon, _values_equal
    from sql_database_to_elastic_datalake_spark.operators.denormalize import (
        DENORMALIZED_ORDERS_ORACLE)

    for t in DENORM_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{src}/{t}.parquet')")
    got = con.execute(
        f"SELECT {DENORM_CHECKED} FROM "
        f"{_pq(os.path.join(lake, 'orders_denormalized'))}").fetchdf()
    want = con.execute(f"SELECT {DENORM_CHECKED} FROM "
                       f"({DENORMALIZED_ORDERS_ORACLE})").fetchdf()
    ok, msg = _values_equal(_canon(got), _canon(want))
    if not ok or got["doc_id"].nunique() != len(got):
        bad.append(f"orders_denormalized: {msg}")
    return bad


def check_upsert(con, src: str, delta: str, out: str) -> list[str]:
    """The rewritten events table equals latest-wins over source + delta
    (per event id the highest ts, the delta winning ties), soft-deleted
    rows dropped, computed independently on DuckDB."""
    want = f"""
        SELECT event_id, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY event_id
                                         ORDER BY ts DESC, src DESC) AS rn
            FROM (SELECT *, 0 AS src FROM read_parquet('{src}/events.parquet')
                  UNION ALL BY NAME
                  SELECT *, 1 AS src FROM read_parquet('{delta}/events.parquet'))
            WHERE deletedAt IS NULL)
        WHERE rn = 1"""
    got = ("SELECT events_event_id AS event_id, events_ts AS ts, "
           f"events_value AS value FROM {_pq(out)}")
    n_want = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
    n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ({want}))").fetchone()[0]
    if n_want != n_got or extra:
        return [f"rows {n_got} (want {n_want}), {extra} rows differ"]
    return []


def lake_sync_search(run: Run) -> dict:
    """The sync operator refreshes the lake while one analyst queries it.
    Each step: one full snapshot sync, UPSERTS_PER_STEP upsert cycles,
    then REQUESTS_PER_STEP search requests against the lake that sync
    just wrote."""
    from sql_database_to_elastic_datalake_spark import generic
    from sql_database_to_elastic_datalake_spark.api import LakeService, create_app
    from sql_database_to_elastic_datalake_spark.sinks import upsert, writer
    from sql_database_to_elastic_datalake_spark.sources import parquet

    src, lake = os.path.join(run.work, "src"), os.path.join(run.work, "lake")
    out = os.path.join(run.work, "upserted_events")
    spark = run.start_session()
    with run.aside():
        tables = _write_sources(run.seed, src)
    sync_rows = sum(tables[t].num_rows for t in SYNC_TABLES + DENORM_TABLES)
    source_bytes = sum(os.path.getsize(os.path.join(src, f"{t}.parquet"))
                       for t in SYNC_TABLES)
    live_events = tables["events"].column("deletedAt").null_count
    with run.aside():
        con = _duckdb()

    def full_sync(label: str):
        with timed() as t, run.tracer.span("lake_sync.full_sync"):
            _sync_all(spark, src, lake)
        with run.aside():
            bad = check_sync(con, src, lake)
        run.record(not bad, f"sync {label}: {bad}")
        return t

    def upsert_cycle(i: int):
        """Merge delta ``i`` into the lake's events table and rewrite it;
        returns (its wall/CPU times, rows read). Every cycle merges into
        the same base, so sizes never drift."""
        d = os.path.join(run.work, "deltas", str(i))
        with run.aside():
            delta = inputs.upsert_delta(run.seed, i, tables["events"],
                                        DELTA_CHANGED, DELTA_NEW)
            inputs.write_tables({"events": delta}, d)
        with timed() as t, run.tracer.span("sinks.merge_latest_wins",
                                           cycle=i):
            base = spark.read.parquet(os.path.join(lake, "data_lake_events"))
            upd = generic.sync_generic_table(
                parquet.load_table(spark, d, "events"), "events")
            writer.write_lake(upsert.merge_latest_wins(
                base, upd, ["events_event_id"], "events_ts"), out)
        with run.aside():
            bad = check_upsert(con, src, d, out)
        run.record(not bad, f"upsert {i}: {bad}")
        return t, live_events + delta.num_rows

    def checked(label: str, cls: str, body: dict, resp, check: bool) -> None:
        payload = resp.get_json(silent=True) or {}
        why = None if resp.status_code == 200 else f"HTTP {resp.status_code}"
        if why is None and check:
            why = check_response(con, cls, body, payload)
        run.record(why is None, f"request {label} {cls}: {why}")

    # warm-up, untimed: a cold sync, an upsert cycle, every body of the
    # hot set once, so that every timed hot request is a repeat, and one
    # fresh request per class
    full_sync("warm-up")
    upsert_cycle(-1)
    client = create_app(LakeService(spark, lake)).test_client()
    with run.aside():
        for t in SYNC_TABLES:
            con.execute(f"CREATE VIEW data_lake_{t} AS SELECT * FROM "
                        f"{_pq(os.path.join(lake, 'data_lake_' + t))}")
    sent: set[str] = set()
    for cls, route, body in inputs.warmup_bodies(run.seed):
        sent.add(json.dumps(body, sort_keys=True))
        resp = client.post(route, json=body)
        with run.aside():
            checked("warm-up", cls, body, resp, True)
    run.setup_done()

    mix = inputs.request_mix(run.seed, 5_000)
    hits: list[int] = []
    repeats = 0
    #: (wall, CPU) rows per second of each step's write path
    write_rates: list[tuple[float, float]] = []

    def request(i: int) -> float:
        nonlocal repeats
        cls, route, body, hot = mix[i]
        key = json.dumps(body, sort_keys=True)
        repeats += key in sent
        sent.add(key)
        with timed() as t:
            w0 = time.perf_counter()
            with run.tracer.span("api.request", request=f"r{i}", cls=cls,
                                 hot=hot) as sp:
                resp = client.post(route, json=body)
            wall = time.perf_counter() - w0
        if sp is not None:
            sp.attrs["client_wall"] = wall
        run.op(wall, t.cpu, cls)
        hits.append(len((resp.get_json(silent=True) or {})
                        .get("hits", {}).get("hits", [])))
        checked(str(i), cls, body, resp, i % CHECK_EVERY == 0)
        return wall

    def step(i: int) -> float:
        t = full_sync(str(i))
        wall, cpu, rows = t.wall, t.cpu, sync_rows
        for c in range(UPSERTS_PER_STEP):
            t, n = upsert_cycle(i * UPSERTS_PER_STEP + c)
            wall, cpu, rows = wall + t.wall, cpu + t.cpu, rows + n
        if not run.tracer.active:
            write_rates.append((rows / wall, rows / cpu))
        return wall + sum(request(i * REQUESTS_PER_STEP + r)
                          for r in range(REQUESTS_PER_STEP))

    run.op_stat = class_median_ms
    run.measure(step)
    lake_b = sum(layers.lake_bytes(os.path.join(lake, f"data_lake_{t}"))[0]
                 for t in SYNC_TABLES)
    rewritten = con.execute(f"SELECT count(*) FROM {_pq(out)}").fetchone()[0]
    return {
        "throughput_per_s": statistics.median(r for r, _ in write_rates),
        "throughput_per_cpu_s": statistics.median(r for _, r in write_rates),
        "layers": {**layers.sync_layers(
            run, lake, lake_b / source_bytes,
            rewritten / (DELTA_CHANGED + DELTA_NEW)),
            **layers.api_layers(run, hits)},
        "notes": {"rows_per_sync": sync_rows, "steps": len(write_rates),
                  "requests": len(run.ops), "repeated_bodies": repeats,
                  "repeat_share": round(repeats / len(run.ops), 3),
                  "class_cpu_ms": {c: round(1e3 * statistics.median(
                      cpu for _, cpu, _, lab in run.ops if lab == c))
                      for c in metrics.REQUEST_CLASSES}},
    }


def _engine_match(col: str, word: str) -> str:
    """DuckDB twin of the engine's single-token match (``_match_tokens``
    in plans/es_dsl.py): the lower-cased field contains the token."""
    return f"contains(lower(CAST(\"{col}\" AS VARCHAR)), '{word}')"


def check_response(con, cls: str, body: dict, payload: dict) -> str | None:
    """Hit totals, pages and bucket counts of one response against DuckDB
    over the lake parquet; None when they agree."""
    total = (payload.get("hits", {}).get("total") or {}).get("value")
    page = [h.get("_source", {}) for h in payload.get("hits", {}).get("hits", [])]
    q = body.get("query", {})
    if cls == "search_all":
        want = 0
        for t in body["tables"]:
            cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()
                    if r[1] == "VARCHAR"]
            cond = " OR ".join(_engine_match(c, body["query"]) for c in cols)
            want += con.execute(f"SELECT count(*) FROM {t} WHERE {cond}").fetchone()[0]
        return None if total == want else f"total {total} != {want}"
    if cls == "bool_page":
        f = q["bool"]["filter"]
        status = f[0]["term"]["orders_o_orderstatus"]
        lo = f[1]["range"]["orders_o_totalprice"]["gte"]
        price, key = body["search_after"]
        want = [r[0] for r in con.execute(
            "SELECT orders_o_orderkey FROM data_lake_orders WHERE "
            f"orders_o_orderstatus = '{status}' AND orders_o_totalprice >= {lo}"
            f" AND (orders_o_totalprice, orders_o_orderkey) > ({price}, {key})"
            " ORDER BY orders_o_totalprice, orders_o_orderkey LIMIT 10"
        ).fetchall()]
        got = [s.get("orders_o_orderkey") for s in page]
        return None if got == want else f"page {got} != {want}"
    if cls == "terms_aggs":
        seg = q["bool"]["must_not"][0]["term"]["customer_c_mktsegment"]
        size = body["aggs"]["by_nation"]["terms"]["size"]
        want = con.execute(
            "SELECT customer_c_nationkey, count(*) FROM data_lake_customer "
            f"WHERE customer_c_mktsegment IS DISTINCT FROM '{seg}' "
            f"GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT {size}").fetchall()
        got = [(b["key"], b["doc_count"]) for b in
               payload.get("aggregations", {}).get("by_nation", {}).get("buckets", [])]
        return None if got == want else f"buckets {got} != {want}"
    if cls == "pipeline_aggs":
        etype = q["term"]["events_event_type"]
        want = [r[0] for r in con.execute(
            "SELECT count(*) FROM data_lake_events WHERE "
            f"events_event_type = '{etype}' GROUP BY date_trunc('day', events_ts)"
            " ORDER BY date_trunc('day', events_ts)").fetchall()]
        got = [b["doc_count"] for b in
               payload.get("aggregations", {}).get("daily", {}).get("buckets", [])
               if b["doc_count"]]
        return None if got == want else f"days {got} != {want}"
    if cls == "match_highlight":
        word = q["match"]["documents_text"]
        want = [r[0] for r in con.execute(
            "SELECT documents_doc_id FROM data_lake_documents WHERE "
            f"{_engine_match('documents_text', word)} ORDER BY 1 LIMIT 5"
        ).fetchall()]
        got = [s.get("documents_doc_id") for s in page]
        return None if got == want else f"page {got} != {want}"
    if cls == "scored_page":
        prio = q["function_score"]["query"]["term"]["orders_o_orderpriority"]
        want = [r[0] for r in con.execute(
            "SELECT orders_o_orderkey FROM data_lake_orders WHERE "
            f"orders_o_orderpriority = '{prio}' ORDER BY orders_o_totalprice "
            "DESC LIMIT 10").fetchall()]
        got = [s.get("orders_o_orderkey") for s in page]
        return None if got == want else f"page {got} != {want}"
    return f"no check for class {cls}"


# -- corpus_prep -------------------------------------------------------------

def corpus_prep(run: Run) -> dict:
    corpus = os.path.join(run.work, "corpus")
    spark = run.start_session()
    import __spark_entry__ as entry
    from selfcheck import _canon, _values_equal
    from sql_database_to_elastic_datalake_spark.session import (
        release_local_checkpoints)

    n_docs = inputs.CORPUS_DOCUMENTS
    with run.aside():
        inputs.write_tables(
            {"documents": inputs.documents(run.seed, n_docs)}, corpus)
        con = _duckdb()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{corpus}/documents.parquet')")
    queries, oracles = entry.queries(), entry.oracle_sql()
    # warm-up pass, untimed: every member built and collected; the
    # comparison with its DuckDB oracle is left out of set-up time
    capped = 0
    for m in metrics.MEMBERS:
        df = queries[m](spark, corpus)
        got = df.toPandas()
        with run.aside():
            ok, msg = _values_equal(_canon(got),
                                    _canon(con.execute(oracles[m]).fetchdf()))
            run.record(ok, f"{m}: {msg}")
            if m == "neardup_minhash_lsh":
                # lazy accounting: one small job, read once, outside timing
                capped = int(df._dedup_metrics["capped_bucket_docs"])
        df = None
        release_local_checkpoints(spark)
    run.setup_done()

    def step(i: int) -> float:
        m = metrics.MEMBERS[i % len(metrics.MEMBERS)]
        ok = False
        with timed() as t:
            try:
                with run.tracer.span(f"registry.{m}.build"):
                    df = queries[m](spark, corpus)
                with run.tracer.span(f"registry.{m}.run"):
                    df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as ex:  # counted; the run goes on
                print(f"{m}: {ex!r}", file=sys.stderr)
        run.record(ok, f"step {i} {m}")
        run.op(t.wall, t.cpu, m)
        df = None
        release_local_checkpoints(spark)
        return t.wall

    # members run round-robin, at least one whole pass per timed half
    run.op_stat = pass_ms
    run.measure(step, min_steps=len(metrics.MEMBERS))
    return {
        "throughput_per_s": n_docs / (run.op_ms(cpu=False) / 1e3),
        "throughput_per_cpu_s": n_docs / (run.op_ms() / 1e3),
        "layers": layers.corpus_layers(run, capped),
        "notes": {"documents": n_docs, "member_runs": len(run.ops),
                  "member_cpu_ms": {m: round(1e3 * statistics.median(
                      cpu for _, cpu, _, lab in run.ops if lab == m))
                      for m in metrics.MEMBERS}},
    }


WORKLOADS = {"lake_sync_search": lake_sync_search, "corpus_prep": corpus_prep}
