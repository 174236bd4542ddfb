"""``gql_oltp``: one TCP client in a closed loop sends a seeded GQL
statement stream to ``GQLServer`` over a base graph bound from the
fixtures and flushed at setup.

Every round sends the same statement mix in the same order: four
buffered INSERT NODE (two Customer, two Order), one INSERT EDGE, a point
MATCH by primary key, a filter + COUNT MATCH, a one-hop chain MATCH, and
an UPDATE and a DELETE by primary key. Half of the point reads and
mutations hit keys inserted during the run, which are still in the
engine's buffer; the rest hit flushed keys. The seed picks the keys and
values. There is no flush during the mix.

Every reply is checked against a model of the graph kept by the
client. After the mix the data dir is reopened (manifest plus replay of
the unflushed log) and every acknowledged insert, update and delete is
checked on the reopened engine; a traced run then flushes it.
"""

from __future__ import annotations

import collections
import os
import random
import re
import socket
import statistics
import sys
import time

# Customer (1,500 rows at sf0.01) stays below this, so it gets min/max
# zones only; Order (15,000 rows) is above it and also gets Bloom
# sidecars. The engine's default (100,000) makes the same split at sf0.1.
ZONE_BLOOM_ROWS = 10_000

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
# One round, in this order. Statements that pick a key take it from the
# run's own inserts when ``(round + position)`` is even, otherwise from
# the flushed base graph, so every round has the same shape and each
# class alternates between buffered and flushed keys from round to round.
ROUND = (
    "insert_customer",
    "insert_order",
    "insert_edge",
    "match_point",
    "insert_customer",
    "update",
    "insert_order",
    "match_chain",
    "delete",
    "match_count",
)
KIND = {
    "insert_customer": "insert",
    "insert_order": "insert",
    "insert_edge": "mutate",
    "update": "mutate",
    "delete": "mutate",
    "match_point": "match",
    "match_count": "match",
    "match_chain": "match",
}
# Latencies are kept per class, with both INSERT NODE labels as one.
GROUP = {"insert_customer": "insert_node", "insert_order": "insert_node"}
# ``--seconds`` buys one warm round per this many seconds (a warm round
# takes 13-18 s on 4 cores), and a run makes at least one, so every run
# does the same work. The log of every round's writes is replayed
# at reopen, so each round also lengthens recovery.
SECONDS_PER_ROUND = 15.0
WIRE_PROBES = 20
REPLY_TIMEOUT_S = 60.0
# Per-layer metrics of the registry workloads that a statement stream
# does not exercise; they read 0.
LAYERS_NOT_EXERCISED = ("embeddings.ann_build_s",)
_COUNT_RE = re.compile(r"map\[n_rows:(\d+)\]")
_PRUNE_RE = re.compile(r"ZonePruning: \w+ \w+: kept (\d+)/(\d+) leafs")


class Model:
    """What the graph must hold after every acknowledged statement."""

    def __init__(self, sf_dir: str, rng: random.Random) -> None:
        import pyarrow.parquet as pq

        self.rng = rng
        orders = pq.read_table(
            os.path.join(sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_custkey", "o_orderpriority"],
        ).to_pydict()
        self.flushed_customers = pq.read_table(
            os.path.join(sf_dir, "customer.parquet"), columns=["c_custkey"]
        ).column(0).to_pylist()
        self.priority = dict(zip(orders["o_orderkey"], orders["o_orderpriority"]))
        self.flushed_orders = list(self.priority)
        self.by_priority = collections.Counter(self.priority.values())
        self.edges: dict[int, set[int]] = collections.defaultdict(set)
        for o, c in zip(orders["o_orderkey"], orders["o_custkey"]):
            self.edges[c].add(o)
        self.new_customers: list[int] = []
        self.new_orders: list[int] = []
        self.unlinked_orders: list[int] = []
        self.deleted: set[int] = set()
        self.touched: set[int] = set()
        self.new_edges: list[tuple[int, int]] = []
        self._next_c = 1_000_000
        self._next_o = 10_000_000
        self.fresh_turn = False

    def pick(self, flushed: list[int], fresh: list[int]) -> int:
        """A live key, from the run's own inserts on a fresh turn."""
        pool = fresh if fresh and self.fresh_turn else flushed
        while True:
            k = self.rng.choice(pool)
            if k not in self.deleted:
                return k

    def statement(self, cls: str, turn: int) -> tuple[str, object]:
        """The statement of class ``cls`` at ``turn`` (round plus
        position in the round) and the expectation its reply is checked
        against."""
        rng = self.rng
        self.fresh_turn = turn % 2 == 0
        if cls == "insert_customer":
            k = self._next_c
            self._next_c += 1
            return (
                f"INSERT NODE Customer (c_custkey: {k}, c_name: 'Customer#{k}', "
                f"c_nationkey: {rng.randrange(25)}, c_acctbal: {rng.randrange(100000) / 100}, "
                f"c_mktsegment: '{rng.choice(SEGMENTS)}');",
                ("customer", k),
            )
        if cls == "insert_order":
            k = self._next_o
            self._next_o += 1
            c = self.pick(self.flushed_customers, self.new_customers)
            p = rng.choice(PRIORITIES)
            return (
                f"INSERT NODE Order (o_orderkey: {k}, o_custkey: {c}, o_orderstatus: 'O', "
                f"o_totalprice: {rng.randrange(10_000_000) / 100}, o_orderpriority: '{p}');",
                ("order", k, p),
            )
        if cls == "insert_edge":
            c = self.pick(self.flushed_customers, self.new_customers)
            if self.unlinked_orders:
                o = self.unlinked_orders[-1]
            else:
                o = self.pick(self.flushed_orders, [])
                while o in self.edges[c]:
                    o = self.pick(self.flushed_orders, [])
            return (
                f"INSERT EDGE Placed FROM Customer(c_custkey: {c}) TO Order(o_orderkey: {o});",
                ("edge", c, o),
            )
        if cls == "match_point":
            if turn // 2 % 2 == 1:
                k = self.pick(self.flushed_customers, self.new_customers)
                return (
                    f"MATCH Customer WHERE c_custkey: {k};",
                    ("point", f"c_custkey:{k} c_mktsegment:", None),
                )
            k = self.pick(self.flushed_orders, self.new_orders)
            return (
                f"MATCH Order WHERE o_orderkey: {k};",
                (
                    "point",
                    f"o_orderkey:{k} o_orderpriority:",
                    f"o_orderpriority:{self.priority[k]} o_orderstatus:",
                ),
            )
        if cls == "match_count":
            p = rng.choice(PRIORITIES)
            return (
                f"MATCH Order WHERE o_orderpriority: '{p}' RETURN COUNT(*);",
                ("count", self.by_priority[p]),
            )
        if cls == "match_chain":
            c = self.pick(self.flushed_customers, self.new_customers)
            live = sum(1 for o in self.edges[c] if o not in self.deleted)
            return (
                f"MATCH Customer c, Placed p, Order o WHERE c.c_custkey: {c} "
                f"RETURN o.o_orderkey, o.o_totalprice;",
                ("paths", live),
            )
        if cls == "update":
            k = self.pick(self.flushed_orders, self.new_orders)
            p = rng.choice(PRIORITIES)
            return (
                f"UPDATE NODE Order SET o_orderpriority: '{p}' WHERE o_orderkey: {k};",
                ("update", k, p),
            )
        if cls == "delete":
            k = self.pick(self.flushed_orders, self.new_orders)
            return f"DELETE NODE Order WHERE o_orderkey: {k};", ("delete", k)
        raise ValueError(cls)

    def acknowledge(self, expect) -> None:
        """Apply an acknowledged write to the model."""
        what = expect[0]
        if what == "customer":
            self.new_customers.append(expect[1])
        elif what == "order":
            _, k, p = expect
            self.priority[k] = p
            self.by_priority[p] += 1
            self.new_orders.append(k)
            self.unlinked_orders.append(k)
            self.touched.add(k)
        elif what == "edge":
            _, c, o = expect
            self.edges[c].add(o)
            self.new_edges.append((c, o))
            if self.unlinked_orders and self.unlinked_orders[-1] == o:
                self.unlinked_orders.pop()
        elif what == "update":
            _, k, p = expect
            self.by_priority[self.priority[k]] -= 1
            self.by_priority[p] += 1
            self.priority[k] = p
            self.touched.add(k)
        elif what == "delete":
            k = expect[1]
            self.by_priority[self.priority[k]] -= 1
            self.deleted.add(k)
            self.touched.add(k)
            if k in self.unlinked_orders:
                self.unlinked_orders.remove(k)


def reply_ok(expect, reply: str) -> bool:
    """Whether a reply is the acknowledgement or result the model expects."""
    lines = reply.rstrip("\n").split("\n")
    if not lines[-1].startswith("OK - "):
        return False
    what = expect[0]
    if what == "point":
        rows = [ln for ln in lines if ln.startswith("  ID: ")]
        return len(rows) == 1 and expect[1] in rows[0] and (
            expect[2] is None or expect[2] in rows[0]
        )
    if what == "count":
        m = _COUNT_RE.search(reply)
        return m is not None and int(m.group(1)) == expect[1]
    if what == "paths":
        return sum(1 for ln in lines if ln.startswith("  ID: ")) == expect[1]
    return True


class Client:
    """A line-protocol client: one ``;``-terminated command per line,
    replies end with a blank line after the ``OK``/error trailer."""

    def __init__(self, port: int) -> None:
        # A reply that never comes fails the run instead of hanging it.
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=REPLY_TIMEOUT_S)
        self.f = self.sock.makefile("rwb")
        self._read_reply()  # welcome banner

    def _read_reply(self) -> str:
        lines: list[str] = []
        while True:
            raw = self.f.readline()
            if not raw:
                raise ConnectionError("server closed the connection")
            ln = raw.decode()
            if ln == "\n" and lines and (
                lines[-1].startswith(("OK - ", "Error executing statement", "No statements"))
                or lines[0].startswith("Parse errors:")
            ):
                return "".join(lines)
            lines.append(ln)
            if lines[0].startswith("Welcome") and len(lines) == 4:
                return "".join(lines)

    def send(self, command: str) -> str:
        self.f.write(command.encode() + b"\n")
        self.f.flush()
        return self._read_reply()

    def close(self) -> None:
        self.sock.settimeout(5.0)
        self.f.write(b"quit\n")
        self.f.flush()
        self.f.readline()
        self.f.close()
        self.sock.close()




def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _log_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("commitlog")
    )


def _bind_base_graph(spark, sf_dir: str, data_dir: str):
    from grapho_spark.engine import GraphEngine
    from grapho_spark.tables import load_table

    eng = GraphEngine(spark, data_dir=data_dir, zone_bloom_rows=ZONE_BLOOM_ROWS)
    orders = load_table(spark, sf_dir, "orders")
    eng.bind_node_type("Customer", load_table(spark, sf_dir, "customer"), pk="c_custkey")
    eng.bind_node_type(
        "Order",
        orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
        pk="o_orderkey",
    )
    eng.bind_edge_type(
        "Placed",
        orders.select("o_custkey", "o_orderkey"),
        src="o_custkey",
        dst="o_orderkey",
        from_label="Customer",
        to_label="Order",
    )
    eng.flush()
    return eng


def _traced_statement(tracer, engine, cls: str, command: str) -> str:
    """``execute_command``'s steps, called one by one inside spans."""
    from grapho_spark.engine.engine import EngineError
    from grapho_spark.gql import ast
    from grapho_spark.gql.parser import parse_script
    from grapho_spark.server import render_match

    with tracer.operation("stmt", cls):
        with tracer.span("gql.parse"):
            stmts, errors = parse_script(command)
        if errors:
            return "Parse errors:\n" + "".join(f"  {e}\n" for e in errors)
        try:
            with tracer.span("engine.execute"):
                results = engine.execute_statements(stmts)
        except EngineError as e:
            return f"Error executing statement: {e}\n"
        out = []
        with tracer.span("server.render"):
            for stmt, res in zip(stmts, results):
                if isinstance(stmt, ast.MatchStmt):
                    out.append(render_match(stmt, res).rstrip("\n"))
                elif res.message:
                    out.append(res.message)
    out.append(f"OK - {len(stmts)} statement(s) executed successfully")
    return "\n".join(out) + "\n"


def _zone_kept(tracer, engine, command: str) -> tuple[int, int]:
    """Kept and total leafs from ``EXPLAIN`` of a point read."""
    from grapho_spark.server import execute_command

    with tracer.operation("explain", "match_point"):
        plan = execute_command(engine, "EXPLAIN " + command)
    kept = total = 0
    for m in _PRUNE_RE.finditer(plan):
        kept += int(m.group(1))
        total += int(m.group(2))
    return kept, total


def _verify_reopened(engine, model: Model) -> tuple[int, int]:
    """Checks on the reopened engine; returns (attempted, failed)."""
    from pyspark.sql import functions as F

    attempted = failed = 0
    touched = sorted(model.touched)
    got = dict(
        engine.node_df("Order")
        .filter(F.col("o_orderkey").isin(touched))
        .select("o_orderkey", "o_orderpriority")
        .collect()
    )
    for k in touched:
        attempted += 1
        want = None if k in model.deleted else model.priority[k]
        if got.get(k) != want:
            failed += 1
            print(f"perfbench: DURABILITY MISMATCH Order {k}: {got.get(k)!r} != {want!r}", file=sys.stderr)
    new_c = model.new_customers
    have_c = {
        r[0]
        for r in engine.node_df("Customer")
        .filter(F.col("c_custkey").isin(new_c))
        .select("c_custkey")
        .collect()
    }
    for k in new_c:
        attempted += 1
        if k not in have_c:
            failed += 1
            print(f"perfbench: DURABILITY MISMATCH Customer {k} missing", file=sys.stderr)
    cust = engine.node_df("Customer").select(F.col("_id").alias("_src"), "c_custkey")
    order = engine.node_df("Order").select(F.col("_id").alias("_dst"), "o_orderkey")
    have_e = {
        (r[0], r[1])
        for r in engine.edge_df("Placed")
        .join(cust, "_src")
        .join(order, "_dst")
        .filter(F.col("o_orderkey").isin([o for _, o in model.new_edges]))
        .select("c_custkey", "o_orderkey")
        .collect()
    }
    for c, o in model.new_edges:
        if o in model.deleted:
            continue
        attempted += 1
        if (c, o) not in have_e:
            failed += 1
            print(f"perfbench: DURABILITY MISMATCH edge {c}->{o} missing", file=sys.stderr)
    return attempted, failed


def run(ctx) -> dict:
    from grapho_spark.engine import GraphEngine
    from grapho_spark.server import GQLServer, execute_command

    rng = random.Random(ctx.seed)
    model = Model(ctx.sf_dir, rng)
    data_dir = os.path.join(ctx.work_dir, "gql-data")

    spark, setup = ctx.setup_sessions(python_workers=False)
    t0 = time.perf_counter()
    engine = _bind_base_graph(spark, ctx.sf_dir, data_dir)
    setup["setup_s"] += time.perf_counter() - t0
    ctx.note("base graph bound and flushed")
    base_bytes = _dir_bytes(data_dir)
    log0 = _log_bytes(data_dir)

    server = GQLServer(engine)
    port = server.start_background()
    client = Client(port)
    tracer = ctx.make_tracer(spark)

    attempted = failed = wrong_reads = 0
    user_bytes = 0
    writes = 0
    latency: dict[str, list[float]] = collections.defaultdict(list)
    first_latency: dict[str, list[float]] = collections.defaultdict(list)
    rounds: list[float] = []
    traced_rounds: list[dict] = []
    traced_walls: list[float] = []
    untraced_walls: list[float] = []
    kept = total = 0
    n_warm = max(1, round(ctx.seconds / SECONDS_PER_ROUND))
    if tracer is not None:
        # Traced runs send the first round over TCP, then alternate
        # in-process rounds without and with spans.
        n_warm = 2 * ((n_warm + 1) // 2)
    try:
        for r in range(1 + n_warm):
            mode = "tcp" if tracer is None or r == 0 else ("direct" if r % 2 == 1 else "traced")
            first_op = len(tracer.ops) if tracer is not None else 0
            t_round = time.perf_counter()
            for i, cls in enumerate(ROUND):
                command, expect = model.statement(cls, r + i)
                t0 = time.perf_counter()
                if mode == "tcp":
                    reply = client.send(command)
                elif mode == "direct":
                    reply = execute_command(engine, command)
                else:
                    reply = _traced_statement(tracer, engine, cls, command)
                dt = time.perf_counter() - t0
                attempted += 1
                if mode == "tcp":
                    (latency if r > 0 else first_latency)[GROUP.get(cls, cls)].append(dt)
                if not reply_ok(expect, reply):
                    failed += 1
                    # A read that returned rows other than the model's is
                    # counted; an error reply or a write that was not
                    # acknowledged makes the run incorrect.
                    if KIND[cls] == "match" and reply.rstrip("\n").split("\n")[-1].startswith("OK - "):
                        wrong_reads += 1
                    print(f"perfbench: BAD REPLY to {command!r}:\n{reply}", file=sys.stderr)
                    continue
                if KIND[cls] != "match":
                    model.acknowledge(expect)
                    user_bytes += len(command.encode())
                    writes += 1
                if mode == "traced" and cls == "match_point":
                    k, n = _zone_kept(tracer, engine, command)
                    kept += k
                    total += n
            wall = time.perf_counter() - t_round
            rounds.append(wall)
            ctx.note(f"round {r} ({mode}) {wall:.2f}s")
            if mode == "traced":
                traced_rounds.append(
                    tracer.layer_totals(first_op, "stmt", "engine.execute", "server.render", ctx.cores)
                )
                traced_walls.append(wall)
            elif mode == "direct":
                untraced_walls.append(wall)
        wire = []
        if tracer is not None:
            # A command that fails to parse takes the whole wire path and
            # the server's worker-thread hop but no engine work.
            probe = "MATCH;"
            for _ in range(WIRE_PROBES):
                t0 = time.perf_counter()
                client.send(probe)
                t1 = time.perf_counter()
                execute_command(engine, probe)
                wire.append((t1 - t0) - (time.perf_counter() - t1))
        log_growth = _log_bytes(data_dir) - log0
        statements = attempted
    finally:
        client.close()
        server.stop()

    t0 = time.perf_counter()
    reopened = GraphEngine(spark, data_dir=data_dir, zone_bloom_rows=ZONE_BLOOM_ROWS)
    recovery_s = time.perf_counter() - t0
    ctx.note(f"reopened in {recovery_s:.2f}s")
    a, f = _verify_reopened(reopened, model)
    attempted += a
    failed += f
    ctx.note("checked after reopen")

    report = {
        "order_seed": ctx.seed,
        "statements": statements,
        "wrong_reads": wrong_reads,
        "recovery_s": recovery_s,
        "round_s": rounds,
        "first_round_ms": {c: [1000.0 * x for x in v] for c, v in first_latency.items()},
        "warm_ms": {c: [1000.0 * x for x in v] for c, v in latency.items()},
    }
    out = {"attempted": attempted, "failed": failed, "wrong_reads": wrong_reads, "report": report}
    if tracer is not None:
        # The final flush is timed in traced runs only, which keeps the
        # untraced runs short; nothing traced runs during it.
        before_flush = _dir_bytes(data_dir)
        t0 = time.perf_counter()
        reopened.flush()
        report["flush_s"] = time.perf_counter() - t0
        after_flush = _dir_bytes(data_dir)
        report["bytes_per_user_byte"] = (after_flush - base_bytes) / user_bytes
        layers = {k: statistics.median(t[k] for t in traced_rounds) for k in traced_rounds[0]}
        layers["session.start_s"] = setup["start_s"]
        layers["trace.overhead_pct"] = 100.0 * (
            statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0
        )
        del layers["wall_s"]
        spans = tracer.spans
        stmts = [o for o in tracer.ops if o["kind"] == "stmt"]
        layers["gql.parse_ms"] = 1000.0 * statistics.median(
            s["end"] - s["start"] for s in spans if s["name"] == "gql.parse"
        )
        for kind in ("insert", "match", "mutate"):
            ids = {o["op"] for o in stmts if KIND[o["name"]] == kind}
            layers[f"engine.execute_ms.{kind}"] = 1000.0 * statistics.median(
                s["end"] - s["start"] for s in spans if s["name"] == "engine.execute" and s["op"] in ids
            )
        match_ids = {o["op"] for o in stmts if KIND[o["name"]] == "match"}
        layers["server.render_ms"] = 1000.0 * statistics.median(
            s["end"] - s["start"] for s in spans if s["name"] == "server.render" and s["op"] in match_ids
        )
        layers["server.wire_ms"] = 1000.0 * statistics.median(wire)
        layers["engine.jobs_per_stmt"] = statistics.mean(o["jobs"] for o in stmts)
        layers["engine.zones.kept_leaf_frac"] = kept / total
        layers["engine.commitlog.bytes_per_write"] = log_growth / writes
        layers["engine.flush.bytes_written"] = after_flush - before_flush
        report["self_times"] = tracer.self_times()
        report["ops"] = tracer.ops
        report["spans"] = spans
        ctx.finish()
        return dict(out, layers=layers)

    for kind in ("insert", "match", "mutate"):
        xs = [x for c, v in latency.items() if KIND.get(c, "insert") == kind for x in v]
        report[f"{kind}_ms_p50"] = 1000.0 * statistics.median(xs)
    # A round runs each statement class once or twice, and each write
    # makes the later reads and writes slower, so no round repeats
    # another. The round and latency metrics therefore take the median
    # over every round of the run, the first included: two samples of
    # each statement instead of one.
    every = {c: first_latency[c] + latency[c] for c in first_latency}
    e2e = {
        "setup_s": setup["setup_s"],
        "first_pass_s": rounds[0],
        "pass_s": statistics.median(rounds),
        "query_geomean_ms": statistics.geometric_mean(
            1000.0 * statistics.median(v) for v in every.values()
        ),
    }
    # The merge-on-read state grows from round to round.
    report["drift_ratio"] = rounds[-1] / rounds[0]
    e2e["retained_mb"] = ctx.finish()
    return dict(out, e2e=e2e)
