"""zq_interactive: one closed-loop client sending zed-language queries
through `ZedSession.query`, fetching up to 10,001 rows per query.

The query texts come from eight templates (filter + `count() by`,
multi-aggregate `summarize`, `every(1h)`, `sort | head`, `cut`, a
`join`, a grouped average and a point lookup) over the `events`,
`lineitem`, `orders` and `customer` tables. The template order is
shuffled per cycle and every cycle uses each template once; the timed
window runs whole cycles, so each run sends the same mix. The
constants come from the seed, so texts rarely repeat while tables
always do; see `query_sequence` for how they are spread. Each template
carries the DuckDB SQL that must give the same rows.
"""

from __future__ import annotations

import random
import time

import common
import compare
import data
from engine import start_engine

FETCH = 10_001
# untimed cycles before the window; with one, the window's first two
# cycles still ran about 25% slower than later ones (JIT warm-up)
WARM_CYCLES = 2
PHI = (5**0.5 - 1) / 2


def _templates():
    """(name, tables, ordered, make(rng, u) -> (zed, sql)); u in [0, 1)
    places the constant that most changes the query's cost within its
    range, and rng draws the others."""

    def filter_count(r, u):
        et, v = r.choice(data.EVENT_TYPES), round(180 * u, 2)
        return (
            f"from events | where event_type=='{et}' and value > {v} | count() by user_id",
            f"SELECT user_id, COUNT(*) AS count FROM events "
            f"WHERE event_type='{et}' AND value > {v} GROUP BY user_id",
        )

    def multi_agg(r, u):
        q, d = 1 + int(45 * u), r.randint(0, 10) / 100
        return (
            f"from lineitem | where l_quantity > {q} and l_discount <= {d} "
            "| summarize n:=count(), qty:=sum(l_quantity), mx:=max(l_extendedprice), "
            "mn:=min(l_tax) by l_returnflag, l_linestatus",
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
            "MAX(l_extendedprice) AS mx, MIN(l_tax) AS mn FROM lineitem "
            f"WHERE l_quantity > {q} AND l_discount <= {d} GROUP BY 1, 2",
        )

    def every_hour(r, u):
        v = round(10 + 180 * u, 2)
        return (
            f"from events | where value < {v} | count() by every(1h), event_type",
            "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts, event_type, "
            f"COUNT(*) AS count FROM events WHERE value < {v} GROUP BY 1, 2",
        )

    def sort_head(r, u):
        day, k = 1 + int(27 * u), r.randint(10, 100)
        ts = f"2001-07-{day:02d}T00:00:00Z"
        return (
            f"from orders | where o_orderdate >= {ts} "
            f"| sort -r o_totalprice, o_orderkey | head {k}",
            f"SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-07-{day:02d}' "
            f"ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT {k}",
        )

    def cut(r, u):
        seg, b = r.choice(data.SEGMENTS), round(5000 + 4900 * u, 2)
        return (
            f"from customer | where c_acctbal > {b} and c_mktsegment=='{seg}' "
            "| cut c_custkey, c_name, c_acctbal",
            "SELECT c_custkey, c_name, c_acctbal FROM customer "
            f"WHERE c_acctbal > {b} AND c_mktsegment='{seg}'",
        )

    def join(r, u):
        p = round(300_000 + 195_000 * u, 2)
        return (
            f"from orders | where o_totalprice > {p} "
            "| join (from customer) on o_custkey=c_custkey seg:=c_mktsegment "
            "| count() by seg",
            "SELECT c_mktsegment AS seg, COUNT(*) AS count FROM orders "
            f"JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > {p} GROUP BY 1",
        )

    def grouped_avg(r, u):
        n = 100 + int((data.EVENT_USERS - 199) * u)
        return (
            f"from events | where user_id < {n} "
            "| summarize n:=count(), total:=sum(value), avg_v:=avg(value) by event_type",
            "SELECT event_type, COUNT(*) AS n, SUM(value) AS total, AVG(value) AS avg_v "
            f"FROM events WHERE user_id < {n} GROUP BY event_type",
        )

    def lookup(r, u):
        user = int(data.EVENT_USERS * u)
        return (
            f"from events | where user_id == {user} | sort ts | cut ts, event_type, value",
            "SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events "
            f"WHERE user_id = {user} ORDER BY ts",
        )

    return [
        ("filter_count", ["events"], False, filter_count),
        ("multi_agg", ["lineitem"], False, multi_agg),
        ("every_hour", ["events"], False, every_hour),
        ("sort_head", ["orders"], True, sort_head),
        ("cut", ["customer"], False, cut),
        ("join", ["orders", "customer"], False, join),
        ("grouped_avg", ["events"], False, grouped_avg),
        ("lookup", ["events"], True, lookup),
    ]


TEMPLATES = _templates()


def spread_point(start: float, i: int) -> float:
    """The i-th point of a golden-ratio sequence from `start`: any run of
    consecutive points covers [0, 1) evenly (at most three gap sizes)."""
    return (start + i * PHI) % 1.0


def query_sequence(seed: int, cycles: int) -> list[dict]:
    """Seeded ops: each cycle is every template once, shuffled. Each
    template's cost-setting constant steps through its range from a
    seeded start, so the cycles of any run cover the range evenly and
    runs with different seeds do about the same work."""
    r = random.Random(seed)
    start = {t[0]: r.random() for t in TEMPLATES}
    ops = []
    for c in range(cycles):
        for name, tables, ordered, make in r.sample(TEMPLATES, len(TEMPLATES)):
            zed, sql = make(r, spread_point(start[name], c))
            ops.append(dict(template=name, tables=tables, ordered=ordered, zed=zed, sql=sql))
    return ops


def run(args, work: str, tmp: str, table_dir: str, tracer=None) -> dict:
    from zed_spark.session import ZedSession

    import spans as sp

    def first(spark):
        z = ZedSession(spark)
        z.query("from region | count()", sf_dir=table_dir).df.collect()
        return z

    t = time.perf_counter()
    spark, z, setup_times = start_engine(tmp, first)
    phases = {"start": time.perf_counter() - t}
    sc = spark.sparkContext
    if tracer is not None:
        tracer.jobs_in_group = sp.job_counter(sc)
        sp.install_engine_wrappers(tracer)

    def one(op, rid, traced):
        """Run one query; return (seconds, rows, cols, layer record)."""
        if not traced:
            t0 = time.perf_counter()
            ldf = z.query(op["zed"], sf_dir=table_dir).df.limit(FETCH)
            rows = ldf.collect()
            return time.perf_counter() - t0, rows, ldf.columns, None
        with tracer.op(rid):
            sc.setJobGroup(rid, rid)
            t0 = time.perf_counter()
            ldf = z.query(op["zed"], sf_dir=table_dir).df.limit(FETCH)
            t1 = time.perf_counter()
            build_jobs = tracer.jobs_in_group(rid)
            with tracer.span("exec.action"):
                rows = ldf.collect()
            t2 = time.perf_counter()
        sp.drain_listener(sc)
        jobs = sp.group_job_ids(sc, rid)
        rec = dict(build_s=t1 - t0, exec_s=t2 - t1, build_jobs=build_jobs,
                   catalyst=sp.catalyst_phases(ldf),
                   stages=sp.stage_totals(sc, sorted(jobs)[build_jobs:]),
                   jobs=len(jobs) - build_jobs)
        sc.setJobGroup("idle", "idle")
        return t2 - t0, rows, ldf.columns, rec

    # warm-up: whole cycles outside the timed window
    t = time.perf_counter()
    warm = query_sequence(args.seed + 1_000_003, WARM_CYCLES)
    results = []
    for op in warm:
        _, rows, cols, _ = one(op, "warm", False)
        results.append((op, cols, rows))
    phases["warm"] = time.perf_counter() - t

    ops = query_sequence(args.seed, 400)
    lat, recs, traced_lat, plain_lat, by_template = [], [], {}, {}, {}
    before = common.cpu_times()
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    i = 0
    # whole cycles only, so every run sends the same template mix
    while i < len(ops) and (time.perf_counter() < deadline or i % len(TEMPLATES)):
        op = ops[i]
        # traced runs alternate traced and untraced queries, so the
        # tracing overhead is measured on the same mix in the same run
        traced = tracer is not None and i % 2 == 0
        dt, rows, cols, rec = one(op, f"q{i}", traced)
        lat.append(dt)
        by_template.setdefault(op["template"], []).append(dt)
        (traced_lat if traced else plain_lat).setdefault(op["template"], []).append(dt)
        if rec is not None:
            rec["rid"], rec["template"] = f"q{i}", op["template"]
            recs.append(rec)
        results.append((op, cols, rows))
        i += 1
    wall = time.perf_counter() - t_start
    steal = common.steal_pct(before, common.cpu_times())
    done = ops[:i]

    # correctness, outside the timed window
    t = time.perf_counter()
    oracle = compare.Oracle(table_dir, ["events", "lineitem", "orders", "customer"])
    failures = []
    for op, cols, rows in results:
        d_cols, d_rows = oracle.rows(op["sql"])
        why = compare.compare_rows(cols, [tuple(r) for r in rows], d_cols, d_rows, op["ordered"])
        if why:
            failures.append(f"{op['template']}: {why} [{op['zed']}]")
    oracle.close()
    phases["check"] = time.perf_counter() - t

    in_rows = sum(sum(data.ROWS[t] for t in op["tables"]) for op in done)
    out = dict(
        spark=spark, setup_times=setup_times, latencies=lat, wall=wall,
        attempted=len(results), failures=failures, steal=steal,
        rows_per_s=in_rows / wall, ops_per_s=len(done) / wall,
        layer_recs=recs, traced_lat=traced_lat, plain_lat=plain_lat,
        rss=common.engine_peak_rss_mb(spark), cores=sc.defaultParallelism,
        info={"phases_s": {k: round(v, 2) for k, v in phases.items()},
              "tmpl_p50_ms": {k: round(1000 * common.median(v), 2)
                              for k, v in sorted(by_template.items())}},
    )
    return out
