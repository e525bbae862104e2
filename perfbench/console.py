"""sql-console workload: a seeded request mix sent by a closed loop of
clients (each waits for its reply before sending the next request) to the
web console, and the DuckDB checks of every answer.

The server runs as a child process (``console_server.py``); ``run.py``
starts it, times its set-up and calls :func:`drive`.
"""

from __future__ import annotations

import html.parser
import http.client
import itertools
import json
import math
import os
import random
import threading
import time
import urllib.parse

import common
import metrics
import spans
import stats

CLIENTS = 2
# Requests per deck: the mix's shares exactly. 70% /sql, split equally over
# the four SQL kinds the mix names (7 each); 10% /preview, 10% /kpi, 5%
# /explain and 5% invalid SQL.
DECK_SIZE = 40
SQL_PER_KIND = 7
PREVIEWS, KPI_PAGES, EXPLAINS, INVALIDS = 4, 4, 2, 2
WARMUP_REQUESTS = DECK_SIZE // 2
DECK_SECONDS = 7.0
TIMEOUT_S = 60

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PREVIEW_TABLES = ["orders", "lineitem", "customer", "part", "supplier", "nation", "events"]
KPIS = ["payment", "heatmap", "distance"]
INVALID = [
    "SELEC 1",
    "SELECT * FROM no_such_table",
    "SELECT no_such_column FROM orders",
    "SELECT COUNT(* FROM orders",
]


def measured_decks(seconds: float) -> int:
    """Decks in the measured window, shared by the clients: about
    ``seconds`` of work on 4 cores, at least one (40 latency samples).
    Two decks at 14 s: the median falls among the slowest of the fast half
    of a deck, where one deck's 40 samples left it spread by 21% (IQR over
    median) across runs."""
    return max(1, round(seconds / DECK_SECONDS))


def _day(rng: random.Random, lo: int = 1996, hi: int = 2000) -> str:
    return f"{rng.randint(lo, hi)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _sql_kinds():
    """The four SQL kinds of the mix (aggregates, joins, top-k and point
    lookups over orders, lineitem, customer and events) and the statement
    templates of each. Every statement is valid Spark SQL and DuckDB SQL and
    fully ordered, so answers compare row by row."""

    def agg(r):
        return (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
            "AVG(l_discount) AS avg_disc FROM lineitem "
            f"WHERE l_shipdate <= TIMESTAMP '{_day(r)}' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        )

    def join(r):
        y = r.randint(1995, 2000)
        return (
            "SELECT n.n_name, COUNT(*) AS orders, SUM(o.o_totalprice) AS total "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE o.o_orderdate >= TIMESTAMP '{y}-01-01' "
            f"AND o.o_orderdate < TIMESTAMP '{y + 1}-01-01' "
            "GROUP BY n.n_name ORDER BY total DESC, n.n_name LIMIT 10"
        )

    def topk(r):
        return (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_orderpriority = '{r.choice(PRIORITIES)}' "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {r.randint(5, 20)}"
        )

    def customer(r):
        return (
            "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
            f"WHERE c_custkey = {r.randint(0, 1499)}"
        )

    def lines(r):
        return (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
            f"WHERE l_orderkey = {r.randint(0, 14999)} ORDER BY l_linenumber"
        )

    def events(r):
        m = r.choice([3, 5, 7])
        return (
            "SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users, "
            f"SUM(value) AS total FROM events WHERE user_id % {m} = {r.randint(0, m - 1)} "
            "GROUP BY event_type ORDER BY event_type"
        )

    def segment(r):
        return (
            "SELECT c.c_mktsegment, COUNT(DISTINCT o.o_orderkey) AS orders, "
            "SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
            "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            f"WHERE c.c_nationkey = {r.randint(0, 24)} "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"
        )

    return {
        "aggregate": (agg, events),
        "join": (join, segment),
        "topk": (topk,),
        "lookup": (customer, lines),
    }


SQL_KINDS = _sql_kinds()


class Request:
    __slots__ = ("kind", "path", "params", "sql", "label")

    def __init__(self, kind, path, params, sql=None, label=None):
        self.kind, self.path, self.params, self.sql = kind, path, params, sql
        self.label = label or kind

    def url(self) -> str:
        return self.path + "?" + urllib.parse.urlencode(self.params)


def _sql(sql: str, label: str = "sql") -> Request:
    return Request("sql", "/sql", {"q": sql, "format": "json"}, sql, label)


def deck(rng: random.Random, index: int = 0) -> list[Request]:
    """Deck number ``index`` of a stream: DECK_SIZE requests with the mix's
    exact shares, shuffled. A kind's templates, and the KPI pages, take
    turns, starting one further on in each deck, so two decks in a row hold
    a two-template kind's templates 7 and 7 times; the parameters and the
    order are drawn from ``rng``. A /sql request is labelled
    ``<kind>:<template>``."""
    out = []
    for kind, templates in SQL_KINDS.items():
        for i in range(SQL_PER_KIND):
            t = templates[(index + i) % len(templates)]
            out.append(_sql(t(rng), f"{kind}:{t.__name__}"))
    out += [
        Request("preview", "/preview",
                {"table": rng.choice(PREVIEW_TABLES), "n": rng.randint(5, 50), "format": "json"})
        for _ in range(PREVIEWS)
    ]
    out += [Request("kpi", "/kpi", {"which": KPIS[(index + i) % len(KPIS)]})
            for i in range(KPI_PAGES)]
    explainable = [t for k in ("aggregate", "join", "topk") for t in SQL_KINDS[k]]
    for _ in range(EXPLAINS):
        sql = rng.choice(explainable)(rng)
        out.append(Request("explain", "/explain", {"q": sql, "format": "json"}, sql))
    out += [Request("invalid", "/sql", {"q": rng.choice(INVALID), "format": "json"})
            for _ in range(INVALIDS)]
    rng.shuffle(out)
    return out


def requests(rng: random.Random):
    """Endless stream of requests, deck after deck."""
    for index in itertools.count():
        yield from deck(rng, index)


def cold_round(rng: random.Random) -> list[Request]:
    """The first request of each kind a fresh server sees."""
    sql = SQL_KINDS["aggregate"][0](rng)
    return [
        _sql(sql),
        Request("preview", "/preview", {"table": "orders", "n": 20, "format": "json"}),
        Request("kpi", "/kpi", {"which": "payment"}),
        Request("explain", "/explain", {"q": sql, "format": "json"}, sql),
        Request("invalid", "/sql", {"q": INVALID[0], "format": "json"}),
    ]


def fetch(port: int, url: str, timeout: float = TIMEOUT_S) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Recorder:
    def __init__(self) -> None:
        self.samples: list[tuple[Request, int, bytes, float, float]] = []
        self._lock = threading.Lock()

    def add(self, req, status, body, t_start, latency_s) -> None:
        with self._lock:
            self.samples.append((req, status, body, t_start, latency_s))


def closed_loop(port: int, seed: int, phase: str, n: int) -> Recorder:
    """Run CLIENTS threads that take requests from one shared stream; each
    sends its next request only after the previous reply, until ``n``
    requests have been sent in all. A multiple of DECK_SIZE is whole decks,
    a fixed amount of work with the mix's exact shares."""
    rec = Recorder()
    errors: list[BaseException] = []
    stream = requests(random.Random(f"{seed}:{phase}"))
    taken = [0]
    lock = threading.Lock()

    def client() -> None:
        try:
            while True:
                with lock:
                    if taken[0] >= n:
                        return
                    taken[0] += 1
                    req = next(stream)
                t0 = time.time()
                c0 = time.perf_counter()
                try:
                    status, body = fetch(port, req.url())
                except OSError as e:
                    status, body = 0, str(e).encode()
                rec.add(req, status, body, t0, time.perf_counter() - c0)
        except BaseException as e:  # noqa: BLE001 - reported by the caller
            errors.append(e)
            raise

    threads = [threading.Thread(target=client, daemon=True) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=common.RUN_LIMIT_S)
    if errors or any(t.is_alive() for t in threads):
        raise RuntimeError(f"client thread failed: {errors[:1]}")
    return rec


# ---------------------------------------------------------------- checking


class _Tables(html.parser.HTMLParser):
    """Cells of the first <table> in a page."""

    def __init__(self) -> None:
        super().__init__()
        self.rows: list[list[str]] = []
        self._cell: list[str] | None = None
        self._in_table = False

    def handle_starttag(self, tag, attrs):
        if tag == "table" and not self.rows:
            self._in_table = True
        elif self._in_table and tag == "tr":
            self.rows.append([])
        elif self._in_table and tag in ("td", "th"):
            self._cell = []

    def handle_endtag(self, tag):
        if tag == "table":
            self._in_table = False
        elif tag in ("td", "th") and self._cell is not None:
            self.rows[-1].append("".join(self._cell).strip())
            self._cell = None

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


def html_table(body: bytes) -> list[list[str]]:
    p = _Tables()
    p.feed(body.decode("utf-8", "replace"))
    return p.rows


def same_value(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


def same_rows(got: list[dict], cols: list[str], want: list[tuple]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if list(g) != cols:
            return f"columns {list(g)}, expected {cols}"
        for c, wv in zip(cols, w):
            if not same_value(g[c], _py(wv)):
                return f"row {i} column {c}: {g[c]!r} != {wv!r}"
    return None


def _py(v):
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


class Checker:
    """Expected answers from DuckDB over the same parquet files; the KPI
    pages are checked against a DuckDB twin over the program's seeded KPI
    trips (the same rows the server builds)."""

    def __init__(self, trips_n: int = 5000) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in sorted(os.listdir(common.DATA_DIR)):
            if t.endswith(".parquet"):
                path = os.path.join(common.DATA_DIR, t)
                self.con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
        self.trips_n = trips_n
        self._cache: dict = {}
        self._kpi: dict | None = None

    def expected_sql(self, sql: str):
        if sql not in self._cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._cache[sql] = (cols, cur.fetchall())
        return self._cache[sql]

    def table_info(self, table: str):
        key = ("table", table)
        if key not in self._cache:
            n = self.con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
            cols = [
                r[0] for r in self.con.execute(f"DESCRIBE {table}").fetchall()
                if not r[1].endswith("[]") and not r[1].startswith(("STRUCT", "MAP"))
            ]
            self._cache[key] = (n, cols)
        return self._cache[key]

    def kpi_expected(self, which: str) -> list[list[str]]:
        if self._kpi is None:
            self._kpi = self._kpi_twin()
        return self._kpi[which]

    def _kpi_twin(self) -> dict:
        common.import_program()
        from nyc_taxi_pyspark_spark.datagen import make_trips_pdf
        from nyc_taxi_pyspark_spark.schemas import PAYMENT_LOOKUP_ROWS

        trips = make_trips_pdf(n=self.trips_n)  # noqa: F841 - read by DuckDB
        self.con.register("kpi_trips", trips)
        featured = f"""
            WITH cleaned AS (SELECT DISTINCT * FROM kpi_trips WHERE {CLEAN_PRED}),
            f AS (
                SELECT *, CAST(hour(tpep_pickup_datetime) AS INTEGER) AS pickup_hour,
                       CAST(dayofweek(tpep_pickup_datetime) + 1 AS INTEGER) AS pickup_dow,
                       CASE WHEN trip_distance >= 10 THEN '>=10mi'
                            WHEN trip_distance >= 5 THEN '5-10mi'
                            WHEN trip_distance >= 2 THEN '2-5mi'
                            WHEN trip_distance >= 1 THEN '1-2mi'
                            ELSE '<1mi' END AS distance_bucket
                FROM cleaned)
        """
        values = ", ".join(f"({c}, '{lab}')" for c, lab in PAYMENT_LOOKUP_ROWS)
        queries = {
            "payment": f"""{featured}
                SELECT COALESCE(l.payment_label, 'Unknown') AS payment_label,
                       COUNT(*) AS trips, {_avg('total_amount')} AS avg_total
                FROM f LEFT JOIN (VALUES {values}) AS l(payment_type, payment_label)
                  ON f.payment_type = l.payment_type
                GROUP BY 1 ORDER BY trips DESC, payment_label""",
            "heatmap": f"""{featured}
                SELECT pickup_dow, pickup_hour, COUNT(*) AS trips,
                       {_avg('total_amount')} AS avg_total
                FROM f GROUP BY 1, 2 ORDER BY 1, 2""",
            "distance": f"""{featured}
                SELECT distance_bucket, COUNT(*) AS trips,
                       {_avg('fare_amount')} AS avg_fare, {_avg('tip_amount')} AS avg_tip
                FROM f GROUP BY 1 ORDER BY trips DESC, distance_bucket""",
        }
        out = {}
        for which, sql in queries.items():
            cur = self.con.execute(sql)
            header = [d[0] for d in cur.description]
            out[which] = [header] + [list(r) for r in cur.fetchall()]
        return out

    def check(self, req: Request, status: int, body: bytes) -> str | None:
        """None when the reply is right, else what is wrong."""
        if req.kind == "invalid":
            return None if status == 400 else f"invalid SQL got HTTP {status}"
        if status != 200:
            return f"HTTP {status}: {body[:200]!r}"
        if req.kind == "sql":
            cols, rows = self.expected_sql(req.sql)
            return same_rows(json.loads(body), cols, rows)
        if req.kind == "preview":
            n_rows, cols = self.table_info(req.params["table"])
            got = json.loads(body)
            want = min(req.params["n"], n_rows)
            if len(got) != want:
                return f"preview {len(got)} rows, expected {want}"
            if got and sorted(got[0]) != sorted(cols):
                return f"preview columns {sorted(got[0])}, expected {sorted(cols)}"
            return None
        if req.kind == "explain":
            got = json.loads(body)
            ok = "Physical Plan" in got.get("plan", "") and isinstance(got.get("shuffles"), int)
            return None if ok else "explain reply lacks a physical plan"
        if req.kind == "kpi":
            got = html_table(body)
            want = self.kpi_expected(req.params["which"])
            if len(got) != len(want) or got[0] != want[0]:
                return f"kpi table shape {len(got)} rows, expected {len(want)}"
            for g, w in zip(got[1:], want[1:]):
                if not all(same_value(_num(a), _py(b)) for a, b in zip(g, w)):
                    return f"kpi row {g} != {w}"
            return None
        return f"unknown request kind {req.kind}"


CLEAN_PRED = """
        passenger_count BETWEEN 1 AND 6
    AND trip_distance > 0 AND trip_distance <= 100
    AND fare_amount BETWEEN 0 AND 500
    AND total_amount BETWEEN 0 AND 1000
    AND tip_amount BETWEEN 0 AND 200
    AND tpep_pickup_datetime IS NOT NULL
    AND tpep_dropoff_datetime IS NOT NULL
    AND tpep_dropoff_datetime > tpep_pickup_datetime
    AND pickup_latitude BETWEEN 40 AND 42
    AND pickup_longitude BETWEEN -75 AND -72
    AND dropoff_latitude BETWEEN 40 AND 42
    AND dropoff_longitude BETWEEN -75 AND -72
"""


def _avg(col: str) -> str:
    """Exact-cents average with floor rounding to 2 places, as the KPI
    operators compute it."""
    s = f"CAST(SUM(TRY_CAST(ROUND({col} * 100.0) AS BIGINT)) AS DOUBLE) / 100.0"
    return f"CAST(FLOOR(({s} / COUNT({col})) * 100.0 + 0.5) AS DOUBLE) / 100.0"


def _num(text: str):
    try:
        return int(text)
    except ValueError:
        try:
            return float(text)
        except ValueError:
            return text


def drive(port: int, seed: int, seconds: float, outcomes: stats.Outcomes,
          toggle_trace=None) -> dict:
    """Cold round, warm-up, then the measured closed loop. With
    ``toggle_trace`` (a traced run) the measured window is four slices of
    one deck each, span recording off, on, on and off, which cancels a
    steady warm-up trend."""
    checker = Checker()
    rng = random.Random(seed)
    t0 = time.perf_counter()
    cold = []
    for req in cold_round(rng):
        c0 = time.perf_counter()
        status, body = fetch(port, req.url())
        cold.append((req, status, body, time.time(), time.perf_counter() - c0))
    cold_s = time.perf_counter() - t0

    if toggle_trace:
        toggle_trace(False)
    closed_loop(port, seed, "warmup", WARMUP_REQUESTS)
    slices: list[tuple[bool, Recorder, tuple[float, float]]] = []
    if toggle_trace:
        for i, on in enumerate((False, True, True, False)):
            toggle_trace(on)
            w0 = time.time()
            rec = closed_loop(port, seed, f"slice{i}", DECK_SIZE)
            slices.append((on, rec, (w0, time.time())))
        toggle_trace(False)
    else:
        w0 = time.time()
        rec = closed_loop(port, seed, "measure", measured_decks(seconds) * DECK_SIZE)
        slices.append((False, rec, (w0, time.time())))
    halves = [[s for on, r, _w in slices if on == state for s in r.samples]
              for state in (False, True)]
    measured = halves[0] + halves[1]
    window_s = max(s[3] + s[4] for s in measured) - min(s[3] for s in measured)

    correct_measured = 0
    for i, (req, status, body, _t, _lat) in enumerate(cold + measured):
        problem = checker.check(req, status, body)
        outcomes.record(problem is None, f"{req.kind} {req.url()[:160]}: {problem}")
        correct_measured += problem is None and i >= len(cold)
    lat_ms = [s[4] * 1000 for s in measured]
    return {
        "cold_s": cold_s,
        "ops_per_s": correct_measured / window_s,
        "op_p50_ms": stats.percentile(lat_ms, 50),
        "latency_samples": len(lat_ms),
        "window_s": window_s,
        "status_4xx": sum(1 for s in measured if 400 <= s[1] < 500),
        "status_5xx": sum(1 for s in measured if s[1] >= 500 or s[1] == 0),
        "latency_ms": [(s[0].label, round(s[4] * 1000, 1)) for s in measured],
        "latency_off_s": [s[4] for s in halves[0]],
        "latency_on_s": [s[4] for s in halves[1]],
        "traced_windows": [w for on, _r, w in slices if on],
    }


def layer_metrics(port: int, workdir: str, res: dict, outcomes: stats.Outcomes) -> dict:
    """Per-layer figures of the traced half of the measured window, from the
    server's spans and Spark event log. Stops the server's Spark session."""
    _status, body = fetch(port, "/__perfbench/spans")
    data = json.loads(body)
    fetch(port, "/__perfbench/stop")  # completes the event log
    windows = res["traced_windows"]
    all_spans = data["spans"]
    traced = {
        s["trace"] for s in all_spans
        if s["name"] == "serve.handler" and any(w0 <= s["start"] <= w1 for w0, w1 in windows)
    }
    in_window = [s for s in all_spans if s["trace"] in traced]

    def mean_ms(name: str, pool=in_window) -> float:
        ds = [s["end"] - s["start"] for s in pool if s["name"] == name]
        return sum(ds) / len(ds) * 1000 if ds else 0.0

    def total_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in all_spans if s["name"] == name)

    log = spans.parse_event_log(spans.event_log_files(os.path.join(workdir, "eventlog")))
    jobs = [j for j in log["jobs"].values() if (j["group"] or "")[3:] in traced]
    off, on = res["latency_off_s"], res["latency_on_s"]
    handler_ms = mean_ms("serve.handler")
    n_req = len(traced)
    out = dict.fromkeys(metrics.PER_LAYER, 0.0)
    out.update(metrics.spark_layers(spans.sum_jobs(jobs), n_req,
                                    sum(w1 - w0 for w0, w1 in windows), common.CORES))
    out.update({
        "session.start_s": total_s("session.start"),
        "sources.register_views_s": total_s("sources.register_views"),
        "sources.load_table_calls": sum(s["name"] == "sources.load_table" for s in in_window),
        "operators.calls": sum(s["name"] == "operators.call" for s in in_window),
        "plans.plan_ms": mean_ms("plans.plan"),
        "plans.exchanges": data["counts"].get("plans.exchanges", 0),
        "serve.analyze_ms": mean_ms("serve.analyze"),
        "serve.collect_ms": mean_ms("serve.collect"),
        "serve.handler_ms": handler_ms,
        "serve.wait_ms": sum(on) / len(on) * 1000 - handler_ms,
        "serve.jobs_per_request": len(jobs) / n_req if n_req else 0.0,
        "serve.status_4xx": res["status_4xx"],
        "serve.status_5xx": res["status_5xx"],
        "failed_share": outcomes.failed_share,
        "trace.overhead_pct": (stats.median(on) - stats.median(off)) / stats.median(off) * 100,
    })
    with open(os.path.join(workdir, "spans-sql-console.json"), "w") as f:
        json.dump({
            "spans": all_spans,
            "self_times_s": spans.self_times(in_window),
            "counts": data["counts"],
            "layers": out,
        }, f, default=str)
    return out
