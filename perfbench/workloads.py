"""The benchmark's workloads: inputs, load phases and answer checks.

Every workload has the same shape (see README.md):

- ``prepare()`` builds the client-side inputs and the expected
  answers (DuckDB over the same parquet, or closed forms) before the
  server starts;
- ``load(http)`` creates and fills the server's tables over the wire;
- ``cold_pass()`` runs every request shape (part of set-up);
- ``sweep()`` is the workload's fixed request list, run in passes (one
  request at a time, or all at once with ``sweep_parallel``); set-up
  ends with ``warm_passes`` of it;
- ``next_request(worker)`` feeds the loops; worker ``i`` owns
  connection ``i``, whose wire is ``wires[i]``; set-up ends with
  ``warm_requests`` of them on every connection;
- ``check(req, rows, worker)`` says whether an answer is right, or
  returns None when only ``check_late`` can tell after the run.

A request is a small dict: ``wire``, ``cls`` (the query class), ``sql``
and ``fmt``.

Set-up warms up by a fixed amount of work, and the timed sweeps are a
fixed number of passes, so the server is equally warm at every point
of the timed phase whatever the host's speed: on a slow host, a warm-up
or a phase bounded by time instead would leave the later phases less
warmed, and slower still.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import sys

from server import REPO_ROOT

sys.path.insert(0, REPO_ROOT)

HTTP_FORMATS = ("TSV", "JSONEachRow", "JSONCompact", "CSVWithNames")


def canon(v):
    """Wire-independent form of one answer cell."""
    if v is None:
        return None
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v)
    if s == "\\N":  # NULL in the TSV and CSV formats
        return None
    try:
        return float(s)
    except ValueError:
        return s


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(map(canon, g), map(canon, w)):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def _cached(path: str, make) -> str:
    if not os.path.exists(path):
        tmp = path + ".tmp"
        make(tmp)
        os.replace(tmp, path)
    return path


class Workload:
    wires: tuple[str, ...] = ("http", "native", "http", "native")
    # the timed phase, in this order, as shares of --seconds: the
    # sweeps, the open loop, the closed loop
    sweep_share = 1.0
    sweep_pass_s = 1.0  # a pass's wall time on a 4-core box: passes = share * seconds / this
    sweep_parallel = False  # True: a pass sends its requests all at once
    open_loop_rate = 0.0  # requests/s over all workers; 0 = no open-loop phase
    open_loop_share = 0.0
    closed_loop_share = 0.0  # 0 = no closed-loop phase
    warm_passes = 0  # passes over the fixed list at the end of set-up
    warm_requests = 0  # loop requests per connection at the end of set-up

    def __init__(self, files_dir: str, seed: int):
        self.files_dir = files_dir
        # one generator per worker plus one for set-up and sweeps, so
        # the inputs do not depend on how the worker threads interleave
        self.rngs = [random.Random(seed * 1000 + i) for i in range(len(self.wires) + 1)]
        self.rng = self.rngs[-1]
        self.seq = [0] * len(self.rngs)


# ------------------------------------------------------------------ dashboard

# 100k, not 1M: at 1M the same rate keeps the server about half busy
# and host steal tips the open loop into queueing (see README.md)
HITS_ROWS = 100_000
HITS_COLS = (
    "WatchID Int64, Title String, EventTime DateTime, EventDate Date, CounterID Int32, "
    "ClientIP Int64, RegionID Int32, UserID Int64, URL String, Referer String, "
    "IsRefresh Int16, ResolutionWidth Int32, SearchEngineID Int32, SearchPhrase String, "
    "AdvEngineID Int16, DontCountHits Int16, TraficSourceID Int16, URLHash Int64"
)
HITS_NAMES = ", ".join(c.split()[0] for c in HITS_COLS.split(", "))
_AFTER_ALL_ROWS = dt.datetime(2013, 8, 1)  # tools.gen_hits draws July 2013

# (query, DuckDB text when the CH spelling differs)
HOT = (
    ("SELECT count() AS c, sum(ResolutionWidth) AS w FROM hits WHERE CounterID = 62 AND IsRefresh = 0", None),
    ("SELECT RegionID, count() AS c FROM hits WHERE CounterID = 62 GROUP BY RegionID ORDER BY c DESC, RegionID LIMIT 10", None),
    ("SELECT toDate(EventTime) AS d, count() AS c FROM hits WHERE CounterID = 62 AND DontCountHits = 0 GROUP BY d ORDER BY d",
     "SELECT CAST(EventTime AS DATE) AS d, count() AS c FROM hits WHERE CounterID = 62 AND DontCountHits = 0 GROUP BY d ORDER BY d"),
    ("SELECT SearchEngineID, count() AS c, uniqExact(UserID) AS u FROM hits WHERE SearchPhrase <> '' GROUP BY SearchEngineID ORDER BY c DESC, SearchEngineID",
     "SELECT SearchEngineID, count() AS c, count(DISTINCT UserID) AS u FROM hits WHERE SearchPhrase <> '' GROUP BY SearchEngineID ORDER BY c DESC, SearchEngineID"),
)


def hits_file(files_dir: str) -> str:
    from tools.gen_hits import generate

    return _cached(
        os.path.join(files_dir, f"hits_{HITS_ROWS}.parquet"),
        lambda p: generate(p, HITS_ROWS),
    )


class Dashboard(Workload):
    """Short filter/aggregate reads over a hits table, both wires.

    ``hot``: the exact texts of ``HOT``, well under the 128-entry plan
    cache. ``cold``: template literals drawn so that no text repeats.
    """

    sweep_share = 0.2
    sweep_pass_s = 0.6
    # under a third of the 18-25 requests/s that the same connections
    # complete in the closed loop on a 4-core box (see README.md)
    open_loop_rate = 6.0
    open_loop_share = 0.3
    closed_loop_share = 0.5
    # the sweep's pass time falls from 0.9 s to 0.65 s over its first
    # 60 requests after the cold pass, and only slowly after that; the
    # loop requests warm the cold templates
    warm_passes = 8
    warm_requests = 6

    def prepare(self) -> None:
        import duckdb

        path = hits_file(self.files_dir)
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        self.db.execute(f"CREATE TABLE hits AS SELECT {HITS_NAMES} FROM read_parquet('{path}')")
        self.expected = {q: self.db.execute(o or q).fetchall() for q, o in HOT}
        # counters of similar size (frequency ranks 20-60), so that the
        # cost of a cold text does not hinge on which one the seed draws
        self.counters = [r[0] for r in self.db.execute(
            "SELECT CounterID FROM hits GROUP BY CounterID ORDER BY count() DESC, CounterID LIMIT 40 OFFSET 20"
        ).fetchall()]
        self.users = [r[0] for r in self.db.execute(
            "SELECT DISTINCT UserID FROM hits ORDER BY UserID LIMIT 500"
        ).fetchall()]
        self.turn = [0] * len(self.wires)

    def load(self, http) -> None:
        http.query(f"CREATE TABLE hits ({HITS_COLS}) ENGINE = MergeTree ORDER BY (CounterID, EventDate)")
        http.query(f"INSERT INTO hits SELECT {HITS_NAMES} FROM file('{os.path.basename(hits_file(self.files_dir))}', 'Parquet')")

    def _cold_sql(self, slot: int, template: int | None = None) -> str:
        """A cold text. Its upper time bound is later than every row
        and unique to (slot, sequence number), so no text repeats."""
        r = self.rngs[slot]
        self.seq[slot] += 1
        t_max = _AFTER_ALL_ROWS + dt.timedelta(seconds=slot * 10**6 + self.seq[slot])
        bound = f"EventTime < '{t_max}'"
        day = r.randint(1, 28)
        t = (slot + self.seq[slot]) % 4 if template is None else template  # templates take turns
        if t == 0:
            return (f"SELECT count() AS c, sum(ResolutionWidth) AS w FROM hits "
                    f"WHERE CounterID = {r.choice(self.counters)} AND RegionID = {r.randint(1, 199)} AND {bound}")
        if t == 1:
            return (f"SELECT URL, count() AS c FROM hits WHERE CounterID = {r.choice(self.counters)} "
                    f"AND EventDate >= '2013-07-{day:02d}' AND EventDate <= '2013-07-{day + 3:02d}' "
                    f"AND {bound} GROUP BY URL ORDER BY c DESC, URL LIMIT {r.randint(3, 12)}")
        if t == 2:
            return (f"SELECT TraficSourceID, count() AS c, min(WatchID) AS w FROM hits "
                    f"WHERE RegionID = {r.randint(1, 199)} AND AdvEngineID = 0 AND EventDate >= '2013-07-{day:02d}' "
                    f"AND {bound} GROUP BY TraficSourceID ORDER BY TraficSourceID")
        return (f"SELECT count() AS c, max(EventTime) AS t FROM hits "
                f"WHERE UserID = {r.choice(self.users) + r.randint(0, 1)} AND {bound}")

    def _read(self, slot: int, wire: str, cls: str, sql: str) -> dict:
        fmt = self.rngs[slot].choice(HTTP_FORMATS) if wire == "http" else "Native"
        return {"wire": wire, "cls": cls, "sql": sql, "fmt": fmt}

    def cold_pass(self) -> list[dict]:
        """Every hot text and every cold template over both wires."""
        s = len(self.wires)
        return [self._read(s, w, "hot", q) for q, _ in HOT for w in ("http", "native")] + [
            self._read(s, w, "cold", self._cold_sql(s, t)) for t in range(4) for w in ("http", "native")]

    def sweep(self) -> list[dict]:
        return [{"wire": w, "cls": "hot", "sql": q, "fmt": "TSV" if w == "http" else "Native"}
                for q, _ in HOT for w in ("http", "native")]

    def next_request(self, worker: int) -> dict:
        wire = self.wires[worker]
        self.turn[worker] += 1
        turn = self.turn[worker]
        if turn % 2:  # hot and cold alternate; hot texts take turns
            return self._read(worker, wire, "hot", HOT[(worker + turn // 2) % len(HOT)][0])
        return self._read(worker, wire, "cold", self._cold_sql(worker))

    def check(self, req: dict, rows: list[tuple], worker: int) -> bool | None:
        want = self.expected.get(req["sql"])
        return None if want is None else same_rows(rows, want)

    def check_late(self, req: dict, rows: list[tuple]) -> bool:
        return same_rows(rows, self.db.execute(req["sql"]).fetchall())


# ------------------------------------------------------------------ pipeline

# large enough that the operators' work is about half of the queries'
# time, the rest being per-query Spark overhead (see README.md)
DOCS_ROWS = 4_000


def docs_file(files_dir: str) -> str:
    from tools.gen_docs import generate

    return _cached(
        os.path.join(files_dir, f"docs_{DOCS_ROWS}.parquet"),
        lambda p: generate(p, DOCS_ROWS),
    )


NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


class Pipeline(Workload):
    """The SQL table functions over a generated document corpus.

    Each query aggregates the operator's computed columns, so column
    pruning cannot skip the operator's work. Answers are checked
    against DuckDB over the same parquet or against closed forms.
    """

    # the four queries of a pass run at once, one per connection. Run
    # one after another, each leaves cores idle while its stages wait
    # for their slowest task, and host steal time then slowed a pass by
    # up to 90%; with all four in flight the cores stay busy
    wires = ("http",) * 4
    sweep_pass_s = 2.3
    sweep_parallel = True
    # the operators' passes keep getting faster over their first few
    # runs; the first warm-up pass is the cold one. Eight passes did not
    # steady the timed ones on a shared 4-core box (ten seeds spread 0.19
    # in latency_p50_ms, against 0.09 with five) and cost 7 s of set-up
    warm_passes = 5

    def prepare(self) -> None:
        import duckdb

        path = docs_file(self.files_dir)
        db = duckdb.connect()
        db.execute("SET threads TO 2")
        db.execute(f"CREATE TABLE docs AS SELECT doc_id, text, {NORM} AS norm FROM read_parquet('{path}')")
        n, toks = db.execute(
            "SELECT count(*), sum(len(string_split(norm, ' '))) FROM docs").fetchone()
        groups, survivors_sum, dup_pairs = db.execute(
            "SELECT count(*), sum(m), sum(k * (k - 1) // 2) FROM "
            "(SELECT min(doc_id) AS m, count(*) AS k FROM docs GROUP BY norm)").fetchone()
        dup_tokens = db.execute(
            "SELECT coalesce(sum(len(string_split(norm, ' '))), 0) FROM docs "
            "WHERE norm IN (SELECT norm FROM docs GROUP BY norm HAVING count(*) > 1)").fetchone()[0]
        n, toks, groups = int(n), int(toks), int(groups)
        # the threshold only filters the estimated pairs, so it does not
        # change the work; the n-gram length does (a pass took 2.2 s at
        # 5 and 2.4-2.5 s at 6 and 7), so it is fixed
        jac = self.rng.choice((0.5, 0.6, 0.7))
        span = 6
        # longest first, in a fixed order: a pass sends them at once, and
        # the scheduler serves the jobs in the order they arrive
        self.queries = [
            ("scrubDupSpans", "SELECT count() AS c, sum(n_tokens) AS t, countIf(n_removed_tokens <= n_tokens) AS ok, "
             f"sum(n_removed_tokens) AS r FROM scrubDupSpans(docs, {span}, 2)",
             lambda r: r[0][:3] == (n, toks, n) and int(dup_tokens) <= r[0][3] <= toks),
            ("minhashPairs", f"SELECT count() AS c, countIf(id_a < id_b) AS o, countIf(jaccard_est >= {jac}) AS j "
             f"FROM minhashPairs(docs, {jac})",
             lambda r: r[0][0] >= int(dup_pairs) and r[0][0] == r[0][1] == r[0][2]),
            ("qualityScore", "SELECT count() AS c, sum(n_tokens) AS t, countIf(quality >= 0 AND quality <= 1) AS q, "
             "countIf(model_keep) + countIf(NOT model_keep) AS m FROM qualityScore(docs)",
             lambda r: r == [(n, toks, n, n)]),
            ("exactDedup", "SELECT count() AS c, sum(dup_count) AS n, sum(doc_id) AS s FROM exactDedup(docs)",
             lambda r: r == [(groups, n, int(survivors_sum))]),
        ]
        self.by_sql = {sql: ok for _, sql, ok in self.queries}

    def load(self, http) -> None:
        http.query("CREATE TABLE docs (doc_id Int64, text String) ENGINE = MergeTree ORDER BY doc_id")
        http.query(f"INSERT INTO docs SELECT doc_id, text FROM file('{os.path.basename(docs_file(self.files_dir))}', 'Parquet')")

    def _read(self, name: str, sql: str) -> dict:
        return {"wire": "http", "cls": name, "sql": sql, "fmt": "TSV"}

    def sweep(self) -> list[dict]:
        return [self._read(name, sql) for name, sql, _ in self.queries]

    def cold_pass(self) -> list[dict]:
        return []  # the first warm-up pass runs the four cold queries at once

    def check(self, req: dict, rows: list[tuple], worker: int) -> bool:
        typed = [tuple(int(canon(v)) for v in row) for row in rows]
        return bool(typed) and self.by_sql[req["sql"]](typed)


WORKLOADS = {"dashboard": Dashboard, "pipeline": Pipeline}
