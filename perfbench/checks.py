"""Correctness checks: every result the program returned in the timed
phase, against a computation made apart from it (DuckDB over the same
generated inputs, or a property the method must have).

`expected_*` functions recompute what the program should have returned
from the inputs and the seeded op log alone (`oracle.py` prints them);
`check()` compares the JVM's recorded outputs against them and returns
one message per failure.
"""
import glob
import json
import math
import os
from datetime import date, datetime

import duckdb

BASE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
TOL = 1e-6


# ------------------------------------------------------------- normalisation

def norm(v):
    """One value in the shape both engines agree on."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    if isinstance(v, datetime):
        us = int(round((v - datetime(1970, 1, 1)).total_seconds() * 1e6)) \
            if v.tzinfo is None else int(round(v.timestamp() * 1e6))
        return f"ts:{us}"
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, dict):
        return [norm(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    try:  # Decimal
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _sort_key(row):
    def k(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, list):
            return [k(x) for x in v]
        return v
    return json.dumps([k(v) for v in row], default=str)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_equal(got, exp):
    """Same multiset of rows (order ignored), floats to a relative 1e-6."""
    g = sorted(([norm(v) for v in r] for r in got), key=_sort_key)
    e = sorted(([norm(v) for v in r] for r in exp), key=_sort_key)
    if len(g) != len(e):
        return f"{len(g)} rows, expected {len(e)}"
    for i, (a, b) in enumerate(zip(g, e)):
        if not _close(a, b):
            return f"row {i}: {a} != expected {b}"
    return None


def topk_equal(got, exp_ranked, k, id_i, score_i, tol=2e-4):
    """A top-k list against the exact ranking (best first, longer than k).

    Scores must match the exact top-k scores rank by rank, the list must
    be ordered best first, and every returned id must carry, in the exact
    ranking, the score it was returned with. Ties at equal score may come
    in any order."""
    if len(got) != min(k, len(exp_ranked)):
        return f"{len(got)} results, expected {min(k, len(exp_ranked))}"
    exact = {}
    for r in exp_ranked:
        exact.setdefault(r[id_i], float(r[score_i]))
    seen = set()
    for rank, (g, e) in enumerate(zip(got, exp_ranked)):
        gid, gs = g[id_i], float(g[score_i])
        if abs(gs - float(e[score_i])) > tol:
            return f"rank {rank}: score {gs} != exact {e[score_i]}"
        if gid in seen:
            return f"rank {rank}: id {gid} repeated"
        seen.add(gid)
        if gid not in exact or abs(exact[gid] - gs) > tol:
            return f"rank {rank}: id {gid} does not score {gs} (exact {exact.get(gid)})"
    return None


# ---------------------------------------------------------------- base tables

def base_connection(base):
    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    return con


def load_json(path):
    with open(path) as f:
        return json.load(f)


def agency_from_id(i):
    if i is None:
        return "UNKNOWN"
    if "/" in i:
        return i.split("/")[0]
    if "-" in i:
        return i.split("-")[0]
    return "UNKNOWN"


def comment_row(doc):
    d = doc["data"]
    a = d["attributes"]
    att = d.get("relationships", {}).get("attachments", {}).get("data") or []
    return {"id": d["id"], "docketId": a.get("docketId"), "agency": agency_from_id(d["id"]),
            "comment": a.get("comment"), "attachment_count": len(att),
            "postedDate": a.get("postedDate"), "receiveDate": a.get("receiveDate")}


def comments_under(root):
    files = sorted(glob.glob(os.path.join(root, "raw-data", "*", "*", "comments", "*.json")))
    return [comment_row(load_json(p)) for p in files]


# --------------------------------------------------------------- analytics

class Replay:
    """The comments table as the op log says it must be, step by step;
    each read's expected result is a DuckDB query over the state."""

    def __init__(self, plan):
        self.rows = {c["id"]: c for c in comments_under(plan["init"]["root"])}

    def ingest(self, ops):
        new = [c for c in comments_under(ops["ingest"]["root"]) if c["id"] not in self.rows]
        for c in new:
            self.rows[c["id"]] = c
        return [(c["id"], "insert") for c in new]

    def upsert(self, edits):
        """Per id, the row with the latest (receiveDate, comment) wins."""
        for p in sorted(glob.glob(os.path.join(edits["dir"], "*.json"))):
            c = comment_row(load_json(p))
            old = self.rows.get(c["id"])
            if old is None or (c["receiveDate"], c["comment"]) > (old["receiveDate"], old["comment"]):
                self.rows[c["id"]] = c

    def withdraw(self, ops):
        d = ops["withdraw"]["docket"]
        gone = [i for i, c in self.rows.items() if c["docketId"] == d]
        for i in gone:
            del self.rows[i]
        return [(i, "delete") for i in gone]

    def query(self, sql):
        con = duckdb.connect()
        rows = list(self.rows.values())
        con.execute("CREATE TABLE c (id VARCHAR, docketId VARCHAR, agency VARCHAR, "
                    "comment VARCHAR, attachment_count INTEGER, postedDate TIMESTAMP, "
                    "receiveDate TIMESTAMP)")
        if rows:
            con.executemany("INSERT INTO c VALUES (?, ?, ?, ?, ?, ?, ?)", [
                [r["id"], r["docketId"], r["agency"], r["comment"], r["attachment_count"],
                 r["postedDate"].replace("T", " ").rstrip("Z"),
                 r["receiveDate"].replace("T", " ").rstrip("Z")] for r in rows])
        return con.execute(sql).fetchall()


def expected_snapshot(plan, last_cycle, tt_cycle):
    """Expected snapshot reads: the pruned agency window of cycle
    `last_cycle`, the change feed over the warm-up cycle's ingest, the table at
    the end of `tt_cycle` (-1: as set up), and the head after
    `last_cycle`."""
    rp = Replay(plan)
    exp = {}
    if tt_cycle < 0:
        exp["time_travel"] = rp.query("SELECT id, comment FROM c")
    docket_roots = [plan["init"]["root"]]
    for c in range(last_cycle + 1):
        ops = plan["cycles"][c]
        docket_roots.append(ops["ingest"]["root"])
        feed = rp.ingest(ops)
        if c == 0:
            exp["change_feed"] = [list(x) for x in feed]
        for edits in ops["edits"]:
            rp.upsert(edits)
        if c == last_cycle:
            r = ops["reads"]
            exp["agency_window"] = rp.query(
                f"SELECT id FROM c WHERE agency = '{r['agency']}' AND postedDate >= "
                f"TIMESTAMP '{r['from']}' AND postedDate < TIMESTAMP '{r['to']}' ORDER BY id")
        rp.withdraw(ops)
        if c == last_cycle:
            exp["head"] = rp.query(
                "SELECT id, docketId, agency, comment, attachment_count, "
                "strftime(receiveDate, '%Y-%m-%d %H:%M:%S') FROM c")
        if c == tt_cycle:
            exp["time_travel"] = rp.query("SELECT id, comment FROM c")
    exp["docket_info"] = []
    for root in docket_roots:
        for p in sorted(glob.glob(os.path.join(root, "raw-data", "*", "*", "docket", "*.json"))):
            d = load_json(p)["data"]
            exp["docket_info"].append([d["id"], d["attributes"]["agencyId"],
                                       d["attributes"]["docketType"], agency_from_id(d["id"])])
    return exp


def expected_queries(plan, oracle_sql):
    con = base_connection(plan["base"])
    return {n: con.execute(sql).fetchall() for n, sql in oracle_sql.items()}


def check_analytics(plan, result):
    ck = result["checks"]
    fails = []
    exp = expected_queries(plan, ck["oracle_sql"])
    for n in sorted(ck["results"]):  # "<query>@<cycle>"
        msg = rows_equal(ck["results"][n], exp[n.split("@")[0]])
        if msg:
            fails.append(f"analytics {n}: {msg}")
    snap = expected_snapshot(plan, ck["last_cycle"], ck["reads"]["time_travel_cycle"])
    for name in ("agency_window", "change_feed", "time_travel"):
        msg = rows_equal(ck["reads"][name], snap[name])
        if msg:
            fails.append(f"analytics {name}: {msg}")
    for name in ("head", "docket_info"):
        msg = rows_equal(ck[name], snap[name])
        if msg:
            fails.append(f"analytics {name}: {msg}")
    return fails


# ------------------------------------------------------------------ retrieval

class Corpus:
    """DuckDB tables of the corpus and vectors as indexed at each cycle."""

    def __init__(self, plan):
        self.con = con = duckdb.connect()
        con.execute(f"CREATE TABLE docs AS SELECT doc_id, text, -1 AS c "
                    f"FROM '{plan['corpus']}'")
        con.execute(f"CREATE TABLE vecs AS SELECT vec_id, "
                    f"CAST(embedding AS DOUBLE[]) AS v, -1 AS c FROM '{plan['vectors']}'")
        for c, ops in enumerate(plan["cycles"]):
            con.execute(f"INSERT INTO docs SELECT doc_id, text, {c} FROM '{ops['docs']['path']}'")
            for v in ops["vecs"]:
                con.execute(f"INSERT INTO vecs SELECT vec_id, CAST(embedding AS DOUBLE[]), {c} "
                            f"FROM '{v['path']}'")
        con.execute("CREATE TABLE toks AS SELECT doc_id, c, string_split_regex("
                    "trim(lower(coalesce(text, ''))), '\\s+') AS t FROM docs")
        con.execute("CREATE TABLE dl AS SELECT doc_id, c, CAST(len(t) AS BIGINT) AS dl FROM toks")
        con.execute("CREATE TABLE tf AS SELECT doc_id, c, token, COUNT(*) AS tf FROM "
                    "(SELECT doc_id, c, unnest(t) AS token FROM toks) GROUP BY ALL")

    def lexical(self, c, queries, n):
        """Exact BM25 (k1 1.2, b 0.75) per query: (qid, doc_id, bm25) rows,
        best first, the first n of each query."""
        con = self.con
        q = ", ".join(f"({i}, '{t}')" for i, terms in enumerate(queries) for t in terms)
        return con.execute(f"""
            WITH qt AS (SELECT DISTINCT * FROM (VALUES {q}) AS t(qid, token)),
            corpus AS (SELECT * FROM dl WHERE c <= {c}),
            stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM corpus),
            tfq AS (SELECT tf.doc_id, corpus.dl, tf.token, tf.tf FROM tf JOIN corpus USING (doc_id)
                    WHERE tf.c <= {c} AND tf.token IN (SELECT token FROM qt)),
            dfq AS (SELECT token, COUNT(*) AS df FROM tfq GROUP BY token),
            s AS (SELECT qid, doc_id, ROUND(SUM(
                    ln(1.0 + (CAST(stats.n AS DOUBLE) - df + 0.5) / (df + 0.5))
                    * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75)
                      + 0.75 * CAST(dl AS DOUBLE) / stats.avgdl))), 4) AS bm25
                  FROM tfq JOIN dfq USING (token) JOIN qt USING (token), stats
                  GROUP BY qid, doc_id)
            SELECT qid, doc_id, bm25 FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY bm25 DESC, doc_id) AS r FROM s) WHERE r <= {n} ORDER BY qid, r
        """).fetchall()

    def ann_top(self, c, q, n=100):
        qv = "[" + ", ".join(repr(float(x)) for x in q) + "]::DOUBLE[]"
        return [r[0] for r in self.con.execute(
            f"SELECT vec_id FROM vecs WHERE c <= {c} ORDER BY "
            f"list_cosine_similarity(v, {qv}) DESC, vec_id LIMIT {n}").fetchall()]


def expected_probe(corpus, p, k):
    c, kind, args = p["cycle"], p["kind"], p["args"]
    if kind == "bm25":
        return corpus.lexical(c, [args], k + 50)
    return corpus.ann_top(c, args)


def check_retrieval(plan, result, k=10):
    fails = []
    corpus = Corpus(plan)
    for p in result["checks"]["probes"]:
        where = f"retrieval {p['kind']} cycle {p['cycle']}"
        exp = expected_probe(corpus, p, k)
        rows = p["rows"]
        if p["kind"] == "bm25":
            msg = topk_equal([[r[0], r[-1]] for r in rows], [[r[1], r[2]] for r in exp], k, 0, 1)
        elif p["kind"] == "ann":
            top = set(exp)
            bad = [r[0] for r in rows if r[0] not in top]
            msg = (f"ids {bad} not in the exact cosine top-100" if bad else
                   None if len(rows) == k else f"{len(rows)} results, expected {k}")
        if msg:
            fails.append(f"{where}: {msg}")
    return fails


def check(workload, plan, result):
    if workload == "analytics":
        return check_analytics(plan, result)
    return check_retrieval(plan, result)
