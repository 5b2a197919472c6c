"""Seeded input generation for the three workloads.

Everything the JVM side reads comes from here: the base tables (fixed,
generated once per checkout), and per run the docket trees, document
batches, probe queries and the op plan (`plan.json`). The same seed
always yields byte-identical inputs; the DuckDB oracle (`oracle.py`)
recomputes every expected result from these files alone.
"""
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_VERSION = "b4"

# documents fixture vocabulary (the sf0.1 `documents` table's 30 words)
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# comment vocabulary: 'health' appears in a minority of comments
CWORDS = ("rule proposed agency public comment support oppose cost safety "
          "impact small business data privacy access drug policy review "
          "federal state local community").split()
AGENCIES = ["CMS", "DEA", "EPA", "FDA", "HHS", "DOT"]


# ---------------------------------------------------------------- base tables

def _ts(base, days):
    return pa.array((np.datetime64(base) + days.astype("timedelta64[D]"))
                    .astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def write_base(root, sf=0.1):
    """The sf0.1-shaped star schema + events/documents/embeddings, seed 42:
    the schemas, row counts and value domains of the repository's
    synthetic fixtures (SQL queries register every table as a view, so all
    of them must exist), documents over their 30-word vocabulary and
    embeddings in tight clusters."""
    marker = os.path.join(root, f".base_{BASE_VERSION}_{sf}")
    if os.path.exists(marker):
        return
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = np.random.default_rng(42)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), 5000, 2000

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li))})
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"))
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(np.int64)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [doc_text(rng, int(rng.integers(8, 100))) for _ in range(n_doc)]
    for i in range(0, n_doc, 100):  # a few exact duplicates, as in the fixture
        texts[i + 1] = texts[i]
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(embeddings(rng, n_emb)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    open(marker, "w").close()


def doc_text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def embeddings(rng, n, dims=64, clusters=100, spread=0.3):
    """Unit vectors in tight clusters of about n/clusters members, so a
    query near a member has its whole cluster as exact neighbours."""
    centers = unit(rng.normal(0, 1, (clusters, dims)))
    members = centers[rng.integers(0, clusters, n)]
    return unit(members + spread * unit(rng.normal(0, 1, (n, dims)))).astype(np.float32)


# --------------------------------------------------------------- docket trees

def comment_doc(agency, docket, cid, rng, posted, edit=0):
    n_att = int(rng.integers(0, 3)) if rng.random() < 0.3 else 0
    att = [{"id": f"{cid}-att{i}", "type": "attachments"} for i in range(n_att)]
    words = [CWORDS[i] for i in rng.integers(0, len(CWORDS), 16)]
    if rng.random() < 0.2:
        words.insert(int(rng.integers(0, len(words))), "health")
    receive = posted + timedelta(hours=1 + edit)
    return {"data": {
        "id": cid, "type": "comments",
        "links": {"self": f"https://example.invalid/{cid}"},
        "attributes": {
            "docketId": docket, "agencyId": agency, "commentOn": f"{docket}-0001",
            "comment": ("edited " if edit else "") + " ".join(words),
            "title": f"Comment on {docket}", "documentType": "Public Submission",
            "withdrawn": "false",
            "postedDate": posted.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "receiveDate": receive.strftime("%Y-%m-%dT%H:%M:%SZ")},
        "relationships": {"attachments": {"data": att}}},
        "included": att}


def docket_doc(agency, docket, n_comments, rng):
    return {"data": {
        "id": docket, "type": "docket",
        "links": {"self": f"https://example.invalid/docket/{docket}"},
        "attributes": {"agencyId": agency,
                       "docketType": "Rulemaking" if rng.random() < 0.5 else "Nonrulemaking",
                       "title": f"Docket {docket}",
                       "modifyDate": "2025-02-01T00:30:00Z"},
        "relationships": {
            "comments": {"data": [{"id": f"{docket}-c{i}", "type": "comments"}
                                  for i in range(min(n_comments, 4))]},
            "documents": {"data": []}}}}


def _dump(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = json.dumps(obj)
    with open(path, "w") as f:
        f.write(data)
    return len(data.encode())


def write_docket(root, agency, docket, n_comments, rng, day0):
    """One docket: its docket-info file and `n_comments` comment files.
    Returns (input bytes, comment ids)."""
    base = os.path.join(root, "raw-data", agency, docket)
    nbytes = _dump(os.path.join(base, "docket", f"{docket}.json"),
                   docket_doc(agency, docket, n_comments, rng))
    ids = []
    for i in range(n_comments):
        cid = f"{docket}-{i:05d}"
        posted = day0 + timedelta(days=int(rng.integers(0, 60)),
                                  hours=int(rng.integers(0, 24)))
        nbytes += _dump(os.path.join(base, "comments", f"{cid}.json"),
                        comment_doc(agency, docket, cid, rng, posted))
        ids.append(cid)
    return nbytes, ids


# comments per initial docket: a few large dockets among many small ones
INIT_SIZES = [180, 6, 3, 9, 4, 12, 5, 8, 120, 7, 2, 10]
# comments in the two dockets each cycle ingests (the warm-up cycle brings a large one)
WARMUP_INGEST, CYCLE_INGEST = (80, 6), (12, 6)


# ------------------------------------------------------------------ workloads

def gen_analytics(out, seed, cycles):
    """A skewed docket corpus (a few large dockets among many small ones),
    and per cycle: two new dockets, edits of existing comments, one
    withdrawn docket and the parameters of the pruned read."""
    rng = np.random.default_rng(seed)
    day0 = datetime(2024, 6, 1)
    nbase = len(INIT_SIZES)
    sizes = INIT_SIZES
    dockets = []  # (agency, docket, comment ids)
    init_root = os.path.join(out, "init")
    init_bytes = 0
    for d in range(nbase):
        agency = AGENCIES[d % len(AGENCIES)]
        docket = f"{agency}-2024-{d:04d}"
        nb, ids = write_docket(init_root, agency, docket, sizes[d], rng, day0)
        init_bytes += nb
        dockets.append([agency, docket, ids])
    cyc = []
    for c in range(cycles + 1):
        ops = {}
        # ingest two new dockets (skewed: every fourth cycle brings a large one)
        root = os.path.join(out, "ingest", f"c{c:03d}")
        nb_total, new = 0, []
        for j in range(2):
            agency = AGENCIES[int(rng.integers(0, len(AGENCIES)))]
            docket = f"{agency}-2025-{c:04d}{j}"
            n = (WARMUP_INGEST if c == 0 else CYCLE_INGEST)[j]
            nb, ids = write_docket(root, agency, docket, n, rng, day0)
            nb_total += nb
            new.append([agency, docket, ids])
        ops["ingest"] = {"root": root, "bytes": nb_total}
        dockets.extend(new)
        # edits of existing comments (later receiveDate wins the upsert)
        # two batches of four edited comments (a later receiveDate wins the upsert)
        ops["edits"], edit_ids = [], []
        for b in range(2):
            edit_dir = os.path.join(out, "edits", f"c{c:03d}b{b}")
            nb_edit = 0
            while len(edit_ids) < 4 * (b + 1):
                agency, docket, ids = dockets[int(rng.integers(0, len(dockets)))]
                cid = ids[int(rng.integers(0, len(ids)))]
                if cid in edit_ids:
                    continue
                posted = day0 + timedelta(days=400)
                nb_edit += _dump(os.path.join(edit_dir, f"e{len(edit_ids):02d}.json"),
                                 comment_doc(agency, docket, cid, rng, posted, edit=2 * c + b + 100))
                edit_ids.append(cid)
            ops["edits"].append({"dir": edit_dir, "bytes": nb_edit})
        # withdraw one small docket (never the last remaining ones)
        smalls = [i for i, d in enumerate(dockets) if len(d[2]) < 40]
        victim = dockets.pop(smalls[int(rng.integers(0, len(smalls)))])
        ops["withdraw"] = {"docket": victim[1]}
        agency = AGENCIES[int(rng.integers(0, len(AGENCIES)))]
        d = int(rng.integers(0, 50))
        ops["reads"] = {"agency": agency,
                        "from": (day0 + timedelta(days=d)).strftime("%Y-%m-%d"),
                        "to": (day0 + timedelta(days=d + 10)).strftime("%Y-%m-%d")}
        cyc.append(ops)
    return {"init": {"root": init_root, "bytes": init_bytes}, "cycles": cyc}


def gen_retrieval(out, seed, cycles, base_dir):
    """Corpus = the base documents and embeddings; per cycle: appended
    batches and seeded probes, a share of which repeat an earlier one."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"), columns=["doc_id", "text"])
    embs = pq.read_table(os.path.join(base_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    pq.write_table(docs, os.path.join(out, "corpus.parquet"))
    pq.write_table(embs, os.path.join(out, "vectors.parquet"))
    ne = embs.num_rows
    base_vecs = np.array(embs.column("embedding").to_pylist(), dtype=np.float64)
    next_doc, next_vec = docs.num_rows, ne
    past = {"bm25": [], "ann": []}

    def maybe_repeat(kind, fresh):
        if past[kind] and rng.random() < 0.25:
            return past[kind][int(rng.integers(0, len(past[kind])))]
        past[kind].append(fresh)
        return fresh

    cyc = []
    for c in range(cycles + 1):
        ops = {}
        # appended batches: fresh documents (BM25) and vectors (IVF-PQ)
        n_new = 40
        new_ids = list(range(next_doc, next_doc + n_new))
        new_texts = [doc_text(rng, 50) for _ in range(n_new)]
        next_doc += n_new
        p = os.path.join(out, "append", f"c{c:03d}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(new_ids, pa.int64()), "text": new_texts}), p)
        ops["docs"] = {"path": p, "bytes": sum(len(t.encode()) + 8 for t in new_texts)}
        ops["vecs"] = []
        for b in range(2):
            nv = 50
            v = embeddings(rng, nv)
            p = os.path.join(out, "append", f"v{c:03d}b{b}.parquet")
            pq.write_table(pa.table({"vec_id": pa.array(range(next_vec, next_vec + nv), pa.int64()),
                                     "embedding": pa.array(list(v), pa.list_(pa.float32()))}), p)
            next_vec += nv
            ops["vecs"].append({"path": p, "bytes": nv * (8 + 4 * v.shape[1])})
        # probes: four BM25 and two ANN per cycle
        ops["bm25"] = [maybe_repeat("bm25", [VOCAB[i] for i in rng.choice(len(VOCAB), 3, replace=False)])
                       for _ in range(4)]
        ops["ann"] = [maybe_repeat("ann", [float(x) for x in unit(
            base_vecs[int(rng.integers(0, ne))] + rng.normal(0, 0.02, base_vecs.shape[1]))])
            for _ in range(2)]
        cyc.append(ops)
    return {"corpus": os.path.join(out, "corpus.parquet"),
            "vectors": os.path.join(out, "vectors.parquet"), "cycles": cyc}


def generate(workload, out, seed, cycles, base_dir):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "analytics":
        plan = gen_analytics(out, seed, cycles)
    elif workload == "retrieval":
        plan = gen_retrieval(out, seed, cycles, base_dir)
    else:
        raise ValueError(workload)
    plan.update({"workload": workload, "seed": seed, "base": base_dir})
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
