"""Correctness checks: each workload's outputs against an independent
computation — the generator's bookkeeping, plain Python over the inputs,
or DuckDB replaying the same operations. Never the engine checking
itself. `check(...)` returns a list of problems; empty means correct.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import zoneinfo

import duckdb
import numpy as np

LA = zoneinfo.ZoneInfo("America/Los_Angeles")
HOUR = 3600 * 1000


def _con():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _rows(con, sql):
    return con.execute(sql).fetchall()


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def _expect(problems, what, got, want):
    if got != want:
        problems.append(f"{what}: engine {got!r}, expected {want!r}")


# --------------------------------------------------------------------------
def check_notion(inp, out, truth):
    p = []
    con = _con()
    counts = json.load(open(os.path.join(out, "normalize_counts.json")))
    rules = truth["rules"]
    _expect(p, "normalize counts", counts, {
        "workflowDefinitions": truth["defs"], "workflowStages": truth["stages"],
        "timeslices": truth["timeslices_clean"],
        "qualityIssues": sum(rules.values())})
    issues = dict(_rows(con, f"""SELECT rule, count(*) FROM
        read_json_auto('{out}/issues/*.json') GROUP BY rule"""))
    _expect(p, "quality issues per rule", issues,
            {k: v for k, v in rules.items() if v})
    model = _rows(con, f"SELECT * FROM '{inp}/model.parquet'")
    t = f"{out}/tables"

    def count(name):
        return _rows(con, f"SELECT count(*) FROM {_pq(t + '/' + name)}")[0][0]

    _expect(p, "FactTimeslices rows", count("FactTimeslices"), truth["timeslices_clean"])
    _expect(p, "DimWorkflow rows", count("DimWorkflow"), truth["defs"])
    _expect(p, "DimStage rows", count("DimStage"), truth["stages"])
    minutes = 0
    days = set()
    occupancy = {}
    entries = exits = 0
    for (page, frm, to, frm_n, to_n, s, e, edited, created) in model:
        if s is not None and e is not None:
            d = max(0, (e - s) // 1000)
            minutes += (2 * d + 60) // 120
        t_ms = e if e is not None else s if s is not None else edited
        days.add(datetime.datetime.fromtimestamp(t_ms / 1000, LA).date())
        if frm is not None:
            entries += s is not None
            exits += e is not None
            if s is not None and e is not None and e >= s:
                first = -(-s // HOUR) * HOUR
                for hour in range(first, (e // HOUR) * HOUR + 1, HOUR):
                    occupancy[(hour, frm)] = occupancy.get((hour, frm), 0) + 1
        elif to is not None and to_n == 1:
            entries += 1   # a stage-1 entry edge
    got_minutes = _rows(con, f'SELECT sum("Minutes Diff") FROM {_pq(t + "/FactTimeslices")}')[0][0]
    _expect(p, "FactTimeslices sum of Minutes Diff", got_minutes, minutes)
    _expect(p, "DimDate rows", count("DimDate"), (max(days) - min(days)).days + 1)
    occ = _rows(con, f"SELECT count(*), sum(item_count) FROM {_pq(t + '/StageOccupancy_Hourly')}")[0]
    _expect(p, "StageOccupancy_Hourly rows and total", tuple(occ),
            (len(occupancy), sum(occupancy.values())))
    thr = _rows(con, f"""SELECT sum(entry_count), sum(exit_count)
        FROM {_pq(t + '/StageThroughput_Daily')}""")[0]
    _expect(p, "StageThroughput_Daily entries and exits", tuple(thr), (entries, exits))
    stamps = [ms for m in model for ms in m[5:9] if ms is not None]
    frames = [n for (n,) in _rows(con, f"SELECT frame_n FROM {_pq(t + '/DimPlaybackFrame')}")]
    _expect(p, "DimPlaybackFrame frame_n", sorted(frames),
            list(range(max(stamps) // HOUR - min(stamps) // HOUR + 1)))
    p += _check_corrections(con, t, out, truth["table_ops"])
    return p


def _check_corrections(con, tables, out, ops):
    """The corrections after publishing, replayed in DuckDB on the
    published StageThroughput_Daily (itself checked above)."""
    p = []
    c = f"{out}/corrections"
    con.execute(f"CREATE TABLE thr AS SELECT * FROM {_pq(tables + '/StageThroughput_Daily')}")
    published = list(_rows(con, """SELECT count(*), coalesce(sum(entry_count), 0),
        coalesce(sum(exit_count), 0) FROM thr""")[0])
    _expect(p, "audit read of the published version", json.load(open(f"{c}/audit.json")),
            [int(x) for x in published])
    con.execute(f"""UPDATE thr SET exit_count = exit_count + {ops['merge_delta']}
        WHERE bucket_n >= {ops['merge_lo']} AND bucket_n < {ops['merge_hi']}""")
    con.execute(f"DELETE FROM thr WHERE bucket_n < {ops['delete_before']}")
    con.execute(f"""UPDATE thr SET entry_count = entry_count + {ops['update_delta']}
        WHERE bucket_n >= {ops['update_lo']} AND bucket_n < {ops['update_hi']}""")
    cols = "bucket_day, bucket_n, workflow_definition, stage, stage_n, stage_key, " \
        "entry_count, exit_count, occupancy_peak, occupancy_avg"
    diff = _rows(con, f"""SELECT
        (SELECT count(*) FROM (SELECT {cols} FROM {_pq(c + '/head')} EXCEPT ALL
                               SELECT {cols} FROM thr)),
        (SELECT count(*) FROM (SELECT {cols} FROM thr EXCEPT ALL
                               SELECT {cols} FROM {_pq(c + '/head')}))""")[0]
    _expect(p, "corrected StageThroughput_Daily rows differing (engine-only, "
            "expected-only)", tuple(diff), (0, 0))
    _expect(p, "per-stage view after refresh",
            _rows(con, f"""SELECT stage_key, days, entries, exits FROM {_pq(c + '/view')}
                ORDER BY stage_key"""),
            _rows(con, """SELECT stage_key, count(*), sum(entry_count), sum(exit_count)
                FROM thr GROUP BY stage_key ORDER BY stage_key"""))
    return p


# --------------------------------------------------------------------------
def _log(out):
    with open(os.path.join(out, "log.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_commits(inp, out, truth):
    p = []
    con = _con()
    ops = json.load(open(os.path.join(inp, "schedule.json")))["ops"]
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{inp}/base.parquet'")
    con.execute(f"CREATE TABLE dim AS SELECT * FROM '{inp}/dim.parquet'")
    log = _log(out)
    _expect(p, "log steps in order", [r["i"] for r in log], list(range(len(log))))
    travel = {}   # step -> time-travel reads that pin the version it committed
    for rec in log:
        if "back" in rec:
            travel.setdefault(rec["back"], []).append(rec)

    def range_read(o):
        c, s = _rows(con, f"""SELECT count(*), coalesce(sum(price), 0) FROM t
            WHERE k BETWEEN {o['read_lo']} AND {o['read_hi']}""")[0]
        return [c, int(s)]
    for rec in log:
        o = ops[rec["i"]]
        lo, hi, delta = o["lo"], o["hi"], o["delta"]
        batch = f"(SELECT * FROM '{inp}/base.parquet' WHERE k >= {lo} AND k < {hi})"
        op = o["op"]
        if op == "append":
            con.execute(f"INSERT INTO t SELECT k + {o['shift']}, cust, price, odate, prio FROM {batch}")
        elif op in ("merge", "mergeEq", "mergeMor", "applyCdc"):
            con.execute(f"DELETE FROM t WHERE k IN (SELECT k FROM {batch})")
            keep = "WHERE k % 3 <> 0" if op == "applyCdc" else ""
            con.execute(f"INSERT INTO t SELECT k, cust, price + {delta}, odate, prio FROM {batch} {keep}")
        elif op in ("deleteWhere", "deleteWhereMor"):
            con.execute(f"DELETE FROM t WHERE k BETWEEN {lo} AND {hi}")
        elif op == "updateWhere":
            con.execute(f"UPDATE t SET price = price + {delta} WHERE k BETWEEN {lo} AND {hi}")
        if op == "refresh":
            want = [[s, n, int(tot)] for s, n, tot in _rows(con, """
                SELECT segment, count(*), sum(price) FROM t JOIN dim USING (cust)
                GROUP BY segment ORDER BY segment""")]
        else:
            want = range_read(o)
        if rec["res"] is not None and rec["res"] != want:
            p.append(f"step {rec['i']} ({op}): read {rec['res']}, expected {want}")
            break   # later steps would all differ
        for later in travel.get(rec["i"], []):
            want = range_read(ops[later["i"]])
            if later["travel"] != want:
                p.append(f"step {later['i']}: read of the version of step {rec['i']} "
                         f"gave {later['travel']}, expected {want}")
    diff = _rows(con, f"""SELECT
        (SELECT count(*) FROM (SELECT k, cust, price, odate, prio FROM {_pq(out + '/final')}
                               EXCEPT ALL SELECT * FROM t)),
        (SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL
                               SELECT k, cust, price, odate, prio FROM {_pq(out + '/final')}))""")[0]
    _expect(p, "final table rows differing (engine-only, expected-only)", tuple(diff), (0, 0))
    return p


# --------------------------------------------------------------------------
def check_scans(inp, out, truth):
    p = []
    con = _con()
    meta = json.load(open(os.path.join(inp, "reads.json")))
    reads, bounds = meta["reads"], meta["bounds"]
    con.execute(f"CREATE TABLE li AS SELECT * FROM '{inp}/lineitem.parquet'")
    con.execute(f"CREATE TABLE o AS SELECT * FROM '{inp}/orders.parquet'")
    seen = set()
    for rec in _log(out):
        r = reads[rec["i"]]
        kind = r["kind"]
        key = json.dumps([kind, r, rec["res"]], sort_keys=True)
        if key in seen:
            continue
        seen.add(key)
        rng = f"ok BETWEEN {r['lo']} AND {r['hi']}"
        if kind == "lookup":
            want = list(_rows(con, f"SELECT count(*), coalesce(sum(qty),0) FROM li WHERE ok = {r['key']}")[0])
            got = rec["res"]
        elif kind == "range":
            want = list(_rows(con, f"SELECT count(*), coalesce(sum(price),0) FROM li WHERE {rng}")[0])
            got = rec["res"]
        elif kind == "travel":
            b = rec["res"]["block"]
            _expect(p, f"read {rec['i']} version block", b, r["version"])
            want = list(_rows(con, f"""SELECT count(*), coalesce(sum(price),0) FROM li
                WHERE ok <= {bounds[b]} AND {rng}""")[0])
            got = rec["res"]["res"]
        elif kind == "topn":
            want = [list(x) for x in _rows(con, f"""SELECT ok, ln, price FROM li WHERE {rng}
                ORDER BY price DESC, ok, ln LIMIT {r['n']}""")]
            got = rec["res"]
        elif kind == "join":
            want = list(_rows(con, f"""SELECT count(*), coalesce(sum(qty),0), coalesce(sum(cust),0)
                FROM li JOIN o USING (ok) WHERE li.{rng}""")[0])
            got = rec["res"]
        else:
            want = list(_rows(con, "SELECT count(*), min(price), max(price) FROM li")[0])
            got = rec["res"]
        want = [int(x) if not isinstance(x, list) else x for x in want]
        if got != want:
            p.append(f"read {rec['i']} ({kind}): engine {got}, expected {want}")
    return p


# --------------------------------------------------------------------------
STOPWORDS = {"the", "a", "of", "to", "and", "in", "is", "it"}


def _round4(x):
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _bigrams(text):
    w = text.split(" ")
    return [w[i] + " " + w[i + 1] for i in range(len(w) - 1)]


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


MINHASH_A = [2 * i + 1 for i in range(1, 17)]
MINHASH_B = [7919 * i for i in range(1, 17)]
MINHASH_P = 2038074743
MIN_SIG_MATCHES = 4


def _minhash_pairs(sets, threshold):
    a = np.array(MINHASH_A, dtype=np.int64)[:, None]
    b = np.array(MINHASH_B, dtype=np.int64)[:, None]
    sig = {}
    for d, sh in sets.items():
        xs = np.array([int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh],
                      dtype=np.int64)
        if len(xs):   # a·x + b < 2^38: exact in int64
            sig[d] = ((a * xs + b) % MINHASH_P).min(axis=1).tolist()
    buckets = {}
    for d, m in sig.items():
        for j in range(8):
            buckets.setdefault((j, m[2 * j], m[2 * j + 1]), []).append(d)
    cand = set()
    for ds in buckets.values():
        for a in ds:
            for b in ds:
                if a < b and sum(x == y for x, y in zip(sig[a], sig[b])) >= MIN_SIG_MATCHES:
                    cand.add((a, b))
    out = {}
    for a, b in cand:
        c = len(sets[a] & sets[b])
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out[(a, b)] = _round4(j)
    return out


def _tfidf_pairs(docs, pct, max_df):
    n = len(docs)
    tf = {d: {} for d in docs}
    for d, text in docs.items():
        for g in _bigrams(text):
            tf[d][g] = tf[d].get(g, 0) + 1
    df = {}
    for d in docs:
        for g in tf[d]:
            df[g] = df.get(g, 0) + 1

    def idf(x):
        v = (math.log((n + 1.0) / (x + 1.0)) + 1) * 1000
        return int(decimal.Decimal(v).quantize(decimal.Decimal(1), decimal.ROUND_HALF_UP))
    w = {d: {g: c * idf(df[g]) for g, c in tf[d].items()} for d in docs}
    ss = {d: sum(x * x for x in w[d].values()) for d in docs}
    post = {}
    for d in docs:
        for g in w[d]:
            if 2 <= df[g] <= max_df:
                post.setdefault(g, []).append(d)
    cand = {(a, b) for ds in post.values() for a in ds for b in ds if a < b}
    out = set()
    for a, b in cand:
        dot = sum(x * w[b].get(g, 0) for g, x in w[a].items())
        if dot * dot * 10000 >= ss[a] * ss[b] * pct * pct:
            out.add((a, b))
    return out


def _quality(text):
    toks = [t for t in text.split() if t]
    n = float(len(toks))
    if n == 0:
        return 0.0
    len_score = min(1.0, n / 50.0)
    diversity = len(set(toks)) / n
    sr = sum(t in STOPWORDS for t in toks) / n
    return _round4(0.4 * len_score + 0.3 * diversity + 0.3 * (1.0 - sr))


def _spark_percentile(values, q):
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi:
        return s[lo]
    return (hi - pos) * s[lo] + (pos - lo) * s[hi]


def check_corpus(inp, out, truth):
    p = []
    con = _con()
    docs = dict(_rows(con, f"SELECT doc_id, text FROM {_pq(inp + '/documents')}"))

    def ids(name):
        return sorted(x for (x,) in _rows(con, f"SELECT doc_id FROM {_pq(out + '/' + name)}"))

    # exact dedup: the smallest id per distinct token set survives
    rep = {}
    for d in sorted(docs):
        rep.setdefault(tuple(sorted(set(t for t in docs[d].split() if t))), d)
    survivors = sorted(rep.values())
    _expect(p, "exact-dedup survivors (count)", len(ids("survivors")), len(survivors))
    if ids("survivors") != survivors:
        p.append("exact-dedup survivors differ")
        return p
    surv = set(survivors)

    # MinHash-LSH pairs: the operator's documented semantics recomputed —
    # 16 min-hashes (a·x + b) mod P over md5-derived shingle values, 8 bands
    # of 2, candidates sharing a band and agreeing on >= 4 of 16 values,
    # then exact Jaccard >= 0.5 on the shingle sets
    sets = {d: set(_bigrams(docs[d])) for d in survivors}
    want = _minhash_pairs(sets, 0.5)
    got = {(a, b): j for a, b, j in
           _rows(con, f"SELECT doc_a, doc_b, jaccard FROM {_pq(out + '/pairs')}")}
    if got != want:
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        p.append(f"MinHash pairs differ: {len(got)} vs {len(want)} expected; "
                 f"missing {missing}, unexpected {extra}")
        return p
    found = set(got)
    # one kept per cluster (the smallest id), clusters from the pairs above
    reps = _union_find(found)
    kept = sorted(d for d in survivors if reps.get(d, d) == d)
    if ids("kept") != kept:
        p.append(f"kept documents differ ({len(ids('kept'))} vs {len(kept)})")
        return p

    similar = _tfidf_pairs({d: docs[d] for d in kept}, 60, 20)
    got = {(a, b) for a, b in _rows(con, f"SELECT doc_a, doc_b FROM {_pq(out + '/similar')}")}
    _expect(p, "TF-IDF similar pairs", sorted(got), sorted(similar))

    distinct = [d for d in kept if d not in {b for _, b in similar}]
    scores = {d: _quality(docs[d]) for d in distinct}
    thr = _spark_percentile(list(scores.values()), 0.25)
    good = sorted(d for d in distinct if scores[d] >= thr)
    _expect(p, "quality-filtered documents", ids("good"), good)
    _expect(p, "committed corpus", ids("committed"), good)
    return p


CHECKS = {"notion_etl": check_notion, "table_commits": check_commits,
          "table_scans": check_scans, "corpus_dedup": check_corpus}


def check(workload, inp, out, truth):
    try:
        return CHECKS[workload](inp, out, truth)
    except Exception as e:  # a missing or malformed output is a wrong output
        return [f"check could not read the outputs: {e!r}"]
