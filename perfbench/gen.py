"""Seeded input generation for the benchmark workloads.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical files, a different seed writes different ones.
The TPC-H sf0.1 base tables come from DuckDB's built-in `dbgen` (itself
deterministic); the seed drives row order, file splits, timestamp jitter,
planted faults, operation schedules and corpus text.

Each generator also returns its own bookkeeping (`truth`): the numbers the
correctness checks compare the engine's outputs against, derived here
without the engine.
"""
import bisect
import datetime
import hashlib
import json
import os
import random
import zoneinfo

import duckdb

TPCH_SF = 0.1
LA = zoneinfo.ZoneInfo("America/Los_Angeles")


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    # one thread: row order and parquet bytes are then fully deterministic
    con.execute("SET threads = 1")
    return con


def ensure_tpch(base_dir):
    """Writes TPC-H sf0.1 orders/lineitem once per checkout (seed-free)."""
    done = os.path.join(base_dir, "DONE")
    if os.path.exists(done):
        return
    os.makedirs(base_dir, exist_ok=True)
    con = connect()
    con.execute(f"CALL dbgen(sf={TPCH_SF})")
    for t in ("orders", "lineitem", "customer"):
        con.execute(f"COPY {t} TO '{base_dir}/{t}.parquet' (FORMAT parquet)")
    con.close()
    with open(done, "w") as f:
        f.write("ok\n")


def h(seed, *parts):
    """Seeded 64-bit hash, stable across processes and platforms."""
    d = hashlib.blake2b(repr((seed,) + parts).encode(), digest_size=8).digest()
    return int.from_bytes(d, "little")


def sql_hash(seed, expr):
    """Seeded hash in DuckDB SQL (deterministic, non-negative)."""
    return f"abs(hash({expr}, {int(seed)}::BIGINT))"


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)


# --------------------------------------------------------------------------
# notion_etl: raw Notion-shaped JSONL derived from orders/lineitem

N_WORKFLOWS = 25
N_STAGES = 7
RAW_DATE = "2026-01-31"
RUN_DATE = "2026-02-01"

# planted-fault buckets (per mille of timeslices), each chosen so that the
# corresponding Quality rule fires
FAULTS = [("missing_wf", 10), ("from_no_start", 10), ("to_no_end", 10),
          ("no_steps", 5), ("no_timestamps", 5), ("negative", 10)]


def _uuid(*parts):
    x = hashlib.md5(repr(parts).encode()).hexdigest()
    return f"{x[0:8]}-{x[8:12]}-{x[12:16]}-{x[16:20]}-{x[20:32]}"


def _iso(ms):
    t = datetime.datetime.fromtimestamp(ms / 1000, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _prop(pid, ptype, raw):
    return pid, {"propertyId": pid, "propertyName": pid, "propertyType": ptype,
                 "rawValue": json.dumps(raw, separators=(",", ":"))}


def _rollup_rel(i):
    return {"type": "rollup", "rollup": {"type": "array", "array": [
        {"type": "relation", "relation": [{"id": i}]}], "function": "show_original"}}


def _rollup_text(t):
    return {"type": "rollup", "rollup": {"type": "array", "array": [
        {"type": "rich_text", "rich_text": [{"plain_text": t}]}]}}


def _date(s):
    return {"type": "date", "date": {"start": s, "end": None, "time_zone": None}}


def _record(db, page, edited, props, created):
    return {"source": "notion", "entityType": "page", "databaseId": db,
            "pageId": page, "lastEditedTime": edited,
            "properties": dict(props),
            "metadata": {"created_time": created,
                         "url": "https://notion.so/" + page.replace("-", "")}}


def gen_notion(seed, base, out):
    con = connect()
    sel = sql_hash(seed, "o_orderkey")
    rows = con.execute(f"""
        SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
               epoch_ms(o.o_orderdate::TIMESTAMP) AS day_ms,
               l.l_quantity::BIGINT AS qty
        FROM read_parquet('{base}/lineitem.parquet') l
        JOIN read_parquet('{base}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        WHERE {sel} % 600 = 0
        ORDER BY l.l_orderkey, l.l_linenumber""").fetchall()
    con.close()

    wf_ids = [_uuid("wf", w) for w in range(N_WORKFLOWS)]
    stage_ids = [[_uuid("st", w, n) for n in range(1, N_STAGES + 1)]
                 for w in range(N_WORKFLOWS)]
    defs, stages, slices = [], [], []
    for w, wid in enumerate(wf_ids):
        defs.append(_record("db-wf", wid, "2026-01-15T00:00:00.000Z", [
            _prop("title_prop", "title", {"type": "title", "title": [
                {"plain_text": f"Workflow {w:02d}"}]})],
            "2026-01-01T00:00:00.000Z"))
    stage_number = {}
    bad_stages = 0
    for w in range(N_WORKFLOWS):
        for n in range(1, N_STAGES + 1):
            sid = stage_ids[w][n - 1]
            props = [_prop("wf_rel", "relation", {"type": "relation",
                                                  "relation": [{"id": wf_ids[w]}]})]
            # planted STAGE_MISSING_LABEL_OR_NUMBER on the last stages only,
            # so stage-1 entry edges stay resolvable
            no_label = n == N_STAGES and w % 5 == seed % 5
            no_number = n == N_STAGES - 1 and w % 7 == seed % 7
            if not no_number:
                props.append(_prop("stage_number", "number",
                                   {"type": "number", "number": n}))
            if not no_label:
                props.append(_prop("stage_label", "rich_text", {
                    "type": "rich_text", "rich_text": [{"plain_text": f"Stage {n}"}]}))
            # the fixtures' distractor properties
            props.append(_prop("misleading_rel", "relation", {
                "type": "relation", "relation": [{"id": _uuid("x", w, n)}]}))
            props.append(_prop("misleading_number", "number",
                               {"type": "number", "number": 999}))
            bad_stages += no_label or no_number
            stage_number[sid] = None if no_number else n
            stages.append(_record("db-st", sid, "2026-01-10T00:00:00.000Z", props,
                                  "2026-01-01T00:00:00.000Z"))

    rule_counts = {r: 0 for r in (
        "MISSING_WORKFLOW_DEFINITION", "FROM_STEP_WITHOUT_STARTED_AT",
        "TO_STEP_WITHOUT_ENDED_AT", "WORKFLOW_WITH_NO_STEPS",
        "STEPS_WITHOUT_ANY_TIMESTAMP", "NEGATIVE_DURATION")}
    rule_counts["STAGE_MISSING_LABEL_OR_NUMBER"] = bad_stages
    model = []  # one tuple per CLEAN timeslice, for the derived-table checks
    for (okey, line, cust, day_ms, qty) in rows:
        w = cust % N_WORKFLOWS
        r = h(seed, "ts", okey, line)
        bucket = r % 1000
        fault, lo = None, 0
        for name, per_mille in FAULTS:
            if lo <= bucket < lo + per_mille:
                fault = name
            lo += per_mille
        start = day_ms + (h(seed, "j", okey, line) % (5 * 86400)) * 1000 \
            + (line - 1) * 6 * 3600 * 1000
        end = start + (qty * 1800 + h(seed, "d", okey, line) % 3600) * 1000
        frm = stage_ids[w][line - 2] if line > 1 else None
        to = stage_ids[w][min(line, N_STAGES) - 1]
        has_wf = fault != "missing_wf"
        if fault == "no_steps":
            frm = to = None
        if fault == "from_no_start" and frm is None:
            frm = stage_ids[w][0]
        s_iso, e_iso = _iso(start), _iso(end)
        if fault == "from_no_start":
            s_iso = None
        if fault == "to_no_end":
            e_iso = None
        if fault == "no_timestamps":
            s_iso = e_iso = None
        if fault == "negative":
            s_iso, e_iso = _iso(end), _iso(start)
        page = _uuid("ts", seed, okey, line)
        record_id = _uuid("rec", okey)
        edited = _iso(end + 60000)
        created = _iso(day_ms)
        props = [_prop("title_prop", "title", {"type": "title", "title": [
            {"plain_text": f"Slice {okey}-{line}"}]})]
        if has_wf:
            props.append(_prop("rel_workflow", "rollup", _rollup_rel(wf_ids[w])))
        props.append(_prop("rel_workflow_record", "relation",
                           {"type": "relation", "relation": [{"id": record_id}]}))
        props.append(_prop("rollup_instance_name", "rollup",
                           _rollup_text(f"Order {okey}")))
        if frm is not None:
            props.append(_prop("rel_from_step", "rollup", _rollup_rel(frm)))
        if to is not None:
            props.append(_prop("rel_to_step", "rollup", _rollup_rel(to)))
        if s_iso is not None:
            props.append(_prop("start_date", "date", _date(s_iso)))
        if e_iso is not None:
            props.append(_prop("end_date", "date", _date(e_iso)))
        props += [_prop("rt_from_task_page", "rollup", _rollup_text(f"task-{okey}-{line - 1}")),
                  _prop("rt_to_task_page", "rollup", _rollup_text(f"task-{okey}-{line}")),
                  _prop("rt_from_task_name", "rollup", _rollup_text(f"Task {line - 1}")),
                  _prop("rt_to_task_name", "rollup", _rollup_text(f"Task {line}")),
                  # the fixtures' distractors: a relation and a date that
                  # must never be picked up as the configured ones
                  _prop("misleading_relation", "rollup", _rollup_rel(_uuid("m", okey))),
                  _prop("misleading_date", "date", _date(_iso(day_ms + 86400000)))]
        slices.append(_record("db-ts", page, edited, props, created))

        # the seven rules, evaluated on the model (not on the engine)
        rule_counts["MISSING_WORKFLOW_DEFINITION"] += not has_wf
        rule_counts["FROM_STEP_WITHOUT_STARTED_AT"] += frm is not None and s_iso is None
        rule_counts["TO_STEP_WITHOUT_ENDED_AT"] += to is not None and e_iso is None
        rule_counts["WORKFLOW_WITH_NO_STEPS"] += has_wf and frm is None and to is None
        rule_counts["STEPS_WITHOUT_ANY_TIMESTAMP"] += \
            (frm is not None or to is not None) and s_iso is None and e_iso is None
        rule_counts["NEGATIVE_DURATION"] += fault == "negative"
        if has_wf:
            s_ms = None if s_iso is None else (end if fault == "negative" else start)
            e_ms = None if e_iso is None else (start if fault == "negative" else end)
            model.append((page, frm, to, stage_number.get(frm), stage_number.get(to),
                          s_ms, e_ms, end + 60000, day_ms))

    # database-entity records the normalizer must filter out
    db_rows = [{"source": "notion", "entityType": "database", "databaseId": d,
                "pageId": None, "lastEditedTime": None, "properties": {},
                "metadata": {}} for d in ("db-ts", "db-st", "db-wf")]
    order = sorted(range(len(slices)), key=lambda i: h(seed, "order", i))
    slices = [slices[i] for i in order] + db_rows[:1]
    raw_bytes = 0
    for ds, recs in (("workflowDefinitions", defs + db_rows[2:]),
                     ("workflowStages", stages + db_rows[1:2]),
                     ("timeslices", slices)):
        d = os.path.join(out, "data", "raw", ds, RAW_DATE)
        os.makedirs(d, exist_ok=True)
        # seeded file split
        n_files = 1 + h(seed, "split", ds) % 4
        parts = [[] for _ in range(n_files)]
        for i, rec in enumerate(recs):
            parts[i % n_files].append(json.dumps(rec, separators=(",", ":")))
        for i, p in enumerate(parts):
            body = ("\n".join(p) + "\n").encode()
            raw_bytes += len(body)
            with open(os.path.join(d, f"part-{i:04d}.json"), "wb") as f:
                f.write(body)

    # the table operations run on StageThroughput_Daily after publishing:
    # a recount upsert, a retention delete and a correction update, each
    # over a seeded range of days (bucket_n, yyyymmdd)
    days = sorted({int(datetime.datetime.fromtimestamp(ms / 1000, LA).strftime("%Y%m%d"))
                   for m in model for ms in m[5:7] if ms is not None})

    def day_at(q):
        return days[min(len(days) - 1, int(len(days) * q))]
    j = h(seed, "ops") % 50 / 1000.0
    table_ops = {"delete_before": day_at(0.05 + j),
                 "merge_lo": day_at(0.40 + j), "merge_hi": day_at(0.50 + j),
                 "merge_delta": 1 + h(seed, "md") % 5,
                 "update_lo": day_at(0.60 + j), "update_hi": day_at(0.75 + j),
                 "update_delta": 1 + h(seed, "ud") % 5}
    write_json(os.path.join(out, "table_ops.json"), table_ops)

    con = connect()
    con.execute("""CREATE TABLE m(page VARCHAR, frm VARCHAR, "to" VARCHAR,
        frm_n BIGINT, to_n BIGINT, s_ms BIGINT, e_ms BIGINT, edited_ms BIGINT,
        created_ms BIGINT)""")
    con.executemany("INSERT INTO m VALUES (?,?,?,?,?,?,?,?,?)", model)
    con.execute(f"COPY m TO '{out}/model.parquet' (FORMAT parquet)")
    con.close()
    return {
        "raw_bytes": raw_bytes,
        "run_date": RUN_DATE,
        "defs": len(defs), "stages": len(stages),
        "timeslices_raw": len(rows),
        "timeslices_clean": len(model),
        "rules": rule_counts,
        "table_ops": table_ops,
    }


# --------------------------------------------------------------------------
# table_commits: an orders-derived table and a seeded operation schedule

# every block of commits holds these operations in this order, so seeds
# vary keys and values but not the mix: op costs depend on the order
BLOCK = ["append", "merge", "deleteWhere", "mergeEq", "refresh",
         "applyCdc", "updateWhere", "mergeMor", "deleteWhereMor"]
SCHEDULE_LEN = 4000


def _orders_table(seed, base, out, name, where):
    con = connect()
    con.execute(f"""COPY (
        SELECT o_orderkey AS k, o_custkey AS cust,
               (o_totalprice * 100)::BIGINT AS price,
               o_orderdate AS odate, o_orderpriority AS prio
        FROM read_parquet('{base}/orders.parquet') WHERE {where}
        ORDER BY {sql_hash(seed, 'o_orderkey')}, o_orderkey)
        TO '{out}/{name}.parquet' (FORMAT parquet)""")
    n, lo, hi = con.execute(
        f"SELECT count(*), min(k), max(k) FROM '{out}/{name}.parquet'").fetchone()
    con.close()
    return n, lo, hi


def gen_commits(seed, base, out):
    # a third of the orders: commits stay metadata-scale
    n, lo, hi = _orders_table(seed, base, out, "base", "o_orderkey % 3 = 0")
    con = connect()
    con.execute(f"""COPY (
        SELECT c_custkey AS cust, 'SEG-' || c_mktsegment AS segment
        FROM read_parquet('{base}/customer.parquet') ORDER BY c_custkey)
        TO '{out}/dim.parquet' (FORMAT parquet)""")
    con.close()
    con = connect()
    keys = [k for (k,) in con.execute(
        f"SELECT k FROM '{out}/base.parquet' ORDER BY k").fetchall()]
    con.close()
    row_bytes = os.path.getsize(f"{out}/base.parquet") / n
    rng = random.Random(seed)
    ops = []
    next_key = hi + 1
    for i in range(SCHEDULE_LEN):
        op = BLOCK[i % len(BLOCK)]
        a = rng.randrange(lo, hi - 4000)
        width = 400
        o = {"i": i, "op": op, "lo": a, "hi": a + width, "delta": rng.randrange(1, 999)}
        if op == "append":
            # fresh keys above the table: a slice of the base, re-keyed
            o["shift"] = next_key - a
            next_key += width + 1
        # bytes of user data the commit lands (rows sent by the client)
        sent = bisect.bisect_left(keys, a + width) - bisect.bisect_left(keys, a)
        lands = op in ("append", "merge", "mergeEq", "mergeMor", "applyCdc")
        o["user_bytes"] = int(sent * row_bytes) if lands else 0
        o["read_lo"] = rng.randrange(lo, hi - 20000)
        o["read_hi"] = o["read_lo"] + 8000
        o["back"] = rng.randrange(1 << 30)   # picks the time-travel target
        ops.append(o)
    write_json(os.path.join(out, "schedule.json"), {"ops": ops, "block": len(BLOCK)})
    return {"base_rows": n, "key_lo": lo, "key_hi": hi,
            "raw_bytes": os.path.getsize(f"{out}/base.parquet")}


# --------------------------------------------------------------------------
# table_scans: a many-file lineitem table with a version history

SCAN_VERSIONS = 12
SCAN_BASE_FILES = 64      # files landed for version 0
SCAN_APPEND_FILES = 8     # files landed by each later version
# every block of 20 reads holds this mix, in seeded order
SCAN_BLOCK = ["lookup"] * 5 + ["range"] * 4 + ["topn"] * 2 + ["join"] * 2 + \
    ["minmax"] * 2 + ["travel"] * 5
SCAN_LEN = 4000


def gen_scans(seed, base, out):
    con = connect()
    con.execute(f"""COPY (
        SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS pk,
               l_quantity::BIGINT AS qty,
               (l_extendedprice * 100)::BIGINT AS price,
               l_shipdate AS ship, l_returnflag AS flag
        FROM read_parquet('{base}/lineitem.parquet')
        ORDER BY {sql_hash(seed, 'l_orderkey * 8 + l_linenumber')}, l_orderkey, l_linenumber)
        TO '{out}/lineitem.parquet' (FORMAT parquet)""")
    con.execute(f"""COPY (
        SELECT o_orderkey AS ok, o_custkey AS cust, o_orderpriority AS prio
        FROM read_parquet('{base}/orders.parquet') ORDER BY o_orderkey)
        TO '{out}/orders.parquet' (FORMAT parquet)""")
    lo, hi = con.execute(
        f"SELECT min(ok), max(ok) FROM '{out}/lineitem.parquet'").fetchone()
    con.close()
    # the version history: version 0 holds the keys up to bounds[0]; each
    # later version appends the next contiguous key block
    base_hi = lo + (hi - lo) * 6 // 10
    step = (hi - base_hi) // (SCAN_VERSIONS - 1)
    bounds = [base_hi + b * step for b in range(SCAN_VERSIONS - 1)] + [hi]
    rng = random.Random(seed)
    reads = []
    for i in range(SCAN_LEN):
        if i % len(SCAN_BLOCK) == 0:
            block = list(SCAN_BLOCK)
            rng.shuffle(block)
        a = rng.randrange(lo, hi - 3000)
        reads.append({"i": i, "kind": block[i % len(SCAN_BLOCK)], "key": a,
                      "lo": a, "hi": a + 1500,
                      "version": rng.randrange(0, SCAN_VERSIONS), "n": 10})
    write_json(os.path.join(out, "reads.json"), {
        "reads": reads, "bounds": bounds, "key_lo": lo, "key_hi": hi,
        "base_files": SCAN_BASE_FILES, "append_files": SCAN_APPEND_FILES})
    return {"key_lo": lo, "key_hi": hi, "versions": SCAN_VERSIONS,
            "raw_bytes": os.path.getsize(f"{out}/lineitem.parquet")}


# --------------------------------------------------------------------------
# corpus_dedup: documents with planted exact and near duplicates

N_DOCS = 4000
VOCAB = 4000
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]


def gen_corpus(seed, base, out):
    rng = random.Random(seed)
    words = [f"w{i:04d}" for i in range(VOCAB)]
    docs = []        # (doc_id, text)
    doc_id = 0

    def word():
        return rng.choice(STOPWORDS) if rng.random() < 0.15 else rng.choice(words)

    while len(docs) < N_DOCS:
        n = rng.randrange(20, 120)
        text = [word() for _ in range(n)]
        kind = rng.random()
        variants = [text]
        if kind < 0.12:
            # exact duplicates (the same text again)
            variants += [list(text) for _ in range(rng.randrange(1, 3))]
        elif kind < 0.30:
            # near duplicates: one or two substituted words (Jaccard ~0.9)
            for _ in range(rng.randrange(1, 4)):
                v = list(text)
                for _ in range(rng.randrange(1, 3)):
                    v[rng.randrange(n)] = word()
                variants.append(v)
        elif kind < 0.40:
            # loose near duplicates: 12-22% substituted (Jaccard ~0.4-0.6)
            v = list(text)
            for i in rng.sample(range(n), max(1, int(n * rng.uniform(0.12, 0.22)))):
                v[i] = word()
            variants.append(v)
        for v in variants:
            docs.append((doc_id, " ".join(v)))
            doc_id += 1
    docs = docs[:N_DOCS]
    order = sorted(range(len(docs)), key=lambda i: h(seed, "doc", i))
    con = connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?,?)", [docs[i] for i in order])
    n_files = 2 + h(seed, "files") % 5
    os.makedirs(f"{out}/documents", exist_ok=True)
    for f in range(n_files):
        con.execute(f"""COPY (SELECT doc_id, text FROM d
            WHERE rowid % {n_files} = {f} ORDER BY rowid)
            TO '{out}/documents/part-{f:04d}.parquet' (FORMAT parquet)""")
    con.close()
    raw = sum(os.path.getsize(f"{out}/documents/{p}")
              for p in os.listdir(f"{out}/documents"))
    return {"docs": len(docs), "raw_bytes": raw}


GENERATORS = {"notion_etl": gen_notion, "table_commits": gen_commits,
              "table_scans": gen_scans, "corpus_dedup": gen_corpus}


def generate(workload, seed, base, out):
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](seed, base, out)
    truth["workload"] = workload
    truth["seed"] = seed
    write_json(os.path.join(out, "truth.json"), truth)
    return truth


def digest(path):
    """Content digest of a generated input tree (file names and bytes)."""
    m = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            m.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                m.update(fh.read())
    return m.hexdigest()
