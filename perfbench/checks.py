"""Checks of graft's outputs, computed apart from graft.

They run after the timed region, on the files the timed calls wrote, with
DuckDB and plain Python. Each check returns a list of failure messages;
an empty list means the output is right. The SCD2 run-log audit is kept
apart (`scd2_log_audit`): it is counted per day as an operation, since a
known fault makes it fail on every day after the first.
"""
import csv
import datetime as dt
import glob
import json
import math
import os
import zipfile
import xml.etree.ElementTree as ET

import duckdb
import numpy as np

OPEN_END = dt.datetime(9999, 12, 31)
NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}


def connect(threads):
    con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
    # graft writes UTC instants; compare them as UTC wall-clock times
    con.execute("SET TimeZone = 'UTC'")
    return con


def scan(path):
    return f"read_parquet('{path}/**/*.parquet')"


# ---------------------------------------------------------------- inputs

def read_txt(path):
    """A `;`-delimited delivery with decimal commas → {key: row}."""
    with open(path, encoding="utf-8-sig") as f:
        rows = list(csv.DictReader(f, delimiter=";"))
    for r in rows:
        r["c_acctbal"] = round(float(r["c_acctbal"].replace(",", ".")), 2)
    return {r["c_custkey"]: r for r in rows}


def read_xlsx(path):
    """Rows of a one-sheet workbook (header first), through shared strings."""
    with zipfile.ZipFile(path) as z:
        shared = [si.findtext("m:t", namespaces=NS) or ""
                  for si in ET.fromstring(z.read("xl/sharedStrings.xml")).findall("m:si", NS)]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in sheet.iter(f"{{{NS['m']}}}row"):
        cells = []
        for c in row.findall("m:c", NS):
            v = c.findtext("m:v", namespaces=NS)
            cells.append(shared[int(v)] if c.get("t") == "s" else v)
        rows.append(cells)
    header, body = rows[0], rows[1:]
    return [dict(zip(header, r)) for r in body]


def stamp(day):
    return dt.date.fromisoformat(day).strftime("%d%m%Y")


# ---------------------------------------------------------------- etl_month

def etl_round(con, base, inputs, days, oracle, mart_rows=True):
    """Everything but the SCD2 run-log audit, for one warehouse.
    `mart_rows`: the days loaded reach the fraud report, so an empty mart
    would leave the mart check with nothing to compare."""
    wh, inbox = os.path.join(base, "wh"), os.path.join(base, "inbox")
    archive = os.path.join(inbox, "archive")
    fails = []
    delivered = []
    for d in days:
        delivered += [f"customers_{stamp(d)}.txt", f"passport_blacklist_{stamp(d)}.xlsx"]
    # every delivered file is archived, and none is left in the inbox
    left = sorted(f for f in os.listdir(inbox) if os.path.isfile(os.path.join(inbox, f)))
    archived = sorted(os.listdir(archive)) if os.path.isdir(archive) else []
    if left:
        fails.append(f"files left in the inbox: {left}")
    if archived != sorted(f + ".backup" for f in delivered):
        fails.append(f"archive holds {archived}, expected the {len(delivered)} deliveries")
    if fails:
        return fails
    snaps = [read_txt(os.path.join(archive, f"customers_{stamp(d)}.txt.backup")) for d in days]
    lists = [read_xlsx(os.path.join(archive, f"passport_blacklist_{stamp(d)}.xlsx.backup"))
             for d in days]

    # SCD2: the point-in-time view at each business day is that day's snapshot
    rel = con.sql(f"""select * replace (effective_from::timestamp as effective_from,
                                        effective_to::timestamp as effective_to)
                      from {scan(wh + '/dim_customer')}""")
    cols = [c[0] for c in rel.description]
    hist = [dict(zip(cols, r)) for r in rel.fetchall()]
    for d, snap in zip(days, snaps):
        t = dt.datetime.fromisoformat(d)
        view = {h["c_custkey"]: h for h in hist
                if h["effective_from"] <= t <= h["effective_to"] and not h["deleted_flg"]}
        if view.keys() != snap.keys():
            fails.append(f"dim_customer as of {d}: {len(view)} live keys, snapshot has {len(snap)}")
            continue
        bad = [k for k, r in snap.items()
               if (view[k]["c_name"], view[k]["c_nationkey"], view[k]["c_mktsegment"])
               != (r["c_name"], r["c_nationkey"], r["c_mktsegment"])
               or round(view[k]["c_acctbal"], 2) != r["c_acctbal"]]
        if bad:
            fails.append(f"dim_customer as of {d}: {len(bad)} rows differ from the snapshot, "
                         f"first key {bad[0]}")
    # one open live version per live key, and no overlapping versions
    by_key = {}
    for h in hist:
        by_key.setdefault(h["c_custkey"], []).append(h)
    live = snaps[-1].keys()
    for k, vs in by_key.items():
        vs.sort(key=lambda h: h["effective_from"])
        open_live = [h for h in vs if h["effective_to"] == OPEN_END and not h["deleted_flg"]]
        if (k in live) != (len(open_live) == 1) or len(open_live) > 1:
            fails.append(f"dim_customer key {k}: {len(open_live)} open live versions")
            break
        if any(b["effective_from"] <= a["effective_to"] for a, b in zip(vs, vs[1:])):
            fails.append(f"dim_customer key {k}: overlapping versions")
            break

    # SCD1: the latest delivered row per key
    latest = {}
    for rows in lists:
        for r in rows:
            latest[r["passport"]] = (r["client_id"], r["entry_dt"])
    got = {r[0]: (r[1], r[2]) for r in con.sql(
        f"select passport, client_id, entry_dt from {scan(wh + '/dim_passport_blacklist')}").fetchall()}
    if got != latest:
        diff = sum(1 for k in latest.keys() | got.keys() if latest.get(k) != got.get(k))
        fails.append(f"dim_passport_blacklist: {diff} keys differ from the latest deliveries")

    # the fact table is `events` up to the last day's end
    end = dt.datetime.fromisoformat(days[-1]) + dt.timedelta(days=1)
    ev = f"read_parquet('{inputs}/tables/events.parquet')"
    fact = scan(wh + "/fact_operations")
    cols = "event_id, ts::timestamp, user_id, event_type, value, props"
    n = con.sql(f"""select (select count(*) from (select {cols} from {ev} where ts < '{end}'
                               except all select {cols} from {fact})),
                           (select count(*) from (select {cols} from {fact}
                               except all select {cols} from {ev} where ts < '{end}'))""").fetchone()
    if n != (0, 0):
        fails.append(f"fact_operations differs from events: {n[0]} missing, {n[1]} extra")

    # the accumulated mart is graft's q20 oracle, restricted to the loaded days
    con.execute(f"create or replace view events as select * from {ev}")
    con.execute(f"create or replace view customer as select * from "
                f"read_parquet('{inputs}/tables/customer.parquet')")
    mart = scan(wh + "/mart_fraud")
    mcols = [c[0] for c in con.sql(f"select * from {mart} limit 0").description]
    ocols = [c[0] for c in con.sql(f"select * from ({oracle}) limit 0").description]
    common = ", ".join(f"{c}::timestamp as {c}" if c == "event_dt" else c
                       for c in ocols if c in mcols)
    n = con.sql(f"""with o as (select {common} from ({oracle}) where event_dt::timestamp < '{end}'),
                         m as (select {common} from {mart})
                    select (select count(*) from (select * from o except all select * from m)),
                           (select count(*) from (select * from m except all select * from o)),
                           (select count(*) from m)""").fetchone()
    if n[:2] != (0, 0):
        fails.append(f"mart_fraud differs from the q20 oracle: {n[0]} missing, {n[1]} extra")
    elif mart_rows and n[2] == 0:
        fails.append("mart_fraud is empty: the inputs give the mart no rows to check")

    # staging and SCD1 run-log counts
    log = {(r[0], r[1]): r[2:] for r in con.sql(
        f"select run_id, table_name, rows_inserted, rows_updated, rows_deleted "
        f"from {scan(wh + '/etl_run_log')}").fetchall()}
    seen = {}
    prev_end = None
    for i, d in enumerate(days):
        run, pull = 2 * i + 1, 2 * i + 2
        want = {
            (run, "stg_dim_customer"): (len(snaps[i]), 0, 0),
            (run, "stg_dim_passport_blacklist"): (len(lists[i]), 0, 0),
        }
        ins = sum(1 for r in lists[i] if r["passport"] not in seen)
        upd = sum(1 for r in lists[i] if r["passport"] in seen
                  and seen[r["passport"]] != (r["client_id"], r["entry_dt"]))
        want[(run, "dim_passport_blacklist")] = (ins, upd, 0)
        for r in lists[i]:
            seen[r["passport"]] = (r["client_id"], r["entry_dt"])
        day_end = dt.datetime.fromisoformat(d) + dt.timedelta(days=1)
        lo = f"and ts > '{prev_end}'" if prev_end else ""
        n = con.sql(f"select count(*) from {ev} where ts < '{day_end}' {lo}").fetchone()[0]
        want[(pull, "stg_fact_operations")] = (n, 0, 0)
        want[(pull, "fact_operations")] = (n, 0, 0)
        prev_end = day_end
        for k, v in want.items():
            if tuple(log.get(k, ())) != v:
                fails.append(f"run log {k}: {log.get(k)} expected {v}")
    return fails


def scd2_expected(days, archive):
    """Per day, what the SCD2 run-log row must say: versions opened (new,
    changed or revived keys), versions closed because state changed, and
    keys tombstoned."""
    out, prev, ever = [], {}, set()
    for d in days:
        snap = read_txt(os.path.join(archive, f"customers_{stamp(d)}.txt.backup"))
        new = [k for k in snap if k not in ever]
        revived = [k for k in snap if k in ever and k not in prev]
        changed = [k for k in snap if k in prev and snap[k] != prev[k]]
        gone = [k for k in prev if k not in snap]
        out.append((len(new) + len(changed) + len(revived), len(changed) + len(revived),
                    len(gone)))
        ever |= snap.keys()
        prev = snap
    return out


def scd2_log_audit(con, base, days):
    """One result per day: None when the logged SCD2 counts are the
    run's changes, else a message."""
    wh = os.path.join(base, "wh")
    want = scd2_expected(days, os.path.join(base, "inbox", "archive"))
    log = {r[0]: r[1:] for r in con.sql(
        f"select run_id, rows_inserted, rows_updated, rows_deleted "
        f"from {scan(wh + '/etl_run_log')} where table_name = 'dim_customer'").fetchall()}
    out = []
    for i, (d, w) in enumerate(zip(days, want)):
        got = tuple(log.get(2 * i + 1, ()))
        out.append(None if got == w else
                   f"{d}: dim_customer run log says (inserted, updated, deleted) = {got}, "
                   f"the run changed {w}")
    return out


# ---------------------------------------------------------------- query_families

def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canonical(con, relation):
    """Columns sorted by name, rows sorted: the multiset a result holds."""
    rel = con.sql(relation)
    cols = [c[0] for c in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return sorted(cols), rows


def queries_round(con, base, inputs, queries, oracle):
    fails = []
    for t in glob.glob(os.path.join(inputs, "tables", "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"create or replace view {name} as select * from read_parquet('{t}')")
    for q in queries:
        cold = canonical(con, f"select * from {scan(os.path.join(base, 'cold', q))}")
        warm, warm2 = [canonical(con, f"select * from {scan(os.path.join(base, d, q))}")
                       for d in ("warm", "warm2")]
        if warm != cold or warm2 != cold:
            fails.append(f"{q}: the warm calls' output differs from the cold call's")
        if q in oracle:
            want = canonical(con, oracle[q])
            if want[0] != warm[0]:
                fails.append(f"{q}: columns {warm[0]}, oracle has {want[0]}")
            elif want[1] != warm[1]:
                fails.append(f"{q}: {len(warm[1])} rows, oracle has {len(want[1])}; "
                             f"they differ")
        elif not warm[1]:
            fails.append(f"{q}: empty output")
    return fails + curate_call(con, os.path.join(base, "corpus"), inputs)


# ---------------------------------------------------------------- corpus curation

JACCARD = 0.6     # CorpusPipeline.CurationConfig defaults
SHINGLE_K = 3
DECONTAM_N = 5


def _docs(con, path):
    return dict(con.sql(f"select doc_id, text from {scan(path)}").fetchall())


def _rejects(con, path):
    out = {}
    for i, reason in con.sql(f"select doc_id, reason from {scan(path)}").fetchall():
        out.setdefault(reason, []).append(i)
    return out


def _similar(texts):
    """Exact character-shingle Jaccard of every pair, through a 0/1
    incidence matrix: returns the boolean matrix J(a, b) >= JACCARD."""
    sets = [{t[i:i + SHINGLE_K] for i in range(len(t) - SHINGLE_K + 1)} for t in texts]
    vocab = {g: i for i, g in enumerate(sorted(set().union(*sets)))} if sets else {}
    m = np.zeros((len(sets), max(1, len(vocab))))
    for r, s in enumerate(sets):
        m[r, [vocab[g] for g in s]] = 1
    inter = m @ m.T   # whole numbers, exact in doubles
    size = m.sum(1)
    union = size[:, None] + size[None, :] - inter
    # the quotient in doubles, as graft's verifier computes it
    return inter / np.maximum(union, 1) >= JACCARD


def _near_dup_kept(docs):
    """The near-dup stage recomputed: union-find over every pair at or
    above the threshold, the longest text (then the smallest id) of each
    component kept."""
    ids = sorted(docs)
    texts = [docs[i] for i in ids]
    sim = _similar(texts)
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(*np.nonzero(np.triu(sim, 1))):
        parent[find(a)] = find(b)
    best = {}
    for k, i in enumerate(ids):
        r = find(k)
        if r not in best or (len(docs[i]), -i) > (len(docs[best[r]]), -best[r]):
            best[r] = i
    return set(best.values())


def _ngrams(text):
    w = text.strip().lower().split()
    return {" ".join(w[i:i + DECONTAM_N]) for i in range(len(w) - DECONTAM_N + 1)}


def curate_call(con, out, inputs):
    """One `curate` call's output against its input: stage counts
    reconcile, clean and rejects partition the input, no two clean
    documents share a text, and the exact-dup, near-dup and
    decontamination stages each drop exactly what an independent
    computation drops."""
    fails = []
    docs = _docs(con, os.path.join(inputs, "corpus", "train"))
    evals = _docs(con, os.path.join(inputs, "corpus", "eval"))
    clean = _docs(con, os.path.join(out, "clean"))
    rejects = _rejects(con, os.path.join(out, "rejects"))
    log = con.sql(f"select stage, rows_in, rows_out, rows_dropped "
                  f"from {scan(os.path.join(out, 'stage_log'))}").fetchall()
    flow = len(docs)
    for stage, rin, rout, rdrop in log:
        if rin != flow or rdrop != rin - rout or len(rejects.get(stage, [])) != rdrop:
            fails.append(f"curate: stage {stage} logs ({rin}, {rout}, {rdrop}) with "
                         f"{len(rejects.get(stage, []))} rejects after {flow} rows")
        flow = rout
    if flow != len(clean):
        fails.append(f"curate: the stage log ends at {flow} rows, clean holds {len(clean)}")
    dropped = [i for v in rejects.values() for i in v]
    if (len(dropped) != len(set(dropped)) or set(dropped) & clean.keys()
            or set(dropped) | clean.keys() != docs.keys()):
        fails.append(f"curate: clean ({len(clean)}) and rejects ({len(dropped)}) "
                     f"do not partition the {len(docs)} input documents")
        return fails
    if len(set(clean.values())) != len(clean):
        fails.append("curate: clean documents share a text")
    # exact dup: the smallest id of each text among the quality survivors
    q = {i: t for i, t in docs.items() if i not in set(rejects.get("quality", []))}
    first = {}
    for i in sorted(q):
        first.setdefault(q[i], i)
    exact = {i for i, t in q.items() if first[t] != i}
    if exact != set(rejects.get("exact_dup", [])):
        fails.append(f"curate: exact_dup dropped {len(rejects.get('exact_dup', []))}, "
                     f"expected {len(exact)}")
    e = {i: t for i, t in q.items() if i not in exact}
    kept = _near_dup_kept(e)
    if kept != e.keys() - set(rejects.get("near_dup", [])):
        fails.append(f"curate: near_dup kept {len(e) - len(rejects.get('near_dup', []))}, "
                     f"an exact pairwise computation keeps {len(kept)}")
    # decontamination: any word 5-gram shared with the eval slice
    grams = set().union(*(_ngrams(t) for t in evals.values()))
    flagged = {i for i in kept if _ngrams(e[i]) & grams}
    if flagged != set(rejects.get("contaminated", [])):
        fails.append(f"curate: contaminated {len(rejects.get('contaminated', []))}, "
                     f"expected {len(flagged)}")
    return fails


def load_oracle(work):
    with open(os.path.join(work, "oracle.json")) as f:
        return json.load(f)
